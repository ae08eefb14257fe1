package graft.xml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Unit tests per shaping rule (SURVEY.md §1.4 / §5.2-2): each rule of
  * the reference's NestedParqConverter as a micro-XML snippet + expected
  * shaped output.
  */
class ShapingRulesSpec extends AnyFunSuite with SharedSpark {

  private val xmlOpts = {
    val m = new java.util.HashMap[String, String]()
    m.put("attributePrefix", "_")
    m.put("ignoreNamespace", "true")
    m.put("nullValue", "")
    m
  }

  /** Parse one XML snippet with a fixed content schema, shape it, return
    * the shaped single-row DataFrame.
    */
  private def shape(xml: String, content: StructType, root: String,
      includes: Seq[String] = Nil, excludes: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    val parsed = Seq(xml).toDF("x")
      .select(from_xml(col("x"), content, xmlOpts).as("d"))
      .select("d.*")
    XmlShaper.shapeDocument(parsed, root, includes, excludes)
  }

  test("rule 1: attributes become <element>@<attr> sibling fields") {
    val df = shape("<r a=\"1\"><c b=\"2\">x</c></r>",
      StructType(Seq(
        StructField("_a", StringType),
        StructField("c", StructType(Seq(
          StructField("_VALUE", StringType),
          StructField("_b", StringType)))))),
      root = "r")
    // attr fields precede the value field (reference merges the attrs
    // dict first: convert_xml_to_parquet.py:93-118)
    assert(df.toJSON.collect().head ==
      """{"r":{"r@a":"1","c@b":"2","c":"x"}}""")
  }

  test("rule 2: empty simple content becomes null") {
    val df = shape("<r><a></a><b>x</b></r>",
      StructType(Seq(StructField("a", StringType),
        StructField("b", StringType))), root = "r")
    val row = df.select("r.a", "r.b").collect().head
    assert(row.isNullAt(0) && row.getString(1) == "x")
  }

  test("rule 3: repeated simple child folds to list<scalar>") {
    val df = shape("<r><v>1</v><v>2</v><v>3</v></r>",
      StructType(Seq(StructField("v", ArrayType(LongType)))), root = "r")
    assert(df.toJSON.collect().head == """{"r":{"v":[1,2,3]}}""")
  }

  test("rule 4: repeated element with attributes folds to list<struct>") {
    val df = shape("<r><p u=\"kg\">1</p><p u=\"lb\">2</p></r>",
      StructType(Seq(StructField("p", ArrayType(StructType(Seq(
        StructField("_VALUE", LongType),
        StructField("_u", StringType))))))), root = "r")
    assert(df.toJSON.collect().head ==
      """{"r":{"p":[{"p@u":"kg","p":1},{"p@u":"lb","p":2}]}}""")
  }

  test("coercions: decimal->double, scale-0 decimal->long, date->string") {
    val df = shape("<r><d>1.5</d><i>7</i><t>2020-02-02</t></r>",
      StructType(Seq(
        StructField("d", DecimalType(38, 18)),
        StructField("i", DecimalType(38, 0)),
        StructField("t", DateType))), root = "r")
    assert(df.toJSON.collect().head ==
      """{"r":{"d":1.5,"i":7,"t":"2020-02-02 00:00:00.000"}}""")
  }

  test("include keeps ancestor attributes and whole terminal subtrees") {
    val content = StructType(Seq(
      StructField("_a", StringType),
      StructField("x", StructType(Seq(StructField("y", StringType),
        StructField("z", StringType)))),
      StructField("w", StringType)))
    val df = shape("<r a=\"A\"><x><y>Y</y><z>Z</z></x><w>W</w></r>", content,
      root = "r", includes = Seq("/r/x"))
    assert(df.toJSON.collect().head ==
      """{"r":{"r@a":"A","x":{"y":"Y","z":"Z"}}}""")
  }

  test("exclude drops nested subtrees, including inside arrays") {
    val content = StructType(Seq(
      StructField("p", ArrayType(StructType(Seq(
        StructField("keep", StringType),
        StructField("drop", StringType)))))))
    val df = shape("<r><p><keep>k1</keep><drop>d1</drop></p>" +
      "<p><keep>k2</keep><drop>d2</drop></p></r>", content,
      root = "r", excludes = Seq("/r/p/drop"))
    assert(df.toJSON.collect().head ==
      """{"r":{"p":[{"keep":"k1"},{"keep":"k2"}]}}""")
  }

  test("namespaces are stripped from element naming (reference rule 5)") {
    // reference decodes with process_namespaces=False and local-name
    // extraction (convert_xml_to_parquet.py:198,227)
    val df = shape(
      """<r xmlns="http://d" xmlns:a="http://x"><a:c>v</a:c><w>W</w></r>""",
      StructType(Seq(StructField("c", StringType),
        StructField("w", StringType))), root = "r")
    assert(df.toJSON.collect().head == """{"r":{"c":"v","w":"W"}}""")
  }

  test("exclude dropping every child drops the parent struct too") {
    val content = StructType(Seq(
      StructField("x", StructType(Seq(StructField("y", StringType)))),
      StructField("w", StringType)))
    val df = shape("<r><x><y>Y</y></x><w>W</w></r>", content,
      root = "r", excludes = Seq("/r/x/y"))
    assert(df.toJSON.collect().head == """{"r":{"w":"W"}}""")
  }
}
