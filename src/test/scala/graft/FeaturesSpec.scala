package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics checks for the feature-engineering encoders at sf0.001. */
class FeaturesSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("one-hot rows carry exactly one indicator, matching the type") {
    val rows = q("q_onehot_encode").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val hot = Seq("click", "error", "purchase", "signup", "view")
        .map(c => c -> r.getAs[Long](s"ot_$c"))
      assert(hot.map(_._2).sum == 1L)
      assert(hot.toMap.apply(t) == 1L)
    }
  }

  test("min-max scaling hits 0 and 1 at each group's extremes") {
    val rows = q("q_minmax_scale").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Double]("scaled")))
    assert(rows.nonEmpty)
    rows.foreach { case (_, s) => assert(s >= 0.0 && s <= 1.0) }
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).min == 0.0 && g.map(_._2).max == 1.0)
    }
  }

  test("target encoding equals the brute-force smoothing formula") {
    val rows = q("q_target_encode").collect()
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"), round(col("value"), 0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val gm = ev.map(_._2).sum.toDouble / ev.length
    val byType = ev.groupBy(_._1)
    assert(rows.length == byType.size)
    rows.foreach { r =>
      val g = byType(r.getAs[String]("event_type")).map(_._2)
      assert(r.getAs[Long]("n") == g.length)
      assert(r.getAs[Double]("enc")
        == (g.sum.toDouble + 10.0 * gm) / (g.length + 10))
    }
    // smoothing pulls small groups toward the global mean: every
    // encoding sits between its group mean and the global mean
    rows.foreach { r =>
      val g = byType(r.getAs[String]("event_type")).map(_._2)
      val lm = g.sum.toDouble / g.length
      val enc = r.getAs[Double]("enc")
      assert((enc - lm) * (enc - gm) <= 1e-9,
        s"enc $enc outside [$lm, $gm]")
    }
  }

  test("mutual-information screen matches an exact driver-side " +
    "integer recomputation") {
    val rows = q("q_feature_mi").collect()
    val emb = Tables.table(spark, sf, "embeddings")
      .selectExpr("embedding", "label").collect()
      .map(r => (r.getSeq[Float](0), r.getInt(1)))
    def bits(x: Long, z: Long): Long =
      63 - java.lang.Long.numberOfLeadingZeros(x / z)
    rows.foreach { r =>
      val dim = r.getLong(0).toInt
      val cells = emb.groupBy(e =>
        (e._1(dim - 1) > 0, e._2 % 2 == 1)).view.mapValues(_.length.toLong)
      val nn = emb.length.toLong
      assert(r.getLong(1) == nn)
      val mi = cells.map { case ((b, y), o) =>
        val rb = cells.filterKeys(_._1 == b).values.sum
        val cy = cells.filterKeys(_._2 == y).values.sum
        val x = o * nn; val z = rb * cy
        if (x >= z) o * bits(x, z) else -o * bits(z, x)
      }.sum
      assert(r.getLong(2) == mi, s"dim $dim")
    }
  }

  test("malformed-JSONL ingestion counts exactly the md5-gated lines") {
    val r = q("q_source_malformed").collect().head
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val cust = Tables.table(spark, sf, "customer")
      .selectExpr("c_custkey", "c_acctbal").collect()
      .map(x => (x.getLong(0), x.getDouble(1)))
    val bad = cust.count(c => md5hex(s"bad${c._1}").startsWith("0")).toLong
    assert(r.getLong(0) == cust.length.toLong)
    assert(r.getLong(1) == bad, "corrupt capture equals the gate")
    assert(r.getLong(2) == cust.length - bad)
    val goodBal = cust.filter(c => !md5hex(s"bad${c._1}").startsWith("0"))
      .map(c => BigDecimal(c._2).setScale(4, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    assert(math.abs(r.getDouble(3) - goodBal) < 1e-9)
  }
}
