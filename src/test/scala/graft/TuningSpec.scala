package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-8 Tuning block (threshold sweep,
  * minhash candidate eval, chi-square residuals), at sf0.001.
  */
class TuningSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("dedup sweep: implicated pairs and docs shrink monotonically " +
    "as the threshold tightens, anchored at the full pair relation") {
    val rows = q("q_dedup_sweep").collect()
    val pairs = rows.map(_.getLong(1)).toSeq
    val docs = rows.map(_.getLong(2)).toSeq
    assert(pairs == pairs.sorted.reverse, "pairs nonincreasing")
    assert(docs == docs.sorted.reverse, "docs nonincreasing")
    val all = q("q_dedup_ngram").count()
    assert(rows.head.getDouble(0) == 0.5 && rows.head.getLong(1) == all)
  }

  test("minhash eval: verification makes candidates a subset of the " +
    "exact truth, and the ratios are exact") {
    val r = q("q_minhash_eval").collect().head
    val (nE, nC, nV) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nV <= nE, "verified pairs are true near-dups by construction")
    assert(nV <= nC, "verification only discards candidates")
    assert(math.abs(r.getDouble(3) - nV.toDouble / nC) == 0.0)
    assert(math.abs(r.getDouble(4) - nV.toDouble / nE) == 0.0)
    assert(nE > 0 && nC > 0)
  }

  test("chi-square residuals: cells reconcile to margins and the " +
    "residual formula") {
    val rows = q("q_crosstab_resid").collect()
    val joined = Tables.table(spark, sf, "orders")
      .join(Tables.table(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderpriority")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = joined.length.toDouble
    assert(rows.map(_.getLong(2)).sum == joined.length.toLong)
    rows.foreach { r =>
      val (seg, pri, o) = (r.getString(0), r.getString(1), r.getLong(2))
      val rt = joined.count(_._1 == seg).toDouble
      val ct = joined.count(_._2 == pri).toDouble
      val e = rt * ct / n
      assert(math.abs(r.getDouble(3) - e) < 1e-9, s"cell $seg/$pri E")
      assert(math.abs(r.getDouble(4) - (o - e) / math.sqrt(e)) < 1e-9)
    }
  }

  test("lsh curve: recall never falls as bands narrow, and candidate " +
    "volume shrinks as rows-per-band grow") {
    val rows = q("q_lsh_curve").collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    val cands = rows.map(_.getLong(2)).toSeq
    assert(cands == cands.sorted.reverse,
      "larger r = stricter bands = fewer candidates")
    val recalls = rows.map(_.getDouble(4)).toSeq
    assert(recalls == recalls.sorted.reverse,
      "recall can only drop as bands get stricter")
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(2)))
  }

  test("modularity: bounded by definition and consistent with its " +
    "integer numerator") {
    val r = q("q_graph_modularity").collect().head
    val (m, qn, mod) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(m > 0)
    assert(math.abs(mod - qn.toDouble / (4.0 * m * m)) < 1e-12)
    assert(mod >= -1.0 && mod <= 1.0)
  }
}
