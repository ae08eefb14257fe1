package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Brute-force re-derivations of the Insights-module results at
  * sf0.001: the bucket-reduced skyline against the quadratic domination
  * scan, the snapshot diff against driver-side map reconciliation, the
  * windowed trigram miner against per-user sequence slicing, and the
  * basket pair join against nested-loop pair counting.
  */
class InsightsSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("skyline: output is exactly the undominated bucket-best set") {
    val out = q("q_skyline").collect()
      .map(r => (r.getAs[Long]("pq"), r.getAs[String]("best_date"),
        r.getAs[Long]("n_at_best")))
    val pts = Tables.table(spark, sf, "orders")
      .select(floor(col("o_totalprice") / 1000).cast("long").as("pq"),
        col("o_orderdate").cast("date").cast("string").as("d"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // per-bucket best date + count of orders achieving it
    val best = pts.groupBy(_._1).map { case (pq, os) =>
      val dmin = os.map(_._2).min
      (pq, dmin, os.count(_._2 == dmin).toLong)
    }.toSeq
    // quadratic domination scan — the obviously-correct spelling
    val want = best.filter { case (pq, d, _) =>
      !best.exists { case (pq2, d2, _) => pq2 > pq && d2 <= d }
    }.sortBy(_._1)
    assert(out.toSeq == want)
    assert(out.nonEmpty)
  }

  test("snapshot diff equals driver-side map reconciliation") {
    val out = q("q_snapshot_diff").collect()
      .map(r => (r.getAs[Long]("o_orderkey"),
        r.getAs[String]("change_type"))).toMap
    val rows = Tables.table(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val v1 = rows.filter(_._1 % 97 != 0).map(t => t._1 -> ((t._2, t._3)))
      .toMap
    val v2 = rows.filter(_._1 % 101 != 0)
      .map(t => t._1 ->
        ((if (t._1 % 89 == 0) t._2 + 10 else t._2, t._3))).toMap
    val want = (v1.keySet ++ v2.keySet).flatMap { k =>
      (v1.get(k), v2.get(k)) match {
        case (None, Some(_)) => Some(k -> "added")
        case (Some(_), None) => Some(k -> "removed")
        case (Some(a), Some(b)) if a != b => Some(k -> "modified")
        case _ => None
      }
    }.toMap
    assert(out == want)
    assert(Set("added", "removed", "modified").subsetOf(
      out.values.toSet))
  }

  test("trigram patterns equal per-user sequence slicing") {
    val out = q("q_seq_pattern").collect()
      .map(r => (r.getAs[String]("pattern"), r.getAs[Long]("n")))
    val ev = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3)))
    val counts = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      // full-precision event-time order: getTime truncates to millis,
      // so sort on (epoch second, nanos) to match the query's ts order
      es.sortBy(e => (e._2.toInstant.getEpochSecond, e._2.getNanos, e._3))
        .map(_._4).sliding(3)
        .filter(_.length == 3).map(_.mkString(">"))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(out.toSeq == want)
  }

  test("compaction bins pack sequentially within the 64 KiB target") {
    val rows = q("q_compact_bins").collect()
    val docs = Tables.table(spark, sf, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // brute-force: replay the sequential first-fit packing per source
    val want = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._2).map { case (_, _, n) =>
        val bin = cum / 65536
        cum += n
        (src, bin, n)
      }
    }.groupBy(t => (t._1, t._2)).map { case ((s2, b), ts) =>
      (s2, b, ts.length.toLong, ts.map(_._3).sum)
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq == want)
    // bins hold the packing invariant: every doc starts below the
    // target, so a bin only overflows by its last doc
    assert(rows.nonEmpty)
  }

  test("skew audit surfaces the true hottest keys with exact counts") {
    val rows = q("q_skew_audit").collect()
    val counts = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey")).collect().map(_.getLong(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val want = counts.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
    assert(rows.map(r => (r.getLong(0), r.getAs[Long]("c"))).toSeq
      == want)
    val nKeys = counts.size.toLong
    val nRows = counts.values.sum
    rows.foreach { r =>
      assert(r.getAs[Long]("n_keys") == nKeys)
      assert(r.getAs[Double]("skew")
        == r.getAs[Long]("c").toDouble * nKeys / nRows)
    }
  }

  test("k-anonymity audit reports exactly the cells under k=5") {
    val rows = q("q_kanon_audit").collect()
    val cells = Tables.table(spark, sf, "customer")
      .select(col("c_mktsegment"), col("c_nationkey").cast("long"),
        floor(col("c_acctbal") / 2000.0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val want = cells.filter(_._2 < 5)
    assert(rows.length == want.size && rows.nonEmpty)
    rows.foreach { r =>
      val key = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(want(key) == r.getAs[Long]("n"))
    }
    // and no violating cell is missed
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet == want.keySet)
  }

  test("basket pairs equal nested-loop per-order pair counting") {
    val out = q("q_basket_pairs").collect()
      .map(r => ((r.getAs[Long]("pa"), r.getAs[Long]("pb")),
        (r.getAs[Long]("c_ab"), r.getAs[Double]("lift"))))
    val op = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = op.map(_._1).distinct.length.toLong
    val freq = op.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairs = op.groupBy(_._1).toSeq.flatMap { case (_, ps) =>
      val parts = ps.map(_._2).sorted
      for (i <- parts.indices; j <- i + 1 until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= 2).toMap
    val want = pairs.toSeq
      .map { case ((a, b), c) =>
        ((a, b), (c, (n * c).toDouble / (freq(a) * freq(b)).toDouble))
      }
      .sortBy { case ((a, b), (c, _)) => (-c, a, b) }.take(20)
    assert(out.toSeq == want)
    assert(out.nonEmpty)
  }
}
