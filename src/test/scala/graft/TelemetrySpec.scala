package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-7 Telemetry block (cross-corr,
  * bursts, audience overlap) at sf0.001.
  */
class TelemetrySpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("cross-correlation covers all 7 lags with valid coefficients") {
    val rows = q("q_cross_corr").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (-3L to 3L))
    rows.foreach { r =>
      assert(r.getLong(1) > 1, s"lag ${r.getLong(0)}: too few pairs")
      val c = r.getDouble(2)
      assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12)
    }
  }

  test("burst episodes are above-threshold maximal runs") {
    import org.apache.spark.sql.functions._
    val hourly = Tables.table(spark, sf, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2)))
    val byType = hourly.groupBy(_._1)
    val want = byType.flatMap { case (et, hs) =>
      val total = hs.map(_._3).sum
      val hours = hs.length
      val hot = hs.filter(r => r._3 * hours >= total * 2)
        .sortBy(_._2)
      // gaps-and-islands on the hot hours
      val episodes = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, Long)]
      var start = -1L; var len = 0L; var peak = 0L; var prev = -1L
      hot.foreach { case (_, t, n) =>
        if (prev < 0 || t - prev != 3600000L) {
          if (start >= 0) episodes += ((et, start, len, peak))
          start = t; len = 0; peak = 0
        }
        len += 1; peak = math.max(peak, n); prev = t
      }
      if (start >= 0) episodes += ((et, start, len, peak))
      episodes
    }.toSet
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:00")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val got = q("q_burst_detect").collect()
      .map(r => (r.getString(0),
        fmt.parse(r.getString(1)).getTime, r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("fair-share water level exhausts exactly the capacity") {
    import org.apache.spark.sql.functions._
    import graft.Det.dec
    val dem = Tables.table(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"), col("l_suppkey"))
      .agg(sum(dec(col("l_quantity"))).cast(graft.Det.D).as("dm"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        BigDecimal(r.getDecimal(2))))
    val rows = q("q_fair_share").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flag = r.getString(0)
      val ds = dem.filter(_._1 == flag).map(_._3).sorted
      assert(r.getLong(1) == ds.length)
      val cap = r.getDouble(2)
      val lvl = r.getDouble(4)
      // allocating min(d, L) over all demands must exhaust capacity
      val served = ds.map(d => math.min(d.toDouble, lvl)).sum
      assert(math.abs(served - cap) < 1e-6 * cap,
        s"$flag: served $served != capacity $cap")
      // the fully-served count is exactly the demands below the level
      assert(r.getLong(3) == ds.count(_.toDouble <= lvl + 1e-12),
        s"$flag: n_fully_served mismatch")
    }
  }

  test("peak concurrency matches a driver-side sweep") {
    import org.apache.spark.sql.functions._
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) +
          round(col("value"), 0).cast("long") * 1000000L).as("en"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val want = ev.groupBy(_._1).map { case (et, rows) =>
      val deltas = rows.flatMap(r =>
        Seq((r._3, 1L, r._2), (r._4, -1L, r._2)))
        .sortBy(d => (d._1, d._2, d._3))
      var depth = 0L; var peak = 0L; var at = 0L
      deltas.foreach { case (t, dl, _) =>
        depth += dl
        if (depth > peak) { peak = depth; at = t }
      }
      et -> ((peak, at))
    }
    val got = q("q_peak_concurrency").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
  }

  test("top event paths equal a driver-side 3-gram count") {
    import org.apache.spark.sql.functions._
    val ev = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val counts = ev.groupBy(_._1).values.flatMap { rows =>
      val seq = rows.sortBy(r => (r._3, r._4)).map(_._2)
      seq.sliding(3).filter(_.length == 3).map(_.mkString(" > "))
    }.toSeq.groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = q("q_event_paths").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("audience overlap is symmetric-complete with valid Jaccard") {
    import org.apache.spark.sql.functions.col
    val ut = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_type")).distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byType = ut.groupBy(_._2).map { case (t, xs) =>
      t -> xs.map(_._1).toSet
    }
    val types = byType.keys.toSeq.sorted
    val want = (for {
      i <- types.indices; j <- i + 1 until types.length
      inter = (byType(types(i)) & byType(types(j))).size
      if inter > 0
    } yield (types(i), types(j)) ->
      ((inter.toLong, byType(types(i)).size.toLong,
        byType(types(j)).size.toLong))).toMap
    val got = q("q_user_overlap").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want)
    q("q_user_overlap").collect().foreach { r =>
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
  }
}
