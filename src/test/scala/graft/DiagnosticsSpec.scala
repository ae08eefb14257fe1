package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-8 Diagnostics block (Mann-Kendall,
  * runs test, Friedman, partial correlation, transition entropy,
  * sequence gaps, burstiness) at sf0.001 — driver-side re-derivations
  * and algebraic identities alongside the SQL-parity oracle gate.
  */
class DiagnosticsSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def dailyCounts(): Map[String, Seq[(Long, Long)]] = {
    import org.apache.spark.sql.functions._
    Tables.table(spark, sf, "events")
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .count().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .view.mapValues(_.map(x => (x._2, x._3)).sortBy(_._1).toSeq)
      .toMap
  }

  test("Mann-Kendall S equals the driver-side pairwise sign sum") {
    val byType = dailyCounts()
    q("q_mk_trend").collect().foreach { r =>
      val t = r.getAs[String]("event_type")
      val cs = byType(t).map(_._2)
      val s = (for { i <- cs.indices; j <- cs.indices if j > i }
        yield math.signum(cs(j).compareTo(cs(i))).toLong).sum
      assert(r.getAs[Long]("s") == s, s"$t S")
      assert(r.getAs[Long]("n_days") == cs.length)
      // z has the sign of S (or 0)
      val z = r.getAs[Double]("z")
      assert(math.signum(z) == math.signum(s.toDouble), s"$t z sign")
    }
  }

  test("runs test counts the above/below-median runs exactly") {
    val byType = dailyCounts()
    q("q_runs_test").collect().foreach { r =>
      val t = r.getAs[String]("event_type")
      val cs = byType(t).map(_._2)
      val sorted = cs.sorted
      val n = sorted.length
      val med2 = sorted((n + 1) / 2 - 1) + sorted(n / 2)
      val signs = cs.filter(c => 2 * c != med2).map(c => 2 * c > med2)
      val runs = if (signs.isEmpty) 0L
      else 1L + signs.sliding(2).count(p => p.length == 2 && p(0) != p(1))
      assert(r.getAs[Long]("r") == runs, s"$t runs")
      assert(r.getAs[Long]("n1") == signs.count(identity))
      assert(r.getAs[Long]("n2") == signs.count(!_))
    }
  }

  test("Friedman chi2 equals a driver-side blocked midrank computation") {
    val byType = dailyCounts()
    val k = byType.size
    // blocks = days where all k types are present
    val days = byType.values.flatMap(_.map(_._1)).toSeq.distinct
      .filter(day => byType.values.forall(_.exists(_._1 == day)))
    val rj = scala.collection.mutable.Map[String, Double]()
    days.foreach { day =>
      val vals = byType.toSeq.map { case (t, s) =>
        (t, s.find(_._1 == day).get._2)
      }
      val sorted = vals.map(_._2).sorted
      vals.foreach { case (t, v) =>
        val rank = sorted.indexOf(v) + 1
        val cnt = sorted.count(_ == v)
        rj(t) = rj.getOrElse(t, 0.0) + (rank + (cnt - 1) / 2.0)
      }
    }
    val n = days.size
    val want = 12.0 / (n * k * (k + 1)) * rj.values.map(r => r * r).sum -
      3.0 * n * (k + 1)
    val row = q("q_friedman_test").collect().head
    assert(row.getAs[Long]("n_blocks") == n)
    assert(row.getAs[Long]("k") == k)
    assert(math.abs(row.getAs[Double]("chi2_f") - want) < 1e-9)
  }

  test("partial correlation is bounded and collapses when z explains y") {
    q("q_partial_corr").collect().foreach { r =>
      val rxy = r.getAs[Double]("r_xy")
      val pc = r.getAs[Double]("r_xy_given_z")
      assert(rxy >= -1.0 - 1e-12 && rxy <= 1.0 + 1e-12)
      assert(pc >= -1.0 - 1e-12 && pc <= 1.0 + 1e-12)
    }
  }

  test("transition entropy: bits bounded by log2 of fan-out") {
    val rows = q("q_transition_entropy").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_bits")
      // floor-log2 surprisal over <= 5 next-types: within [0, log2 32)
      assert(avg >= 0.0 && avg < 5.0)
    }
  }

  test("sequence gaps reconstruct the md5-dropped ids exactly") {
    import org.apache.spark.sql.functions._
    val kept = Tables.table(spark, sf, "events")
      .select(col("event_id"),
        expr("substring(md5(concat('gap', cast(event_id as string)))" +
          ", 1, 1)").as("h"))
      .collect().filter(_.getString(1) != "0").map(_.getLong(0)).sorted
    val want = kept.sliding(2).collect {
      case Array(a, b) if b - a > 1 => (a + 1, b - 1, b - a - 1)
    }.toSeq
    val got = q("q_seq_gaps").collect()
      .map(r => (r.getAs[Long]("gap_start"), r.getAs[Long]("gap_end"),
        r.getAs[Long]("n_missing"))).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("burstiness: VMR matches a driver recomputation for the top token") {
    val rows = q("q_burstiness").collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val top = rows.head
    val w = top.getAs[String]("w")
    import org.apache.spark.sql.functions._
    val perDoc = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getString(1).split(" ", -1).count(_ == w).toLong)
    val n = perDoc.length.toLong
    val tot = perDoc.sum
    val sxx = perDoc.map(x => x * x).sum
    val want = (n * sxx - tot * tot).toDouble / (n * tot)
    assert(top.getAs[Double]("vmr") == want)
    // and the list is sorted by vmr descending
    val vs = rows.map(_.getAs[Double]("vmr"))
    assert(vs.zip(vs.tail).forall { case (a, b) => a >= b })
  }
}
