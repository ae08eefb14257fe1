package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-8 Modeling block (Holt-Winters,
  * PI coverage, label propagation, perceptron step, randomized
  * response) plus the native streaming session window, at sf0.001.
  */
class ModelingSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("Holt-Winters equals a driver-side sequential fold") {
    import org.apache.spark.sql.functions._
    val daily = Tables.table(spark, sf, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(Det.dec(col("value"))).cast("double").as("y"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    val byType = daily.groupBy(_._1)
    q("q_holt_winters").collect().foreach { r =>
      val t = r.getAs[String]("event_type")
      val ys = byType(t).sortBy(_._2.getTime).map(_._3)
      // seed: exact-decimal week-1 mean, B0 = 0, S = week-1 deviations
      val l0 = ys.take(7).map(BigDecimal(_).setScale(4,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / 7.0
      var l = l0; var b = 0.0
      var ring = ys.take(7).map(_ - l0).toVector
      ys.drop(7).foreach { y =>
        val s1 = ring.head
        val l2 = ((y - s1) + (l + b)) * 0.5
        val b2 = ((l2 - l) + b) * 0.5
        val s2 = ((y - l2) + s1) * 0.5
        l = l2; b = b2; ring = ring.tail :+ s2
      }
      assert(r.getAs[Long]("n_days") == ys.length)
      assert(r.getAs[Double]("level") == l, s"$t level")
      assert(r.getAs[Double]("trend") == b, s"$t trend")
      assert(r.getAs[Double]("season_next") == ring.head, s"$t season")
      assert(r.getAs[Double]("forecast") == l + b + ring.head)
    }
  }

  test("PI coverage bounds are exact-rank order statistics") {
    import org.apache.spark.sql.functions._
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"), round(col("value"), 0).cast("long"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    q("q_pi_coverage").collect().foreach { r =>
      val t = r.getAs[String]("event_type")
      val cal = ev.filter(e => e._1 == t && e._3 < 15).map(_._2).sorted
      val n = cal.length
      val p10 = cal((n + 9) / 10 - 1)
      val p90 = cal((9 * n + 9) / 10 - 1)
      assert(r.getAs[Long]("n_cal") == n)
      assert(r.getAs[Long]("p10") == p10, s"$t p10")
      assert(r.getAs[Long]("p90") == p90, s"$t p90")
      val eval = ev.filter(e => e._1 == t && e._3 >= 15).map(_._2)
      val cov = eval.count(v => v >= p10 && v <= p90).toDouble / eval.length
      assert(math.abs(r.getAs[Double]("coverage") - cov) < 1e-12)
    }
  }

  test("label propagation conserves nodes and picks majority labels") {
    val rows = q("q_label_prop").collect()
    val nb = rows.map(_.getAs[Long]("n_before")).sum
    val na = rows.map(_.getAs[Long]("n_after")).sum
    assert(nb == na && nb > 0, s"node conservation: $nb vs $na")
    rows.foreach(r => assert((0 until 16).map(_.toLong)
      .contains(r.getAs[Long]("lab"))))
  }

  test("perceptron step: weights equal the exact batch gradient") {
    import org.apache.spark.sql.functions._
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (if (r.getAs[Number](1).longValue % 2 == 1) 1L else -1L,
        r.getSeq[Number](2)
          .map(x => math.floor(x.doubleValue * 1024).toLong)))
    val dims = e.head._2.length
    val wantW = (0 until dims).map(j => e.map { case (y, x) => y * x(j) }.sum)
    val rows = q("q_perceptron_step").collect().sortBy(_.getAs[Long]("dim"))
    assert(rows.length == dims)
    rows.zipWithIndex.foreach { case (r, j) =>
      assert(r.getAs[Long]("w") == wantW(j), s"dim ${j + 1}")
    }
    val nCorrect = e.count { case (y, x) =>
      y * x.zip(wantW).map { case (v, w) => v * w }.sum > 0
    }
    assert(rows.head.getAs[Long]("n_correct") == nCorrect)
    assert(rows.head.getAs[Long]("n") == e.length)
  }

  test("randomized response: report identity and debias algebra hold") {
    q("q_rand_response").collect().foreach { r =>
      val rHat = r.getAs[Double]("r_hat")
      val piHat = r.getAs[Double]("pi_hat")
      // the debias is exactly (r - 1/4) / (1/2)
      assert(piHat == (rHat - 0.25) / 0.5)
      assert(rHat >= 0.0 && rHat <= 1.0)
      // with exact fair md5 coins the estimator stays within the
      // sampling noise of the true share — loose sanity band
      assert(math.abs(piHat - r.getAs[Double]("pi_true")) < 0.5)
    }
  }

  test("native streaming session window equals batch session_window") {
    val streamRows = q("q_streaming_sessionwin").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("s_start"),
        r.getAs[String]("s_end"), r.getAs[Long]("n"),
        r.getAs[Double]("sum_value")))
    val batchRows = q("q_window_session").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("s_start"),
        r.getAs[String]("s_end"), r.getAs[Long]("n"),
        r.getAs[Double]("sum_value")))
    assert(streamRows.toSeq == batchRows.toSeq)
    assert(streamRows.nonEmpty)
  }
}
