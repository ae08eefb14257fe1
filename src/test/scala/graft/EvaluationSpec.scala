package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent re-derivations of the Evaluation-module results: each
  * query's distributed/quantized formulation is checked against the
  * obviously-correct brute-force spelling on collected sf0.001 rows.
  */
class EvaluationSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** Mirror of Spark/DuckDB round(x, 0): HALF_UP away from zero —
    * math.round rounds half toward +infinity and diverges on negative
    * .5 values.
    */
  private def qround(v: Double): Long =
    BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private def events: Seq[(String, Long, Double)] =
    Tables.table(spark, sf, "events")
      .select(col("event_type"), col("event_id"), col("value"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))

  test("histogram AUC equals the brute-force pairwise Mann-Whitney") {
    val row = q("q_auc_rank").collect().head
    val pts = Tables.table(spark, sf, "embeddings")
      .select((col("label") % 2 === 1).as("pos"),
        round(element_at(col("embedding"), 1).cast("double") * 1000, 0)
          .cast("long").as("sq"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1)))
    val pos = pts.filter(_._1).map(_._2)
    val neg = pts.filterNot(_._1).map(_._2)
    // each (pos, neg) pair scores 2 if pos wins, 1 on tie, 0 if it loses
    val u2 = (for (p <- pos; n <- neg)
      yield if (p > n) 2L else if (p == n) 1L else 0L).sum
    assert(row.getAs[Long]("npos") == pos.length)
    assert(row.getAs[Long]("nneg") == neg.length)
    assert(row.getAs[Long]("u2") == u2)
    val auc = row.getAs[Double]("auc")
    assert(auc == u2.toDouble / (2L * pos.length * neg.length))
    assert(auc >= 0.0 && auc <= 1.0)
  }

  test("KS statistic equals the brute-force max CDF gap") {
    val row = q("q_ks_test").collect().head
    val a = events.filter(_._1 == "click").map(t => qround(t._3))
    val b = events.filter(_._1 == "view").map(t => qround(t._3))
    val grid = (a ++ b).distinct.sorted
    val d = grid.map { v =>
      math.abs(a.count(_ <= v).toDouble / a.length
        - b.count(_ <= v).toDouble / b.length)
    }.max
    assert(row.getAs[Long]("n1") == a.length)
    assert(row.getAs[Long]("n2") == b.length)
    assert(math.abs(row.getAs[Double]("d_stat") - d) < 1e-12)
    assert(d > 0.0)
  }

  test("chi-square equals the brute-force contingency computation") {
    val row = q("q_chisq_test").collect().head
    val cust = Tables.table(spark, sf, "customer")
      .select(col("c_mktsegment"), col("c_nationkey").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val cells = cust.groupBy(identity).view.mapValues(_.length).toMap
    val rt = cust.groupBy(_._1).view.mapValues(_.length).toMap
    val ct = cust.groupBy(_._2).view.mapValues(_.length).toMap
    val n = cust.length.toDouble
    val chi2 = cells.map { case ((s, c), o) =>
      val e = rt(s) * ct(c) / n
      // mirror the query's DECIMAL(18,4) per-term rounding
      BigDecimal((o - e) * (o - e) / e)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(row.getAs[Long]("n_cells") == cells.size)
    assert(row.getAs[Long]("df") == (rt.size - 1L) * (ct.size - 1L))
    assert(math.abs(row.getAs[Double]("chi2") - chi2) < 1e-9)
  }

  test("cohort retention: week 0 covers every user exactly once") {
    val rows = q("q_cohort_retention").collect()
    val nUsers = Tables.table(spark, sf, "events")
      .select(countDistinct("user_id")).collect().head.getLong(0)
    // every user is active in their own first week, so the week_n=0
    // rows partition the user base across cohorts
    val week0 = rows.filter(_.getAs[Long]("week_n") == 0L)
      .map(_.getAs[Long]("n_users")).sum
    assert(week0 == nUsers && nUsers > 0)
    // retention can only count users the cohort had at week 0
    val byCohort = rows.groupBy(_.getAs[String]("cohort_week"))
    byCohort.values.foreach { cs =>
      val w0 = cs.find(_.getAs[Long]("week_n") == 0L).get
        .getAs[Long]("n_users")
      cs.foreach(r => assert(r.getAs[Long]("n_users") <= w0))
    }
  }

  test("struct-extremum argmax equals the brute-force per-group scan") {
    val rows = q("q_argmax_agg").collect()
    val byType = events.groupBy(_._1)
    assert(rows.length == byType.size)
    rows.foreach { r =>
      val es = byType(r.getAs[String]("event_type"))
      val best = es.map(t => (t._3, t._2)).max
      val worst = es.map(t => (t._3, t._2)).min
      assert((r.getAs[Double]("best_value"),
        r.getAs[Long]("best_event")) == best)
      assert((r.getAs[Double]("worst_value"),
        r.getAs[Long]("worst_event")) == worst)
    }
  }

  test("token entropy equals the brute-force floor-log2 sum") {
    val rows = q("q_entropy_tokens").collect()
    val toks = Tables.table(spark, sf, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val mine = toks.filter(_._1 == src).map(_._2)
      val n = mine.length.toLong
      val sumBits = mine.groupBy(identity).values.map { g =>
        val c = g.length.toLong
        c * (63 - java.lang.Long.numberOfLeadingZeros(
          math.floor(n.toDouble / c).toLong))
      }.sum
      assert(r.getAs[Long]("n_tokens") == n)
      assert(r.getAs[Long]("sum_bits") == sumBits)
      val avg = r.getAs[Double]("avg_bits")
      assert(avg >= 0.0 && avg <= 64.0)
    }
    assert(rows.nonEmpty)
  }

  test("crossval folds partition the corpus into 5 stable cells") {
    val rows = q("q_crossval_folds").collect()
    val total = Tables.table(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("fold")).toSet.subsetOf(
      (0L until 5L).toSet))
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    // determinism: a re-run assigns identical fold sizes
    val again = q("q_crossval_folds").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("gap-filled resample is a dense, fully-filled hour spine") {
    val rows = q("q_resample_gapfill").collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (_, rs) =>
      val hours = rs.map(_.getAs[String]("hour_s")).sorted
      // dense spine: hour strings are consecutive — count matches the
      // span between first and last hour
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:00")
      val h0 = java.time.LocalDateTime.parse(hours.head, fmt)
      val h1 = java.time.LocalDateTime.parse(hours.last, fmt)
      assert(java.time.Duration.between(h0, h1).toHours + 1 == rs.length)
      // carry-forward leaves no holes (first hour always has data)
      rs.foreach(r => assert(!r.isNullAt(r.fieldIndex("filled_value"))))
    }
    assert(rows.exists(_.getAs[Long]("is_gap") == 1L),
      "spine should contain at least one filled gap")
  }

  test("MAD outliers equal the brute-force median computation") {
    val rows = q("q_mad_outlier").collect()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val byType = events.groupBy(_._1)
    rows.foreach { r =>
      val vs = byType(r.getAs[String]("event_type"))
        .map(t => qround(t._3).toDouble)
      val med = median(vs)
      val ads = vs.map(v => math.abs(v - med))
      val mad = median(ads)
      assert(r.getAs[Double]("med") == med)
      assert(r.getAs[Double]("mad") == mad)
      assert(r.getAs[Long]("n_outliers") == ads.count(_ > 3 * mad))
    }
    assert(rows.nonEmpty)
  }

  test("mode equals the brute-force most-frequent scan") {
    val rows = q("q_mode_agg").collect()
    val byType = events.groupBy(_._1)
    assert(rows.length == byType.size)
    rows.foreach { r =>
      val vs = byType(r.getAs[String]("event_type")).map(t => qround(t._3))
      val counts = vs.groupBy(identity).view.mapValues(_.length.toLong)
      val (bestV, bestC) =
        counts.toSeq.maxBy { case (v, c) => (c, v) }
      assert(r.getAs[Long]("mode_v") == bestV)
      assert(r.getAs[Long]("n_mode") == bestC)
      assert(r.getAs[Double]("share") == bestC.toDouble / vs.length)
    }
  }

  test("calibration bins partition the corpus and bound frac_pos") {
    val rows = q("q_calibration").collect()
    val total = Tables.table(spark, sf, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    rows.foreach { r =>
      val f = r.getAs[Double]("frac_pos")
      assert(f >= 0.0 && f <= 1.0)
      // mean score must fall inside the bin's [lo, hi) score range
      // (epsilon absorbs the /1000*1000 double round-trip at exact
      // bin edges)
      val bin = r.getAs[Long]("bin")
      val m = r.getAs[Double]("mean_score") * 1000
      assert(m >= bin * 100 - 1e-6 && m < (bin + 1) * 100 + 1e-6,
        s"bin $bin mean $m outside range")
    }
    assert(rows.length > 1)
  }

  test("confusion matrix equals the brute-force cell count") {
    val row = q("q_confusion").collect().head
    val pts = Tables.table(spark, sf, "embeddings")
      .select((col("label") % 2 === 1).as("y"),
        round(element_at(col("embedding"), 1).cast("double") * 1000, 0)
          .cast("long").as("sq"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1) > 0))
    val tp = pts.count(t => t._1 && t._2).toLong
    val fp = pts.count(t => !t._1 && t._2).toLong
    val fn = pts.count(t => t._1 && !t._2).toLong
    val tn = pts.count(t => !t._1 && !t._2).toLong
    assert(row.getAs[Long]("tp") == tp && row.getAs[Long]("fp") == fp)
    assert(row.getAs[Long]("fn") == fn && row.getAs[Long]("tn") == tn)
    val prec = tp.toDouble / (tp + fp)
    val rec = tp.toDouble / (tp + fn)
    assert(row.getAs[Double]("precision") == prec)
    assert(row.getAs[Double]("recall") == rec)
    assert(row.getAs[Double]("f1") == 2.0 * prec * rec / (prec + rec))
  }

  test("listagg strings are sorted, distinct, and sized to n_sources") {
    val rows = q("q_agg_listagg").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val parts = r.getAs[String]("sources_s").split(",").toSeq
      assert(parts == parts.sorted)
      assert(parts.distinct == parts)
      assert(parts.length == r.getAs[Long]("n_sources"))
    }
  }

  test("cusum change point equals the n-scaled brute-force recompute") {
    val got = q("q_cusum_change").collect()
      .map(r => (r.getAs[String]("event_type"), (r.getAs[Long]("n"),
        r.getAs[Double]("cusum_stat"), r.getAs[Long]("change_t")))).toMap
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"), unix_micros(col("ts")), col("event_id"),
        col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP)))
    ev.groupBy(_._1).foreach { case (ty, es) =>
      val ordered = es.sortBy(e => (e._2, e._3))
      val n = ordered.length
      val tot = ordered.map(_._4).sum
      var cum = BigDecimal(0)
      val ds = ordered.zipWithIndex.map { case (e, i) =>
        cum += e._4
        ((n * cum - BigDecimal(i + 1) * tot).abs, (i + 1).toLong)
      }
      // max over (|D|, t): largest deviation, latest t on ties
      val (absd, t) = ds.maxBy(identity)
      assert(got(ty)._1 == n)
      assert(got(ty)._2 == absd.toDouble / n, ty)
      assert(got(ty)._3 == t, ty)
    }
    assert(got.nonEmpty)
  }
}
