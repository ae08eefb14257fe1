package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-8 Trends block (novelty, time
  * heatmap, WoW growth, HHI concentration), at sf0.001.
  */
class TrendsSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("doc novelty matches a driver-side shingle-df recomputation") {
    val rows = q("q_doc_novelty").collect()
    val sh = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val tk = r.getString(1).split(" ", -1)
        r.getLong(0) -> tk.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.toMap
    val df = sh.values.flatten.groupBy(identity).view
      .mapValues(_.size).toMap
    rows.foreach { r =>
      val mine = sh(r.getLong(0))
      assert(r.getLong(1) == mine.size.toLong)
      val uniq = mine.count(df(_) == 1).toLong
      assert(r.getLong(2) == uniq)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // docs with no shingles (under 3 tokens) are absent by construction
    assert(rows.length == sh.count(_._2.nonEmpty))
  }

  test("time heatmap covers every event exactly once with valid keys") {
    val rows = q("q_time_heatmap").collect()
    val total = Tables.table(spark, sf, "events").count()
    assert(rows.map(_.getLong(2)).sum == total)
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 6))
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 23))
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-9)
  }

  test("WoW growth equals the lagged weekly-count ratio") {
    val rows = q("q_wow_growth").collect()
    rows.foreach { r =>
      val (n, prev) = (r.getLong(2), r.getLong(3))
      assert(prev > 0)
      assert(math.abs(r.getDouble(4) - (n - prev).toDouble / prev) == 0.0)
    }
    // weeks per type are consecutive in the output (lag chain intact)
    val weekly = Tables.table(spark, sf, "events")
      .groupBy(col("event_type"), date_trunc("week", col("ts")))
      .count().collect()
    val perType = weekly.groupBy(_.getString(0)).view
      .mapValues(_.length - 1)
    assert(rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap ==
      perType.toMap.filter(_._2 > 0))
  }

  test("HHI sits in [1/n, 1] per segment and matches the square sums") {
    val rows = q("q_hhi_concentration").collect()
    rows.foreach { r =>
      val n = r.getLong(1)
      val hhi = r.getDouble(3)
      assert(hhi >= 1.0 / n - 1e-12, s"${r.getString(0)} lower bound")
      assert(hhi <= 1.0 + 1e-12)
    }
  }

  test("cohort LTV: cumulative revenue is nondecreasing within every " +
    "cohort and covers all orders") {
    val rows = q("q_cohort_ltv").collect()
    val total = Tables.table(spark, sf, "orders").count()
    assert(rows.map(_.getLong(2)).sum == total)
    rows.groupBy(_.getString(0)).foreach { case (c, rs) =>
      val byAge = rs.sortBy(_.getLong(1))
      val cums = byAge.map(_.getDouble(4)).toSeq
      assert(cums == cums.sorted, s"cohort $c cum_rev monotone")
      assert(math.abs(byAge.map(_.getDouble(3)).sum - cums.last) < 1e-6)
    }
  }

  test("streaming late-data accounting reconciles against the " +
    "closed-form watermark predicate") {
    val rows = q("q_streaming_late").collect()
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts"))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val wm = ev.filter(_._2 % 2 == 0).map(_._3).max
    val hourUs = 3600L * 1000000L
    rows.foreach { r =>
      val t = r.getString(0)
      val mine = ev.filter(_._1 == t)
      assert(r.getLong(1) == mine.length.toLong)
      val dropped = mine.count { e =>
        e._2 % 2 == 1 && (Math.floorDiv(e._3, hourUs) + 1) * hourUs <= wm
      }.toLong
      assert(r.getLong(3) == dropped, s"type $t dropped")
      assert(r.getLong(2) == mine.length - dropped)
    }
    assert(rows.map(_.getLong(3)).sum > 0,
      "the out-of-order replay must actually lose rows")
  }

  test("PSI drift: nonnegative, zero only under identical halves, " +
    "and scaled consistently") {
    val r = q("q_psi_drift").collect().head
    val (ma, mb, psiS) = (r.getLong(0), r.getLong(1), r.getLong(3))
    assert(psiS >= 0L, "every PSI contribution is nonnegative")
    assert(math.abs(r.getDouble(4) -
      psiS.toDouble / (ma.toDouble * mb.toDouble)) < 1e-15)
  }

  test("as-of tolerance join: stale matches null out, fresh ones keep " +
    "the plain as-of answer") {
    val tol = q("q_join_asof_tol").collect()
      .map(r => r.getLong(0) -> r).toMap
    val plain = q("q_join_asof").collect()
      .map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(tol.keySet == plain.keySet)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
    tol.foreach { case (id, r) =>
      val within = r.getBoolean(4)
      val fresh = Option(r.getString(3))
      if (within) {
        assert(fresh == plain(id), s"click $id fresh match")
        val gap = java.time.Duration.between(
          java.time.LocalDateTime.parse(fresh.get, fmt),
          java.time.LocalDateTime.parse(r.getString(2), fmt))
        assert(!gap.isNegative && gap.getSeconds <= 3600)
      } else assert(fresh.isEmpty, s"click $id stale must be null")
    }
    assert(tol.values.exists(!_.getBoolean(4)),
      "fixture must contain stale matches")
  }

  test("quota sampling: exactly min(5, stratum size) per language, " +
    "keyed by the md5 order") {
    val rows = q("q_sample_quota").collect()
    val langs = Tables.table(spark, sf, "documents")
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byLang = rows.groupBy(_.getString(1))
    langs.foreach { case (l, n) =>
      assert(byLang.get(l).map(_.length).getOrElse(0) ==
        math.min(5L, n).toInt, s"lang $l quota")
    }
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    byLang.foreach { case (l, rs) =>
      val ids = Tables.table(spark, sf, "documents")
        .filter(col("lang") === l).select(col("doc_id")).collect()
        .map(_.getLong(0))
      val expect = ids.sortBy(id => md5hex(s"quota$id")).take(5).toSet
      assert(rs.map(_.getLong(0)).toSet == expect, s"lang $l members")
    }
  }

  test("diff-in-diff equals the four-cell closed form and covers all " +
    "events") {
    val r = q("q_diff_in_diff").collect().head
    val total = Tables.table(spark, sf, "events").count()
    assert(r.getLong(0) + r.getLong(1) + r.getLong(2) + r.getLong(3)
      == total)
    val did = (r.getDouble(5) - r.getDouble(4)) -
      (r.getDouble(7) - r.getDouble(6))
    assert(math.abs(r.getDouble(8) - did) < 1e-12)
  }

  test("pinball loss: the p90 predictor beats shifted predictors " +
    "under its own loss") {
    val rows = q("q_pinball_loss").collect()
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"), floor(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def loss(t: String, yhat: Long): Long =
      ev.filter(_._1 == t).map { case (_, y) =>
        if (y >= yhat) 9L * (y - yhat) else yhat - y
      }.sum
    rows.foreach { r =>
      val t = r.getString(0)
      val yhat = math.round(r.getDouble(2) * 100)
      assert(r.getLong(3) == loss(t, yhat), s"$t scaled loss")
      // quantile optimality: the p90 threshold minimizes pinball loss
      // locally (any +-20-unit shift cannot do better)
      Seq(-20L, 20L).foreach { dlt =>
        assert(loss(t, yhat) <= loss(t, yhat + dlt),
          s"$t local optimality at shift $dlt")
      }
    }
  }

  test("covariate match: every treated row pairs with the closest " +
    "control balance in its segment") {
    val rows = q("q_covariate_match").collect()
    val cust = Tables.table(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal"), 0).cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val treatedIds = cust.filter(_._1 % 2 == 1).map(_._1).toSet
    assert(rows.map(_.getLong(0)).toSet == treatedIds)
    rows.foreach { r =>
      val (tid, seg, tbq) = (r.getLong(0), r.getString(1), r.getLong(2))
      val controls = cust.filter(c => c._2 == seg && c._1 % 2 == 0)
      if (controls.nonEmpty) {
        val best = controls.map(c => math.abs(c._3 - tbq)).min
        assert(r.getLong(5) == best, s"treated $tid distance")
        assert(controls.exists(c => c._1 == r.getLong(3)
          && math.abs(c._3 - tbq) == best), s"treated $tid match id")
      } else assert(r.isNullAt(3))
    }
  }

  test("dataset card: every ingredient reconciles with its standalone " +
    "certified pipeline") {
    val r = q("q_dataset_card").collect().head
    val docs = Tables.table(spark, sf, "documents")
    assert(r.getLong(0) == docs.count())
    val totalToks = docs
      .select(size(split(col("text"), " "))).collect()
      .map(_.getInt(0).toLong).sum
    assert(r.getLong(4) == totalToks)
    val dupPairs = q("q_dedup_ngram").count()
    assert(r.getLong(8) == dupPairs)
    assert(r.getLong(9) <= 2 * dupPairs, "dup docs bounded by pair ends")
    assert(r.getDouble(7) >= 0.0 && r.getDouble(7) <= 1.0)
    assert(r.getDouble(10) >= 0.0 && r.getDouble(10) <= 1.0)
  }

  test("rolling p95: thresholds match an exact driver recomputation " +
    "over each trailing window") {
    val rows = q("q_rolling_p95").collect()
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"), col("ts").cast("date").cast("string"),
        round(col("value") * 100, 0).cast("long")).collect()
      .map(r => (r.getString(0), java.time.LocalDate.parse(r.getString(1)),
        r.getLong(2)))
    rows.foreach { r =>
      val (t, day) = (r.getString(0), java.time.LocalDate.parse(r.getString(1)))
      val win = ev.filter(e => e._1 == t && !e._2.isAfter(day) &&
        !e._2.isBefore(day.minusDays(6))).map(_._3).sorted
      assert(r.getLong(2) == win.length.toLong, s"$t $day n_7d")
      val need = math.ceil(win.length * 0.95).toInt
      assert(math.abs(r.getDouble(3) - win(need - 1) / 100.0) < 1e-12,
        s"$t $day p95")
    }
    assert(rows.nonEmpty)
  }

  test("model winrate: agreement cells partition the corpus and the " +
    "McNemar statistic matches its formula") {
    val r = q("q_model_winrate").collect().head
    assert(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4)
      == r.getLong(0), "the four cells partition every item")
    val (b, c) = (r.getLong(3), r.getLong(4))
    assert(math.abs(r.getDouble(5) -
      ((b - c) * (b - c)).toDouble / (b + c)) < 1e-12)
  }

  test("class balance: every label keeps exactly the minority size") {
    val rows = q("q_class_balance").collect()
    val byY = Tables.table(spark, sf, "embeddings")
      .groupBy((col("label") % 4).cast("long")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quota = byY.values.min
    val kept = rows.groupBy(_.getLong(1)).view.mapValues(_.length.toLong)
    assert(kept.toMap == byY.view.mapValues(_ => quota).toMap,
      "every class downsamples to the minority count")
    assert(rows.forall(r => r.getLong(2) >= 1 && r.getLong(2) <= quota))
  }

  test("dimension variance: moments match an exact driver " +
    "recomputation per dimension") {
    val rows = q("q_dim_variance").collect()
    val emb = Tables.table(spark, sf, "embeddings")
      .select(col("embedding")).collect().map(_.getSeq[Float](0))
    assert(rows.length == emb.head.length)
    rows.take(4).foreach { r =>
      val dim = r.getLong(0).toInt
      val qs = emb.map(v => math.floor(v(dim - 1).toDouble * 1048576.0)
        .toLong)
      val n = qs.length.toDouble
      val sq = qs.sum.toDouble
      val sqq = qs.map(x => BigInt(x) * BigInt(x)).sum.toDouble
      val expect = (sqq - sq * sq / n) / n
      assert(math.abs(r.getDouble(2) - expect) <
        1e-9 * math.abs(expect).max(1), s"dim $dim")
      assert(r.getDouble(2) >= 0.0)
    }
  }
}
