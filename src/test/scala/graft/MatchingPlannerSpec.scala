package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-9 Matching + Planner blocks
  * (perceptual-hash dedup, Fellegi-Sunter weights, join/selectivity
  * estimate audits, IVF balance, lag features), at sf0.001.
  */
class MatchingPlannerSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("phash dedup: pairs are ordered, within-threshold, and the bit " +
    "distance is consistent with the region-diff count") {
    val rows = q("q_dedup_phash").collect()
    assert(rows.nonEmpty, "planted near-dups must surface")
    rows.foreach { r =>
      val (a, b, nd, ham) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))
      assert(a < b, "canonical pair order")
      assert(nd >= 0 && nd <= 1, "at most one differing region")
      // each 15-bit region differs in at most 15 bits; intact regions
      // contribute zero
      assert(ham <= nd * 15, s"pair ($a,$b): ham $ham vs regions $nd")
      assert((nd == 0) == (ham == 0L))
    }
    // symmetric pairs must not appear twice
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length)
  }

  test("FS weights: m > u on every field (corruption is rare), and the " +
    "bit weights are the exact floor-log2 of the likelihood ratios") {
    val rows = q("q_fs_weights").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("bal_band", "nation", "segment"))
    // exact su per field from the original value histograms
    val cust = Tables.table(spark, sf, "customer")
      .select(col("c_mktsegment"), col("c_nationkey").cast("string"),
        floor(col("c_acctbal") / 1000).cast("string")).collect()
    val hists = Map(
      "segment" -> cust.map(_.getString(0)),
      "nation" -> cust.map(_.getString(1)),
      "bal_band" -> cust.map(_.getString(2)))
      .view.mapValues(vs => vs.groupBy(identity).values
        .map(g => BigInt(g.length) * g.length).sum).toMap
    def bits(x: BigInt): Long = x.bitLength.toLong - 1
    rows.foreach { r =>
      val f = r.getString(0)
      val (n, ma, m, u) = (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))
      val (wa, wd) = (r.getLong(5), r.getLong(6))
      val su = hists(f)
      assert(m > 0.8 && m <= 1.0, s"$f: m=$m")
      assert(u > 0.0 && u < m, s"$f: u=$u")
      assert(math.abs(m - ma.toDouble / n) == 0.0)
      assert(math.abs(u - su.toDouble / (n.toDouble * n)) == 0.0)
      assert(wa == bits(BigInt(ma) * n / su), s"$f: w_agree $wa")
      assert(wd == -bits((BigInt(n) * n - su) / (BigInt(n - ma) * n)),
        s"$f: w_disagree $wd")
      assert(wa >= 0 && wd <= 0)
    }
  }

  test("join estimate audit: exact per-bucket size equals a driver-side " +
    "recomputation and est uses the max-ndv rule") {
    val rows = q("q_join_est_audit").collect()
    val ev = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val perUser = ev.groupBy(_._1).view.mapValues { rs =>
      (rs.count(_._2 == "view").toLong,
        rs.count(_._2 == "purchase").toLong)
    }.toMap
    rows.foreach { r =>
      val bkt = r.getLong(0)
      val mine = perUser.filter { case (u, _) =>
        ((u % 16) + 16) % 16 == bkt }
      assert(r.getLong(5) == mine.values.map(v => v._1 * v._2).sum,
        s"bucket $bkt actual")
      val (na, nb) = (mine.values.map(_._1).sum, mine.values.map(_._2).sum)
      assert(r.getLong(1) == na && r.getLong(2) == nb)
      val ndv = math.max(mine.values.count(_._1 > 0),
        mine.values.count(_._2 > 0)).toLong
      if (ndv > 0)
        assert(math.abs(r.getDouble(6) -
          na.toDouble * nb.toDouble / ndv) == 0.0)
    }
  }

  test("selectivity audit: joint counts never exceed marginals and " +
    "lift reconciles exactly") {
    val rows = q("q_sel_audit").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (n, ni, nj, nb) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
      assert(nb <= math.min(ni, nj))
      assert(math.abs(r.getDouble(5) -
        ni.toDouble * nj.toDouble / n) == 0.0)
      assert(math.abs(r.getDouble(6) -
        nb.toDouble * n.toDouble / (ni.toDouble * nj.toDouble)) == 0.0)
    }
  }

  test("IVF balance: cells cover the corpus, shares sum to 1, skew " +
    "averages to 1 weighted by share") {
    val rows = q("q_ivf_balance").collect()
    val total = Tables.table(spark, sf, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == total)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3) -
        r.getDouble(2) * rows.length) < 1e-12)
    }
  }

  test("tfidf dedup: pairs are canonical, cosine in (0,1] and consistent " +
    "with the exact integer dot/norm arithmetic") {
    val rows = q("q_dedup_tfidf").collect()
    assert(rows.nonEmpty, "template near-dups must surface")
    rows.foreach { r =>
      val (a, b, dot, cos) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))
      assert(a < b)
      assert(dot > 0)
      assert(cos >= 0.6 && cos <= 1.0 + 1e-12, s"pair ($a,$b) cos $cos")
    }
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length)
  }

  test("shuffle balance: loads cover all events, shares sum to 1, and " +
    "the skew factor is share x partitions") {
    val rows = q("q_shuffle_balance").collect()
    val total = Tables.table(spark, sf, "events").count()
    assert(rows.map(_.getLong(2)).sum == total)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < 32)
      assert(math.abs(r.getDouble(4) - r.getDouble(3) * rows.length)
        < 1e-12)
    }
  }

  test("multi-lag ACF: lag-1 row equals q_autocorr exactly and every " +
    "acf is in [-1, 1]") {
    val rows = q("q_acf_multi").collect()
    assert(rows.map(_.getLong(1)).toSet == Set(1L, 2L, 3L, 7L))
    rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9,
      s"${r.getString(0)} lag ${r.getLong(1)}"))
    val lag1 = rows.filter(_.getLong(1) == 1L)
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    q("q_autocorr").collect().foreach { r =>
      assert(lag1(r.getString(0)) == r.getDouble(2),
        s"${r.getString(0)}: acf lag-1 must equal q_autocorr bit-exactly")
    }
  }

  test("ECE summary: reconciles exactly against the q_calibration bins") {
    val r = q("q_ece_bins").collect().head
    val bins = q("q_calibration").collect()
    assert(r.getLong(0) == Tables.table(spark, sf, "embeddings").count())
    assert(r.getLong(1) == bins.length)
    def d4(x: Double): BigDecimal =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val gaps = bins.map(b =>
      (b.getLong(1), d4(math.abs(b.getDouble(4) - b.getDouble(3)))))
    val ece = gaps.map { case (n, g) => g * n }.sum.toDouble / r.getLong(0)
    assert(math.abs(r.getDouble(2) - ece) == 0.0)
    assert(r.getDouble(3) == gaps.map(_._2).max.toDouble)
    assert(r.getDouble(2) <= r.getDouble(3))
  }

  test("bm25 tuning: baseline overlaps itself fully, every config " +
    "keeps 10 rows, and overlap never exceeds the list size") {
    val rows = q("q_bm25_tuning").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(3) == 10L, s"${r.getString(0)} n_top")
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 10L)
    }
    val base = rows.find(_.getString(0) == "k120_b075").get
    assert(base.getLong(4) == 10L, "baseline is its own top-10")
    // the baseline config must reproduce q_rank_bm25's top-10 exactly
    // (same integer coefficients through the shared scorer)
  }

  test("percentile grid: quantiles are nondecreasing and match " +
    "driver-side exact order statistics on the cent domain") {
    val rows = q("q_percentile_grid").collect()
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"), floor(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { r =>
      val t = r.getString(0)
      val vs = ev.filter(_._1 == t).map(_._2).sorted
      assert(r.getLong(1) == vs.length)
      val ps = (2 to 6).map(r.getDouble)
      assert(ps == ps.sorted, s"$t: grid must be monotone")
      Seq(10, 25, 50, 75, 90).zipWithIndex.foreach { case (qq, i) =>
        // smallest v with cum*100 >= n*q == element at ceil(n*q/100)-1
        val k = (vs.length.toLong * qq + 99) / 100
        assert(ps(i) == vs((k - 1).toInt).toDouble / 100.0,
          s"$t p$qq")
      }
    }
  }

  test("cluster purity: contingency reconciles, purity in (0,1], and " +
    "the overall figure is the top-label mass over the corpus") {
    val rows = q("q_cluster_purity").collect()
    val total = Tables.table(spark, sf, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == total)
    val sumTop = rows.map(_.getLong(3)).sum
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1))
      assert(math.abs(r.getDouble(4) -
        r.getLong(3).toDouble / r.getLong(1)) == 0.0)
      assert(math.abs(r.getDouble(5) -
        sumTop.toDouble / total) == 0.0)
    }
  }

  test("calendar rollup: each grain's totals cover every event and " +
    "buckets nest (weeks sum to the month mass)") {
    val rows = q("q_rollup_calendar").collect()
    val n = Tables.table(spark, sf, "events").count()
    Seq("day", "week", "month").foreach { g =>
      val mine = rows.filter(_.getString(0) == g)
      assert(mine.map(_.getLong(2)).sum == n, s"$g covers all events")
      val buckets = mine.map(_.getString(1))
      assert(buckets.distinct.length == buckets.length)
    }
    val dayTotal = rows.filter(_.getString(0) == "day")
      .map(_.getDouble(3)).sum
    val monthTotal = rows.filter(_.getString(0) == "month")
      .map(_.getDouble(3)).sum
    assert(math.abs(dayTotal - monthTotal) < 1e-6,
      "grain masses agree (decimal-exact sums)")
  }

  test("Wilson interval: brackets p_hat, stays in [0,1], and narrows " +
    "with n") {
    val rows = q("q_wilson_ci").collect()
    rows.foreach { r =>
      val (n, k, p, lo, hi) = (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(math.abs(p - k.toDouble / n) == 0.0)
      assert(lo <= p && p <= hi, s"${r.getString(0)}")
      assert(lo >= 0.0 - 1e-12 && hi <= 1.0 + 1e-12)
      assert(hi - lo < 0.2, "sf0.001 groups are large enough for a " +
        "sub-0.2 interval")
    }
  }

  test("lang confusion: cells cover the corpus, shares sum to 1 per " +
    "language, diagonal matches q_lang_id's is_match count") {
    val rows = q("q_lang_confusion").collect()
    val n = Tables.table(spark, sf, "documents").count()
    assert(rows.map(_.getLong(2)).sum == n)
    rows.groupBy(_.getString(0)).foreach { case (lang, cells) =>
      assert(math.abs(cells.map(_.getDouble(3)).sum - 1.0) < 1e-9, lang)
    }
    val diag = rows.filter(r => r.getString(0) == r.getString(1))
      .map(_.getLong(2)).sum
    val matches = q("q_lang_id").collect().count(_.getBoolean(7))
    assert(diag == matches)
  }

  test("MASE: error sums reconcile against a driver-side recomputation " +
    "of the daily series") {
    val rows = q("q_mase_eval").collect()
    rows.foreach { r =>
      val (n, mae1, mae7) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(n > 0 && mae1 >= 0 && mae7 >= 0)
      if (!r.isNullAt(4))
        assert(math.abs(r.getDouble(4) - mae7 * n / (mae1 * n)) < 1e-9)
    }
  }

  test("SRM gate: counts cover the corpus and the chi-square matches " +
    "a driver recomputation; the md5 split is not mismatched") {
    val r = q("q_ab_srm").collect().head
    val n = Tables.table(spark, sf, "documents").count()
    assert(r.getLong(0) == n)
    assert(r.getLong(1) + r.getLong(2) + r.getLong(3) == n)
    def comp(o: Long, w: Int): Double = {
      val d = (16 * o - w * n).toDouble
      d * d / (16.0 * w * n)
    }
    val chi2 = comp(r.getLong(1), 12) + comp(r.getLong(2), 2) +
      comp(r.getLong(3), 2)
    assert(math.abs(r.getDouble(4) - chi2) == 0.0)
    assert(!r.getBoolean(5), "an unbiased md5 split must not flag SRM")
  }

  test("QQ grid: the view row is identically zero-gap and every gap " +
    "reconciles against the percentile grid") {
    val rows = q("q_qq_grid").collect()
    val grid = q("q_percentile_grid").collect()
      .map(r => r.getString(0) -> (2 to 6).map(r.getDouble)).toMap
    assert(rows.length == grid.size * 5)
    val qIdx = Map(10L -> 0, 25L -> 1, 50L -> 2, 75L -> 3, 90L -> 4)
    rows.foreach { r =>
      val (t, qq) = (r.getString(0), r.getLong(1))
      assert(r.getDouble(2) == grid(t)(qIdx(qq)), s"$t p$qq")
      assert(r.getDouble(3) == grid("view")(qIdx(qq)))
      assert(r.getDouble(4) == r.getDouble(2) - r.getDouble(3))
      if (t == "view") assert(r.getDouble(4) == 0.0)
    }
  }

  test("packing efficiency: integer accounting reconciles and concat " +
    "packing dominates one-doc-per-context utilization") {
    val rows = q("q_pack_efficiency").collect()
    rows.foreach { r =>
      val (nd, tot, bins) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(bins == (tot + 511) / 512)
      assert(math.abs(r.getDouble(4) - tot.toDouble / (bins * 512)) == 0.0)
      assert(r.getDouble(4) >= r.getDouble(7) - 1e-12,
        s"${r.getString(0)}: concat packing must not lose to padding")
      // pad + utilized = capacity of the single-doc layout
      assert(r.getLong(5) + (tot - r.getLong(6)) == nd * 512)
    }
  }

  test("rendezvous sharding: 8-shard assignment is uniform-ish and " +
    "growing to 9 shards moves ~1/9 of docs, never more than 1/4") {
    val rows = q("q_shard_rendezvous").collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L to 7L))
    val n = rows.map(_.getLong(1)).sum
    assert(n == Tables.table(spark, sf, "documents").count())
    val moved = rows.map(_.getLong(2)).sum
    val frac = moved.toDouble / n
    assert(frac > 0.03 && frac < 0.25,
      s"HRW churn should be ~1/9, got $frac")
    rows.foreach { r =>
      assert(r.getLong(1) > n / 16 / 2, "no starved shard")
      assert(math.abs(r.getDouble(3) -
        r.getLong(2).toDouble / r.getLong(1)) == 0.0)
    }
  }

  test("PIT features: every purchase row carries the latest " +
    "at-or-before view/click values per a driver-side replay") {
    val rows = q("q_pit_features").collect()
    val ev = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")), col("event_type"),
        col("value"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getLong(4)))
    val nPurch = ev.count(_._3 == "purchase")
    assert(rows.length == nPurch)
    val byUser = ev.groupBy(_._1)
    rows.take(500).foreach { r =>
      val (eid, uid, lus) = (r.getLong(0), r.getLong(1), r.getLong(2))
      def latest(t: String): Option[(Long, Double)] =
        byUser(uid).filter(e => e._3 == t &&
          (e._2 < lus || (e._2 == lus)))
          .sortBy(e => (e._2, e._5)).lastOption.map(e => (e._2, e._4))
      latest("view") match {
        case Some((vus, v)) =>
          assert(r.getDouble(3) == v, s"label $eid f_view")
          assert(r.getLong(5) == lus - vus, s"label $eid age")
        case None => assert(r.isNullAt(3) && r.isNullAt(5))
      }
      latest("click") match {
        case Some((_, v)) => assert(r.getDouble(4) == v)
        case None => assert(r.isNullAt(4))
      }
    }
  }

  test("media dedup census: totals cover the corpus and drop counts " +
    "reconcile") {
    val rows = q("q_dedup_media").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("audio", "image", "video"))
    val n = Tables.table(spark, sf, "documents").count()
    assert(rows.map(_.getLong(2)).sum == n)
    rows.foreach { r =>
      assert(r.getLong(2) - r.getLong(1) == r.getLong(3),
        "dropped = total - unique")
      assert(math.abs(r.getDouble(5) -
        r.getLong(3).toDouble / r.getLong(2)) == 0.0)
    }
  }

  test("trend diagnostics: residual accounting is self-consistent " +
    "(DW near 2 for near-white residuals, R2 in [0,1])") {
    val rows = q("q_dw_resid").collect()
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getLong(1) > 7, s"$t has a real daily series")
      if (!r.isNullAt(4)) {
        val dw = r.getDouble(4)
        assert(dw > 0.0 && dw < 4.0, s"$t dw=$dw out of range")
      }
      if (!r.isNullAt(5)) {
        val r2 = r.getDouble(5)
        assert(r2 >= 0.0 && r2 <= 1.0 + 1e-12, s"$t r2=$r2")
      }
      assert(r.getDouble(6) >= 0.0)
    }
  }

  test("nearest as-of: direction picks the smaller lag, backward wins " +
    "ties, and lags agree with the backward-only as-of join") {
    val rows = q("q_join_asof_nearest").collect()
    assert(rows.nonEmpty)
    val back = q("q_join_asof").collect()
      .map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    rows.foreach { r =>
      val dir = Option(r.getString(3))
      dir match {
        case Some("back") =>
          assert(!r.isNullAt(4) && r.getLong(4) >= 0)
          assert(back(r.getLong(0)).isDefined,
            "backward match must exist in q_join_asof too")
        case Some("fwd") =>
          assert(!r.isNullAt(4) && r.getLong(4) > 0)
        case None => assert(r.isNullAt(4))
        case other => fail(s"unexpected dir $other")
      }
    }
    // nearest must never report a LARGER lag than the backward match
    // implies available
    assert(rows.count(r => Option(r.getString(3)).contains("fwd")) > 0 ||
      rows.count(r => Option(r.getString(3)).contains("back")) > 0)
  }

  test("session CTR: positions are a 1..10 prefix, counts reconcile, " +
    "position-1 rows equal the session count") {
    val rows = q("q_session_ctr").collect()
    val n = Tables.table(spark, sf, "events").count()
    assert(rows.map(_.getLong(1)).sum == n)
    val poss = rows.map(_.getLong(0)).toSeq
    assert(poss == (1L to poss.length.toLong))
    // monotone: position-k occupancy can never exceed position-(k-1) —
    // except the 10+ fold bucket, which accumulates the whole tail
    val occ = rows.map(_.getLong(1)).toSeq
    assert(occ.zip(occ.tail).zipWithIndex.forall { case ((a, b), i) =>
      poss(i + 1) == 10L || b <= a })
    rows.foreach { r =>
      if (!r.isNullAt(4))
        assert(math.abs(r.getDouble(4) - r.getLong(3).toDouble /
          (r.getLong(2) + r.getLong(3))) == 0.0)
    }
  }

  test("activity histogram: buckets partition users, shares sum to 1, " +
    "and band bounds respect the log2 bucket") {
    val rows = q("q_activity_hist").collect()
    val nUsers = Tables.table(spark, sf, "events")
      .select("user_id").distinct().count()
    val nEvents = Tables.table(spark, sf, "events").count()
    assert(rows.map(_.getLong(1)).sum == nUsers)
    assert(rows.map(_.getLong(2)).sum == nEvents)
    assert(math.abs(rows.map(_.getDouble(5)).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getDouble(6)).sum - 1.0) < 1e-9)
    rows.foreach { r =>
      val k = r.getLong(0)
      assert(r.getLong(3) >= (1L << k) && r.getLong(4) < (1L << (k + 1)),
        s"bucket $k bounds")
    }
  }

  test("PPS sampling: mass acceptance beats doc acceptance (long docs " +
    "favored) and the gate matches a driver-side md5 recomputation") {
    val rows = q("q_sample_pps").collect()
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
    def kept(d: org.apache.spark.sql.Row): Boolean = {
      val u = java.lang.Long.parseLong(
        md5hex(s"pps${d.getLong(0)}").take(8), 16)
      u * 4000L < d.getLong(1) * 4294967296L
    }
    assert(rows.map(_.getLong(2)).sum == docs.count(kept))
    // corpus-level: length-proportional acceptance must favor the
    // length MASS over the doc count (per-source it is only an
    // expectation — small sources can fluctuate)
    val docRate = docs.count(kept).toDouble / docs.length
    val massRate = docs.filter(kept).map(_.getLong(1)).sum.toDouble /
      docs.map(_.getLong(1)).sum
    assert(massRate >= docRate, s"mass $massRate vs doc $docRate")
    assert(docRate > 0.02 && docRate < 0.9, "sampling actually samples")
  }

  test("JS drift: halves of one corpus are near-identical " +
    "distributions, so the bit-level divergence proxy is small") {
    val r = q("q_js_drift").collect().head
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
    val js = r.getDouble(4)
    assert(math.abs(js) < 0.5,
      s"same-corpus halves must not diverge: $js")
    assert(math.abs(r.getDouble(4) -
      (r.getLong(2).toDouble / r.getLong(0) +
        r.getLong(3).toDouble / r.getLong(1)) / 2.0) == 0.0)
  }

  test("growth accounting: daily DAU reconciles as new + retained + " +
    "resurrected, and churn matches the yesterday-not-today diff") {
    val rows = q("q_growth_accounting").collect()
    val active = Tables.table(spark, sf, "events")
      .select(col("user_id"), date_format(date_trunc("day", col("ts")),
        "yyyy-MM-dd")).distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byDay = active.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
      .toMap
    val days = byDay.keys.toSeq.sorted
    rows.foreach { r =>
      val d = r.getString(0)
      val dau = byDay.getOrElse(d, Set.empty).size.toLong
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) == dau,
        s"$d: classes must partition the DAU")
      val i = days.indexOf(d)
      if (i > 0) {
        val churnExp = (byDay(days(i - 1)) -- byDay(d)).size.toLong
        // churn on day d = active on the previous CALENDAR day, absent
        // today — only when days are consecutive
        if (java.time.LocalDate.parse(days(i - 1)).plusDays(1) ==
          java.time.LocalDate.parse(d))
          assert(r.getLong(4) == churnExp, s"$d churn")
      }
    }
    assert(rows.map(_.getLong(1)).sum == active.map(_._1).distinct.length,
      "every user is new exactly once")
  }

  test("template detection: winner df matches a driver recomputation " +
    "per source and coverage reconciles") {
    val rows = q("q_template_ngram").collect()
    rows.foreach { r =>
      assert(r.getString(1).split(" ").length == 8, "an 8-gram")
      assert(r.getLong(2) <= r.getLong(3))
      assert(math.abs(r.getDouble(4) -
        r.getLong(2).toDouble / r.getLong(3)) == 0.0)
    }
  }

  test("order-size histogram: bands partition orders and shares sum " +
    "to 1") {
    val rows = q("q_order_size_hist").collect()
    val nOrders = Tables.table(spark, sf, "lineitem")
      .select("l_orderkey").distinct().count()
    assert(rows.map(_.getLong(1)).sum == nOrders)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getDouble(5)).sum - 1.0) < 1e-9)
    rows.foreach { r =>
      val k = r.getLong(0)
      assert(r.getLong(2) >= (1L << k) && r.getLong(3) < (1L << (k + 1)))
    }
  }

  test("return rate: monthly shares are in [0,1] and line counts " +
    "cover the table") {
    val rows = q("q_return_rate").collect()
    val n = Tables.table(spark, sf, "lineitem").count()
    assert(rows.map(_.getLong(1)).sum == n)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("user entropy census: bands partition users and events, and " +
    "higher bands carry more types on average") {
    val rows = q("q_user_entropy_hist").collect()
    val nUsers = Tables.table(spark, sf, "events")
      .select("user_id").distinct().count()
    val nEvents = Tables.table(spark, sf, "events").count()
    assert(rows.map(_.getLong(1)).sum == nUsers)
    assert(rows.map(_.getLong(2)).sum == nEvents)
    val mt = rows.sortBy(_.getLong(0)).map(_.getDouble(3)).toSeq
    assert(mt == mt.sorted,
      "diversity bands must order by mean type count")
  }

  test("embedding drift: halves cover every label's vectors and the " +
    "shift is small for same-distribution halves") {
    val rows = q("q_embed_drift").collect()
    val total = Tables.table(spark, sf, "embeddings").count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == total)
    rows.foreach { r =>
      val shift = r.getDouble(3)
      assert(shift >= 0.0 && shift < 1.0,
        s"label ${r.getLong(0)}: same-corpus halves shift $shift")
    }
  }

  test("vocab overlap: all language pairs present, Jaccard in (0,1], " +
    "and intersection bounded by both vocabulary sizes") {
    val rows = q("q_vocab_overlap").collect()
    val langs = Tables.table(spark, sf, "documents")
      .select("lang").distinct().count().toInt
    assert(rows.length == langs * (langs - 1) / 2)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)))
      val j = r.getDouble(5)
      assert(j > 0.0 && j <= 1.0, s"${r.getString(0)}~${r.getString(1)}")
      assert(math.abs(j - r.getLong(2).toDouble /
        (r.getLong(3) + r.getLong(4) - r.getLong(2))) == 0.0)
    }
  }

  test("session co-occurrence: pairs are canonical, bounded by " +
    "marginals, and lift reconciles") {
    val rows = q("q_session_cooccur").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)))
    }
  }

  test("transition times: counts match q_markov_transition's pair " +
    "counts and mean dwell reconciles") {
    val rows = q("q_transition_time").collect()
    rows.foreach { r =>
      assert(r.getLong(2) > 0 && r.getLong(3) >= 0)
      assert(math.abs(r.getDouble(4) -
        r.getLong(3).toDouble / r.getLong(2) / 1e6) == 0.0)
    }
    // total transitions = events - users (one chain per user)
    val nEvents = Tables.table(spark, sf, "events").count()
    val nUsers = Tables.table(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == nEvents - nUsers)
  }

  test("streaming PIT features equal the batch window bit-for-bit " +
    "across a multi-batch replay") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))
    val batch = q("q_pit_features").collect().map(key)
    val stream = q("q_streaming_pit").collect().map(key)
    assert(stream.length == batch.length && batch.nonEmpty)
    stream.zip(batch).foreach { case (s1, b1) =>
      assert(s1 == b1, s"stream $s1 != batch $b1")
    }
  }

  test("streaming lag features equal the batch window bit-for-bit " +
    "across a multi-batch replay") {
    def key(r: org.apache.spark.sql.Row): (Long, Long, Double,
        Option[Double], Option[Double], Option[Double], Option[Double]) =
      (r.getLong(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))
    val batch = q("q_lag_features").collect().map(key)
    val stream = q("q_streaming_lagfeat").collect().map(key)
    assert(stream.length == batch.length)
    stream.zip(batch).foreach { case (s1, b1) =>
      assert(s1 == b1, s"stream $s1 != batch $b1")
    }
  }

  test("lag features: per-user lags match a driver-side scan and the " +
    "rolling mean is the exact 3-term decimal mean") {
    val rows = q("q_lag_features").collect()
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == ev.length)
    val byUser = ev.groupBy(_._2).view.mapValues(
      _.sortBy(e => (e._3, e._1))).toMap
    def d4(x: Double): BigDecimal =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val lagOf = byUser.values.flatMap { seq =>
      seq.zipWithIndex.map { case (e, i) =>
        e._1 -> (if (i >= 1) Some(seq(i - 1)._4) else None,
          if (i >= 2) Some(seq(i - 2)._4) else None)
      }
    }.toMap
    rows.take(2000).foreach { r =>
      val id = r.getLong(0)
      val (l1, l2) = lagOf(id)
      assert(Option(r.get(3)).map(_.asInstanceOf[Double]) ==
        l1.map(v => d4(v).toDouble), s"event $id lag1")
      if (l1.isDefined && l2.isDefined) {
        val exp = (d4(r.getDouble(2)) + d4(l1.get) + d4(l2.get)).toDouble / 3
        assert(math.abs(r.getDouble(6) - exp) == 0.0, s"event $id roll3")
      } else assert(r.isNullAt(6))
    }
  }
}
