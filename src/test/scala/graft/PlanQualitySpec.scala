package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions (SURVEY.md §4): the properties that
  * make these queries survive a 100x scale-up are pinned here so a
  * refactor that silently loses a pushdown, a broadcast, or partial
  * aggregation — or reintroduces a cartesian product — fails CI, not the
  * cluster.
  */
class PlanQualitySpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Bounded-window walker (round-17 ask #1): a node below a global
    * window is REDUCING when its output size is bounded independent of
    * the corpus — an aggregate (O(groups)), a limit/top-k (O(k)), or a
    * BroadcastExchange (the broadcast contract bounds the build side).
    */
  private def isReducer(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate._
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    p match {
      case _: HashAggregateExec | _: ObjectHashAggregateExec |
           _: SortAggregateExec => true
      case _: LocalLimitExec | _: GlobalLimitExec |
           _: CollectLimitExec | _: TakeOrderedAndProjectExec => true
      case _: WindowGroupLimitExec => true
      case _: BroadcastExchangeExec => true
      case _ => false
    }
  }

  /** File scans reachable from `p` without crossing a reducing node —
    * each is a corpus-sized relation a global window would drag into
    * one task.
    */
  private def unreducedScans(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    if (isReducer(p)) Nil
    else p match {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(s.nodeName +
          s" [${s.metadata.getOrElse("Location", "?").takeRight(60)}]")
      case s: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => Seq(s.nodeName)
      case other => other.children.flatMap(unreducedScans)
    }

  test("filter predicates push into the parquet scan") {
    val p = plan("q_filter_pred")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("GreaterThan") || p.contains("EqualTo"),
      "expected a value predicate in PushedFilters")
  }

  test("projection prunes the scan schema to referenced columns") {
    val p = plan("q_scan_project")
    // lineitem has 11 columns; the query references 4
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_returnflag") && !read.contains("l_shipdate"),
      read)
  }

  test("dimension joins broadcast the small side") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
    assert(plan("q_join_multiway").contains("BroadcastHashJoin"))
  }

  test("no unintended cartesian products or nested-loop joins") {
    for (q <- Seq("q_dedup_minhash", "q_dedup_ngram", "q_join_inner",
        "q_join_theta", "q_join_asof", "q_join_salted")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("aggregations are partial (map-side combine before the shuffle)") {
    val p = plan("q_agg_group")
    // a partial_* aggregate below the exchange, final above it
    assert(p.contains("partial_sum"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("minhash candidates come from bucket posting lists, not a self-join") {
    val df = SparkEntry.queries("q_dedup_minhash")(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    // candidate generation is ONE aggregation of the skinny band stream
    // (posting lists -> i<j pairs) — the only joins left in the whole
    // plan are the two verification array-fetch joins, so the exploded
    // band stream is shuffled once, never twice as self-join legs
    assert(joins.size == 2, s"expected 2 fetch joins, found ${joins.size}")
    // and the shingle arrays enter only at those fetch joins, above the
    // distinct'd candidate relation — never through the band stream
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.exists(_.aggregateExpressions.exists(
      _.toString.contains("collect_list"))),
      "posting-list aggregate missing from candidate generation")
  }

  test("sort-limit compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("q_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("bucketed join runs with no exchange under the join") {
    val p = plan("q_join_bucketed")
    assert(p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"),
      "join required a shuffle despite bucketing:\n" + p.take(2000))
    // SelectedBucketsCount marker proves the scan is bucket-aware
    assert(p.contains("Bucketed: true"), p.take(2000))
    // keyed aggregation on the bucketed table: zero hash exchange — the
    // bucket layout satisfies the groupBy distribution directly
    val pa = plan("q_agg_bucketed")
    assert(!pa.contains("Exchange hashpartitioning"),
      "bucketed agg shuffled despite bucketing:\n" + pa.take(2000))
    assert(pa.contains("Bucketed: true"), pa.take(2000))
  }

  test("native top-k plans the custom operator, no window sort") {
    val p = plan("q_topk_native")
    assert(p.contains("TopKPerKey ["), p.take(1500)) // Exec renders sans suffix
    assert(!p.contains("Window"), "window spelling leaked back in")
  }

  test("contamination broadcasts the benchmark gram set, no cartesian") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("LSH candidate join broadcasts probe buckets; simhash scan is narrow") {
    val p = plan("q_sim_lsh")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // simhash reads only (doc_id, text) — the signature pipeline must not
    // widen the scan
    val read = plan("q_dedup_simhash").linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("lang"), read)
  }

  test("banded range join is an equi join, not a nested loop") {
    val p = plan("q_join_range")
    assert(p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "range predicate fell back to a nested loop:\n" + p.take(2000))
  }

  test("partitioned sink scan prunes to the single year directory") {
    val df = SparkEntry.queries("q_sink_partitioned")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("o_year")), p.take(2000))
    // the definitive check: the scan's pruned listing holds exactly ONE
    // partition directory (inputFiles reports the pre-pruning catalog,
    // so it cannot be used here)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no file scan found")
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"scan kept ${scans.head.selectedPartitions.partitionCount} partitions")
  }

  test("round-5 plans: map-side sampling, single-shuffle compaction " +
      "and hopping, one-scan profile, no cartesians") {
    // weighted sampling is a pure map-side filter: no join, no
    // aggregate, no hash exchange (the final orderBy range-partitions)
    val ps = plan("q_sample_weighted")
    assert(!ps.contains("Join") && !ps.contains("HashAggregate"),
      ps.take(1500))
    assert(!ps.contains("Exchange hashpartitioning"), ps.take(1500))
    // keep-latest: ZERO hash shuffle — the user_id-bucketed event scan
    // satisfies the (user_id, event_type) window clustering (round-6
    // bucketing of the event-time family)
    val pk = plan("q_keep_latest")
    assert("Exchange hashpartitioning".r.findAllIn(pk).isEmpty,
      pk.take(2000))
    assert(pk.contains("Bucketed: true"), pk.take(2000))
    // hopping window: the 2x window fan-out happens map-side — same
    // single hash shuffle as the tumbling window
    val ph = plan("q_window_hopping")
    assert("Exchange hashpartitioning".r.findAllIn(ph).size == 1,
      ph.take(2000))
    // profile: no multi-distinct Expand (rows x columns fan-out into a
    // wide sort aggregate); six single-column branches whose scans are
    // each pruned to exactly the profiled column
    val pp = plan("q_profile_table")
    assert(!pp.contains("Expand"), pp.take(2000))
    val reads = pp.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.size == 6, s"expected 6 pruned scans, got ${reads.size}")
    assert(reads.forall(r =>
      "o_[a-z]+:".r.findAllIn(r.substring(r.indexOf("ReadSchema"))).size == 1),
      reads.mkString("\n"))
    // the new join-shaped queries must never plan a cartesian
    for (q <- Seq("q_merge_upsert", "q_dedup_semantic", "q_perplexity",
        "q_cooccur_pmi", "q_chunk_cdc", "q_dedup_url"))
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian")
    // perplexity: AQE broadcasts the vocab side of the re-join and the
    // per-doc sum combines map-side (final AQE plan, so execute first)
    val df = SparkEntry.queries("q_perplexity")(spark, sf)
    df.collect()
    val pf = df.queryExecution.executedPlan.toString
    assert(pf.contains("BroadcastHashJoin"), pf.take(2000))
    assert(pf.contains("partial_count") || pf.contains("partial_sum"),
      pf.take(2000))
  }

  test("round-5 batch-3 plans: BM25 is shuffle-free scoring + TakeOrdered, " +
      "postings broadcast the probe set, layout/gate keys stay map-side") {
    // BM25: corpus stats reduce to one broadcast row, scoring is pure
    // projection — no hash shuffle anywhere; the top-50 is a TakeOrdered
    // (per-partition heaps), never a global sort
    val pb = plan("q_rank_bm25")
    assert("Exchange hashpartitioning".r.findAllIn(pb).isEmpty, pb.take(2000))
    assert(pb.contains("TakeOrderedAndProject"), pb.take(2000))
    assert(pb.contains("BroadcastNestedLoopJoin"), pb.take(2000))
    // inverted index: df aggregate + postings aggregate are the only
    // shuffles; the bottom-100 probe set is a TakeOrdered broadcast into
    // the gram stream, so stopword postings never materialize
    val pi = plan("q_inverted_index")
    assert(pi.contains("BroadcastHashJoin"), pi.take(2000))
    assert(pi.contains("TakeOrderedAndProject"), pi.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(pi).size <= 2,
      pi.take(2000))
    // Z-order: the native morton key build is map-side; the only hash
    // shuffle is the 1024-cell audit aggregate, with map-side partials
    val pz = plan("q_zorder_cluster")
    assert("Exchange hashpartitioning".r.findAllIn(pz).size == 1,
      pz.take(2000))
    assert(pz.contains("partial_count") || pz.contains("partial_min"),
      pz.take(2000))
    // quality gate: exactly one hash shuffle (the window key); windowed
    // dedup reads the bucketed event log, so its window shuffle is gone
    // entirely; compress-ratio is a pure map-side projection that stays
    // inside whole-stage codegen
    assert("Exchange hashpartitioning".r
      .findAllIn(plan("q_quality_gate")).size == 1, "q_quality_gate")
    assert("Exchange hashpartitioning".r
      .findAllIn(plan("q_window_dedup")).isEmpty, "q_window_dedup")
    // pagerank: vocabulary-sized joins only, never a cartesian
    assert(!plan("q_pagerank_iter").contains("CartesianProduct"))
    // correlated LATERAL must decorrelate to a bounded per-group top-k
    // + one equi join — never per-outer-row subquery execution. The
    // bounded operator is Spark's WindowGroupLimit, or our TopKPerKey
    // when the RowNumberTopKRewrite extension is registered in the
    // shared test session (an even stronger plan: no sort at all).
    val pl = plan("q_join_lateral")
    assert(!pl.contains("CartesianProduct"), pl.take(2000))
    assert(pl.contains("WindowGroupLimit") || pl.contains("TopKPerKey"),
      pl.take(2000))
    // codegen wrapping appears in the final AQE plan, so execute first
    val dfc = SparkEntry.queries("q_compress_ratio")(spark, sf)
    dfc.collect()
    val pc = dfc.queryExecution.executedPlan.toString
    assert(!pc.contains("Join") && !pc.contains("HashAggregate"),
      pc.take(1500))
    assert(pc.contains("*("), pc.take(1500))
  }

  test("round-6 plans: embedding near-dup ranks via TakeOrdered, funnel " +
      "and SCD2 ride the bucketed event layout") {
    // the all-pairs exact baseline must never rank n^2/2 pairs through a
    // single-partition window: the top-50 is a TakeOrderedAndProject
    // (per-partition heaps, driver merges 50-row heads), and any
    // unpartitioned Window in the plan may only see the bounded
    // survivors (i.e. has the TakeOrdered below it)
    // q_rank_fusion gets the same treatment: both retrieval legs are
    // top-20 TakeOrdereds, rank windows only ever see the survivors
    for (q <- Seq("q_dedup_embedding", "q_rank_fusion", "q_rank_rerank")) {
      // sparkPlan, not executedPlan: AdaptiveSparkPlanExec is a leaf
      // node, so collect() on the executed plan finds nothing (which
      // would pass the window check vacuously)
      val pe = SparkEntry.queries(q)(spark, sf)
        .queryExecution.sparkPlan
      assert(pe.toString.contains("TakeOrderedAndProject"),
        s"$q: " + pe.toString.take(2000))
      val globalWindows = pe.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      globalWindows.foreach { w =>
        assert(w.collect {
          case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        }.nonEmpty,
          s"$q: unpartitioned Window over unbounded input:\n" +
            w.toString.take(2000))
      }
    }
    // SCD2 and the funnel read the user_id-bucketed event log: the
    // window / per-stage aggregates inherit the scan layout — zero hash
    // exchange in either plan
    for (q <- Seq("q_scd2_intervals", "q_funnel", "q_win_lag_lead",
        "q_win_range", "q_win_nth")) {
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
        s"$q shuffled despite bucketing:\n" + p.take(2000))
      assert(p.contains("Bucketed: true"), p.take(2000))
    }
    // z-score anomaly sweep: the per-type stats row is broadcast, so
    // event rows are never hash-shuffled — the outlier test is a
    // map-side filter after a broadcast join
    val pz = plan("q_anomaly_zscore")
    assert(pz.contains("BroadcastHashJoin"), pz.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(pz)
      .size <= 1, // the one stats aggregate may shuffle its 5 rows
      pz.take(2000))
    // int8 quantization is pure map-side projection: no join, no
    // aggregate exchange — the only exchange is the final orderBy range
    // partitioning
    val pq = plan("q_embed_quantize")
    assert(!pq.contains("Join") &&
      !pq.contains("Exchange hashpartitioning"), pq.take(2000))
    // multi-probe IVF: probe-side top-2 centroids run the native
    // bounded-heap operator, and nothing plans a cartesian
    val p2 = plan("q_sim_ivf2")
    assert(p2.contains("TopKPerKey ["), p2.take(2000))
    assert(!p2.contains("CartesianProduct"), p2.take(2000))
    // blocked fuzzy dedup: the banded+salted blocking must plan as an
    // equi join (never a cartesian / broadcast nested loop over docs)
    val pf = plan("q_dedup_fuzzy")
    assert(!pf.contains("CartesianProduct") &&
      !pf.contains("BroadcastNestedLoopJoin"), pf.take(2000))
    // incremental dedup: the band-replicated ingest batch BROADCASTS
    // (the corpus never shuffles into the match join)
    val pi = plan("q_dedup_incremental")
    assert(pi.contains("BroadcastHashJoin"), pi.take(2000))
    assert(!pi.contains("CartesianProduct"), pi.take(2000))
    // span dedup: the repeated-shingle list joins back as a broadcast,
    // never a shuffle of the corpus-sized hit stream
    val ps = plan("q_dedup_spans")
    assert(ps.contains("BroadcastHashJoin"), ps.take(2000))
    assert(!ps.contains("CartesianProduct"), ps.take(2000))
    // triangle count: edge build reads the bucketed lineitem, the
    // adjacency attaches via broadcast (the O(m^1.5) intersection work
    // is map-side), and the top-20 is a TakeOrdered, not a global sort
    val pt = plan("q_graph_triangle")
    assert(pt.contains("BroadcastHashJoin"), pt.take(2000))
    assert(pt.contains("TakeOrderedAndProject"), pt.take(2000))
    assert(!pt.contains("CartesianProduct"), pt.take(2000))
  }

  test("curation regex/split pipelines stay inside whole-stage codegen") {
    for (q <- Seq("q_text_normalize", "q_pii_redact", "q_train_split")) {
      // codegen wrapping appears in the final AQE plan, so execute first
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // AQE's final-plan rendering marks WholeStageCodegen stages "*(n)"
      assert(p.contains("*("), s"$q lost codegen:\n${p.take(1500)}")
    }
  }

  test("evaluation/insights plans: grid windows sit above aggregates, " +
      "marginals broadcast, top-k is TakeOrdered") {
    // AUC / KS / skyline run unpartitioned windows BY DESIGN — but only
    // over bin-aggregated input. Pin that every global window has a
    // HashAggregate below it (i.e. sees O(grid) rows, never the corpus).
    // NOTE: executedPlan wraps everything in AdaptiveSparkPlanExec (a
    // leaf — collect() can't descend), so structural checks walk the
    // pre-adaptive sparkPlan
    for (q <- Seq("q_auc_rank", "q_ks_test", "q_skyline")) {
      val pe = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      val globalWindows = pe.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.nonEmpty, s"$q: expected a grid window")
      globalWindows.foreach { w =>
        assert(w.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
            => a
        }.nonEmpty,
          s"$q: unpartitioned Window over unaggregated input:\n" +
            w.toString.take(2000))
      }
    }
    // chi-square: marginals attach to the 125-cell aggregate via
    // broadcast; the only hash exchange feeds the cell count itself
    val pc = plan("q_chisq_test")
    assert(pc.contains("BroadcastHashJoin"), pc.take(2000))
    assert(!pc.contains("CartesianProduct"), pc.take(2000))
    // argmax is a pure two-phase hash aggregate: partial max/min below
    // the exchange, and NO window sort anywhere
    val pa = SparkEntry.queries("q_argmax_agg")(spark, sf)
      .queryExecution.sparkPlan
    assert(pa.toString.contains("partial_max"), pa.toString.take(2000))
    assert(pa.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "q_argmax_agg must not plan a window")
    // basket pairs / trigram patterns: bounded top-k via TakeOrdered,
    // marginal joins broadcast, no cartesian over the pair space
    for (q <- Seq("q_basket_pairs", "q_seq_pattern")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q: " + p.take(2000))
      assert(!p.contains("CartesianProduct"), s"$q: " + p.take(2000))
    }
    // snapshot diff: the full outer join must be a co-partitioned
    // SortMergeJoin on the key, never a nested loop
    val pd = plan("q_snapshot_diff")
    assert(pd.contains("SortMergeJoin") && pd.contains("FullOuter"),
      pd.take(2000))
    assert(!pd.contains("NestedLoop") && !pd.contains("CartesianProduct"),
      pd.take(2000))
    // MAD: both percentile rows-per-type joins broadcast back
    val pm = plan("q_mad_outlier")
    assert("BroadcastHashJoin".r.findAllIn(pm).size >= 2, pm.take(2000))
  }

  test("TPC-H macro plans: dimensions broadcast, filters push into " +
      "scans, top-N is TakeOrdered") {
    for (q <- Seq("q_tpch_q3", "q_tpch_q10", "q_tpch_q18")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q: " + p.take(2000))
      assert(p.contains("BroadcastHashJoin"), s"$q: " + p.take(2000))
      assert(!p.contains("CartesianProduct"), s"$q: " + p.take(2000))
    }
    // the selective VALUE predicates must reach the parquet scans
    // (Q18 has no scan-level value filter — its HAVING slice is pinned
    // below as an aggregate-then-broadcast, so IsNotNull-only pushdown
    // there would make this assertion vacuous)
    for (q <- Seq("q_tpch_q3", "q_tpch_q10")) {
      val p = plan(q)
      assert(p.contains("GreaterThan") || p.contains("LessThan") ||
        p.contains("EqualTo"), s"$q lost its value pushdown: " +
        p.take(2000))
    }
    // Q18's fact filter is the aggregate itself: the HAVING slice
    // reduces map-side and BROADCASTS into orders — lineitem appears
    // once (the aggregate scan) and orders never hash-shuffles
    val p18 = plan("q_tpch_q18")
    assert(p18.contains("partial_sum"), p18.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p18).size <= 1,
      p18.take(3000))
    // Q5: every dimension (customer slice, supplier, nation, region)
    // broadcasts — the only shuffle joins are fact-to-fact
    val p5 = plan("q_tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p5).size >= 4, p5.take(3000))
    assert(!p5.contains("CartesianProduct"), p5.take(2000))
    // Q2/Q9/Q16/Q20: the partsupp-adapted shapes keep every dimension
    // (part slice, region suppliers, exclusion list) on the broadcast
    // side — the fact relation never cartesians and never builds
    for (q <- Seq("q_tpch_q2", "q_tpch_q9", "q_tpch_q16",
        "q_tpch_q20")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: " + p.take(2000))
      assert(!p.contains("CartesianProduct"), s"$q: " + p.take(2000))
    }
    // Q21: EXISTS/NOT EXISTS decorrelate to a semi + anti join over the
    // SAME orderkey shuffle (co-partitioned, no per-row subqueries);
    // the top-100 is a TakeOrdered
    val p21 = plan("q_tpch_q21")
    assert(p21.contains("LeftSemi"), p21.take(3000))
    assert(p21.contains("LeftAnti"), p21.take(3000))
    assert(p21.contains("TakeOrderedAndProject"), p21.take(3000))
    assert(!p21.contains("CartesianProduct"), p21.take(3000))
    // Q11: the scalar total broadcasts back over the per-part
    // aggregate — never a cartesian of the value relation
    val p11 = plan("q_tpch_q11")
    assert(!p11.contains("CartesianProduct"), p11.take(3000))
    // Q12: one fact-fact shuffle join; the flag+date slice pushes into
    // the lineitem scan
    val p12 = plan("q_tpch_q12")
    assert(p12.contains("GreaterThanOrEqual(l_shipdate"), p12.take(3000))
    assert(!p12.contains("CartesianProduct"), p12.take(2000))
  }

  test("round-7 plans: Q1/Q6 aggregate map-side off pushed scans, Q4 is " +
      "one semi join, Q8 broadcasts all dimensions, coverage top-k is " +
      "TakeOrdered, scalers broadcast their stats") {
    // Q1: the full-scan summary must combine map-side (6 groups per
    // task reach the exchange, never 600k rows) over a date-pushed scan
    val p1 = plan("q_tpch_q1")
    assert(p1.contains("partial_sum"), p1.take(2000))
    assert(p1.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate"), p1.take(2000))
    // Q6: zero joins — all three predicates reach the scan and the
    // single aggregate row flows through one exchange
    val p6 = plan("q_tpch_q6")
    assert(!p6.contains("Join"), p6.take(2000))
    // (PushedFilters renders truncated in plan text — pin the data
    // filters on the scan's Filter node instead)
    assert(p6.contains(">= 0.05)"), p6.take(2000))
    assert(p6.contains("< 24.0)"), p6.take(2000))
    // Q4: the EXISTS decorrelates to ONE left-semi join on the order
    // key — no per-row subquery shape survives
    val p4 = plan("q_tpch_q4")
    assert(p4.contains("LeftSemi"), p4.take(2000))
    assert(!p4.contains("CartesianProduct"), p4.take(2000))
    // Q8: part slice, supplier+nation, region-sliced customers all
    // broadcast; the only shuffle join is lineitem-orders
    val p8 = plan("q_tpch_q8")
    assert("BroadcastHashJoin".r.findAllIn(p8).size >= 3, p8.take(3000))
    assert(!p8.contains("CartesianProduct"), p8.take(2000))
    // Q15: the 1-row max broadcasts back over the supplier aggregate
    // (nested-loop against one row, never a cartesian of the relation)
    val p15 = plan("q_tpch_q15")
    assert(!p15.contains("CartesianProduct"), p15.take(2000))
    assert(p15.contains("BroadcastHashJoin"), p15.take(2000))
    // vocabulary coverage: the top-20 must be a bounded TakeOrdered —
    // the cumulative window runs above the limit, not the vocabulary
    val pc = plan("q_vocab_coverage")
    assert(pc.contains("TakeOrderedAndProject"), pc.take(2000))
    // robust scaling + markov transitions: per-group stats come back as
    // broadcasts onto the fact scan, never a fact-sized shuffle join
    for (q <- Seq("q_robust_scale", "q_markov_transition")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: " + p.take(2000))
      assert(!p.contains("CartesianProduct"), s"$q: " + p.take(2000))
    }
    // compaction planner + zone-map audit: the prefix-sum window is
    // PARTITIONED by source (a global-window plan would say
    // SinglePartition)
    for (q <- Seq("q_compaction_plan", "q_zonemap_prune")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"), s"$q: " + p.take(2000))
    }
    // sessionization reads the user_id-bucketed log: window and
    // (user, sid) aggregate both inherit the scan layout — zero
    // hash exchange anywhere
    val ps = plan("q_session_stats")
    assert(!ps.contains("Exchange hashpartitioning"), ps.take(3000))
    // vocabulary drift: both half top-20s are bounded TakeOrdereds
    val pd = plan("q_vocab_drift")
    assert("TakeOrderedAndProject".r.findAllIn(pd).size >= 2,
      pd.take(3000))
    // interval-overlap join: the banded rewrite must plan as a
    // broadcast equi join on the hour bucket (the naive two-sided
    // theta spelling would be a nested-loop/cartesian), with the
    // session window partitioned per user
    val pi = plan("q_join_interval")
    assert(pi.contains("BroadcastHashJoin"), pi.take(3000))
    assert(!pi.contains("CartesianProduct"), pi.take(3000))
    assert(!pi.contains("BroadcastNestedLoopJoin"), pi.take(3000))
    assert(!pi.contains("SinglePartition"), pi.take(3000))
  }

  test("round-7 batch-2 plans: grid join is an equi join (never a " +
      "nested loop), trunc audit shares one probe-partitioned exchange, " +
      "nDCG ranks via TakeOrdered, seasonal profile broadcasts") {
    // 2-D grid blocking must plan as a shuffle equi join on the cell
    // key — the naive L-inf predicate alone would be a cartesian
    val pg = plan("q_join_grid")
    assert(pg.contains("SortMergeJoin"), pg.take(3000))
    assert(!pg.contains("CartesianProduct"), pg.take(3000))
    assert(!pg.contains("BroadcastNestedLoopJoin"), pg.take(3000))
    // both top-5 rankings (full + truncated) must reuse ONE
    // probe-partitioned exchange: two WindowExecs, one hashpartitioning
    // on probe_id
    val pa = plan("q_ann_trunc")
    assert("\\bWindow\\b".r.findAllIn(pa).size >= 2, pa.take(3000))
    assert(
      "hashpartitioning\\(probe_id".r.findAllIn(pa).size == 1,
      pa.take(3000))
    // metric windows run over the 10 TakeOrdered survivors, never the
    // corpus
    val pn = plan("q_rank_ndcg")
    assert(pn.contains("TakeOrderedAndProject"), pn.take(3000))
    // the 24-slot seasonal profile broadcasts back onto the hourly
    // series; the series itself never re-shuffles for the join
    val ps = plan("q_seasonal_anomaly")
    assert(ps.contains("BroadcastHashJoin"), ps.take(3000))
    assert(!ps.contains("CartesianProduct"), ps.take(3000))
  }

  test("round-7 batch-3 plans: allocation broadcasts the part dim, " +
      "power-iter aggregates map-side, item-cosine and containment " +
      "never go cartesian, RAKE and dedup-style rankings TakeOrdered") {
    // greedy allocation: part stock is a broadcast dim; the window and
    // the join share the partkey so no extra exchange materializes
    val pa = plan("q_alloc_greedy")
    assert(pa.contains("BroadcastHashJoin"), pa.take(3000))
    assert(!pa.contains("CartesianProduct"), pa.take(3000))
    // matrix-vector product: the 64-group aggregate must combine
    // map-side — partial_sum below the exchange
    val pp = plan("q_power_iter")
    assert(pp.contains("partial_sum"), pp.take(3000))
    // pair mining stays in equi-join land at any corpus size
    for (q <- Seq("q_item_cosine", "q_containment",
        "q_sorted_neighborhood")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q nested-loop")
    }
    // RAKE's global top-10 is a bounded heap, never a full sort
    assert(plan("q_rake_keywords").contains("TakeOrderedAndProject"))
    // interval-union: all three windows ride ONE user-hash exchange
    val pi = plan("q_interval_union")
    assert("hashpartitioning\\(user_id".r.findAllIn(pi).size == 1,
      pi.take(3000))
  }

  test("round-8 validation plans: audit and freshness aggregate " +
      "map-side, histogram bounds broadcast, zipf cut is a bounded " +
      "heap, quarantine never shuffles") {
    // expectation audit: one conditional-aggregate pass with map-side
    // partials; the RI rule's anti join must not go nested-loop
    val pa = plan("q_expect_audit")
    assert(pa.contains("partial_sum"), pa.take(3000))
    assert(!pa.contains("BroadcastNestedLoopJoin") ||
      pa.contains("BuildRight"), pa.take(3000))
    // histogram: the O(sources) bounds relation broadcasts back — the
    // corpus itself never joins shuffled
    val ph = plan("q_histogram_equiwidth")
    assert(ph.contains("BroadcastHashJoin"), ph.take(3000))
    assert(ph.contains("partial_count") || ph.contains("partial_"),
      ph.take(3000))
    // freshness: the 1-row global max broadcasts; the per-type rollup
    // combines map-side
    val pf = plan("q_freshness_lag")
    assert(pf.contains("partial_"), pf.take(3000))
    // zipf: the top-100 vocabulary cut is per-partition heaps + driver
    // merge, never a global sort of the vocabulary
    assert(plan("q_zipf_slope").contains("TakeOrderedAndProject"))
    // quarantine is pure map-side: no keyed shuffle anywhere (the only
    // exchanges are the loader's documented test-scale round-robin
    // spread and the output ordering's range partition)
    val pq = plan("q_dq_quarantine")
    assert(!pq.contains("hashpartitioning"), pq.take(3000))
    // funnel: near-dup stage stays in equi-join land
    val pc = plan("q_corpus_pipeline")
    assert(!pc.contains("CartesianProduct"), pc.take(3000))
    // ann recall: probes broadcast on both sides; no cartesian
    val pr = plan("q_ann_recall")
    assert(!pr.contains("CartesianProduct"), pr.take(3000))
    assert(pr.contains("BroadcastHashJoin") ||
      pr.contains("BroadcastNestedLoopJoin"), pr.take(3000))
  }

  test("round-8 batch-2 plans: event paths ride the bucketed layout, " +
      "shard audit shares one exchange, min-plus rounds stay equi-join, " +
      "nb trainer broadcasts its marginals") {
    // event paths: the per-user window's clustering is satisfied by the
    // bucketed event scan — no user_id hash exchange anywhere; the only
    // keyed shuffle is the O(types^3) path rollup
    val pe = plan("q_event_paths")
    assert(!pe.contains("hashpartitioning(user_id"), pe.take(3000))
    assert(pe.contains("TakeOrderedAndProject"), pe.take(3000))
    // shard shuffle: the mixing-audit window and the per-shard rollup
    // share the SAME shard-hash exchange (lag's sort satisfies the agg's
    // clustering) — one keyed shuffle total
    val ps = plan("q_shard_shuffle")
    assert("hashpartitioning\\(shard".r.findAllIn(ps).size <= 2,
      ps.take(3000))
    assert(!ps.contains("CartesianProduct"), ps.take(3000))
    // weighted shortest path: every relaxation round is an equi join of
    // the node-sized frontier against the checkpointed edges
    val pw = plan("q_graph_wpath")
    assert(!pw.contains("CartesianProduct"), pw.take(3000))
    assert(pw.contains("TakeOrderedAndProject"), pw.take(3000))
    // scd2 lookup: the zero-join merge pass — no join operator at all,
    // and the per-user window rides the bucketed event layout
    val pl = plan("q_scd2_lookup")
    assert(!pl.contains("Join"), pl.take(3000))
    assert(!pl.contains("hashpartitioning(user_id"), pl.take(3000))
    // nb trainer: class sizes and the scalar total broadcast; the only
    // keyed shuffle is the (lang, token) rollup
    val pn = plan("q_nb_train")
    assert(!pn.contains("CartesianProduct"), pn.take(3000))
    assert(pn.contains("BroadcastHashJoin") ||
      pn.contains("BroadcastNestedLoopJoin"), pn.take(3000))
    assert(pn.contains("partial_sum"), pn.take(3000))
  }

  test("round-8 integrity/relevance plans: checksum and feature hash " +
      "are joinless single-aggregate scans, temporal split broadcasts " +
      "its bounds, phrase match joins postings without a cartesian") {
    // table checksum: THE cheapest full-content audit — one scan, one
    // partial-aggregated groupBy, no join, no window, no global sort
    val pc = plan("q_table_checksum")
    assert(!pc.contains("Join"), pc.take(3000))
    assert(!pc.contains("Window"), pc.take(3000))
    assert(pc.contains("partial_count") || pc.contains("partial_sum"),
      pc.take(3000))
    // feature hashing: the defining property — NO vocabulary relation,
    // so no join anywhere; pure explode + one aggregate
    val pf = plan("q_feature_hash")
    assert(!pf.contains("Join"), pf.take(3000))
    assert(pf.contains("Generate"), pf.take(3000))
    // temporal split: 1-row bounds broadcast into a map-side CASE —
    // never a shuffle keyed on the cut
    val pt = plan("q_temporal_split")
    assert(pt.contains("BroadcastNestedLoopJoin") ||
      pt.contains("BroadcastHashJoin"), pt.take(3000))
    assert(!pt.contains("CartesianProduct"), pt.take(3000))
    // phrase match: posting-list equi join — no cartesian, no document
    // payload movement (join keys are doc+pos only)
    val pp = plan("q_phrase_match")
    assert(!pp.contains("CartesianProduct"), pp.take(3000))
    // hard negatives: broadcast-probe scan exactly like q_sim_topk
    val ph = plan("q_hard_negative")
    assert(ph.contains("BroadcastNestedLoopJoin") ||
      ph.contains("BroadcastHashJoin"), ph.take(3000))
    assert(!ph.contains("CartesianProduct"), ph.take(3000))
    // negative sampling: generation is map-side off a 1-row bounds
    // broadcast; the positive-pair exclusion is an anti join
    val pg = plan("q_negative_sample")
    assert(pg.contains("LeftAnti"), pg.take(3000))
    assert(!pg.contains("CartesianProduct"), pg.take(3000))
  }

  test("round-8 trends/tuning plans: drift and splits broadcast their " +
      "bounds, cells reduce before windows, no cartesians anywhere") {
    // PSI / temporal split / diff-in-diff: the 1-row bounds relation
    // broadcasts into a map-side CASE — the cut never keys a shuffle
    for (q <- Seq("q_psi_drift", "q_temporal_split", "q_diff_in_diff")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"), s"$q bounds broadcast")
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
    }
    // WoW growth: the lag window must consume the weekly CELL relation
    // (an aggregate below the window), never raw events
    val pw = plan("q_wow_growth")
    assert(pw.contains("Window"), pw.take(3000))
    assert("HashAggregate".r.findAllIn(pw).size >= 2,
      "weekly cells reduce (partial+final) below the window")
    // quota sampling: per-stratum rank — the window partitions by lang
    val pq = plan("q_sample_quota")
    assert(pq.contains("Window"), pq.take(3000))
    assert(!pq.contains("CartesianProduct"), pq.take(3000))
    // LSH evals: posting-list candidate generation, never a cartesian
    for (q <- Seq("q_minhash_eval", "q_lsh_curve")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q cartesian")
    }
    // cohort LTV: the first-order dimension broadcasts onto orders
    val pc = plan("q_cohort_ltv")
    assert(pc.contains("BroadcastHashJoin"), pc.take(3000))
  }

  test("round-8 inference/modeling plans: small relations broadcast, " +
      "histograms reduce map-side, no cartesians") {
    // midrank/bound/weight/degree relations are tiny forever and must
    // broadcast back onto their row streams, never key a shuffle join
    for (q <- Seq("q_kruskal_wallis", "q_pi_coverage", "q_impute_audit",
        "q_perceptron_step", "q_assortativity", "q_label_prop")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"), s"$q broadcast")
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
    }
    // rank tests: the corpus collapses to a value histogram with
    // map-side partial aggregation before any window runs
    for (q <- Seq("q_mannwhitney_u", "q_burn_rate")) {
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q histogram reduces partial+final")
    }
    // Theil-Sen: the pair join is an equi join on the series key over
    // the daily CELL relation — never a cartesian over raw events
    val pt = plan("q_theilsen_trend")
    assert(!pt.contains("CartesianProduct"), pt.take(3000))
    assert(pt.contains("Join") || pt.contains("join"), pt.take(500))
    // Spearman: both midrank windows run segment-partitioned (no
    // global ordering over the customer stream)
    val ps = plan("q_spearman_corr")
    assert(!ps.contains("CartesianProduct"), ps.take(3000))
    assert(ps.contains("Window"), ps.take(3000))
  }

  test("round-8 composition/experiment plans: tiny relations broadcast, " +
      "no cartesians") {
    // 1-row totals / bounds / thresholds / factors must broadcast back
    // onto their row streams
    for (q <- Seq("q_cramers_v", "q_coverage_curve", "q_cuped_adjust",
        "q_histogram_equidepth", "q_share_of_parent", "q_knee_point",
        "q_lorenz_deciles", "q_seasonality_strength", "q_als_step",
        "q_capture_recapture")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin") ||
        !p.contains("Join"), s"$q broadcast")
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
    }
    // bounded pair joins (rank lists, journeys) stay off CartesianProduct
    for (q <- Seq("q_kendall_tau", "q_rank_rbo", "q_attrib_ushape",
        "q_odds_ratio", "q_graph_recip", "q_mk_trend")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q cartesian")
    }
    // stratified/calibration block: dimension totals and thresholds
    // broadcast; the vec_id-keyed moment self-joins never cartesian
    for (q <- Seq("q_neyman_alloc", "q_topk_loo", "q_elasticity",
        "q_abc_class", "q_isotonic_fit", "q_corr_prune",
        "q_mantel_haenszel", "q_prop_ztest")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
    }
    assert(plan("q_elasticity").contains("BroadcastHashJoin"),
      "part dimension broadcasts onto lineitem")
  }

  test("round-9 descaled windows: no corpus- or vocabulary-sized " +
      "single-partition window survives in the reworked plans") {
    // vocab-global fixes: rank+cumsum collapsed onto the O(distinct
    // counts) tie-group relation — the vocabulary-wide row_number is
    // gone, and no window orders by the token/gram column anymore
    for (q <- Seq("q_vocab_gini", "q_coverage_curve", "q_knee_point")) {
      val p = plan(q)
      assert(!p.contains("row_number"),
        s"$q must not rank the vocabulary: " + p.take(2000))
      val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
      assert(winLines.nonEmpty, s"$q keeps its boundary prefix-sum")
      assert(winLines.forall(l => !l.contains("gram#") &&
        !l.contains("w#") && !l.contains(" w ")),
        s"$q window must order by the count only: $winLines")
    }
    // global top-10 is a TakeOrdered (per-partition heaps + driver
    // merge), never a full-vocabulary rank window
    val pt = plan("q_topk_loo")
    assert(pt.contains("TakeOrderedAndProject"), pt.take(3000))
    // curriculum deciles: closed-form ntile from bucketed exact ranks —
    // no ntile window anywhere, and the rank window partitions by the
    // (n_tok, idr) bucket
    val pb = plan("q_curriculum_bins")
    assert(!pb.contains("ntile"), pb.take(3000))
    assert(pb.contains("hashpartitioning(n_tok"), pb.take(3000))
    // conversion lag: percentiles read off the minute-value histogram —
    // the window input is an aggregate, and no window orders by user_id
    val pl = plan("q_conv_lag")
    assert(pl.linesIterator.filter(_.contains("Window"))
      .forall(l => !l.contains("user_id")), pl.take(3000))
    // range bounds: the sample gate derives from a broadcast corpus
    // count (shiftleft of the bit-length), so the ntile window input is
    // bounded by construction at any scale
    val pr = plan("q_range_bounds")
    assert(pr.contains("shiftleft"), pr.take(3000))
    assert(pr.contains("BroadcastNestedLoopJoin") ||
      pr.contains("BroadcastHashJoin"), pr.take(3000))
  }

  test("round-9 matching/planner plans: candidate joins stay off " +
      "cartesians, lag features ride the bucketed layout, tuning ranks " +
      "are bounded heaps") {
    // banded/posting candidate generation must never go cartesian
    for (q <- Seq("q_dedup_phash", "q_dedup_tfidf", "q_fs_weights",
        "q_cluster_purity", "q_ivf_balance", "q_shuffle_balance",
        "q_join_est_audit", "q_acf_multi", "q_percentile_grid")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q cartesian")
    }
    // lag features inherit the user_id-bucketed scan: zero hash
    // exchange anywhere in the plan
    val pl = plan("q_lag_features")
    assert(!pl.contains("Exchange hashpartitioning"), pl.take(3000))
    assert(pl.contains("Window"), pl.take(3000))
    // the bm25 sweep's per-config top-10 plans through the bounded-heap
    // operator (TopKPerKey) or a TakeOrdered, never a full sort rank
    val pb = plan("q_bm25_tuning")
    assert(pb.contains("TopKPerKey") || pb.contains("TakeOrdered"),
      pb.take(3000))
    // percentile grid: the cumulative window consumes the bucket
    // histogram (an aggregate below the window), never raw events
    val pg = plan("q_percentile_grid")
    assert(pg.contains("Window"), pg.take(3000))
    assert("HashAggregate".r.findAllIn(pg).size >= 2, pg.take(3000))
    // selectivity audit: one scan, map-side partial aggregation, no join
    // below the moment row
    val ps = plan("q_sel_audit")
    assert(ps.contains("partial_count") || ps.contains("partial_sum"),
      ps.take(3000))
    // PIT feature join: labels + N feature columns ride ONE user_id
    // exchange (the union-window spelling), never one as-of join per
    // feature
    val pp = plan("q_pit_features")
    assert("Exchange hashpartitioning\\(user_id"
      .r.findAllIn(pp).size == 1, pp.take(3000))
    assert(!pp.contains("Join"), pp.take(3000))
    // calendar rollup: GROUPING SETS plans one scan + Expand, not a
    // 3-branch union of scans
    val pc = plan("q_rollup_calendar")
    assert(pc.contains("Expand"), pc.take(3000))
    assert("Scan parquet".r.findAllIn(pc).size <= 1, pc.take(3000))
  }

  test("round-10 descaled plans: banded ABC cumsum partitions by band, " +
      "top-k legs are TakeOrdereds, rank filters keep WindowGroupLimit " +
      "eligible (no cast between the rank and its filter)") {
    // ABC classification: the per-part cumulative window must partition
    // by the cents band — the ONLY unpartitioned window is the O(bands)
    // boundary prefix-sum over the band aggregate. Pin: every window
    // line that orders over the parts key carries the band partition
    // spec (a global parts-dimension window would order by l_partkey
    // with no partition column).
    val pa = plan("q_abc_class")
    assert(pa.linesIterator
      .filter(l => l.contains("windowspecdefinition") &&
        l.contains("l_partkey"))
      .forall(_.contains("band#")),
      "q_abc_class parts window must partition by band: " + pa.take(3000))
    assert(pa.contains("hashpartitioning(band"), pa.take(3000))
    // Kendall tau / RBO: each half's top-k is a bounded TakeOrdered
    // (per-partition heaps), never a vocabulary-wide rank window
    val pk = plan("q_kendall_tau")
    assert("TakeOrderedAndProject".r.findAllIn(pk).size >= 2,
      pk.take(3000))
    assert(!pk.linesIterator.exists(l => l.contains("row_number") &&
      !l.contains("windowspecdefinition")), pk.take(2000))
    val pr = plan("q_rank_rbo")
    assert("TakeOrderedAndProject".r.findAllIn(pr).size >= 2,
      pr.take(3000))
    // rank-filter sites respelled uncast-filter-then-cast: Spark's
    // InferWindowGroupLimit now keeps map-side top-k heaps (Partial)
    // below the shuffle — a filter on a CAST of the rank silently
    // defeats the rewrite and full-sorts every group
    for (q <- Seq("q_win_rank", "q_sim_topk", "q_sim_ivf", "q_sim_ivf2",
        "q_dedup_semantic", "q_sample_quota", "q_item_cosine",
        "q_ap_rank", "q_rank_mrr", "q_sim_lsh")) {
      val p = plan(q)
      // Partial+Final when a shuffle sits under the window; Final alone
      // when the child's partitioning already satisfies the window key
      // (e.g. the window rides the candidate join's bucket exchange)
      assert(p.contains("WindowGroupLimit"),
        s"$q lost its WindowGroupLimit rescue: " + p.take(3000))
    }
  }

  test("round-10 new-operator plans: truth-relation consumers scan " +
      "parquet joinlessly, gap sweep rides the bucketed layout, ANN " +
      "additions keep bounded tops and never go cartesian") {
    // jaccard histogram: one scan of the materialized truth relation +
    // one aggregate — no join, no window
    val pj = plan("q_jaccard_hist")
    assert(!pj.contains("Join"), pj.take(2000))
    assert(pj.contains("partial_count") || pj.contains("partial_"),
      pj.take(2000))
    // prefix census: digest groupBy + size histogram, joinless
    val pp = plan("q_prefix_dups")
    assert(!pp.contains("Join"), pp.take(2000))
    // gap sweep: the user window inherits the bucketed event scan —
    // zero hash exchange in the whole plan
    val pg = plan("q_session_gap_sweep")
    assert(!pg.contains("Exchange hashpartitioning"), pg.take(3000))
    // croston: the 9-recent-days rank filter keeps its map-side
    // WindowGroupLimit; the top-10 part cut is a bounded heap
    val pc = plan("q_croston")
    assert(pc.contains("WindowGroupLimit"), pc.take(3000))
    assert(pc.contains("TakeOrderedAndProject"), pc.take(3000))
    // ANN additions: broadcast-probe shapes, never a cartesian; ranked
    // tops stay WindowGroupLimit-bounded
    for (q <- Seq("q_maxsim_late", "q_ivf_nprobe_curve")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
      assert(p.contains("WindowGroupLimit"), s"$q unbounded rank")
    }
    // bloom curve + host census + entropy mix: no cartesian anywhere,
    // aggregates reduce map-side
    for (q <- Seq("q_bloom_fpr_curve", "q_host_stats",
        "q_lang_mix_entropy", "q_tok_fertility")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
      assert(p.contains("partial_"), s"$q map-side partials")
    }
    // change point + hazard: the corpus reduces to the bounded
    // calendar grid BEFORE any window runs (aggregate below window)
    for (q <- Seq("q_binseg_change", "q_churn_hazard")) {
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q grid reduces partial+final below the window")
    }
  }

  test("round-10 batch plans: KMV rides the native TopKPerKey heaps, " +
      "SRP pairs join on band keys (never cartesian), ERR tops are " +
      "TakeOrdered, and the sequential gates reduce before windowing") {
    // KMV: distinct-reduce feeds the native bounded-heap operator —
    // the k order statistics must NEVER come from a rank window
    val pk = plan("q_kmv_distinct")
    assert(pk.contains("TopKPerKey"), pk.take(3000))
    assert(!pk.contains("Window"), "KMV must not sort groups: " +
      pk.take(2000))
    // SRP pair join: equi on (band, nibble), no cartesian anywhere
    val ps = plan("q_srp_pairs")
    assert(!ps.contains("CartesianProduct"), ps.take(2000))
    // ERR: the only corpus-sized work is the scored scan + a bounded
    // TakeOrdered; windows run over the 10 survivors
    val pe = plan("q_err_rank")
    assert(pe.contains("TakeOrderedAndProject"), pe.take(3000))
    // sequential/multiple-testing gates: the corpus reduces to the
    // bounded grid (cells / days) below any window — partial+final
    // aggregate pairs present, no cartesian products
    for (q <- Seq("q_fdr_bh", "q_sprt_gate", "q_delta_method",
        "q_power_mde", "q_post_stratify", "q_salt_plan")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian")
      assert(p.contains("partial_"), s"$q map-side partials")
    }
    // SCD2 apply: every window partitions by the dimension key —
    // incremental maintenance must never global-sort history
    val pa = plan("q_scd2_apply")
    assert(pa.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("user_id")), pa.take(3000))
    // survivorship + louvain: cluster/edge relations only, joinless of
    // cartesian shapes
    for (q <- Seq("q_survivorship", "q_louvain_step", "q_funnel_windowed"))
      assert(!plan(q).contains("CartesianProduct"), s"$q cartesian")
    // NOT IN: Catalyst plans the null-aware LEFT ANTI (the OR-isnull
    // condition keeps the join hash-based, never a nested loop over
    // the fact side)
    val pn = plan("q_join_notin")
    assert(pn.contains("LeftAnti"), pn.take(2000))
    assert(!pn.contains("CartesianProduct"), pn.take(2000))
    // PRF: feedback top-5 is a TakeOrdered; the df aggregate reduces
    // map-side
    val pf = plan("q_prf_expand")
    assert(pf.contains("TakeOrderedAndProject"), pf.take(3000))
    assert(pf.contains("partial_"), pf.take(3000))
  }

  test("round-12 mix/selection blocks keep their broadcast and banded " +
    "shapes") {
    // quality ensemble: all three rank maps broadcast back onto the
    // corpus — hash joins, never a shuffle of the doc relation per
    // signal; top-50 is a TakeOrdered
    val pe = plan("q_quality_ensemble")
    assert("BroadcastHashJoin".r.findAllIn(pe).size >= 3, pe.take(3000))
    assert(pe.contains("TakeOrderedAndProject"), pe.take(3000))
    // BT step: the pairwise/strength relations are O(types^2) — every
    // join broadcasts, nothing sort-merges
    val pb = plan("q_bt_step")
    assert(!pb.contains("SortMergeJoin"), pb.take(3000))
    assert(!pb.contains("CartesianProduct"))
    // resampling: the mix table broadcasts onto the corpus-side filter
    // AND the post-aggregate stitch — no sort-merge anywhere
    val pr = plan("q_resample_mix")
    assert(!pr.contains("SortMergeJoin"), pr.take(3000))
    // contamination coverage: bench grams broadcast; winner pick is a
    // min_by aggregate, not a rank window over the pair relation
    val pc = plan("q_contam_coverage")
    assert(pc.contains("BroadcastHashJoin"), pc.take(3000))
    assert(!pc.linesIterator.exists(l =>
      l.contains("windowspecdefinition")), pc.take(3000))
    // budget/tertile curves: the only windows run over score bands
    // (value-bounded), which plan as single-partition windows over a
    // pre-aggregated relation — assert the window input is an
    // Aggregate, not the corpus
    for (q <- Seq("q_token_budget", "q_ccnet_buckets"))
      assert(!plan(q).contains("CartesianProduct"), s"$q cartesian")
    // semantic contamination: the bench side broadcasts into the
    // IVF-cell join (never bench x corpus), and the nearest pick is a
    // min_by aggregate — the only windows in the plan belong to the
    // shared IVF assignment, not the candidate relation
    val ps = plan("q_semantic_contam")
    assert(ps.contains("BroadcastHashJoin"), ps.take(3000))
    assert(!ps.contains("CartesianProduct"))
    // DP median: banded cumulative curve only — no corpus-sized window
    // (the per-group window reads the pre-aggregated band relation)
    assert(!plan("q_dp_median").contains("CartesianProduct"))
  }

  test("round-13 plans: banded rollups and audit passes stay " +
    "cartesian-free; the linkage u-terms never self-join the corpus") {
    // every cross of a 1-row scalar or literal relation must plan as a
    // broadcast nested loop, never CartesianProduct; the heavy inputs
    // (events, documents) appear exactly once per scan leg
    for (q <- Seq("q_lift_gains", "q_winsor_mean", "q_tukey_outliers",
        "q_wasserstein_drift", "q_tok_oov", "q_ecdf", "q_dp_histogram",
        "q_linkage_weights", "q_watermark_detect", "q_lead_bias",
        "q_repetition_audit", "q_sign_test", "q_hoeffding_gate",
        "q_gdpr_erasure", "q_page_hinkley", "q_ndcg10")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
    }
    // the ±8 length-window u-term is an EXPLODE equi-join over the
    // n_chars histogram — a range theta join here would be the
    // O(bands²) nested loop this spelling exists to avoid. Scalar
    // crosses legitimately plan BNLJ, but none of them may carry an
    // n_chars join condition on the nested-loop node itself.
    val lw = plan("q_linkage_weights")
    val thetaOnLen = lw.linesIterator.exists(l =>
      l.contains("NestedLoopJoin") && l.contains("n_chars"))
    assert(!thetaOnLen, lw.take(1200))
  }

  test("round-14 additions: no cartesian products anywhere") {
    for (q <- Seq("q_image_dims", "q_win_ntile", "q_mix_temperature",
        "q_ctx_len_plan", "q_abc_xyz", "q_topsis_rank",
        "q_graph_clustcoef", "q_huber_mean", "q_cluster_bleed",
        "q_embed_anisotropy", "q_phash_radius")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
    }
  }

  /** Round-15 ask #1: the no-cartesian pin is INVENTORY-WIDE. The
    * hand-listed per-round sweeps above pinned only the names someone
    * remembered to add; the six post-b23580e round-14 queries landed
    * unpinned. This test iterates `SparkEntry.queries` wholesale, so a
    * late-round query can never again ship with a CartesianProduct —
    * registering it IS pinning it. Streaming twins are excluded by the
    * `q_streaming_` prefix: building them executes a full streaming
    * query and the relation they return is the drained batch result,
    * not the streaming plan (their plan discipline is pinned by their
    * own suites). Scalar `crossJoin(broadcast(1-row))` patterns plan
    * BroadcastNestedLoopJoin, not CartesianProduct, so the allowlist
    * is EMPTY — keep it that way unless a future query has a measured,
    * documented bounded-grid reason.
    */
  test("inventory-wide sweep: no CartesianProduct in ANY registered " +
    "batch query (registering a query pins it)") {
    val allow = Set.empty[String]
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_streaming_"))
    assert(names.size >= 519, s"sweep shrank: ${names.size}")
    val offenders = names.filter { q =>
      val p = plan(q)
      p.contains("CartesianProduct") && !allow(q)
    }
    assert(offenders.isEmpty,
      s"CartesianProduct in: ${offenders.mkString(", ")}")
  }

  /** Round-17 ask #1: the bounded-window discipline is INVENTORY-WIDE.
    * Dozens of queries run `WindowExec` with no partition spec BY
    * DESIGN — but only over reduced grids (O(bins)/O(days) aggregates,
    * top-k survivors, broadcast-bounded scalars), never over a
    * corpus-sized file scan. Until now each was adjudicated per-query;
    * this sweep pins the rule structurally for EVERY registered batch
    * query: from each global window, every path down to a parquet
    * scan must cross a REDUCING node first —
    *   - an aggregate (Hash/ObjectHash/SortAggregateExec): output is
    *     O(groups), the grid the window was built for;
    *   - a limit (Local/Global/CollectLimit, TakeOrderedAndProject,
    *     WindowGroupLimit): output is O(k) by construction;
    *   - a BroadcastExchange: the build side of a broadcast join is
    *     size-bounded by the broadcast contract itself.
    * A path that reaches a FileSourceScanExec/BatchScanExec through
    * none of these would single-partition the corpus — the anti-
    * pattern this test exists to reject. The allowlist is EMPTY; keep
    * it that way unless a future query has a measured, documented
    * bounded-input reason the walker cannot see.
    */
  test("inventory-wide sweep: every GLOBAL window sits above a " +
    "reducing node on every path to a file scan") {
    import org.apache.spark.sql.execution.window.WindowExec
    val allow = Set.empty[String]
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_streaming_"))
    assert(names.size >= 519, s"sweep shrank: ${names.size}")
    val offenders = names.flatMap { q =>
      // sparkPlan, not executedPlan: AdaptiveSparkPlanExec is a leaf
      val pe = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      val bad = pe.collect {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          unreducedScans(w.child)
      }.flatten
      if (bad.nonEmpty && !allow(q)) Some(s"$q -> ${bad.mkString("; ")}")
      else None
    }
    assert(offenders.isEmpty,
      "global window over an unreduced file scan in:\n  " +
        offenders.mkString("\n  "))
  }

  /** Round-18 ask #3: the PORTABLE-OUTPUT LATTICE is inventory-wide.
    * Every registered query's result crosses the driver boundary as
    * parquet that a DuckDB-rendered twin must hash-match, so the
    * output schema may only use types whose rendering is identical on
    * both engines. Round 17's one red row (q_ams_f2) was exactly this
    * class: a DECIMAL(38,0) that leaked from the internal accumulator
    * into the output columns — values equal, hashes divergent. The
    * lattice below is the set the 627-query inventory actually ships
    * and the driver has proven green: string/long/int/double/bool,
    * plus DateType (3 queries) and FloatType (q_array_ops) which are
    * driver-green as-is. DecimalType, TimestampType, BinaryType, and
    * every nested type (array/struct/map — the driver's pandas compare
    * cannot sort nested cells) are structurally rejected. Wide-integer
    * results ship as hi/lo BIGINT halves (q_kmv_distinct) or
    * decimal-digit strings (q_ams_f2); keep accumulating in
    * DECIMAL(38,0) internally — only the OUTPUT schema is pinned.
    */
  private val portableLattice: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(StringType, LongType, IntegerType, DoubleType, BooleanType,
      DateType, FloatType)
  }

  private def nonPortableCols(
      sch: org.apache.spark.sql.types.StructType): Seq[String] =
    sch.fields.toSeq.collect {
      case f if !portableLattice.contains(f.dataType) =>
        s"${f.name}: ${f.dataType.simpleString}"
    }

  test("inventory-wide sweep: every registered query's output schema " +
    "stays inside the portable-output lattice (no DecimalType ever)") {
    val allow = Set.empty[String]
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_streaming_"))
    assert(names.size >= 519, s"sweep shrank: ${names.size}")
    val offenders = names.flatMap { q =>
      val bad = nonPortableCols(SparkEntry.queries(q)(spark, sf).schema)
      if (bad.nonEmpty && !allow(q)) Some(s"$q -> ${bad.mkString(", ")}")
      else None
    }
    assert(offenders.isEmpty,
      "non-portable output type in:\n  " + offenders.mkString("\n  "))
  }

  /** The lattice sweep must actually bite: a seeded DECIMAL-typed
    * output (the r17 q_ams_f2 spelling) is rejected by the SAME check,
    * and its string-rendered twin passes.
    */
  test("portable-lattice check rejects a seeded decimal output and " +
    "passes its string-rendered twin") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val seeded = li.agg(sum(col("l_quantity")
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("f2"))
    assert(nonPortableCols(seeded.schema).nonEmpty,
      "seeded decimal output not detected — the lattice check is blind")
    val rendered = seeded.select(col("f2").cast("string").as("f2"))
    assert(nonPortableCols(rendered.schema).isEmpty,
      "string-rendered twin must pass the lattice")
  }

  /** The sweep above must actually bite: a seeded violation — a global
    * row_number straight over the lineitem scan — is rejected by the
    * SAME walker, and a reduced spelling (aggregate below the window)
    * passes it.
    */
  test("bounded-window walker rejects a seeded global window over a " +
    "raw corpus scan and passes the aggregated spelling") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def hits(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          unreducedScans(w.child)
      }.flatten
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val seeded = li.withColumn("rn",
      row_number().over(Window.orderBy(col("l_orderkey"))))
    assert(hits(seeded).nonEmpty,
      "seeded violation not detected — the walker is blind:\n" +
        seeded.queryExecution.sparkPlan.toString.take(2000))
    val reduced = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("s"))
      .withColumn("rn", row_number().over(Window.orderBy(col("s"))))
    assert(hits(reduced).isEmpty,
      "aggregated global window must pass the walker")
  }

  /** Round-17 additions: the scale claims in their Scaladoc are plan
    * shapes, pinned here. q_minhash_delta probes the index by
    * BROADCASTING the delta band keys (a posting-list group over the
    * base index would re-shuffle the corpus — exactly one
    * collect_list aggregate is allowed, the delta-internal posting
    * pass). q_contam_spans matches the corpus gram stream MAP-SIDE
    * against the broadcast benchmark gram set (the corpus is never
    * shuffled on grams). q_dsir_select broadcasts the 256-row weight
    * table and takes winners through TakeOrdered, never a corpus
    * sort.
    */
  test("round-17 plans: delta index probe broadcasts the delta, " +
    "contamination matches map-side, DSIR tops via TakeOrdered") {
    val pd = plan("q_minhash_delta")
    assert(pd.contains("BroadcastHashJoin"), pd.take(3000))
    assert("collect_list".r.findAllIn(pd).size <= 2, // partial+final
      "a second posting-list aggregate means the BASE index was " +
        "grouped — the corpus re-shuffle the delta spelling exists " +
        "to avoid:\n" + pd.take(3000))
    val pc = plan("q_contam_spans")
    assert(pc.contains("BroadcastHashJoin"), pc.take(3000))
    // round 18: the fixture census keeps the same map-side discipline
    // — the corpus gram stream must meet the (broadcast) benchmark
    // gram set in a BroadcastHashJoin, and the fixture anti-join must
    // not shuffle the corpus either; no SortMergeJoin anywhere means
    // the training corpus is never exchanged on grams or doc ids
    val pf = plan("q_contam_fixture")
    assert(pf.contains("BroadcastHashJoin"), pf.take(3000))
    assert(!pf.contains("SortMergeJoin"),
      "corpus-side shuffle join crept into the fixture census:\n" +
        pf.take(3000))
    val ps = plan("q_dsir_select")
    assert(ps.contains("TakeOrderedAndProject"), ps.take(3000))
    assert(ps.contains("BroadcastHashJoin"), ps.take(3000))
    assert(!ps.linesIterator.exists(l => l.contains("Sort ") &&
      l.contains("global=true")), "global sort crept into DSIR")
  }

  test("q_topsis_rank: normalization rows ride broadcasts and the " +
    "top-20 is a TakeOrdered, never a global sort") {
    val p = plan("q_topsis_rank")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.linesIterator.exists(l => l.contains("Sort ") &&
      l.contains("global=true")), "global sort crept in")
  }

  test("q_huber_mean: every IRLS iteration joins the running mean as " +
    "a BROADCAST (a shuffled corpus-side join would re-exchange the " +
    "event stream per round)") {
    val p = plan("q_huber_mean")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(4000))
  }

  test("q_graph_clustcoef: the adjacency enters by broadcast and the " +
    "degree/triangle rollups combine map-side") {
    val p = plan("q_graph_clustcoef")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("partial_count"), p.take(3000))
  }
}
