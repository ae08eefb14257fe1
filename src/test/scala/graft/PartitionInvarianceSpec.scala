package graft

import org.scalatest.funsuite.AnyFunSuite

/** Partition-count invariance for the round-9 descaled rewrites: every
  * query whose single-partition window was collapsed onto a boundary
  * relation (tie-group prefix sums, bucketed ranks, histogram
  * percentiles) must produce BIT-IDENTICAL rows whether the session
  * plans 1 shuffle partition or 13 — the property that makes the
  * rewrite safe to claim as "same output at any partition count".
  */
class PartitionInvarianceSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private val targets = Seq("q_vocab_gini", "q_coverage_curve",
    "q_knee_point", "q_topk_loo", "q_curriculum_bins", "q_conv_lag",
    "q_range_bounds", "q_table_checksum", "q_hits_iter",
    "q_percentile_grid", "q_dedup_phash", "q_dedup_tfidf",
    "q_js_drift", "q_growth_accounting", "q_template_ngram",
    "q_user_entropy_hist", "q_shard_rendezvous", "q_cooccur_pmi",
    "q_fs_weights", "q_embed_drift",
    // round-10 descales: the banded ABC cumsum, the TakeOrdered top-k
    // respellings, and the WindowGroupLimit-eligible rank filters
    "q_abc_class", "q_kendall_tau", "q_rank_rbo", "q_win_rank",
    "q_sample_quota", "q_sim_topk", "q_item_cosine", "q_rank_mrr",
    // round-10 operators whose determinism leans on windows, bounded
    // greedy rounds, or fixed-tree double sums
    "q_croston", "q_binseg_change", "q_churn_hazard", "q_maxsim_late",
    "q_ivf_nprobe_curve", "q_mmr_diversify", "q_session_gap_sweep",
    "q_jaccard_hist",
    // round-10 batch additions: the portable sketches (KMV order
    // statistics, SRP signatures + blocked pairs), the BH/SPRT
    // sequential gates, ERR's window-collected products, and the
    // survivorship struct-extremum merge
    "q_kmv_distinct", "q_embed_srp", "q_srp_pairs", "q_fdr_bh",
    "q_sprt_gate", "q_err_rank", "q_survivorship", "q_shapley_attrib",
    "q_delta_method", "q_louvain_step", "q_scd2_apply", "q_power_mde",
    // round-12 batch (carry of round-10 ask #5): the remaining
    // priority pins (cascade's staged dedup, KMV set algebra), the
    // round-11 additions (order statistics, shrinkage, CvM ranks,
    // null-aware NOT IN, second-order Markov, PRF expansion, fairness
    // margins, gate sweep, BPE merge application), and the four
    // repaired ngramPairCte evaluators plus the md5-rebased LSH — the
    // queries whose determinism leans on windows, sketch minima, or
    // shared truth relations
    "q_dedup_cascade", "q_kmv_setops", "q_median_ci", "q_eb_shrinkage",
    "q_cvm_test", "q_join_notin", "q_markov2", "q_prf_expand",
    "q_fairness_audit", "q_gate_sweep", "q_bpe_apply",
    "q_dedup_incremental", "q_bootstrap_ci", "q_blocking_eval",
    "q_doc_novelty", "q_minhash_eval", "q_lsh_curve", "q_sim_lsh",
    "q_dedup_minhash",
    // round-12 additions: the min_by winner pick, the banded
    // budget/tertile curves (score-band windows), the cluster-weight
    // fold, and the tiny-relation anneal ranking
    "q_contam_coverage", "q_cascade_gate", "q_token_budget",
    "q_soft_dedup", "q_ccnet_buckets", "q_anneal_mix",
    "q_bt_step", "q_resample_mix", "q_quality_ensemble",
    "q_semantic_contam", "q_dp_median", "q_topic_balance",
    "q_ngram_novelty_curve", "q_mixture_ablate", "q_memorization_risk",
    // round-13: the iterated BPE trainer (argmax ties + driver loop),
    // the greedy selection loops, and the new window/banded rollups
    "q_bpe_train", "q_select_coverage", "q_kcenter_seed",
    "q_lift_gains", "q_page_hinkley", "q_wasserstein_drift",
    "q_sign_test", "q_tok_oov", "q_causal_impact", "q_ndcg10",
    "q_winsor_mean", "q_tukey_outliers", "q_linkage_weights",
    "q_kanon_census", "q_l_diversity", "q_prefix_cache",
    "q_hard_negatives", "q_dow_adjust", "q_dedup_normalized",
    // round-15 batch B/C: windows (hurst/sax/nelson/chain/littles),
    // quantized-double pooling (meta/em-step), pair emissions with
    // integer weights (resource-alloc, simhash eval, rbp), and the
    // bounded head grid (pref-attach)
    "q_price_index", "q_chain_ladder", "q_fleiss_kappa", "q_cochran_q",
    "q_graph_resource_alloc", "q_hurst_rs", "q_sax_motifs",
    "q_nelson_aalen", "q_simhash_eval", "q_graph_pref_attach",
    "q_meta_effect", "q_bowker", "q_littles_law", "q_rank_rbp",
    "q_linkage_em_step", "q_join_order_greedy", "q_seasonal_mk",
    "q_ngram_tscore", "q_eoq",
    // round-16 continuation: every addition leans on windows over
    // bounded domains (midrank histograms, duration grids, daily
    // series), deterministic order-statistic cuts, or quantized
    // per-term sums — exactly the shapes this pin exists for
    "q_logrank", "q_ad2_test", "q_jonckheere", "q_bartels_rank",
    "q_hodges_lehmann", "q_qn_scale", "q_crps_empirical",
    "q_mean_excess", "q_graph_salton", "q_sample_systematic",
    "q_safety_stock", "q_diebold_mariano", "q_pettitt",
    "q_cox_stuart", "q_kendall_w", "q_design_effect",
    "q_mood_scale", "q_trimmed_mean", "q_atkinson", "q_quade_test",
    "q_self_bleu", "q_ams_f2", "q_var_es",
    "q_tost", "q_breslow_day", "q_fdr_by", "q_life_table",
    // round-17: contamination islands (per-doc window), the delta
    // index probe (broadcast + posting pairs), DSIR's int64 bit
    // scores, and the driver-side integer MM solve
    "q_contam_spans", "q_minhash_delta", "q_dsir_select",
    "q_bradley_terry")

  test("descaled rewrites are bit-identical at 1 vs 13 shuffle " +
    "partitions") {
    // the shuffle partition count is session-conf: set it per pass on a
    // clone, so the shared session keeps its own
    val s = org.apache.spark.sql.graft.Bridge.cloneSession(spark)
    def pass(parts: Int): Map[String, Seq[String]] = {
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      targets.map { q =>
        q -> SparkEntry.queries(q)(s, sf).collect().toSeq.map(_.toString)
      }.toMap
    }
    val at1 = pass(1)
    val at13 = pass(13)
    targets.foreach { q =>
      assert(at1(q) == at13(q), s"$q diverges with partition count")
      assert(at1(q).nonEmpty, s"$q empty")
    }
  }
}
