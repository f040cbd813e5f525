package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Generator-driven property tests (SURVEY §5): the reference's headline
  * "idempotent — can be run multiple times safely" property, dedup algebra,
  * bucket totality, and rounding semantics, over ScalaCheck-generated data
  * evaluated in single Spark passes.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int, seed: Long): List[T] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))

  test("results are invariant to shuffle parallelism (order-independent accumulation)") {
    // the determinism claim behind every hash-checked float: partial
    // aggregates merge in a different order under different parallelism, so
    // any order-dependent accumulation (raw double sums) would flip bits here
    val names = Seq("text_token_freq_score", "win_moving_avg",
      "curate_sample_mix", "sim_ivf_pq_topk", "agg_outlier_days",
      "text_keyword_search", "etl_cdc_apply", "dedup_containment",
      "text_vocab_coverage", "sim_recall_report", "dedup_family_agreement",
      "win_group_percentiles", "tpch_q18", "agg_kmv_distinct",
      "agg_kmv_overlap", "tpch_q5", "tpch_q17", "tpch_q22", "graph_pagerank",
      "wh_allocation_bridge", "agg_winsorized_mean", "sim_label_centroids",
      "tpch_q2", "tpch_q14", "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q10",
      "tpch_q11", "tpch_q15", "tpch_q19", "tpch_q21", "graph_triangles",
      "wh_zorder_stats", "agg_event_transitions", "agg_hll_distinct",
      "sim_dim_stats", "sim_standardize", "text_tfidf_topk",
      "text_boilerplate", "ts_seasonal_profile", "agg_equidepth_bins",
      "win_cumulative_uniques", "src_schema_evolution", "mm_scene_segments",
      "sim_contrastive_pairs", "sim_knn_classify", "ts_rebase_index",
      "win_trailing_range", "ts_ewma", "curate_ngram_overlap",
      "graph_bfs_hops", "sim_semdedup", "sim_mips_topk",
      "wh_incremental_agg", "agg_kmv_nway", "curate_temperature_mix",
      "sim_bias_outliers", "wh_month_pruned_scan", "wh_skew_report", "sim_ivf_cell_stats", "sim_embedding_coverage", "agg_hll_sliding", "mm_modality_mix", "wh_drill_across", "curate_dataset_card", "etl_freshness_report", "wh_rank_churn", "agg_pareto_suppliers",
      "priv_generalization_ladder", "text_zipf_profile",
      "mm_corrupt_quarantine", "curate_kfold_assign",
      // graph_link_prediction is integer-count + single-division (invariant
      // by construction) but empty at sf0.001 — the thresholded co-graph
      // leaves no non-adjacent wedge pair — so it can't ride this harness
      "dedup_quality_correlation", "agg_bloom_fp_report",
      "agg_hll_registers", "agg_cohort_ltv", "win_ytd_running", "agg_ab_readout",
      "wh_data_vault", "sim_jaccard_cosine_bands", "ts_anomaly_mad",
      "ts_trend_slope", "join_spatial_grid", "agg_funnel_latency",
      "dedup_ngram_jaccard_capped", "text_lang_confusion",
      "dedup_threshold_sweep", "wh_partition_checksums",
      "text_repeated_chunks", "etl_record_linkage",
      "ts_autocorr", "priv_t_closeness", "agg_lift_curve",
      "agg_multitouch_attribution", "etl_benford", "etl_psi_drift",
      "text_entropy", "dedup_edit_verify", "dedup_segment_exact",
      "agg_unpivot_monthly", "sim_matryoshka_prefix", "priv_dp_counts",
      "win_value_positions", "etl_fk_orphans", "agg_market_basket",
      "agg_top_paths", "ts_stl_lite", "wh_junk_dimension",
      "sim_centroid_drift", "ts_snaive_backtest", "priv_release_extract",
      "agg_bitmap_distinct", "curate_leakfree_split",
      "agg_new_vs_returning", "src_fixed_width", "sim_pq_distortion",
      "sim_hubness_ann", "wh_file_manifest", "wh_bloom_manifest",
      "wh_dpp_quarter_scan", "curate_pit_features", "curate_length_buckets",
      "dedup_cdc_chunks", "wh_scd3_patient", "priv_dp_sums",
      "sim_ivf_rebalance", "text_lm_coverage",
      "sim_rrf_fusion", "sim_jl_project", "sim_jl_distortion",
      "curate_unimax_epochs", "wh_time_travel_read", "wh_vacuum_plan",
      "wh_ivm_join_view", "graph_lpa_communities", "text_bpe_train",
      "wh_binpack_plan", "curate_feature_hash", "wh_expectations",
      "sim_hadamard_balance", "priv_epsilon_ledger", "text_bigram_novelty",
      "agg_rfm_segments", "sim_graph_greedy_search", "sim_ivf_nprobe_sweep",
      "wh_bitemporal_asof", "win_skyline_frontier", "sim_filtered_ann",
      "curate_dsir_weights", "text_domain_kl", "curate_weak_labels",
      "sim_kcenter_coreset", "text_lm_perplexity", "curate_training_order",
      "curate_boilerplate_strip", "src_neyman_allocation", "curate_lf_shapley",
      "agg_qdigest_quantiles", "sim_pca_power", "graph_modularity",
      "sim_abtt_residual", "agg_poisson_bootstrap", "wh_key_collision_audit",
      "curate_source_ablation", "agg_ks_distance", "agg_mann_whitney",
      "ts_hier_reconcile", "wh_fd_discovery", "agg_cms_join_size",
      "wh_ind_discovery", "agg_chi2_independence", "agg_spearman_corr",
      "agg_conformal_interval",
      // round 8: the advisor pair (share_pct / weighted_chars are single
      // post-aggregate divisions over exact long sums) and the strategy
      // ledger (pure counts)
      "wh_skew_advisor", "join_skew_advised", "wh_join_advisor",
      "etl_forget_cascade",
      // the native as-of exec: merge is per-partition, so its output must
      // not depend on how co-partitioning slices the keys
      "join_asof_exec", "join_asof_tolerance", "join_asof_forward",
      "join_asof_filtered", "join_asof_same_day", "wh_scd2_asof_exec",
      // the DSv2 generator source: pure integer arithmetic per id, so any
      // partition arrangement must produce the same aggregate
      "src_gen_pushdown", "src_gen_segments", "stream_gen_ingest",
      "src_v2sink_manifest", "agg_kmv_native", "obs_lineage_stream",
      "src_gen_agg_pushdown", "src_gen_tvf",
      // round 9: the storage-partitioned join (key-grouped partitions are
      // planner state, not data) and the transformWithState ledger (rows
      // sorted by event_id inside the processor, all-integer output)
      "src_gen_spj_join", "join_asof_skew_exec", "join_asof_skew_window",
      "stream_tws_ledger", "mm_binaryfile_phash",
      "wh_accumulating_snapshot_bucketed",
      // variant extraction, state-store inspection, window chunking: all
      // integer/md5 outputs over keyed aggregates
      "etl_variant_extract", "stream_state_inspect",
      "stream_state_metadata", "text_chunk_cover", "text_chunk_dedup",
      "stream_tws_session_timeout",
      // multi-grain (DECIMAL sums → one DOUBLE edge cast), sufficient-
      // statistics regression (BIGINT moments, fixed-order double
      // assembly), and the blocked fuzzy join (integer edit distances)
      "agg_rollup_monthly", "agg_rollup_hierarchical",
      "agg_cube_segment_status", "agg_sets_priority",
      "agg_ols_trend", "agg_ridge_gram",
      "dedup_fuzzy_pairs", "dedup_fuzzy_block_stats", "dedup_fuzzy_keep",
      "dedup_fuzzy_pairs_banded",
      // the matview rewrite trio (DECIMAL partials merged exactly, one
      // DOUBLE cast at the edge)
      "opt_mv_rollup", "opt_mv_exact", "opt_mv_miss",
      "opt_eager_agg", "opt_eager_agg_base", "opt_rollup_from_view",
      "opt_mv_exact_distinct", "opt_mv_filtered",
      // round 10: the coarser-grain AVG merge (exact decimal division,
      // one DOUBLE edge cast), the auto-served reference queries, the
      // IVM-refreshed view consumer (decimal-exact merge), and the
      // decoded-pixel hash (all-integer)
      "opt_mv_avg_coarser", "opt_mv_q01_raw", "opt_mv_q02_raw",
      "opt_mv_q03_raw", "opt_mv_ivm_refresh", "mm_imageio_phash",
      // the coarser-grain distinct merges (set union — count exact
      // outright, sum/avg exact for decimal folds at any parallelism) and
      // the union-of-grains merge (decimal sums, one DOUBLE edge cast,
      // gid switch)
      "opt_mv_distinct_coarser", "opt_mv_distinct_stats",
      "opt_union_merge_rollup", "opt_mv_ivm_distinct",
      // round 11: the gated/forced/off arms of the cost-gated rewrites
      // (exact BIGINT cents with one DOUBLE avg division; DECIMAL cube
      // sums with one DOUBLE edge cast)
      "opt_eager_agg_gated", "opt_eager_agg_hc", "opt_eager_agg_hc_forced",
      "opt_eager_agg_hc_base", "agg_cube_lineitem",
      "opt_cube_lineitem_reroll", "opt_rollup_reroll_gated",
      // the mixed global+grouped union merge (decimal sums, one DOUBLE
      // edge cast) and the retractable IVM state (integer counts; the
      // derived set view is order-insensitive by the r10 float gate)
      "opt_union_merge_total", "opt_mv_ivm_retract",
      // the top-k kernel's consumers: merge order of the partial buffers
      // must not change the selection
      "sim_bruteforce_topk", "sim_ann_lsh_topk", "sim_ivf_topk",
      "sim_two_stage_topk", "sim_hubness",
      // the Scratch.reuse sites: a reused intermediate must read back the
      // same rows whatever the partitioning it was computed under
      "etl_cleanse", "etl_quarantine", "etl_dead_letter_replay",
      "dedup_clusters", "graph_kcore", "mm_phash_dedup")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (name <- names) {
        val q = SparkEntry.queries(name)
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        val a = q(spark, sf).collect().map(_.toString).toSeq
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        val b = q(spark, sf).collect().map(_.toString).toSeq
        assert(a == b, s"$name differs across shuffle parallelism")
        assert(a.nonEmpty, s"$name returned no rows")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("age bucketing is total and respects its boundaries (F1)") {
    val doubles = sample(Gen.chooseNum(-10000.0, 20000.0), 300, 1L) ++
      List(-0.005, 0.0, 2499.999, 2500.0, 4999.999, 5000.0, 7499.999, 7500.0)
    val rows = doubles.toDF("bal")
      .select($"bal", warehouse.Warehouse.ageGroup($"bal").as("g"))
      .collect()
    rows.foreach { r =>
      val (bal, g) = (r.getDouble(0), r.getString(1))
      val want =
        if (bal < 0) "Unknown" else if (bal < 2500) "18-30"
        else if (bal < 5000) "31-50" else if (bal < 7500) "51-70" else "71+"
      assert(g == want, s"bal=$bal")
    }
  }

  test("Md5Hash: Scala md5Int equals the Spark h32 column on arbitrary strings") {
    // the cross-engine hash base must agree between its Scala form (used for
    // plan-time constants: hyperplane components, minhash coefficients) and
    // its Spark column form (used per-row in the signature kernels)
    val strs = sample(Gen.asciiPrintableStr, 200, 7L)
      .filter(_.nonEmpty) ++ List("plane0:0", "minhash_a:31", "a b c")
    val spark_ = strs.toDF("s")
      .select($"s", functions.Md5Hash.h32($"s").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strs.foreach { s =>
      assert(spark_(s) == functions.Md5Hash.md5Int(s), s"mismatch on '$s'")
      assert(spark_(s) >= 0L && spark_(s) < (1L << 32))
    }
  }

  test("winnowing: docs sharing a >= k+w-1 substring share a fingerprint") {
    import graft.text.TextAnalysis.{winnowDf, WinnowK, WinnowW}
    val shared = "the stolen passage survives winnowing intact"
    assert(shared.length >= WinnowK + WinnowW - 1)
    val docs = Seq(
      (1L, s"alpha preamble text then $shared and an ending"),
      (2L, s"$shared wrapped in a completely different context body"),
      (3L, "nothing in common with either neighbor document here"),
      (4L, "tiny")).toDF("doc_id", "text")
    val fps = winnowDf(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // guarantee: any shared substring of length >= k+w-1 shares a selected
    // fingerprint (Schleimer et al. theorem 1)
    assert((fps(1L) & fps(2L)).nonEmpty)
    // sub-(k+w-1) docs emit nothing
    assert(!fps.contains(4L))
    // determinism
    val again = winnowDf(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(again == fps)

    // non-BMP safety: k-grams step by CODE POINTS (SQL substring
    // semantics), never splitting a surrogate pair — the shared-substring
    // guarantee must hold across docs where the overlap sits beside
    // supplementary characters (e.g. emoji)
    val emojiShared = "the stolen passage survives winnowing intact"
    val emojiDocs = Seq(
      (10L, s"🙂🚀 prefix $emojiShared suffix 🎉"),
      (11L, s"other 💩 context $emojiShared more text here")
    ).toDF("doc_id", "text")
    val efps = winnowDf(emojiDocs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((efps(10L) & efps(11L)).nonEmpty)
  }

  test("group-min dedup: unique keys, size bound, subset, idempotent (D1)") {
    val feed = sample(Gen.zip(Gen.chooseNum(0L, 40L), Gen.chooseNum(0, 1000)),
      500, 2L).toDF("k", "v")
    def dedup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"k").agg(min($"v").as("v"))
    val once = dedup(feed)
    val out = once.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val in = feed.collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(out.size <= in.length)
    assert(out.size == in.map(_._1).distinct.length, "one row per key")
    assert(out.keySet.subsetOf(in.map(_._1).toSet))
    out.foreach { case (k, v) =>
      assert(v == in.filter(_._1 == k).map(_._2).min, "min survivor")
    }
    // idempotence: dedup ∘ dedup = dedup (the reference's re-run guarantee)
    val twice = dedup(once).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(twice == out)
  }

  test("anti-join upsert is idempotent: loading a batch twice lands it once (S6)") {
    val existing = sample(Gen.chooseNum(0L, 60L), 80, 3L).distinct.toDF("k")
    val batch = sample(Gen.chooseNum(0L, 90L), 120, 4L).distinct.toDF("k")
    def upsert(sink: Seq[Long], b: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val loaded = b.join(sink.toDF("k"), Seq("k"), "left_anti")
        .collect().map(_.getLong(0)).toSeq
      sink ++ loaded
    }
    val sink0 = existing.collect().map(_.getLong(0)).toSeq
    val sink1 = upsert(sink0, batch)
    val sink2 = upsert(sink1, batch)
    assert(sink1.sorted == sink2.sorted, "second delivery is a no-op")
    assert(sink1.distinct.length == sink1.length, "no duplicate keys ever")
  }

  test("round2 matches BigDecimal HALF_UP on non-negative values (F7)") {
    val doubles = sample(Gen.chooseNum(0.0, 10000.0), 300, 5L) ++
      List(2.675, 0.005, 1.005, 99.995, 0.0)
    val got = doubles.toDF("x")
      .select($"x", functions.GraftFunctions.round2($"x").as("r"))
      .collect()
    got.foreach { r =>
      val (x, v) = (r.getDouble(0), r.getDouble(1))
      val want = math.floor(x * 100 + 0.5) / 100.0
      assert(v == want, s"x=$x")
      // and within a half-ulp-of-cent of BigDecimal HALF_UP on the double
      val bd = BigDecimal(x * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toDouble / 100.0
      assert(math.abs(v - bd) < 1e-9, s"x=$x graft=$v bigdecimal=$bd")
    }
  }
}
