package graft.plans

import graft.{SparkEntry, SparkSpec}

/** SCALING.md's "determinism across partitionings" claim, machine-checked:
  * re-running a query with a different shuffle-partition count must give a
  * BIT-IDENTICAL result — the property that makes answers stable when the
  * cluster size changes (and what makes the DuckDB oracle exact). The
  * queries chosen are the ones where naive formulations break it: float
  * aggregation order (q01 decimal pass-through, e05/e08 order-pinned
  * sums), multi-stage LSH candidate generation (d03), and a composed
  * pipeline (p01).
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val Probes = Seq(
    "q01_agg_pricing_summary", "e05_label_centroids", "e08_kmeans_step",
    "d03_minhash_lsh", "p01_curation_pipeline", "t11_pack_sequences",
    // round 4: the decimal-windowed z-scores (a10), the cross-partition
    // carry of the two-phase prefix sum (a09), integer graph sums (g02),
    // and tf-idf's broadcast corpus count (t15)
    "a10_rolling_zscore", "a09_interval_concurrency", "g02_pagerank_step",
    "t15_tfidf_topk",
    // round 4 second batch: the pinned argmax + ratio columns (t16), the
    // sorted collect_set CSVs (q45), the iterative frontier loop (g03),
    // the two-flagship composition (p02), and the stacked
    // IVF+PQ+re-rank approximation whose every tie-break is pinned (e10)
    "t16_vocab_stats", "q45_string_agg", "g03_bfs_levels",
    "p02_training_mix", "e10_ivf_pq_ann",
    // round 4 third batch: struct-keyed min_by/max_by tie-breaks under
    // reshuffling (a12), the df-capped containment join (d10), and the
    // span-df boilerplate rollup whose flag threshold is a broadcast
    // corpus count (t18)
    "a12_ohlc_bars", "d10_containment", "t18_boilerplate_spans",
    // round 4 fourth batch: the CMS sketch merge + threshold prefilter
    // (t19 — sketch merge order must not change any estimate the
    // threshold reads), the banded Hamming join + dropDuplicates (m09),
    // and the forward/backward ignore-nulls window fills (a13)
    "t19_heavy_hitters", "m09_phash_neardup", "a13_interpolate",
    // round 6: the rest of the recovered Temporal family (round 5's
    // events-encoding breakage took out a01–a13 + q51/q52; a09/a10/a12/a13
    // were already pinned above) — as-of backward join tie-breaks (a01),
    // banded range-join bucket assignment (a02), session gap numbering
    // (a03/a04), ordered funnel steps (a05), cohort retention (a06),
    // interval-weighted averages (a07), calendar spine fill (a08),
    // trailing-window folds (a11), and the variant-typed extraction +
    // sketch unions whose merge order must not leak (q48, q51, q52)
    "a01_asof_join", "a02_range_join", "a03_sessionize", "a04_session_window",
    "a05_funnel", "a06_retention", "a07_time_weighted_avg", "a08_gap_fill",
    "a11_trailing_window", "q48_variant_json", "q51_cdc_apply",
    "q52_sketch_union",
    // round 6 operators: window-hash frequency counts (d12), the
    // cell-blocked pair counts (e11), and the bounded-buffer quota
    // sample whose merge order must not change the picked docs (t21)
    "d12_substring_dup_mass", "e11_semdedup", "t21_stratified_sample",
    "a14_asof_tolerance",
    // round 7: deadline-staged conditional mins (a15), the ×7 explode +
    // distinct + broadcast span clip (a16), the decimal partial-state
    // merge whose split must not leak into the answer (v01), and the
    // per-doc shot segmentation (m10 — narrow map, but the ordering
    // columns must hold under any input partitioning)
    "a15_constrained_funnel", "a16_sliding_distinct", "v01_incremental_agg",
    "m10_shot_summary",
    // round 7 second batch: version chains under reshuffled changes
    // (v02), the BIGINT apportionment + bounded-buffer pick (t22), and
    // the cross-modal union closure (p04 — three candidate generators
    // and an iterative CC, all of whose tie-breaks must hold)
    "v02_scd2_history", "t22_apportioned_sample", "p04_crossmodal_clusters",
    // the masked-position distinct under reshuffled window hits (t23)
    // and the per-payload edge scan (m11 — narrow, but ordering columns
    // must hold under any input partitioning)
    "t23_decontaminate_surgery", "m11_silence_trim",
    // round 7 third batch: lag-chain ordering under reshuffled events
    // (a17), count-first hot/cold routing whose threshold is a global
    // aggregate (k03), the anti/semi partition split (v03), per-edge
    // triangle credits under reshuffled edges (g04), and the two-channel
    // rank fusion whose every tie-break is pinned (e12)
    "a17_transition_matrix", "k03_hot_key_isolation", "v03_partition_refresh",
    "g04_edge_jaccard", "e12_hybrid_rrf",
    // the shingle-hash df join (t24 — hash shuffle must not leak order)
    "t24_ngram_novelty",
    // interval filter over reshuffled version chains (v04), the
    // df-capped signature pair join (m12), and the peak-flag window
    // over the seasonality matrix (a18)
    "v04_asof_snapshot", "m12_video_neardup", "a18_activity_profile",
    // three hash-keyed dedup rollups joined per source (p05)
    "p05_dedup_report",
    // manifest×probe pruning arithmetic (z04), the two-snapshot
    // full-outer classification (v05), and the asymmetric bucket join +
    // struct-max top-1 (e13)
    "z04_partition_pruning", "v05_snapshot_diff",
    "e13_incremental_embedding_dedup",
    // round 8: integer surprisal + vocab join (t25), split-leakage label
    // joins over banded pairs (p06), deletion windows (v06), the 5-NN
    // integer vote (e14), the anti-join peel loop (g05), depth audit
    // arithmetic (z05), recall joins (e15), fertility ratios (t26),
    // history-pass retention math (v07), five-gate precedence (p07)
    "t25_surprisal_score", "p06_split_leakage", "v06_delete_propagation",
    "e14_knn_label_propagation", "g05_kcore", "z05_overlap_depth",
    "e15_ann_recall_eval", "t26_pretokenize", "v07_vacuum_plan",
    "p07_release_manifest",
    // round 9: indexed hybrid rank fusion (e12b), the 8-round damped
    // PageRank scratch carry (g02b), BPE merge/apply/train (t27/t28/t29
    // — winner argmax + replace must hold under reshuffle), the
    // hash-threshold sample (p08), greedy coverage layers (e16),
    // decimal assortativity ratios (g06), salt/balance plan arithmetic
    // (k04/k05), triangle-credit histograms (g07/g09/g10), IVF census +
    // sweeps (e17/e19), bigram surprisal (t30), epoch plan (p09),
    // provenance matrix (d13), 12-round CC profile (g08), NN-descent
    // audit (e18), zipf buckets (t31), multimodal pack prefix sums
    // (m13), curriculum phases (p10), burst flags (a19), bloom skipping
    // (z06), divergence matrix (t32), cluster spectrum (d14), dedup
    // yield (p11), last-touch attribution (a20), semdedup sweep (e20)
    "e12b_hybrid_rrf_indexed", "g02b_pagerank_profile", "t27_bpe_merge_step",
    "t28_bpe_apply", "t29_bpe_train", "p08_source_cap_sample",
    "e16_coverage_select", "g06_assortativity", "k04_salt_plan",
    "k05_hash_balance", "g07_local_clustering", "g09_degree_spectrum",
    "g10_projection_cost", "e17_ivf_balance", "e19_ivf_probe_sweep",
    "t30_bigram_surprisal", "p09_epoch_plan", "d13_cross_source_dup_matrix",
    "g08_cc_profile", "e18_nn_descent_round", "t31_zipf_spectrum",
    "m13_multimodal_pack", "p10_curriculum_plan", "a19_burst_flags",
    "z06_bloom_skipping", "t32_source_divergence", "d14_cluster_size_spectrum",
    "p11_dedup_yield", "a20_attribution", "e20_semdedup_sweep",
    // round 10: the derived-sub-cell sweep (e21 — the Hamming-1 probe
    // explode and every rank tie-break must hold), the two-round
    // NN-descent loop (e18b — scratch carry under reshuffle), the
    // calibration curve (d16 — signed min-hash mins + capped buckets),
    // and the α-mixture plan (p12 — isqrt + decimal allocation)
    "e21_ivf_subcell_sweep", "e18b_nn_descent_converge",
    "d16_minhash_calibration", "p12_alpha_mixture",
    // round 10 third batch: integer-dot shortlist + exact re-rank (e22),
    // the train-model LEFT join with the OOV null branch (t33), and the
    // fixed-point shift decay whose sum must not depend on order (a21)
    "e22_sq_rerank", "t33_split_shift", "a21_decayed_engagement",
    // four prefix-sliced rankings over one pair frame (e23), and the
    // data-derived decile bucketing + threshold sweep (p13)
    "e23_matryoshka_sweep", "p13_k_anonymity",
    // round 12: the nprobe selection (e28 — integer floor + argmin over
    // a 3-row frame must not depend on order), lexical kNN (d21 —
    // window ties), the two peels/iterations (g12 support census, g13
    // max-renormalized integer scores), the banded audio join (m15),
    // and the lag-window spectrum (a23)
    "e28_nprobe_select", "d21_lexical_knn", "g12_ktruss", "g13_hits",
    "m15_audio_neardup", "a23_interarrival_spectrum",
    // round 12, second batch: the seeded-restart integer rounds (g14),
    // the lag/lead ledger windows (a24), the per-source median/mode
    // windows + 8-byte dup agg (p15), the three-layout stack + winner
    // window (z07), and the centroid audits' decimal moment/component
    // sums (e29/e30 — partition order must not move a single ppb)
    "g14_ppr", "a24_growth_accounting", "p15_dataset_card",
    "z07_layout_advisor", "e29_centroid_outliers", "e30_centroid_drift",
    // the hash-rank sample: reshuffling must not move a single kept edge
    // (the checksum column would catch one)
    "g15_neighbor_sample",
    // round 13: the refresh ledger's fixed-point drift sums, integer
    // trigger, and recall ppm must not move under reshuffling
    "e31_ivf_refresh",
    // the maintained-index upsert: anti-join removal, union admit, and
    // the full-outer identity audit must all hold under reshuffling
    "d22_signature_maintenance",
    // stateful streams: their state partitioning follows the session's
    // shuffle partitions, so the k-bounded sample buffers (s20), the
    // carried last event (s21) and the carried token offset (s24) are
    // re-partitioned between the two runs
    "s20_stream_quota_sample", "s21_stream_transitions", "s24_stream_pack")

  /** Each run gets a FRESH fixture dir + memo reset, so fixture-backed
    * probes (g02b/g06/g07/g08/g09/g12/g14/g15, e18/e20, the d03-family
    * consumers) re-execute their DERIVATION pipelines — the edge
    * self-join, triangle enumeration, LSH band join — at BOTH partition
    * counts. Without this the 13-partition run re-reads the parquet the
    * 3-partition run stored, and the invariance assertion covers only
    * the post-fixture stages (round-12 ADVICE). At sf0.001 the rebuilds
    * are sub-second, and a concurrent suite racing the cleared memo just
    * pays a benign duplicate build (fixture() is putIfAbsent-based and
    * always returns a scan, so no plan-shape spec can observe the race).
    */
  private def runAt(name: String, parts: Int): Seq[String] = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    val oldFx = spark.conf.getOption("spark.graft.fixtureDir")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    spark.conf.set("spark.graft.fixtureDir",
      SparkSpec.tmpDir("pinv-fx"))
    graft.Materialize.resetFixtureMemo()
    try SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).toSeq
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", old)
      oldFx.fold(spark.conf.unset("spark.graft.fixtureDir"))(
        v => spark.conf.set("spark.graft.fixtureDir", v))
      graft.Materialize.resetFixtureMemo()
    }
  }

  Probes.foreach { name =>
    test(s"$name: identical result at 3 and 13 shuffle partitions") {
      val a = runAt(name, 3)
      val b = runAt(name, 13)
      assert(a.nonEmpty)
      assert(a === b, s"$name diverged when the partition count changed")
    }
  }
}
