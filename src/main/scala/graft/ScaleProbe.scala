package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1-equivalent probe for the scale-path queries.
  *
  * The driver ships sf ≤ 0.1; the LSH/banded paths claim sub-linear growth
  * precisely where their brute counterparts stop being runnable, so this
  * main manufactures a 10× corpus (50 k docs / 50 k vectors ≈ sf1) from
  * sf0.1 and times the scale paths on it:
  *
  *  - documents ×F: every word of replica r > 0 is suffixed with r, so
  *    replicas share no shingles — the corpus is F independent copies and
  *    the expected near-dup structure (pairs, clusters) is exactly F× the
  *    original, making "time grows ~F×, not F²×" a checkable claim.
  *  - embeddings ×F: replica r's vector is the original rotated by r
  *    positions — norm-preserving, and rotations of these near-uniform
  *    vectors decorrelate, so replicas are background noise to each
  *    other, not a wall of cos≈1 duplicates that would inflate every LSH
  *    bucket by F.
  *
  * Replica ids offset by 10 M so id-derived salts/splits stay disjoint.
  * Output: one line per query, warm-pass timing (same protocol as Bench).
  * Results are recorded in SCALING.md §"sf1 probe".
  */
object ScaleProbe {

  private def scaledDocs(s: SparkSession, dir: String, factor: Int): DataFrame = {
    val base = Tables.documents(s, dir)
    val reps = (0 until factor).map { r =>
      if (r == 0) base
      else base.select(
        (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "), w => concat(w, lit(r.toString)))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    reps.reduce(_ unionByName _)
  }

  /** documents ×F with GATE-PRESERVING perturbation — the fixture for the
    * COMPOSED curation pipelines (p01/p07). scaledDocs suffixes EVERY
    * word, which destroys the stopword/marker profile: its replicas fail
    * the quality+language gates, so at 100× the post-gate stages (banded
    * near-dup, contamination grams) saw ~1× survivors and the probe
    * measured only the gate scans (r8 verdict). Here the gate-relevant
    * vocabulary — the stopword list and the "en" marker lexicon — passes
    * through unsuffixed (replicas keep the original's stopword ratio and
    * language score, so gate survival scales ×F), while every other word
    * is replica-suffixed, so replica pairs still share no 3-word
    * shingles (a shingle crossing a suffixed word differs; Jaccard ≥ 0.8
    * across replicas is impossible) and the near-dup/cluster structure
    * stays exactly F× the original.
    */
  private def scaledDocsGated(s: SparkSession, dir: String, factor: Int): DataFrame = {
    val keep = (graft.functions.TextFunctions.Stopwords ++
      graft.functions.TextFunctions.LangMarkers.toMap.apply("en")).distinct
    val base = Tables.documents(s, dir)
    val reps = (0 until factor).map { r =>
      if (r == 0) base
      else base.select(
        (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          w => when(w.isin(keep: _*), w).otherwise(concat(w, lit(r.toString))))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    reps.reduce(_ unionByName _)
  }

  /** events ×F: replica r is a disjoint user population (+10 M ids) living
    * in the SAME time window — per-user temporal structure (sessions,
    * funnels, as-of pairs) is preserved per replica, so the expected
    * output is exactly F× the original and the probe measures pure data
    * growth. `ts` passes through in whatever physical encoding the source
    * testdata carries — the canonical reader (`Tables.events`) adapts to
    * the encoding it finds (`Tables.adaptiveTs`).
    */
  private def scaledEvents(s: SparkSession, dir: String, factor: Int): DataFrame = {
    Tables.withNanosAsLong(s)
    val base = Tables.parquet(s, s"$dir/events.parquet")
    val reps = (0 until factor).map { r =>
      if (r == 0) base
      else base
        .withColumn("user_id", col("user_id") + lit(r * 10000000L))
        .withColumn("event_id", col("event_id") + lit(r * 100000000L))
    }
    reps.reduce(_ unionByName _)
  }

  private def scaledEmbeddings(s: SparkSession, dir: String, factor: Int): DataFrame = {
    val base = Tables.embeddings(s, dir)
    val reps = (0 until factor).map { r =>
      if (r == 0) base
      else base.select(
        (col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        concat(slice(col("embedding"), r + 1, 64 - r), slice(col("embedding"), 1, r)).as("embedding"),
        col("label"))
    }
    reps.reduce(_ unionByName _)
  }

  /** lineitem ×F: replica r shifts order/part/supp keys into disjoint id
    * spaces, so the part co-purchase graph becomes F disconnected copies —
    * triangles, ranks, and z-order tiles scale exactly F× and the probe
    * again measures pure data growth.
    */
  private def scaledLineitem(s: SparkSession, dir: String, factor: Int): DataFrame = {
    val base = Tables.lineitem(s, dir)
    val reps = (0 until factor).map { r =>
      if (r == 0) base
      else base
        .withColumn("l_orderkey", col("l_orderkey") + lit(r * 100000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(r * 10000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * 10000000L))
    }
    reps.reduce(_ unionByName _)
  }

  /** Orders scaled as disjoint customer populations (q49 walks per-customer
    * order chains, so each replica contributes chains identical in shape to
    * the original — recursion DEPTH stays fixed while breadth grows ×F).
    */
  private def scaledOrders(s: SparkSession, dir: String, factor: Int): DataFrame = {
    val base = Tables.orders(s, dir)
    val reps = (0 until factor).map { r =>
      if (r == 0) base
      else base
        .withColumn("o_orderkey", col("o_orderkey") + lit(r * 100000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(r * 10000000L))
    }
    reps.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val factor = if (args.length > 2) args(2).toInt else 10
    // SPARK_GRAFT_TABLES restricts which scaled tables get built (csv of
    // documents,embeddings,events,lineitem,orders; default all) — the
    // 100× probes of the graph/recursion/text paths don't need the
    // embeddings table, whose rotation trick caps the factor at 64.
    val tables = sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("documents", "embeddings", "events", "lineitem", "orders"))
    // rotation r of a 64-dim vector is distinct only for r in 1..63 — at
    // r = 64 it is the identity (cos = 1 duplicates, the exact failure
    // mode the rotation exists to avoid) and beyond that slice() breaks
    require(factor >= 1, s"factor must be >= 1, got $factor")
    require(!tables("embeddings") || factor <= 64,
      s"factor must be in [1, 64] when the embeddings table is built, got $factor")
    val spark = CatalogRunner.session(CatalogRunner.privateScratch)

    /** The streaming readers pick their table out of a shared directory by
      * FLAT FILE NAME (`pathGlobFilter=events.parquet`), matching the
      * driver's testdata layout — a directory-shaped `events.parquet/` of
      * part files is invisible to them. Write the streaming inputs a
      * second time as single flat files under `$outDir/stream/` (batch
      * probes keep the 32-file directories for scan parallelism) and
      * probe `s*` queries against that dir.
      */
    def writeFlat(df: DataFrame, table: String): Unit = {
      val tmp = s"$outDir/stream/_tmp_$table"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $table"))
      val dest = new java.io.File(s"$outDir/stream/$table.parquet")
      dest.delete()
      if (!part.renameTo(dest)) sys.error(s"rename failed for $table")
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
    }

    if (tables("documents")) scaledDocs(spark, srcDir, factor).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    // the gate-preserving variant lives in its own table dir; the
    // composed-pipeline probes (suffix "@gated") read from there
    if (tables("documents")) scaledDocsGated(spark, srcDir, factor).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/gated/documents.parquet")
    if (tables("embeddings")) scaledEmbeddings(spark, srcDir, factor).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    if (tables("events")) scaledEvents(spark, srcDir, factor).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    if (tables("lineitem")) scaledLineitem(spark, srcDir, factor).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    if (tables("orders")) scaledOrders(spark, srcDir, factor).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    // dimension pass-through: part is NOT scaled (the ×F lineitem replicas
    // shift partkeys into disjoint id spaces, so the original 1× part
    // table covers only replica 0 — which is exactly what a dim lookup
    // whose fact side grew looks like; k03's routing still exercises both
    // paths on the replica-0 slice and inner-join semantics drop the rest)
    if (tables("lineitem")) Tables.part(spark, srcDir)
      .write.mode("overwrite").parquet(s"$outDir/part.parquet")
    if (tables("events")) writeFlat(scaledEvents(spark, srcDir, factor), "events")
    if (tables("documents")) writeFlat(scaledDocs(spark, srcDir, factor), "documents")
    // s30's static policy side reads Tables.embeddings from the SAME
    // stream dir, so the flat copy serves both legs
    if (tables("embeddings")) writeFlat(scaledEmbeddings(spark, srcDir, factor), "embeddings")
    println(s"[probe] built ${factor}x corpus at $outDir (tables: ${tables.toSeq.sorted.mkString(",")})")

    val probes = Seq(
      "d03_minhash_lsh", "d07_dup_clusters", "t07_decontaminate",
      "t13_bloom_decontaminate", "t10_chunk_docs", "t11_pack_sequences",
      "t14_rare_token_ratio", "e03_ann_lsh", "e04b_embedding_nn_dedup_lsh",
      "e01b_cosine_pairs_topk_lsh", "e08_kmeans_step", "p01_curation_pipeline",
      "a01_asof_join", "a02_range_join", "a03_sessionize", "a05_funnel",
      "a06_retention", "q17_event_tumbling",
      // round 4 additions
      "t15_tfidf_topk", "a08_gap_fill", "a09_interval_concurrency",
      "e09_product_quantize", "g01_triangle_count", "g02_pagerank_step",
      "z01_zorder_layout",
      // round 4, second batch. g03's scaled graph is F disconnected
      // copies, so BFS reach stays one component: the probe separates
      // build cost (corpus-linear) from traversal cost (component-bound).
      "t16_vocab_stats", "m07_audio_energy", "g03_bfs_levels",
      "e10_ivf_pq_ann",
      // round 4, third batch: the df-capped containment join, the
      // span-df rollup, the bag-filtered edit-distance blocks, and the
      // OHLC downsampling agg
      "d10_containment", "t18_boilerplate_spans", "t17_edit_distance_pairs",
      "a12_ohlc_bars",
      // round 4, fourth batch: the CMS heavy-hitter prefilter, the
      // banded perceptual-hash join (suffix-perturbed replicas change
      // the probe grid, so replica pairs don't collide — candidate mass
      // stays ~10× the original), the interpolation grid, and the
      // recursive chain walk over 10× customers
      "t19_heavy_hitters", "m09_phash_neardup", "a13_interpolate",
      "q49_recursive_cte",
      // round 4, fifth batch: survivorship over 10× clusters, the CDC
      // latest-wins agg over 10× users, and the DP verify over 10× the
      // candidate pair set
      "d11_survivorship", "q51_cdc_apply", "t20_edit_verify_lsh",
      // round 4, sixth batch: mergeable HLL sketches over 10× users —
      // expected ~linear scan, constant shuffle (one sketch per group)
      "q52_sketch_union",
      // round 5: the remaining un-probed families — the streaming
      // curation gates / OHLC / observe / CDC paths over a 10× event
      // (resp. document) stream in one AvailableNow run, and the
      // zone-map audit over 10× lineitem. Streaming state claims:
      // s15 O(sources), s16 O(user,hour groups), s17 O(1) observed
      // metrics, s18 O(users) — all watermark/group-bounded, so 10×
      // rows should cost ~scan, not ~state.
      "s15_stream_curation_gates", "s16_stream_ohlc", "s17_stream_observe",
      "s18_stream_cdc", "z03_zone_skipping",
      // round 6: the state-HEAVY streaming paths invalidated by round 5's
      // events-encoding breakage — tumbling windows (s02: state O(open
      // windows), watermark-bounded), session merge (s08: O(open
      // sessions)), and the append-mode finalized prefix (s09: state
      // drains as the watermark passes each window). 10× users in the
      // same time span grows per-batch state ×10 but the watermark still
      // bounds its lifetime — expected ~linear.
      "s02_stream_tumbling", "s08_stream_sessions", "s09_stream_append_finalized",
      // round 6 additions: substring dup mass (claim: corpus-token-linear —
      // windows leave the scan as 64-bit hashes, map-side-combined freq
      // agg), semantic dedup (claim: within-cell quadratic — the probe
      // holds k fixed while cells grow ×10, so pair work grows ~×100 per
      // cell; the documented at-scale knob is growing k with N, same as
      // IVF — the probe makes that trade-off measurable, not hidden),
      // and the streaming near-dup gate (dedup state O(distinct sketches))
      "d12_substring_dup_mass", "e11_semdedup", "s19_stream_neardup_gate",
      // bounded-buffer quota sample and the three-gate capstone
      "t21_stratified_sample", "p03_multimodal_curation",
      // round 7: conversion-deadline funnel (user-keyed joins — ~linear),
      // trailing-7d distinct (|user-days|×7 explode — linear, constant
      // factor), MV-maintenance merge (scan + O(groups) merge — ~scan),
      // and the streaming quota sample (state = k×sources — ~scan)
      "a15_constrained_funnel", "a16_sliding_distinct",
      "v01_incremental_agg", "s20_stream_quota_sample",
      // shot segmentation: one sequential pass per payload — ~scan
      "m10_shot_summary",
      // round 7 second batch: SCD-2 version chains (one user-keyed
      // shuffle, per-key sorts — ~linear), the apportioned sample
      // (O(sources) quota frame + k-bounded buffers — ~scan), and the
      // cross-modal union closure (three banded/blocked candidate
      // generators + CC over the union edge set — ~edge-linear)
      "v02_scd2_history", "t22_apportioned_sample", "p04_crossmodal_clusters",
      // span surgery (window hashes + rare-hit ×4 explode — ~scan) and
      // the audio edge trim (one narrow pass per payload — ~scan)
      "t23_decontaminate_surgery", "m11_silence_trim",
      // round 7: the count-first block cap measured where it matters —
      // d04's pair space is bounded by cap² per admitted block at any
      // corpus depth (the r6-verdict item-1 discipline, proven at 100×)
      "d04_ngram_jaccard_blocked",
      // round 7 third batch: lag-chain + |types|² agg (a17 — ~scan),
      // count-first hot/cold routed join (k03 — ~the plain join, minus
      // the hot shuffle), partition-scoped refresh (v03 — |delta| +
      // touched partitions), per-edge triangle credits (g04 — triangle-
      // linear after the oriented intersect), and two top-50 channel
      // scans + a 50×50 fusion join (e12 — ~two scans)
      "a17_transition_matrix", "k03_hot_key_isolation", "v03_partition_refresh",
      "g04_edge_jaccard", "e12_hybrid_rrf",
      // shingle-hash df join — d12's discipline, expected ~corpus-linear
      "t24_ngram_novelty",
      // per-user last-event state (O(users) × one event) — ~scan
      "s21_stream_transitions",
      // one filter over the version table — ~scan; and the df-capped
      // shot-signature pair join — bounded by df·|bucket| per signature
      "v04_asof_snapshot", "m12_video_neardup",
      // |types|·7·24-row matrix agg — ~scan
      "a18_activity_profile",
      // three hash-keyed rollups over the corpus — ~3 scans
      "p05_dedup_report",
      // manifest-sized pruning math + one exact pass — ~scan; and the
      // two-interval-filter user join — ~scan
      "z04_partition_pruning", "v05_snapshot_diff",
      // probe-filtered bucket join: per-ingest work O(batch × bucket)
      "e13_incremental_embedding_dedup",
      // round 8: integer-surprisal scoring (t14's shape — token-linear),
      // the split-leakage audit (d03's pair gen + two id-keyed label
      // joins), deletion propagation (one token scan + t11's window +
      // a deleted-docs-bounded explode), TTL dedup (state O(keys ×
      // in-flight windows)), kNN label propagation (e04b's candidate
      // machinery + a vote agg), and the single-scan p05 rewrite
      "t25_surprisal_score", "p06_split_leakage", "v06_delete_propagation",
      "s22_stream_dedup_ttl", "e14_knn_label_propagation", "p05_dedup_report",
      // round 8, second batch: the peel profile (per-round work ∝ the
      // shrinking survivor set) and the manifest-sized depth audit
      "g05_kcore", "z05_overlap_depth",
      // round 8, third batch: recall eval (bounded brute force + e03),
      // pretokenizer fertility (~scan), vacuum plan (one history pass)
      "e15_ann_recall_eval", "t26_pretokenize", "v07_vacuum_plan",
      // round 8 capstone: the five-gate disposition log (one scoring
      // scan, banded near-dup, hash-keyed contamination)
      "p07_release_manifest",
      // round 9: the indexed hybrid (posting-list probe + IVF shortlist
      // — both channels bounded by index geometry, never corpus scans),
      // the 8-round damped PageRank (per-round cost claimed flat — one
      // |V|-row join + agg per round over the once-built message edges),
      // and the BPE merge round (corpus scan + vocab-sized pair agg)
      "e12b_hybrid_rrf_indexed", "g02b_pagerank_profile", "t27_bpe_merge_step",
      // round 9, second batch: BPE apply (one corpus scan + vocab-sized
      // replace) and the hash-threshold mixture sample (scan-level
      // predicate + broadcast source dim — no per-source sort anywhere)
      "t28_bpe_apply", "p08_source_cap_sample",
      // retrieve-then-diversify: e12b's indexed candidate generation +
      // 5 metadata-sized greedy layers — costs what e12b costs
      "e16_coverage_select",
      // one degree join + one agg over the directed endpoint list
      "g06_assortativity",
      // one scan + hash agg + broadcast total; and the streaming gate
      // scan (stateless expressions, per-source counter state only)
      "k04_salt_plan", "s23_stream_gate_counts",
      // round 9: the composed pipelines re-probed on the gate-preserving
      // fixture (see scaledDocsGated) so the post-gate stages — banded
      // near-dup, contamination grams — finally run at full corpus depth
      "p01_curation_pipeline@gated", "p07_release_manifest@gated",
      // round 9, third batch: the 6-round BPE training loop (corpus
      // scanned once, every round vocab-sized — suffixed replicas grow
      // the vocab ~×F but the corpus scan should dominate), the
      // per-vertex clustering histogram (triangle-credit-linear, same
      // machinery as g04), and the IVF occupancy audit (one
      // broadcast-centroid scan + two aggs)
      "t29_bpe_train", "g07_local_clustering", "e17_ivf_balance",
      // round 9, fourth batch: the bigram freq aggs (t05's
      // high-cardinality-agg class — suffixed replicas multiply distinct
      // bigrams ×F, so the shuffle is the linear term), the token-count
      // scan + broadcast plan arithmetic, and the fingerprint-keyed
      // source matrix (per-fp fanout ≤ |sources|)
      "t30_bigram_surprisal", "p09_epoch_plan", "d13_cross_source_dup_matrix",
      // 12 min-label rounds, g02b's per-round shape (one |E|-row join +
      // |V|-row agg per unconverged round, converged rounds job-free)
      "g08_cc_profile",
      // the NN-descent local join: candidate volume O(k²·N) by
      // construction — the claim is corpus-LINEAR round cost
      "e18_nn_descent_round",
      // round 9, fifth batch: the frequency spectrum (token scan +
      // vocab-keyed agg, then ≤63 bucket rows — suffixed replicas grow
      // the vocab ×F but every bucket stays metadata-sized), the
      // two-modality packer (t11's shape: one scan + one
      // source-partitioned prefix-sum window), and the curriculum rollup
      // (t25's scan + vocab join + a |phases|·|sources|-row agg)
      "t31_zipf_spectrum", "m13_multimodal_pack", "p10_curriculum_plan",
      // the (type, hour) count agg collapses any event volume to a
      // metadata-sized frame before the windows; and the streaming
      // packer (state = one Long per source, per-batch sort is
      // batch-sized)
      "a19_burst_flags", "s24_stream_pack",
      // two scans + bit-keyed joins; the bloom manifest is ≤ files·2^14
      // rows at any table size
      "z06_bloom_skipping",
      // edge build + one |V|-row degree agg; ≤ 63 bucket rows after
      "g09_degree_spectrum",
      // e06's candidate generation once (the three sweeps are filters
      // over it) + the 10-query bounded brute force
      "e19_ivf_probe_sweep",
      // one token scan into the (source, tok) agg, then the vocab-keyed
      // pair join (each token fans to ≤ |S|² pairs) and a |S|²-row rollup
      "t32_source_divergence",
      // d07's closure + a |clusters|-row agg; and the (type, partition)
      // count agg that collapses any event volume to ≤ |keys| rows
      "d14_cluster_size_spectrum", "k05_hash_balance",
      // streaming (type, hour) Complete-mode agg (state ≤ |types|·|hours|)
      // + the shared batch rollup; and the token scan + two id-keyed
      // flag joins over d07's closure
      "s25_stream_burst", "p11_dedup_yield",
      // one user-keyed window pass + a |types|-row rollup; and the
      // per-order count agg then ≤ 63 bucket rows
      "a20_attribution", "g10_projection_cost",
      // e11's within-cell pair frame once; the three theta sweeps are
      // filters over it. Round 10: the (cell, sub) geometry derives its
      // sub-split from the corpus count, so the pair space is occupancy-
      // bounded — the r9 kill at 64× must now FINISH, corpus-linear
      "e20_semdedup_sweep",
      // round 10: the fixed-point centroid sum (constant group state —
      // the r9 collect_list form buffered O(members) per (label, dim))
      // measured where the buffer used to grow; and the two-round
      // NN-descent loop (per-round cost claimed corpus-linear, same
      // bounded-aggregator heavy path as e18)
      "e05_label_centroids", "e18b_nn_descent_converge",
      // the derived-sub-cell IVF sweep: per-query candidates are
      // (b+1)·nprobe·occupancy — constant — so the probe measures the
      // corpus-linear index-build side
      "e21_ivf_subcell_sweep",
      // round 10, second batch: the calibration sketch (scan-speed
      // signatures, capped-bucket candidates, ≤ 17 output rows) and the
      // α-mixture plan (one token scan into a |sources|-row frame)
      "d16_minhash_calibration", "p12_alpha_mixture",
      // round 10, third batch: the streaming α-admission gate (stateless
      // hash-threshold rows + a |sources|-row Complete-mode tally) and
      // the split-shift report (one token scan + a vocab-keyed LEFT
      // join — t25's shape with a null branch)
      "s26_stream_alpha_admit", "t33_split_shift",
      // int8 shortlist scan: the integer dots are the linear term, the
      // exact re-rank is 40 rows per query at any corpus size
      "e22_sq_rerank",
      // one scan + a (user, type)-keyed map-side-combined agg — a08's class
      "a21_decayed_engagement",
      // e02's broadcast-query shape: one pair frame, four sliced cosines
      "e23_matryoshka_sweep",
      // one scan into a |QI-groups|-row agg; the k sweep filters metadata
      "p13_k_anonymity",
      // round 11: the Lloyd loop (4× e08's per-round cost — corpus scan
      // × broadcast centroids + a vec_id window, claimed linear), the
      // two derivation audits (metadata-sized arithmetic — claimed
      // flat), the composed IVF+SQ8 serve (probe-bounded candidates +
      // 40-row re-rank — the corpus-linear term is the quantize pass),
      // and the threshold sweep (d03's pair frame once + four filters)
      "e08b_lloyd_converge", "e24_semprobe_geometry", "e25_ivf_sq_serve",
      "d17_lsh_geometry", "d18_jaccard_sweep",
      // the rank-fidelity calibration is e02's didactic class (two full
      // corpus×10 windows) — probed to measure the honest linear cost
      "e26_sq_rank_calibration",
      // both banded pair generators + a pair-bounded join/agg
      "d19_strategy_agreement",
      // d07's closure + one hash per doc + a 3-row rollup; the leak
      // audit rides d03's pair frame
      "p14_leakage_safe_split",
      // one user-keyed count agg + a broadcast max + ≤10-row rollup
      "a22_engagement_concentration",
      // round 12: nprobe selection (e28, embeddings-capped 64×), lexical
      // kNN (d21), the truss peel (g12), bipartite HITS (g13), audio
      // near-dup (m15 — suffix-perturbed replicas shift the energy grid,
      // so replica pairs don't collide), the streaming leaderboard
      // (s28), and the lag-window spectrum (a23)
      "e28_nprobe_select", "d21_lexical_knn", "g12_ktruss", "g13_hits",
      "m15_audio_neardup", "s28_stream_topk", "a23_interarrival_spectrum",
      // round 12, second batch: seeded PageRank (g14 — g02b's per-round
      // shape, 4 rounds + seed broadcast), the growth ledger pair (a24
      // batch / s29 streaming — one (user, week)-distinct agg then
      // metadata-sized windows; stream state = |user-weeks| rows), the
      // dataset card (p15 — one text scan + 8-byte dup agg + source-
      // partitioned windows), the layout advisor (z07 — one scan grades
      // all three layouts, 3×256-row zones after), and the centroid
      // audits (e29/e30 — posexplode agg into |labels|·dims rows,
      // broadcast joins, label-keyed aggs; embeddings-capped 64×)
      "g14_ppr", "a24_growth_accounting", "s29_stream_growth",
      "p15_dataset_card", "z07_layout_advisor",
      "e29_centroid_outliers", "e30_centroid_drift",
      // round 12, third batch: the hash-rank neighbor cap (one src-keyed
      // window over the directed edges, ≤ 64 bucket rows after) and the
      // streamed outlier gate (stateless scoring vs a broadcast
      // |labels|-row policy + a |labels|-row Complete tally;
      // embeddings-capped 64×)
      "g15_neighbor_sample", "s30_stream_outlier_gate",
      // round 13: the IVF refresh (e31 — two posexplode component aggs,
      // two broadcast |cells|-row scoring passes, re-assignment bounded
      // to the drifted cells' members, 10-query recall audit;
      // embeddings-capped 64×)
      "e31_ivf_refresh",
      // the maintained signature index (d22 — one corpus sketch + an
      // |upd|-doc legacy sketch, two doc_id anti-joins, the full-outer
      // identity audits over index rows, and d08's asymmetric probe:
      // everything index-row-linear, nothing re-pairs old×old)
      "d22_signature_maintenance")
    // streaming probes read the flat-file layout (see writeFlat);
    // "@gated" probes read the gate-preserving documents fixture
    val probeQueries = probes.map { name =>
      val qDir =
        if (name.endsWith("@gated")) s"$outDir/gated"
        else if (name.startsWith("s")) s"$outDir/stream"
        else outDir
      name -> ((s: SparkSession, _: String) => SparkEntry.queries(name.stripSuffix("@gated"))(s, qDir))
    }
    // warm pass (JIT + codegen + parquet footers), then the timed pass
    for (pass <- Seq("warm", "timed"))
      CatalogRunner.run(spark, probeQueries, outDir) { (_, df) =>
        df.write.format("noop").mode("overwrite").save()
      }.foreach { r =>
        r.error.foreach(e => println(s"[probe] ${r.name} FAILED: $e"))
        if (pass == "timed" && r.ok) println(f"[probe] ${r.name}: ${r.seconds}%.2f s at ${factor}x")
      }
    spark.stop()
  }
}
