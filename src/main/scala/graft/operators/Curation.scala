package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.HashingFunctions._
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.cosine_similarity

/** The flagship composition: a full training-data curation pipeline as ONE
  * declarative query — the production shape where the operator families
  * (TextAnalysis → Dedup) chain without materialization barriers:
  *
  *   quality filter → language filter → exact dedup → near-dedup (LSH)
  *
  * Every stage is the at-scale formulation: filters are scan-level, exact
  * dedup shuffles one key, near-dup candidates come from the banded LSH
  * join (never n²), and the drop rule ("remove any doc with a near-dup of
  * smaller id") is deterministic and order-free, so the oracle can state
  * it declaratively too.
  */
object Curation {

  val QualityMin = 0.5
  val Jac = 0.8

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_curation_pipeline" -> ((s, dir) => {
      // stage 1+2: quality + language gates (narrow, scan-speed). The
      // gated survivor set feeds THREE consumers (fingerprint agg, the
      // exact-dedup semi join, the final anti-join), and the gate
      // expressions (regex-heavy quality/lang scoring) are the most
      // expensive per-row work in the pipeline — materialize the gated
      // corpus once (Materialize: lineage-keeping persist; a
      // disk-backed intermediate table in production) so the corpus is
      // scanned and scored exactly once.
      // quality_score is COMPUTED ONCE at the gate and carried through
      // the materialized frame (round 13): the final projection used to
      // re-run the regex-heavy scorer over every surviving row — the
      // single most expensive per-row expression in the pipeline, paid
      // twice. One extra double column in the persisted frame buys the
      // second scoring pass away; the published value is identical (the
      // scorer is deterministic).
      val gated = graft.Materialize(Tables.documents(s, dir)
        .withColumn("q", qualityScore(col("text")))
        .filter(col("q") >= QualityMin && langId(col("text")) === "en")
        .withColumn("fp", xxhash64(normText(col("text")))))

      // stage 3: exact dedup on normalized text — keep the smallest doc_id.
      // Hash-first two-pass (d02's shape): group an 8-byte fingerprint of
      // the normalized text → min(doc_id), then a semi join recovers the
      // surviving rows. Both passes are hash-aggregable / hash-joinable —
      // the min_by(whole-row) single-pass alternative plans a
      // SortAggregate (struct buffers aren't hash-aggregable) and shuffles
      // every column through the agg; here the agg shuffles 16 bytes per
      // doc and the semi join's build side is bare ids (broadcast at these
      // SFs via AQE; an id-keyed shuffle at 100 TB — never the text).
      // Fingerprint collisions (~1e-14) are the same accepted odds as d02.
      val keepIds = gated
        .groupBy("fp")
        .agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val exactKept = gated.join(keepIds, Seq("doc_id"), "left_semi").drop("fp")

      // stage 4: near-dedup among survivors — LSH candidates (bucket-capped
      // band join, shared with d03 via Dedup.minhashBandCandidates), exact
      // verify, drop the larger id of every confirmed pair. One shingling
      // pass produces BOTH the MinHash signature and the int64-hashed
      // shingle array; the verify join ships only the hashes (~25× smaller
      // than raw trigram strings — that join-back is the heavy shuffle at
      // scale). Hashing preserves intersect/union cardinalities, hence
      // jaccard, up to ~1e-14 collision odds.
      // materialized once (Materialize): banding and BOTH verify-join
      // sides consume it — without this the survivor scan+shingle+sketch
      // lineage runs three times. Production: a disk-backed sketch table.
      exactKept
        .join(nearDupLosers(graft.Materialize(Dedup.sketchOf(exactKept))), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("q").as("quality_score"))
        .orderBy("doc_id")
    }),

    // The second flagship composition — the TRAINING-MIX MANIFEST a run
    // builds after curation: quality gate → language gate → deterministic
    // per-source mixture sampling (t08's stateless integer rule — no
    // rand(), so retries/re-runs admit the identical set) → sequence
    // packing accounting (t11's concat-and-chunk arithmetic), rolled up
    // per source: admitted docs, token mass, 512-token sequence count,
    // and fill ratio. Everything is scan-level maps plus ONE hash agg —
    // no join in the whole pipeline — and every number is integer-exact
    // (the fill ratio is one IEEE division of exact longs), so unlike
    // p01's LSH stage this composition is END-TO-END oracle-checked with
    // no approximate component.
    "p02_training_mix" -> ((s, dir) => {
      val budget = TextAnalysis.SeqBudget
      mixAdmitted(Tables.documents(s, dir))
        .withColumn("n_seqs", expr(s"(n_tokens + ${budget - 1}) div $budget"))
        .withColumn("fill_ratio",
          col("n_tokens").cast("double") / (col("n_seqs") * budget).cast("double"))
        .orderBy("source")
    }),

    // THE MULTIMODAL CURATION CAPSTONE — both dedup families in one
    // declarative plan over the shared id space (doc_id ≡ vec_id, the
    // pairing m06 audits): text gates (quality + language, scan-level) →
    // substring duplicate-mass gate (d12's span-granular score,
    // dup_frac ≤ 1/2 — drops boilerplate-heavy docs even when no WHOLE
    // doc duplicates) → semantic dedup (e11's kept flag — drops docs
    // whose EMBEDDING is θ-redundant within its k-means cell even when
    // the text differs). The three gates catch three different
    // redundancy modes; what survives is the per-source admission
    // manifest. Scale shape: every join is keyed on the 8-byte id
    // (d12's mass and e11's verdict computed in their own documented
    // at-scale forms), raw text crosses no join, one final hash agg.
    "p03_multimodal_curation" -> ((s, dir) => {
      val mass = Dedup.substringDupMass(Tables.documents(s, dir))
        .select(col("doc_id"), col("dup_frac"))
      val sem = Similarity.queries("e11_semdedup")(s, dir)
        .select(col("vec_id").as("doc_id"), col("kept"))
      Tables.documents(s, dir)
        .filter(qualityScore(col("text")) >= QualityMin && langId(col("text")) === "en")
        .select(col("doc_id"), col("source"), tokenCountWs(col("text")).as("n_tokens"))
        // docs too short to have a single W-word window carry no dup
        // mass by construction — they pass the gate, hence the left join
        .join(mass, Seq("doc_id"), "left")
        .filter(coalesce(col("dup_frac"), lit(0.0)) <= 0.5)
        .join(sem, "doc_id")
        .filter(col("kept"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
        .orderBy("source")
    }),

    // CROSS-MODAL DUPLICATE CLUSTERS — the union-resolution pass a
    // multimodal corpus runs after its per-modality dedup sweeps: a doc
    // can be a near-copy of another by TEXT (d03's verified MinHash-LSH
    // pairs), by PIXELS (m09's perceptual-hash pairs over the probe
    // grid), or by MEANING (e11's within-cell θ-similar embedding pairs)
    // — and "how many distinct things do we actually have" is a question
    // about the UNION of those edge sets, because duplicate chains hop
    // modalities (a ↔text↔ b ↔pixels↔ c is ONE asset). Each edge family
    // is generated in its own documented at-scale form (banded / banded /
    // cell-blocked — never all-pairs), edges union as bare 16-byte id
    // pairs, and d07's label-propagation CC resolves components. keep =
    // (doc_id == cluster_id) — min-label CC makes the smallest member
    // the canonical keeper with no extra election pass (d11's policy
    // would slot in as a max_by if size-based survivorship were wanted).
    "p04_crossmodal_clusters" -> ((s, dir) => {
      val textE = Dedup.nearDupPairs(s, dir).select(col("id_a"), col("id_b"))
      val phashE = Multimodal.phashPairsShared(s, dir)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      val semE = Similarity.semCellPairsShared(s, dir)
        .filter(col("cos") >= Similarity.SemDedupTheta)
        .select(col("lo").as("id_a"), col("hi").as("id_b"))
      val edges = textE.unionByName(phashE).unionByName(semE).distinct()
      val clusters = Dedup.connectedComponents(edges)
      val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      clusters.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("n_members"),
          (col("doc_id") === col("cluster_id")).as("keep"))
        .orderBy("doc_id")
    }),

    // DEDUP REPORT — the per-source curation dashboard a pipeline owner
    // reads before committing a dedup pass: how many docs each source
    // loses to exact dedup (d01's keeper rule), to normalized dedup
    // (d02's), and what fraction of its token windows are corpus-
    // duplicated (d12's mass, rolled up). Pure composition of the three
    // shipped kernels — hashes shuffle, text never does; every input is
    // already individually oracle-proven, and the report re-states their
    // rules per source. All counts BIGINT; dup_frac is one division.
    // RELEASE MANIFEST — the capstone disposition log: every document
    // in the corpus gets ONE status with first-failing-gate semantics —
    // eval_holdout (the t07 benchmark set, held out before anything
    // else) → low_quality → wrong_lang → exact_dup (d02's keeper rule
    // among gate survivors) → near_dup (p01's LSH rule among exact
    // keepers) → contaminated (t07's 4-gram overlap vs the holdout) →
    // kept, and keepers get their t06 split assignment. This is the
    // audit table a dataset release ships alongside the data: every
    // dropped doc's reason, every kept doc's split, reproducible
    // bit-for-bit. Composes five proven kernels; the expensive text
    // scoring runs once (materialized flags frame), the near-dup stage
    // is the banded join, and the contamination side is hash-keyed —
    // nothing quadratic anywhere.
    "p07_release_manifest" -> ((s, dir) => releaseManifest(Tables.documents(s, dir))),

    // SOURCE-CAPPED MIXTURE SAMPLE — the rebalancing step a pretraining
    // mix runs over a crawl whose sources are wildly skewed: cap every
    // source at a data-derived per-source budget (half the uniform
    // share: total div (2·sources)), keeping small sources whole. The
    // at-scale form deliberately: selection is HASH-THRESHOLD
    // (keep iff pmod(xxhash64(doc_id), n_source) < cap), not
    // rank-under-a-window — a per-source row_number needs a per-source
    // sort that one giant source turns into a skew wall at 100 TB,
    // while the threshold is a scan-level predicate (expected kept ≈
    // cap, exact for sources under the cap), deterministic under task
    // retry because the hash is row identity, never rand(). One
    // scan + a broadcast source-count dim + one final agg; the
    // kept_id_sum pins the SELECTION under the hash gate, not just the
    // counts.
    "p08_source_cap_sample" -> ((s, dir) =>
      sourceCapSample(Tables.documents(s, dir))),

    // EPOCH / REPEAT PLAN — the other half of mixture planning: p08 caps
    // what each source CONTRIBUTES per pass; this plans how many PASSES
    // (epochs) each source makes to fill a token budget. Target = equal
    // token share of a 2× budget; a small source repeats up to the
    // 4-epoch cap (repeating further degrades a training run — the
    // standard data-constrained-scaling rule), a large one truncates to
    // target in a single pass; the deficit column is the shortfall the
    // cap leaves unfilled (what you'd have to buy/crawl). One token-count
    // scan + a broadcast total — all the plan arithmetic is integer
    // ceil/floor division, so the whole manifest is hash-exact.
    "p09_epoch_plan" -> ((s, dir) => epochPlan(Tables.documents(s, dir))),

    // K-ANONYMITY RELEASE AUDIT — the privacy QA a dataset release runs
    // next to t12's PII redaction: treat (lang, source, length-decile)
    // as the quasi-identifier tuple and report, per k ∈ {2, 5, 10}, how
    // many QI groups and how many documents sit in groups smaller than
    // k — the population a linkage attack can single out. The length
    // decile is an integer division against the corpus max (broadcast
    // 1-row), so the bucketing is data-derived and engine-identical;
    // every output is a count. Scale shape: one scan into a
    // |QI-groups|-row agg (map-side combined), then three threshold
    // filters over the metadata-sized group frame — the sweep costs
    // nothing beyond the one agg (the e19/e20 sweep discipline).
    "p13_k_anonymity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val mx = docs.agg(max("n_chars").as("mx"))
      val qi = docs.crossJoin(broadcast(mx))
        .select(col("lang"), col("source"),
          least(expr("n_chars * 10 DIV mx"), lit(9L)).as("len_decile"))
        .groupBy("lang", "source", "len_decile")
        .agg(count(lit(1)).as("gsz"))
      val tot = qi.agg(count(lit(1)).as("n_groups"), sum("gsz").as("n_docs"))
      Seq(2L, 5L, 10L).map { k =>
        qi.filter(col("gsz") < k)
          .agg(coalesce(count(lit(1)), lit(0L)).as("n_small_groups"),
            coalesce(sum("gsz"), lit(0L)).as("n_docs_at_risk"))
          .select(lit(k).as("k"), col("n_small_groups"), col("n_docs_at_risk"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n_groups"), col("n_docs"),
          col("n_small_groups"), col("n_docs_at_risk"),
          (col("n_docs_at_risk").cast("double") / col("n_docs").cast("double"))
            .as("risk_frac"))
        .orderBy("k")
    }),

    // LEAKAGE-SAFE SPLIT ASSIGNMENT — the operator that PRODUCES the
    // train/val/test split p06 audits: every document is assigned by
    // hashing its near-dup GROUP representative (d07's cluster id for
    // clustered docs, its own id otherwise), so the members of a
    // near-dup cluster land in the SAME split by construction — the
    // standard leakage-safe split of the training-data literature
    // (splitting by document leaks near-copies of val/test into train;
    // p06 measures exactly that failure on a naive split). Buckets are
    // the LOW 4 BITS of xxhash64(group) — a power-of-two modulus, so
    // signed pmod (Spark) and the unsigned low bits (oracle) agree at
    // any value: 13/2/1 → ~81/12/6% target shares. The output carries
    // the realized shares AND the measured cross-split near-dup pair
    // count — the leakage-zero property proven in-data on every run,
    // not just asserted by construction. Scale shape: one doc scan +
    // d07's closure (already at-scale) + a broadcast-able 3-row rollup;
    // the leak audit rides d03's verified pair frame.
    "p14_leakage_safe_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val clusters = Dedup.queries("d07_dup_clusters")(s, dir)
        .select(col("doc_id"), col("cluster_id"))
      val assigned = docs.join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("grp"))
        .withColumn("bucket", pmod(xxhash64(col("grp")), lit(16L)))
        .withColumn("split",
          when(col("bucket") < 13L, "train")
            .when(col("bucket") < 15L, "val").otherwise("test"))
      val pairs = Dedup.queries("d03_minhash_lsh")(s, dir).select("id_a", "id_b")
      val leak = pairs
        .join(assigned.select(col("doc_id").as("id_a"), col("split").as("sp_a")), "id_a")
        .join(assigned.select(col("doc_id").as("id_b"), col("split").as("sp_b")), "id_b")
        .agg(coalesce(sum(when(col("sp_a") =!= col("sp_b"), 1L).otherwise(0L)), lit(0L))
          .as("n_cross_split_pairs"))
      val tot = docs.agg(count(lit(1)).as("n"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"), countDistinct("grp").as("n_groups"))
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(leak))
        .select(col("split"), col("n_docs"), col("n_groups"),
          (col("n_docs").cast("double") / col("n").cast("double")).as("doc_share"),
          col("n_cross_split_pairs"))
        .orderBy("split")
    }),

    // DATASET CARD — the per-source summary table a dataset release
    // publishes (and the first thing a consumer reads): population,
    // token mass, central length (EXACT lower median, not an approx
    // sketch — rank (n+1) div 2 in a per-source window), the dominant
    // language with its ppm share, mean chars, and the corpus-wide
    // exact-duplicate share (d02's normalize→64-bit-fingerprint rule, so
    // a doc duplicated ACROSS sources is flagged in both — the honest
    // dup number, not the within-source one). All integers and strings
    // ⇒ exact gate. Scale shape: one text scan computes tokens +
    // fingerprint; the dup flag is an 8-byte-key agg + equi-join (text
    // never shuffles); the median window and lang mode partition BY
    // SOURCE (per-source sort, no global order); everything else is
    // |sources| rows. A single pathological mega-source would make its
    // median partition the straggler — at that skew the fix is the
    // t21-style two-pass rank, not a sketch.
    "p15_dataset_card" -> ((s, dir) => {
      val base = graft.Materialize(Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          tokenCountWs(col("text")).as("nt"),
          rolling_fingerprint(normText(col("text"))).as("fp")))
      // dup flag groups on the 64-bit fingerprint (the d02 convention:
      // the oracle groups on the full normalized text, so a fingerprint
      // collision between DISTINCT norms would over-count dup_ppm and
      // fail the exact gate loudly — never silently). Because this ppm
      // lands on a PUBLISHED dataset card, a corpus where the gate can't
      // run should confirm-join flagged groups on a second independent
      // hash (or norm length) before reporting.
      val dup = base.groupBy("fp").agg(count(lit(1)).as("nc"))
        .filter(col("nc") >= 2L).select(col("fp"), lit(1L).as("is_dup"))
      val st = base.join(dup, Seq("fp"), "left")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("nt").as("n_tokens"),
          sum("n_chars").as("sum_chars"),
          sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"))
      val wMed = Window.partitionBy("source").orderBy(col("nt").asc, col("doc_id").asc)
      val med = base
        .withColumn("rn", row_number().over(wMed).cast("long"))
        .withColumn("nsrc", count(lit(1)).over(Window.partitionBy("source")))
        .filter(col("rn") === expr("(nsrc + 1) div 2"))
        .select(col("source"), col("nt").as("median_tokens"))
      val wLang = Window.partitionBy("source").orderBy(col("cnt").desc, col("lang").asc)
      val top = base.groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wLang))
        .filter(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("cnt").as("top_lang_n"))
      st.join(med, "source").join(top, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("sum_chars div n_docs").as("mean_chars"),
          col("median_tokens"), col("top_lang"),
          expr("top_lang_n * 1000000 div n_docs").as("top_lang_ppm"),
          expr("n_dup * 1000000 div n_docs").as("dup_ppm"))
        .orderBy("source")
    }),

    // α-SAMPLING MIXTURE PLAN — the third leg of mixture planning (p08
    // caps per pass, p09 plans repeats, p12 sets the RATES): sample
    // each source ∝ n_tokens^(1/2), the temperature-flattening rule
    // multilingual pretraining uses so head sources stop drowning tail
    // sources. Integer weights (floor∘sqrt — engine-identical),
    // decimal(38,0) allocation, per-source rate in ppm. See
    // alphaMixture for the at-scale argument.
    "p12_alpha_mixture" -> ((s, dir) => alphaMixture(Tables.documents(s, dir))),

    // CURRICULUM PLAN — the ORDERING complement to p08 (per-pass caps)
    // and p09 (epoch counts): phase the corpus easy → hard by per-token
    // surprisal so a scheduler can front-load predictable text. Phases
    // are integer cross-multiplications against t25's corpus-max bits nb
    // (easy: mean ≤ nb/4; hard: mean > 3nb/4 — exactly t25's rare-heavy
    // gate; middle otherwise), computed on the SAME shared per-doc frame
    // as t25 (TextAnalysis.surprisalPerDoc — one definition, no drift).
    // Output = per (phase, source) doc count, token mass, bits mass: the
    // schedule a trainer's sampler consumes phase by phase. Scale shape
    // is t25's (token scan + vocab join); the rollup adds one ≤
    // 3·|sources|-row agg. Zero-token docs never enter the token frame —
    // absent from the plan in both engines.
    "p10_curriculum_plan" -> ((s, dir) =>
      curriculumPlan(Tables.documents(s, dir))),

    // DEDUP TOKEN-YIELD REPORT — the headline number a dedup pass is
    // judged by ("dedup cut the corpus X%"): per source, token mass
    // before dedup, after exact dedup (d01's min-doc_id keeper), and
    // after near-dup dedup too (d07's closure: a clustered doc survives
    // iff it IS its cluster's min label). Composes two shipped,
    // individually hash-gated kernels into the cumulative accounting;
    // stages are flags on one token frame (two id-keyed left joins), so
    // the report costs one token scan + d07's closure. Yield = one
    // double division of exact longs.
    "p11_dedup_yield" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tk = docs.select(col("doc_id"), col("source"),
        tokenCountWs(col("text")).as("nt"))
      val exactKeep = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
        .select(col("doc_id"), lit(true).as("keep_e"))
      val nearDrop = Dedup.queries("d07_dup_clusters")(s, dir)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"), lit(true).as("drop_n"))
      tk.join(exactKeep, Seq("doc_id"), "left")
        .join(nearDrop, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("nt").as("tokens_total"),
          sum(when(col("keep_e"), col("nt")).otherwise(0L)).as("tokens_after_exact"),
          sum(when(col("keep_e") && col("drop_n").isNull, col("nt")).otherwise(0L))
            .as("tokens_after_near"))
        .withColumn("yield_frac",
          col("tokens_after_near").cast("double") / col("tokens_total").cast("double"))
        .orderBy("source")
    }),

    // SPLIT LEAKAGE AUDIT — the check a training pipeline runs after
    // carving train/val/test: a near-duplicate PAIR that straddles the
    // split boundary leaks training signal into evaluation even though
    // both docs individually passed every gate. Composes two shipped,
    // individually-proven kernels — t06's deterministic hash split
    // (xxhash64 bucket, 80/10/10) and d03's verified near-dup pairs
    // (banded LSH candidates, exact-Jaccard gate) — into the split-pair
    // matrix: one row per unordered split pair with its dup-pair count
    // and the leak flag. Scale shape is d03's (the pair generator is
    // the banded join; the split label join adds two id-keyed hash
    // joins over O(pairs) rows); the output is ≤ 6 rows at any corpus
    // size.
    "p06_split_leakage" -> ((s, dir) => {
      val bucket = pmod(xxhash64(col("doc_id")), lit(100))
      val sp = Tables.documents(s, dir).select(col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
      Dedup.nearDupPairs(s, dir)
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("sp_a")), "id_a")
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("sp_b")), "id_b")
        .select(least(col("sp_a"), col("sp_b")).as("split_a"),
          greatest(col("sp_a"), col("sp_b")).as("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_leak", col("split_a") =!= col("split_b"))
        .orderBy("split_a", "split_b")
    }),

    "p05_dedup_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // ONE scan of documents.text (the r7 100× probe measured the
      // previous three-scan form at 90.3 s, dominated by re-reading and
      // re-hashing text): a single projection computes the exact hash,
      // the normalized hash, AND d12's window hashes, stored once
      // (Materialize.toStorage — same discipline as d07's edge table),
      // so the three rollups below scan an 8-byte-hash table and text
      // never leaves the first scan.
      val hashed = graft.Materialize.toStorage(
        docs
          .select(col("source"), col("doc_id"), col("text"), tokens(col("text")).as("w"))
          .select(col("source"), col("doc_id"),
            xxhash64(col("text")).as("h_exact"),
            xxhash64(normText(col("text"))).as("h_norm"),
            when(size(col("w")) >= Dedup.SubstringW,
              transform(sequence(lit(0), size(col("w")) - Dedup.SubstringW),
                i => xxhash64(concat_ws(" ", slice(col("w"), i + lit(1), lit(Dedup.SubstringW))))))
              .otherwise(array().cast("array<bigint>")).as("win_h")),
        "p05_hashes")
      def extras(hcol: String): DataFrame = {
        val keyed = hashed.select(col("source"), col("doc_id"), col(hcol).as("h"))
        val keep = keyed.groupBy("h").agg(min("doc_id").as("keep"))
        keyed.join(keep, "h").filter(col("doc_id") =!= col("keep"))
          .groupBy("source").agg(count(lit(1)).as("n"))
      }
      val exact = extras("h_exact").withColumnRenamed("n", "n_exact_extra")
      val norm = extras("h_norm").withColumnRenamed("n", "n_norm_extra")
      // d12's mass rolled straight to source: counting dup windows per
      // source ≡ summing the per-doc counts per source, minus the
      // doc_id→source join the old form paid
      val wins = hashed.select(col("source"), explode(col("win_h")).as("h"))
      val freq = wins.groupBy("h").agg(count(lit(1)).as("cnt"))
      val mass = wins.join(freq, "h")
        .groupBy("source")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      hashed.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(exact, Seq("source"), "left")
        .join(norm, Seq("source"), "left")
        .join(mass, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_exact_extra"), lit(0L)).as("n_exact_extra"),
          coalesce(col("n_norm_extra"), lit(0L)).as("n_norm_extra"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
          when(coalesce(col("n_windows"), lit(0L)) === 0L, 0.0)
            .otherwise(col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
            .as("dup_frac"))
        .orderBy("source")
    })
  )

  /** p08 core over any (doc_id, source) frame — extracted so the cap
    * arithmetic and the under-cap-kept-whole property are unit-testable
    * on crafted docs. */
  private[operators] def sourceCapSample(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("source"))
    val srcN = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val capF = srcN.agg(sum("n_docs").as("nt"), count(lit(1)).as("ns"))
      .select(greatest(lit(1L), expr("nt div (2 * ns)")).as("cap"))
    d.join(broadcast(srcN), "source")
      .crossJoin(broadcast(capF))
      .select(col("source"), col("doc_id"), col("n_docs"), col("cap"),
        (pmod(xxhash64(col("doc_id")), col("n_docs")) < col("cap")).as("keep"))
      .groupBy("source")
      .agg(max("n_docs").as("n_docs"), max("cap").as("cap"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(col("keep"), col("doc_id"))), lit(0L)).as("kept_id_sum"))
      .orderBy("source")
  }

  /** p09: the plan's knobs — budget = EpochBudgetFactor × corpus tokens
    * (2× forces BOTH plan branches on any fixture: small sources repeat,
    * large ones truncate), repeats capped at MaxEpochs. */
  private[operators] val EpochBudgetFactor = 2L
  private[operators] val MaxEpochs = 4L

  /** p10 core over (doc_id, source, text) rows — see the catalog entry.
    * Phase boundaries are integer cross-multiplications against t25's
    * corpus-max bits nb: easy ⟺ sum_bits·4 ≤ nb·n_tokens (mean ≤ nb/4),
    * hard ⟺ sum_bits·4 > nb·3·n_tokens (t25's rare-heavy gate verbatim),
    * middle otherwise.
    */
  private[operators] def curriculumPlan(docs: DataFrame): DataFrame =
    TextAnalysis.surprisalPerDoc(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("phase",
        when(col("sum_bits") * 4 <= col("nb") * col("n_tokens"), 0L)
          .when(col("sum_bits") * 4 > col("nb") * 3 * col("n_tokens"), 2L)
          .otherwise(1L))
      .groupBy("phase", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tok_mass"),
        sum("sum_bits").as("bits_mass"))
      .withColumn("mean_bits",
        col("bits_mass").cast("double") / col("tok_mass").cast("double"))
      .orderBy("phase", "source")

  /** p09 core over any (source, text) frame — extracted so the ceil/cap/
    * truncate arithmetic is unit-testable on crafted token counts (the
    * cap-bound source, the exactly-at-target source, the truncated
    * giant). target = (2·total) div n_sources; epochs = min(MaxEpochs,
    * ⌈target∕tokens⌉); planned = min(target, epochs·tokens); deficit =
    * target − planned (> 0 iff the epoch cap binds). All floor/ceil
    * divisions of exact longs.
    */
  private[operators] def epochPlan(docs: DataFrame): DataFrame = {
    val src = docs
      .select(col("source"), tokenCountWs(col("text")).as("nt"))
      .filter(col("nt") > 0)
      .groupBy("source").agg(sum("nt").as("n_tokens"))
    val tgt = src.agg(sum("n_tokens").as("tot"), count(lit(1)).as("ns"))
      .select(expr(s"(tot * $EpochBudgetFactor) div ns").as("target_tokens"))
    src.crossJoin(broadcast(tgt))
      .select(col("source"), col("n_tokens"), col("target_tokens"),
        least(lit(MaxEpochs),
          expr("(target_tokens + n_tokens - 1) div n_tokens")).as("epochs"))
      .withColumn("planned_tokens",
        least(col("target_tokens"), col("epochs") * col("n_tokens")))
      .withColumn("deficit_tokens", col("target_tokens") - col("planned_tokens"))
      .withColumn("utilization",
        col("planned_tokens").cast("double") / col("target_tokens").cast("double"))
      .orderBy("source")
  }

  /** p12 core: the α = 1/2 temperature-flattened sampling plan — the
    * standard multilingual/multi-source rebalancing rule (sample source
    * s with probability ∝ n_s^α): big sources flatten toward each
    * other, small sources up-weight, without p08's hard cap. weight =
    * floor(sqrt(n_tokens)): IEEE sqrt is correctly rounded and token
    * counts are exact doubles far past any fixture, so floor∘sqrt is
    * bit-identical in both engines — the property the hash gate needs
    * (a true isqrt off-by-one near 2^52 would change a weight by 1 and
    * nothing about the plan's meaning). Allocation arithmetic runs in
    * decimal(38,0) (budget·weight overflows int64 at real token
    * scales — the a10/a11 discipline); planned tokens cap at the
    * source's own mass (repeats are p09's job), so rate_ppm ≤ 10⁶ by
    * construction. Scale shape: one token scan into a |sources|-row
    * frame; everything after is metadata-sized.
    */
  private[operators] def alphaMixture(docs: DataFrame): DataFrame = {
    val src = docs
      .select(col("source"), tokenCountWs(col("text")).as("nt"))
      .filter(col("nt") > 0)
      .groupBy("source").agg(sum("nt").as("n_tokens"))
      .withColumn("weight", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = src.agg(sum("n_tokens").as("tot"), sum("weight").as("w_total"))
      .select(expr("tot div 2").as("budget"), col("w_total"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("weight"),
        least(
          expr("CAST(CAST(budget AS DECIMAL(38,0)) * weight DIV w_total AS BIGINT)"),
          col("n_tokens")).as("planned_tokens"))
      .withColumn("rate_ppm",
        expr("CAST(CAST(planned_tokens AS DECIMAL(38,0)) * 1000000 DIV n_tokens AS BIGINT)"))
      .orderBy("source")
  }

  /** p12's full derivation as a DuckDB CTE chain ending in
    * `arates(source, n_tokens, weight, planned_tokens, rate_ppm)` —
    * shared by the p12 oracle and s26's streaming-admission oracle so
    * the plan and its enforcement cannot drift. `a`-prefixed names to
    * stay collision-free inside larger oracles.
    */
  private[graft] val duckAlphaCtes: String =
    s"""ast AS (
      |  $duckSourceTokens
      |), aw AS (
      |  SELECT source, n_tokens,
      |    CAST(floor(sqrt(n_tokens::DOUBLE)) AS BIGINT) AS weight
      |  FROM ast
      |), atg AS (
      |  SELECT CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget,
      |    CAST(SUM(weight) AS BIGINT) AS w_total
      |  FROM aw
      |), apl AS (
      |  SELECT source, n_tokens, weight,
      |    LEAST(CAST(CAST(budget AS HUGEINT) * weight // w_total AS BIGINT), n_tokens)
      |      AS planned_tokens
      |  FROM aw CROSS JOIN atg
      |), arates AS (
      |  SELECT source, n_tokens, weight, planned_tokens,
      |    CAST(CAST(planned_tokens AS HUGEINT) * 1000000 // n_tokens AS BIGINT) AS rate_ppm
      |  FROM apl
      |)""".stripMargin

  /** p07 core over any (doc_id, source, text) frame — extracted so the
    * gate PRECEDENCE (a doc failing several gates reports the FIRST;
    * eval holdout outranks everything) is unit-testable on crafted
    * docs. */
  private[operators] def releaseManifest(docs: DataFrame): DataFrame = {
      // the two worked frames (base: scored corpus, sh: sketches) are
      // persisted for their multiple consumers below and RELEASED before
      // returning — the result itself goes through Materialize.toStorage
      // (the iterative-result discipline), so the returned frame is a
      // plain scratch-file scan with no dependence on the caches
      val base = graft.Materialize(docs
        .select(col("doc_id"), col("source"), col("text"),
          (col("doc_id") % 97 === 0).as("is_eval"),
          (qualityScore(col("text")) >= QualityMin).as("q_ok"),
          (langId(col("text")) === "en").as("l_ok"),
          xxhash64(normText(col("text"))).as("fp")))
      var sh: DataFrame = null
      try {
      val pool = base.filter(!col("is_eval") && col("q_ok") && col("l_ok"))
      val exactKeep = pool.groupBy("fp").agg(min("doc_id").as("keep_id"))
      val pooled = pool.join(exactKeep, "fp")
        .select(col("doc_id"), (col("doc_id") =!= col("keep_id")).as("exact_loser"))
      val exactKept = base.join(pooled.filter(!col("exact_loser"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
      sh = graft.Materialize(Dedup.sketchOf(exactKept))
      val nearLosers = nearDupLosers(sh).withColumn("near_loser", lit(true))
      // gram universe = eval docs (the contamination REFERENCE) + the
      // exact-dup survivors (the only docs whose status can still reach
      // the contamination gate — every other doc already reported an
      // earlier gate by CASE precedence, so hashing its grams is pure
      // waste; at the 100× probe this cut the explode from the full
      // corpus to the survivor set)
      val evalH = base.filter(col("is_eval"))
        .select(explode(wordShingles(col("text"), 4)).as("g"))
        .select(xxhash64(col("g")).as("h")).distinct()
      val contam = exactKept
        .select(col("doc_id"), explode(wordShingles(col("text"), 4)).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("h"))
        .join(evalH, "h")
        .select("doc_id").distinct().withColumn("contam", lit(true))
      val bucket = pmod(xxhash64(col("doc_id")), lit(100))
      val manifest = base.select(col("doc_id"), col("source"), col("is_eval"), col("q_ok"), col("l_ok"))
        .join(pooled, Seq("doc_id"), "left")
        .join(nearLosers, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          col("is_eval"), col("q_ok"), col("l_ok"),
          coalesce(col("exact_loser"), lit(false)).as("x_loser"),
          coalesce(col("near_loser"), lit(false)).as("n_loser"),
          coalesce(col("contam"), lit(false)).as("c_hit"))
        .select(col("doc_id"), col("source"),
          when(col("is_eval"), "eval_holdout")
            .when(!col("q_ok"), "low_quality")
            .when(!col("l_ok"), "wrong_lang")
            .when(col("x_loser"), "exact_dup")
            .when(col("n_loser"), "near_dup")
            .when(col("c_hit"), "contaminated")
            .otherwise("kept").as("status"),
          when(!col("is_eval") && col("q_ok") && col("l_ok") &&
              !col("x_loser") && !col("n_loser") && !col("c_hit"),
            when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
            .as("split"))
        .orderBy("doc_id")
      graft.Materialize.toStorage(manifest, "p07_manifest")
      } finally {
        if (sh != null) sh.unpersist()
        base.unpersist()
      }
    }

  /** p02 core over any documents frame, batch or stream (s15 runs it as a
    * complete-mode streaming aggregate): quality gate → language gate →
    * deterministic per-source mixture sample (t08's stateless integer
    * rule) → admitted docs and tokens per source.
    */
  private[graft] def mixAdmitted(docs: DataFrame): DataFrame = {
    val digits = regexp_extract(col("source"), "[0-9]+", 0)
    val rate = lit(30L) + when(digits =!= "", digits.cast("long")) % 10 * 7L
    val mix = col("doc_id") % 1000003L * 2654435761L % 100L
    docs.filter(qualityScore(col("text")) >= QualityMin && langId(col("text")) === "en")
      .filter(mix < rate)
      .select(col("source"), tokenCountWs(col("text")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
  }

  /** p01/p07 near-dedup: the larger id of every LSH candidate pair whose
    * exact Jaccard over `sh`'s hashed shingles reaches [[Jac]].
    */
  private def nearDupLosers(sh: DataFrame): DataFrame =
    Dedup.minhashBandCandidates(sh.select(col("doc_id"), col("sig")))
      .join(sh.select(col("doc_id").as("id_a"), col("hsh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("hsh").as("sh_b")), "id_b")
      .filter(jaccardSorted(col("sh_a"), col("sh_b")) >= Jac)
      .select(col("id_b").as("doc_id")) // id_a < id_b: larger id loses
      .distinct()

  private[graft] val langCase: String = {
    val langs = TextFunctions.LangMarkers.map(_._1)
    val best = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
    langs.map(l => s"WHEN score_$l = $best THEN '$l'").mkString("CASE ", " ", " ELSE 'und' END")
  }

  private val scoreExprs: String = TextFunctions.LangMarkers.map { case (lang, ms) =>
    val markers = ms.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(toks, w -> list_contains($markers, w))) AS score_$lang"
  }.mkString(",\n    ")

  private val stopList = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** p01's quality scoring as DuckDB CTEs: `t` adds the whitespace
    * tokens `toks` to every document, `scored` the per-language marker
    * scores and the stop-word and punctuation ratios.
    */
  private val duckScoredCtes: String =
    s"""t AS (
       |  SELECT *, ${DuckSql.tokens()} AS toks
       |  FROM documents
       |), scored AS (
       |  SELECT *,
       |    $scoreExprs,
       |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
       |      len(list_filter(toks, w -> list_contains($stopList, w)))::DOUBLE / len(toks)::DOUBLE END AS stop_ratio,
       |    CASE WHEN len(text) = 0 THEN 0.0 ELSE
       |      len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))::DOUBLE / len(text)::DOUBLE END AS p_ratio
       |  FROM t
       |)""".stripMargin

  /** qualityScore over `scored`'s columns. */
  private val duckQualityExpr: String =
    """least(len(text)::DOUBLE / 400.0, 1.0) * 0.4
      |      + least(stop_ratio * 5.0, 1.0) * 0.3
      |      + (1.0 - least(p_ratio * 10.0, 1.0)) * 0.3""".stripMargin

  /** duckScoredCtes plus `quality`, each document's score `q` — the
    * gate p01, p02, p03, s15 and s23 filter on.
    */
  private[graft] val duckQualityCtes: String =
    s"""$duckScoredCtes, quality AS (
       |  SELECT *,
       |    $duckQualityExpr AS q
       |  FROM scored
       |)""".stripMargin

  /** Body of a per-source token-count CTE `(source, n_tokens)` over the
    * sources with at least one token (p09's and p12's base).
    */
  private lazy val duckSourceTokens: String =
    s"""SELECT source,
       |    CAST(SUM(len(${DuckSql.tokens()})) AS BIGINT)
       |      AS n_tokens
       |  FROM documents
       |  GROUP BY source
       |  HAVING SUM(len(${DuckSql.tokens()})) > 0""".stripMargin

  def oracles: Map[String, String] = Map(
    "p01_curation_pipeline" ->
      s"""WITH $duckQualityCtes, gated AS (
         |  SELECT * FROM quality
         |  WHERE q >= $QualityMin AND ($langCase) = 'en'
         |), exact_kept AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY ${DuckSql.normText()}
         |      ORDER BY doc_id) AS rn
         |    FROM gated
         |  ) WHERE rn = 1
         |), sh AS (
         |  SELECT doc_id,
         |    ${DuckSql.shingles3("toks")} AS g
         |  FROM exact_kept WHERE len(toks) >= 3
         |), losers AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(a.g) > 0 AND len(b.g) > 0
         |    AND ${DuckSql.jaccard("a.g", "b.g")} >= $Jac
         |)
         |SELECT doc_id, lang, source, n_chars, q AS quality_score
         |FROM exact_kept
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin,

    // the same quality/lang CTEs as p01, then t08's sampling rule and
    // t11's packing arithmetic verbatim
    "p02_training_mix" ->
      s"""WITH $duckQualityCtes, sampled AS (
         |  SELECT source, len(toks) AS n_tokens
         |  FROM quality
         |  WHERE q >= $QualityMin AND ($langCase) = 'en'
         |    AND doc_id % 1000003 * 2654435761 % 100
         |      < 30 + TRY_CAST(regexp_extract(source, '[0-9]+') AS BIGINT) % 10 * 7
         |    AND len(toks) > 0
         |), agg AS (
         |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |  FROM sampled GROUP BY source
         |)
         |SELECT source, n_docs, n_tokens,
         |  (n_tokens + ${TextAnalysis.SeqBudget - 1}) // ${TextAnalysis.SeqBudget} AS n_seqs,
         |  n_tokens::DOUBLE
         |    / (((n_tokens + ${TextAnalysis.SeqBudget - 1}) // ${TextAnalysis.SeqBudget}) * ${TextAnalysis.SeqBudget})::DOUBLE AS fill_ratio
         |FROM agg
         |ORDER BY source""".stripMargin,

    // the three gate fragments verbatim from their own oracles (p02's
    // quality/lang CTEs, d12's window-mass CTEs, e11's cell/verdict
    // CTEs — renamed where names collide), joined on the shared id
    "p03_multimodal_curation" ->
      s"""WITH $duckQualityCtes, ${Dedup.duckWindowCtes("(SELECT doc_id, toks AS w FROM t)")}, mass AS (
         |  SELECT doc_id,
         |    SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE AS dup_frac
         |  FROM wins JOIN freq USING (win) GROUP BY doc_id
         |), ${Similarity.duckSemCtes}, dups AS (
         |  SELECT hi AS vid, COUNT(*) AS n_dups_lower
         |  FROM sem_pairs WHERE cos >= ${Similarity.SemDedupTheta}
         |  GROUP BY hi
         |), sem AS (
         |  SELECT a.vec_id AS doc_id, COALESCE(d.n_dups_lower, 0) = 0 AS kept
         |  FROM sem_asg a LEFT JOIN dups d ON d.vid = a.vec_id
         |)
         |SELECT q.source, COUNT(*) AS n_docs, CAST(SUM(len(q.toks)) AS BIGINT) AS n_tokens
         |FROM quality q
         |LEFT JOIN mass m ON m.doc_id = q.doc_id
         |JOIN sem s ON s.doc_id = q.doc_id
         |WHERE q.q >= $QualityMin AND ($langCase) = 'en'
         |  AND COALESCE(m.dup_frac, 0.0) <= 0.5 AND s.kept
         |GROUP BY q.source
         |ORDER BY q.source""".stripMargin,

    // union of the three modality pair oracles (d07's brute text pairs,
    // m09's brute phash pairs, e11's within-cell θ-pairs — each already
    // proven answer-equal to its banded/blocked Spark form by its own
    // gate row), then d07's recursive min-label closure over the union
    "p04_crossmodal_clusters" ->
      s"""WITH RECURSIVE ${DuckSql.shingleCtes()}, tpairs AS (
         |  ${DuckSql.nearPairs("s", Dedup.JaccardThreshold)}
         |), ${Multimodal.duckPhashCtes("pbands", "ph", "u")}, ppairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |  WHERE ${Multimodal.duckHamming("a", "b")}
         |    <= ${Multimodal.PhashHamMax}
         |), ${Similarity.duckSemCtes}, spairs AS (
         |  SELECT lo AS id_a, hi AS id_b
         |  FROM sem_pairs WHERE cos >= ${Similarity.SemDedupTheta}
         |), upairs AS (
         |  SELECT id_a, id_b FROM tpairs
         |  UNION SELECT id_a, id_b FROM ppairs
         |  UNION SELECT id_a, id_b FROM spairs
         |), ${Dedup.duckClosureCtes("upairs")}
         |SELECT doc_id, cluster_id,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
         |  doc_id = cluster_id AS keep
         |FROM clusters
         |ORDER BY doc_id""".stripMargin,

    // d01/d02's keeper rules + d12's window mass, each restated over the
    // raw strings (the Spark side's hashes are shuffle economy only),
    // rolled up per source
    // the five fragments (p01's quality/lang scoring, d02's normalized
    // same hash-threshold predicate with the xxhash64 arithmetic
    // restated (DuckHash CTEs); DuckDB's SUM widens to HUGEINT, so the
    // cap and every aggregate CAST back to BIGINT
    "p08_source_cap_sample" ->
      s"""WITH ids AS (
         |  SELECT doc_id, doc_id AS x FROM documents
         |), ${DuckHash.xxhash64LongCtes("doc_id")}, sn AS (
         |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
         |), cp AS (
         |  SELECT CAST(GREATEST(1, SUM(n_docs) // (2 * COUNT(*))) AS BIGINT) AS cap FROM sn
         |), k AS (
         |  SELECT d.source, d.doc_id, sn.n_docs, cp.cap,
         |    ((h.hv % sn.n_docs) + sn.n_docs) % sn.n_docs < cp.cap AS keep
         |  FROM documents d
         |  JOIN hashed h USING (doc_id)
         |  JOIN sn USING (source)
         |  CROSS JOIN cp
         |)
         |SELECT source,
         |  CAST(MAX(n_docs) AS BIGINT) AS n_docs,
         |  CAST(MAX(cap) AS BIGINT) AS cap,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(COALESCE(SUM(CASE WHEN keep THEN doc_id END), 0) AS BIGINT) AS kept_id_sum
         |FROM k GROUP BY source ORDER BY source""".stripMargin,

    // the same integer ceil/floor plan arithmetic over the t01-restated
    // whitespace token counts; SUMs cast back to BIGINT
    "p09_epoch_plan" ->
      s"""WITH st AS (
         |  $duckSourceTokens
         |), tg AS (
         |  SELECT CAST((SUM(n_tokens) * $EpochBudgetFactor) // COUNT(*) AS BIGINT) AS target_tokens
         |  FROM st
         |), pl AS (
         |  SELECT source, n_tokens, target_tokens,
         |    LEAST($MaxEpochs, (target_tokens + n_tokens - 1) // n_tokens) AS epochs
         |  FROM st CROSS JOIN tg
         |)
         |SELECT source, n_tokens, target_tokens, epochs,
         |  LEAST(target_tokens, epochs * n_tokens) AS planned_tokens,
         |  target_tokens - LEAST(target_tokens, epochs * n_tokens) AS deficit_tokens,
         |  LEAST(target_tokens, epochs * n_tokens)::DOUBLE / target_tokens::DOUBLE AS utilization
         |FROM pl ORDER BY source""".stripMargin,

    // the same data-derived decile (integer div against the broadcast
    // max), one group agg, three threshold filters — all counts
    "p13_k_anonymity" ->
      s"""WITH mx AS (
         |  SELECT MAX(n_chars) AS mx FROM documents
         |), qi AS (
         |  SELECT lang, source, LEAST(n_chars * 10 // mx.mx, 9) AS len_decile,
         |    COUNT(*) AS gsz
         |  FROM documents CROSS JOIN mx
         |  GROUP BY lang, source, LEAST(n_chars * 10 // mx.mx, 9)
         |), tot AS (
         |  SELECT COUNT(*) AS n_groups, CAST(SUM(gsz) AS BIGINT) AS n_docs FROM qi
         |), sw AS (
         |  SELECT 2 AS k, COUNT(*) AS n_small_groups,
         |    CAST(COALESCE(SUM(gsz), 0) AS BIGINT) AS n_docs_at_risk FROM qi WHERE gsz < 2
         |  UNION ALL
         |  SELECT 5, COUNT(*), CAST(COALESCE(SUM(gsz), 0) AS BIGINT) FROM qi WHERE gsz < 5
         |  UNION ALL
         |  SELECT 10, COUNT(*), CAST(COALESCE(SUM(gsz), 0) AS BIGINT) FROM qi WHERE gsz < 10
         |)
         |SELECT CAST(k AS BIGINT) AS k, tot.n_groups, tot.n_docs,
         |  n_small_groups, n_docs_at_risk,
         |  CAST(n_docs_at_risk AS DOUBLE) / CAST(tot.n_docs AS DOUBLE) AS risk_frac
         |FROM sw CROSS JOIN tot
         |ORDER BY k""".stripMargin,

    // p09's token CTE, then floor(sqrt(·)) weights and the HUGEINT
    // allocation — every integer step restated, the two divisions
    // floor-divs in both engines; chain shared with s26 via duckAlphaCtes
    "p12_alpha_mixture" ->
      s"""WITH $duckAlphaCtes
         |SELECT source, n_tokens, weight, planned_tokens, rate_ppm
         |FROM arates ORDER BY source""".stripMargin,

    // d07's shared closure supplies both the group representative AND
    // the j >= 0.8 pair set (the leak audit); the group hash is Spark's
    // xxhash64-of-long restated (DuckHash chain), buckets are signed
    // pmod 16 on both engines
    "p14_leakage_safe_split" ->
      s"""${Dedup.duckClusterCtes}, alld AS (
         |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS grp
         |  FROM documents d LEFT JOIN clusters c USING (doc_id)
         |), ids AS (
         |  SELECT doc_id, grp, CAST(grp AS HUGEINT) AS x FROM alld
         |), ${DuckHash.xxhash64LongCtes("doc_id, grp")}, asg AS (
         |  SELECT doc_id, grp,
         |    CASE WHEN ((hv % 16) + 16) % 16 < 13 THEN 'train'
         |         WHEN ((hv % 16) + 16) % 16 < 15 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM hashed
         |), leak AS (
         |  SELECT COALESCE(CAST(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT), 0)
         |    AS n_cross_split_pairs
         |  FROM pairs p JOIN asg a ON a.doc_id = p.id_a JOIN asg b ON b.doc_id = p.id_b
         |), tot AS (
         |  SELECT COUNT(*) AS n FROM documents
         |)
         |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT grp) AS n_groups,
         |  CAST(COUNT(*) AS DOUBLE) / CAST(tot.n AS DOUBLE) AS doc_share,
         |  leak.n_cross_split_pairs
         |FROM asg CROSS JOIN tot CROSS JOIN leak
         |GROUP BY split, tot.n, leak.n_cross_split_pairs
         |ORDER BY split""".stripMargin,

    // the dup flag groups by the NORMALIZED TEXT itself (the Spark
    // side's 64-bit fingerprint is shuffle economy — d02's collision
    // argument); median/mode restated as the same windows
    "p15_dataset_card" ->
      s"""WITH base AS (
        |  SELECT doc_id, source, lang, n_chars,
        |    len(${DuckSql.tokens()}) AS nt,
        |    ${DuckSql.normText()} AS norm
        |  FROM documents
        |), dup AS (
        |  SELECT norm FROM base GROUP BY norm HAVING COUNT(*) >= 2
        |), wd AS (
        |  SELECT b.source, b.n_chars, b.nt,
        |    CASE WHEN d.norm IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        |  FROM base b LEFT JOIN dup d ON d.norm = b.norm
        |), st AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(SUM(is_dup) AS BIGINT) AS n_dup
        |  FROM wd GROUP BY source
        |), med AS (
        |  SELECT source, nt AS median_tokens FROM (
        |    SELECT source, nt,
        |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY nt ASC, doc_id ASC) AS rn,
        |      COUNT(*) OVER (PARTITION BY source) AS nsrc
        |    FROM base)
        |  WHERE rn = (nsrc + 1) // 2
        |), top AS (
        |  SELECT source, lang AS top_lang, cnt AS top_lang_n FROM (
        |    SELECT source, lang, COUNT(*) AS cnt,
        |      ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY COUNT(*) DESC, lang ASC) AS rn
        |    FROM base GROUP BY source, lang)
        |  WHERE rn = 1
        |)
        |SELECT st.source, st.n_docs, st.n_tokens,
        |  CAST(st.sum_chars // st.n_docs AS BIGINT) AS mean_chars,
        |  med.median_tokens, top.top_lang,
        |  CAST(top.top_lang_n * 1000000 // st.n_docs AS BIGINT) AS top_lang_ppm,
        |  CAST(st.n_dup * 1000000 // st.n_docs AS BIGINT) AS dup_ppm
        |FROM st JOIN med USING (source) JOIN top USING (source)
        |ORDER BY source""".stripMargin,

    // d01's keeper + d07's shared closure (duckClusterCtes) as flags on
    // one token frame; SUMs cast back to BIGINT
    "p11_dedup_yield" ->
      s"""${Dedup.duckClusterCtes}, tk AS (
         |  SELECT doc_id, source,
         |    CAST(len(${DuckSql.tokens()}) AS BIGINT) AS nt
         |  FROM documents
         |), ek AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
         |), dn AS (
         |  SELECT doc_id FROM clusters WHERE doc_id <> cluster_id
         |)
         |SELECT tk.source, COUNT(*) AS n_docs,
         |  CAST(SUM(tk.nt) AS BIGINT) AS tokens_total,
         |  CAST(SUM(CASE WHEN ek.doc_id IS NOT NULL THEN tk.nt ELSE 0 END) AS BIGINT)
         |    AS tokens_after_exact,
         |  CAST(SUM(CASE WHEN ek.doc_id IS NOT NULL AND dn.doc_id IS NULL THEN tk.nt ELSE 0 END) AS BIGINT)
         |    AS tokens_after_near,
         |  CAST(SUM(CASE WHEN ek.doc_id IS NOT NULL AND dn.doc_id IS NULL THEN tk.nt ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(tk.nt) AS DOUBLE) AS yield_frac
         |FROM tk LEFT JOIN ek ON ek.doc_id = tk.doc_id
         |LEFT JOIN dn ON dn.doc_id = tk.doc_id
         |GROUP BY tk.source
         |ORDER BY tk.source""".stripMargin,

    // t25's bitlength CTEs restated per-doc, then the phase CASE (the
    // same integer cross-multiplications) and the per-(phase, source)
    // rollup; SUMs cast back to BIGINT
    "p10_curriculum_plan" ->
      s"""WITH ${TextAnalysis.duckSurprisalCtes}, perdoc AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(bits) AS BIGINT) AS sum_bits,
        |    MAX(nb) AS nb
        |  FROM sc GROUP BY doc_id
        |), phased AS (
        |  SELECT d.source,
        |    CASE WHEN p.sum_bits * 4 <= p.nb * p.n_tokens THEN 0
        |         WHEN p.sum_bits * 4 > p.nb * 3 * p.n_tokens THEN 2
        |         ELSE 1 END AS phase,
        |    p.n_tokens, p.sum_bits
        |  FROM perdoc p JOIN documents d USING (doc_id)
        |)
        |SELECT CAST(phase AS BIGINT) AS phase, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS tok_mass,
        |  CAST(SUM(sum_bits) AS BIGINT) AS bits_mass,
        |  CAST(SUM(sum_bits) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE) AS mean_bits
        |FROM phased
        |GROUP BY phase, source
        |ORDER BY phase, source""".stripMargin,

    // keeper groups, d03's full-pair near-dup SQL, t07's 4-gram overlap
    // on raw strings, t06's DuckHash split) composed with the same
    // first-failing-gate CASE chain
    "p07_release_manifest" ->
      s"""WITH ${TextAnalysis.duckSplitCtes}, $duckScoredCtes, flags AS (
         |  SELECT doc_id, source, text, toks,
         |    doc_id % 97 = 0 AS is_eval,
         |    $duckQualityExpr >= $QualityMin AS q_ok,
         |    ($langCase) = 'en' AS l_ok
         |  FROM scored
         |), pool AS (
         |  SELECT * FROM flags WHERE NOT is_eval AND q_ok AND l_ok
         |), ek AS (
         |  SELECT ${DuckSql.normText()} AS nt,
         |    MIN(doc_id) AS keep
         |  FROM pool GROUP BY 1
         |), pooled AS (
         |  SELECT p.doc_id, p.doc_id <> ek.keep AS exact_loser
         |  FROM pool p JOIN ek ON ek.nt = ${DuckSql.normText("p.text")}
         |), kept1 AS (
         |  SELECT f.* FROM flags f JOIN pooled pl ON pl.doc_id = f.doc_id AND NOT pl.exact_loser
         |), shl AS (
         |  SELECT doc_id,
         |    ${DuckSql.shingles3("toks")} AS sh
         |  FROM kept1 WHERE len(toks) >= 3
         |), losers AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM shl a JOIN shl b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |    AND ${DuckSql.jaccard("a.sh", "b.sh")} >= $Jac
         |), g4 AS (
         |  SELECT doc_id,
         |    unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
         |            for i in range(1, len(toks) - 2)])) AS g
         |  FROM flags WHERE len(toks) >= 4
         |), ev AS (
         |  SELECT DISTINCT g FROM g4 JOIN flags USING (doc_id) WHERE flags.is_eval
         |), contam AS (
         |  SELECT DISTINCT g4.doc_id
         |  FROM g4 JOIN flags f ON f.doc_id = g4.doc_id JOIN ev USING (g)
         |  WHERE NOT f.is_eval
         |)
         |SELECT f.doc_id, f.source,
         |  CASE WHEN f.is_eval THEN 'eval_holdout'
         |       WHEN NOT f.q_ok THEN 'low_quality'
         |       WHEN NOT f.l_ok THEN 'wrong_lang'
         |       WHEN COALESCE(pl.exact_loser, FALSE) THEN 'exact_dup'
         |       WHEN lo.doc_id IS NOT NULL THEN 'near_dup'
         |       WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
         |       ELSE 'kept' END AS status,
         |  CASE WHEN NOT f.is_eval AND f.q_ok AND f.l_ok
         |        AND NOT COALESCE(pl.exact_loser, FALSE)
         |        AND lo.doc_id IS NULL AND ct.doc_id IS NULL
         |       THEN sp.split END AS split
         |FROM flags f
         |LEFT JOIN pooled pl ON pl.doc_id = f.doc_id
         |LEFT JOIN losers lo ON lo.doc_id = f.doc_id
         |LEFT JOIN contam ct ON ct.doc_id = f.doc_id
         |JOIN sp ON sp.doc_id = f.doc_id
         |ORDER BY f.doc_id""".stripMargin,

    // t06's split restatement (DuckHash CTEs) ⋈ d03's full-pair-space
    // near-dup SQL — the oracle states the LEAKAGE ground truth over ALL
    // pairs, so it also re-certifies d03's recall-1-at-threshold claim
    // on the composed path
    "p06_split_leakage" ->
      s"""WITH ${TextAnalysis.duckSplitCtes}, ${DuckSql.shingleCtes("shl")}, pairs AS (
         |  ${DuckSql.nearPairs("shl", Dedup.JaccardThreshold)}
         |), lab AS (
         |  SELECT least(pa.split, pb.split) AS split_a, greatest(pa.split, pb.split) AS split_b
         |  FROM pairs p JOIN sp pa ON pa.doc_id = p.id_a JOIN sp pb ON pb.doc_id = p.id_b
         |)
         |SELECT split_a, split_b, COUNT(*) AS n_pairs, split_a <> split_b AS is_leak
         |FROM lab GROUP BY split_a, split_b
         |ORDER BY split_a, split_b""".stripMargin,

    "p05_dedup_report" ->
      s"""WITH ek AS (
         |  SELECT text, MIN(doc_id) AS keep FROM documents GROUP BY text
         |), exe AS (
         |  SELECT d.source, COUNT(*) AS n_exact_extra
         |  FROM documents d JOIN ek ON ek.text = d.text
         |  WHERE d.doc_id <> ek.keep GROUP BY d.source
         |), nk AS (
         |  SELECT ${DuckSql.normText()} AS nt,
         |    MIN(doc_id) AS keep
         |  FROM documents GROUP BY 1
         |), ne AS (
         |  SELECT d.source, COUNT(*) AS n_norm_extra
         |  FROM documents d
         |  JOIN nk ON nk.nt = ${DuckSql.normText("d.text")}
         |  WHERE d.doc_id <> nk.keep GROUP BY d.source
         |), ${DuckSql.tokenCte()}, ${Dedup.duckWindowCtes()}, dm AS (
         |  SELECT w.doc_id, COUNT(*) AS n_windows,
         |    SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS n_dup
         |  FROM wins w JOIN freq USING (win) GROUP BY w.doc_id
         |), sm AS (
         |  SELECT d.source, CAST(SUM(dm.n_windows) AS BIGINT) AS n_windows,
         |    CAST(SUM(dm.n_dup) AS BIGINT) AS n_dup_windows
         |  FROM dm JOIN documents d USING (doc_id) GROUP BY d.source
         |), base AS (
         |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
         |)
         |SELECT b.source, b.n_docs,
         |  COALESCE(exe.n_exact_extra, 0) AS n_exact_extra,
         |  COALESCE(ne.n_norm_extra, 0) AS n_norm_extra,
         |  COALESCE(sm.n_windows, 0) AS n_windows,
         |  COALESCE(sm.n_dup_windows, 0) AS n_dup_windows,
         |  CASE WHEN COALESCE(sm.n_windows, 0) = 0 THEN 0.0
         |       ELSE sm.n_dup_windows::DOUBLE / sm.n_windows::DOUBLE END AS dup_frac
         |FROM base b
         |LEFT JOIN exe ON exe.source = b.source
         |LEFT JOIN ne ON ne.source = b.source
         |LEFT JOIN sm ON sm.source = b.source
         |ORDER BY b.source""".stripMargin
  )
}
