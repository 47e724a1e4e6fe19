package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.HashingFunctions._
import graft.functions.TextFunctions._

/** Document deduplication — the core curation operator family of a
  * training-data pipeline (SURVEY.md §2.8 extension surface):
  *
  *  - exact (d01) and normalized-exact (d02): one hash-groupBy shuffle.
  *  - MinHash + LSH near-dup (d03): the at-scale path. Signatures are one
  *    codegen'd pass per doc; candidate generation is an equi-join on
  *    (band, bandKey) — never an n² comparison; exact Jaccard verifies
  *    candidates so the *output* is exact (LSH with 128 hashes / 32 bands
  *    misses a j≥0.8 pair with probability < 1e-7, so the DuckDB
  *    brute-force oracle still matches).
  *  - blocked n-gram Jaccard (d04): metadata blocking instead of LSH.
  *  - SimHash near-dup (d05): Hamming-ball search via 4×16-bit band
  *    pigeonhole (d ≤ 3 ⇒ one band equal — guaranteed recall, no n²).
  *
  * Shuffle inventory at 100 TB: d01/d02 shuffle ~1 hashed key per doc;
  * d03 shuffles doc_id→signature once and candidates once (band join is
  * the only fan-out, bounded by bucket sizes); nothing ever collects to
  * the driver.
  */
object Dedup {

  val MinHashK = 128

  /** d03's Jaccard threshold as the exact ratio 4/5 (= JaccardThreshold)
    * — the band-geometry derivation runs on the integer ratio so both
    * engines decide identically. */
  val JaccardTNum = 4L
  val JaccardTDen = 5L
  val JaccardThreshold = 0.8

  /** d20: enumerate intra-cluster pairs only for clusters up to this many
    * members — pair work per cluster is ≤ cap²/2, so the audit is
    * cluster-count-linear no matter how big one pathological component
    * grows (a 1 M-doc mega-cluster at 100 TB would otherwise cost 5·10¹¹
    * pairs). Clusters over the cap are REPORTED (size, count) with their
    * pair stats zeroed and `enumerated = false` — the no-silent-caps
    * rule: the reader sees exactly what the audit skipped.
    */
  val ClusterPurityCap = 64L

  /** d20: "direct" pair bar in parts-per-billion — floor(i·10⁹∕u) ≥
    * 8·10⁸ ⟺ i∕u ≥ 4∕5 exactly (integer cross-multiplication), the same
    * decision d03's verify makes in IEEE terms.
    */
  val DirectPpb = 800000000L

  /** Miss-probability ceiling for the band derivation: a true pair AT
    * the threshold may be missed by the banding with probability at most
    * 1/LshMissCeilDen (then the exact-Jaccard verify never sees it). */
  val LshMissCeilDen = 1000000L

  /** THE LAST HAND-SET BLOCKING KNOB, DERIVED (round 11): (bands, rows)
    * now comes from the S-curve inequality instead of a hand pick. For
    * rows-per-band r and b = k∕r bands, a pair at Jaccard t survives all
    * banding with miss probability (1 − t^r)^b; the derivation admits r
    * iff that miss ≤ 1∕LshMissCeilDen at t = JaccardTNum∕JaccardTDen and
    * picks the LARGEST admitted r (monotone: smaller r only lowers the
    * miss), because r is the precision knob — larger r ⇒ sharper S-curve
    * ⇒ fewer sub-threshold candidates reaching the exact verify.
    *
    * The arithmetic is a floor-rounded fixed-point chain on the 2^-60
    * grid, identical in both engines (BigInt here, HUGEINT in the d17
    * oracle — 128-bit is enough because every intermediate is < 2^120,
    * while the naive exact form (5^r−4^r)^b needs 90-digit integers
    * DuckDB cannot hold): m₀ = ⌊(TDen^r − TNum^r)·2^60 ∕ TDen^r⌋, then
    * log₂(b) floor-squarings m ← ⌊m²∕2^60⌋ (k and the candidate r are
    * powers of two, so b is too). Candidates r ∈ {16, 8, 4, 2, 1} — 32+
    * would overflow the m₀ numerator and a 1-row band is the always-
    * admitted floor. At t = 4∕5 the derivation lands exactly on the
    * previous hand-set geometry (r = 4, b = 32, miss ≈ 4.7e-8), so every
    * d03-family fixture is unchanged by construction; at t = 19∕20 it
    * picks r = 8, at t = 3∕5 it picks r = 2 (DedupSpec pins all three).
    * d17_lsh_geometry surfaces the derivation as a gated row.
    */
  private[operators] def lshMissFp(tNum: Long, tDen: Long, r: Int, k: Int): BigInt = {
    val den = BigInt(tDen).pow(r)
    var m = ((den - BigInt(tNum).pow(r)) << 60) / den
    var e = k / r
    while (e > 1) { m = (m * m) >> 60; e >>= 1 }
    m
  }

  private[operators] def derivedBandRows(k: Int, tNum: Long, tDen: Long): Int =
    Seq(16, 8, 4, 2, 1).find(r =>
      lshMissFp(tNum, tDen, r, k) * LshMissCeilDen <= (BigInt(1) << 60)
    ).getOrElse(1)

  val RowsPerBand = derivedBandRows(MinHashK, JaccardTNum, JaccardTDen)
  val Bands = MinHashK / RowsPerBand

  /** d16: calibration signature width (its OWN narrow sketch, k = 16
    * with 1-row bands — a pair is a candidate iff ANY min value agrees,
    * P = 1 − (1 − J)^16, reaching down to J ≈ 0.1) and the per-hash
    * mix keys Spark's MinHashSignature derives by iterating splitmix64
    * from the seed — surfaced here so the DuckDB oracle can embed the
    * SAME keys as literals and restate the sketch hash-for-hash.
    */
  val CalibK = 16
  private[operators] lazy val calibMixKeys: Seq[String] = {
    var s = 42L
    (0 until CalibK).map { _ =>
      s = graft.functions.VectorFunctions.splitmix64(s)
      java.lang.Long.toUnsignedString(s)
    }
  }

  /** Bucket-width cap for every LSH/SimHash bucket stage: a degenerate
    * band key (boilerplate-heavy corpus, constant field) would otherwise
    * make one bucket's array — and its n² pair fan-out — arbitrarily
    * large. Pairs only found in an over-wide bucket are dropped; true
    * near-dups still surface via the other bands (d03: 32, d05: 4), and
    * EXACT duplicates are d01/d02's job, not LSH's. 256 members ⇒ ≤ 32 640
    * pairs per bucket, a bounded task at any corpus size.
    */
  val MaxBucket = 256

  /** Jaccard threshold for the prefix-filter exact join (d09) — lower
    * than d03's 0.8 so the prefix filter (not the verify) does the
    * pruning work the test exercises.
    */
  val PrefixJaccard = 0.6

  /** d10 containment parameters: document-frequency cap on join shingles
    * (a shingle in more docs than this is background vocabulary, not
    * evidence — and capping it bounds the self-join fan-out to ≤ DfCap²
    * pairs per shingle at ANY corpus size), minimum rare-shingle count
    * for a meaningful denominator, and the containment threshold.
    */
  val DfCap = 64
  val MinRareShingles = 5
  val ContainmentThreshold = 0.8

  /** Window width (in words) for substring-level duplicate mass (d12).
    * Long enough that a shared window is evidence of copying, short
    * enough that the synthetic corpus's near-dup spans still overlap it.
    */
  val SubstringW = 5

  /** DuckDB CTE chain (WITH-body fragment) ending in `sh(doc_id, hu)` —
    * the per-doc 64-bit SimHash as an unsigned HUGEINT, recomputed from
    * scratch: 3-word shingles, Spark-exact XXH64 per shingle
    * (DuckHash.xxh64StrCtes), 64-bit majority vote, Σ 2^b reassembly.
    * Shared by the d05 oracle (banding + Hamming on top) and the s19
    * streaming near-dup oracle (per-source distinct-sketch counts).
    */
  private[graft] lazy val duckSimhashCtes: String = {
    val vcols = (0 until 64).map(b =>
      s"SUM(CASE WHEN (h.hv // CAST('${BigInt(1) << b}' AS HUGEINT)) % 2 = 1" +
        s" THEN 1 ELSE -1 END) AS v$b").mkString(",\n    ")
    val hexpr = (0 until 64).map(b =>
      s"CASE WHEN v$b > 0 THEN CAST('${BigInt(1) << b}' AS HUGEINT)" +
        s" ELSE CAST(0 AS HUGEINT) END").mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, ${DuckSql.tokens()} AS w
       |  FROM documents
       |), docsh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    unnest(${DuckSql.shingles3("w")}) AS g
       |  FROM tok WHERE len(w) >= 3
       |), gr AS (
       |  SELECT g AS gid, g FROM (SELECT DISTINCT g FROM docsh)
       |), ${DuckHash.xxh64StrCtes()}, votes AS (
       |  SELECT d.doc_id,
       |    $vcols
       |  FROM docsh d JOIN gh h ON h.gid = d.g
       |  GROUP BY 1
       |), sh AS (
       |  SELECT doc_id, $hexpr AS hu FROM votes
       |)""".stripMargin
  }

  /** Round cap for connectedComponents — label propagation needs rounds
    * equal to the component diameter, and near-dup clusters are shallow
    * (a chain this long means the corpus is pathological). Hitting the cap
    * without convergence THROWS rather than silently emitting partial
    * cluster labels.
    */
  val MaxCcRounds = 50

  /** doc_id + distinct 3-gram shingles, empty-shingle docs dropped. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)

  /** One shingling pass per doc yielding BOTH the MinHash signature (for
    * banding) and the int64-hashed shingle array (for exact verify),
    * materialized once (Materialize: lineage-keeping persist)
    * because every
    * consumer — band explode, and the two verify-join sides — would
    * otherwise re-run the scan+shingle+sketch lineage from parquet.
    * Hashing the shingles preserves intersect/union cardinalities (hence
    * Jaccard, bit-exactly: same integer operands, same double division)
    * up to ~1e-14 collision odds, while the arrays shipped through the
    * candidate verify join shrink ~25× and compare as primitives.
    * At 100 TB this is the "persist the sketch table" step of a
    * production pipeline — a disk-backed materialization orders of
    * magnitude smaller than the corpus (128 ints + ~n_tokens longs per
    * doc, no raw text).
    */
  private[operators] def sketched(s: SparkSession, dir: String): DataFrame =
    graft.Materialize(sketchOf(Tables.documents(s, dir)))

  /** The d03 sketch as a function of a corpus SNAPSHOT — (doc_id, sig,
    * hsh) rows for any (doc_id, text) frame. `sketched` is this over the
    * documents table; the maintained-index paths (d22) sketch a second,
    * legacy revision of the updated docs, which no table-level fixture
    * can serve. The hsh sort is load-bearing: every verify join computes
    * jaccard with the allocation-free sorted merge (jaccardSorted)
    * instead of per-pair hash sets; d09's rarity ordering re-sorts by
    * (df, tok) itself, so it is order-insensitive to this.
    */
  private[operators] def sketchOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        minhash_signature(col("sh"), MinHashK).as("sig"),
        sort_array(transform(col("sh"), g => xxhash64(g))).as("hsh"))

  /** d22's index-maintenance kernel: apply one ingest batch to a stored
    * signature table by q51's latest-wins discipline. Every CHANGED id's
    * stored row leaves (whether or not the new revision still sketches —
    * an update to a sub-shingle text must remove the doc from the index,
    * so the removal set is the batch's ID list, never the delta sketch's),
    * tombstoned ids leave with no replacement, and the delta's sketch
    * rows land. Cost: two doc_id anti-joins over index rows + a union —
    * O(|stored| + |delta|), one shuffle key, no corpus text touched.
    */
  private[operators] def upsertSignatureIndex(stored: DataFrame,
      changedIds: DataFrame, deltaSigs: DataFrame, tombIds: DataFrame): DataFrame =
    stored
      .join(changedIds.select("doc_id").unionByName(tombIds.select("doc_id")),
        Seq("doc_id"), "left_anti")
      .unionByName(deltaSigs)

  /** d22 change rules — deterministic on doc_id so engine, oracle, and
    * spec state the same ingest batch: doc_id ≡ 0 (mod Tomb) docs leave
    * the corpus; of the rest, ≡ 0 (mod Ins) docs are new arrivals absent
    * from the stored index, and ≡ 0 (mod Upd) docs have a stored row
    * sketched from a legacy text revision the delta supersedes.
    */
  private[operators] val D22Tomb = 11L
  private[operators] val D22Ins  = 5L
  private[operators] val D22Upd  = 7L

  /** d16/d21 shared calibration-sketch machinery: the k = `CalibK`
    * MinHash sketch plus the hashed shingle lists, and the 1-row-band
    * candidate pairs (ANY agreeing min ⇒ candidate, P = 1−(1−J)^k —
    * reaching down to J ≈ 0.1, far below d03's 0.8 geometry) with the
    * MaxBucket count-first cap.
    *
    * SCRATCH, not persist+unpersist-in-finally: the sketch is referenced
    * three times (band explode + both verify sides), and a
    * finally-unpersist fires at query-construction time, so the returned
    * plan would re-run the shingle+sketch chain per reference at
    * execution (the e18 lesson, found by the same sweep).
    */
  private[operators] def calibSketchAndCandidates(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // PER-JVM SHARED FIXTURES (round 13): d16 and d21 consume the
    // identical k=16 sketch table and ANY-min-agrees candidate set, and
    // each was re-paying the shingle+sketch chain AND the band
    // explode + capped-bucket pair join per query (per-query toStorage
    // tags kept the copies separate for no reason — the content is
    // dir-determined). The storage is keyed on the data dir alone.
    val sk = graft.Materialize.fixture(s, "dx-calibsk", dir)(shingled(s, dir)
      .select(col("doc_id"),
        minhash_signature(col("sh"), CalibK).as("sig"),
        sort_array(transform(col("sh"), g => xxhash64(g))).as("hsh")))
    val cand = graft.Materialize.fixture(s, "dx-calibcand", dir) {
      val bounded = admitted(sk.select(col("doc_id"), posexplode(col("sig")).as(Seq("j", "mv"))),
        Seq("j", "mv"), 1, MaxBucket)
      bounded.select(col("doc_id").as("id_a"), col("j"), col("mv"))
        .join(bounded.select(col("doc_id").as("id_b"), col("j"), col("mv")),
          Seq("j", "mv"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    }
    (sk, cand)
  }

  /** d21: neighbors kept per document in the lexical kNN list. */
  val LexKnnK = 3L

  /** d03's verified near-dup pairs — LSH band candidates, exact-Jaccard
    * gated. Shared by d03 itself, d07/d11 (as edges), and t20 (as the
    * candidate set the edit-distance verify runs on).
    */
  // Per-JVM SHARED FIXTURE (Materialize.fixture, the Graph.partEdges
  // discipline): seven catalog queries consume exactly this verified
  // pair set (d03, d07, d11, d18, d19, d20's clusters, e27, p04, t-side
  // contamination), and each was re-paying the sketch + band + verify
  // chain per query. Built once per process, read as a flat scan.
  private[operators] def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    graft.Materialize.fixture(s, "dx-neardup", dir)(nearDupPairsBuild(s, dir))

  /** The un-memoized pipeline — exposed so PlanShapeSpec pins the BUILD
    * plan's shape (equi-join only, band explode present); a consumer's
    * plan is just the fixture scan.
    */
  private[graft] def nearDupPairsBuild(s: SparkSession, dir: String): DataFrame = {
    val sk = sketched(s, dir)
    val a = sk.select(col("doc_id").as("id_a"), col("hsh").as("sh_a"))
    val b = sk.select(col("doc_id").as("id_b"), col("hsh").as("sh_b"))
    minhashBandCandidates(sk.select(col("doc_id"), col("sig")))
      .join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"), jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** d05's verified SimHash pair frame (id_a, id_b, hamming) — 4×16-bit
    * band pigeonhole candidates (count-first capped), Hamming ≤ 3.
    * Shared by d05 itself and d19's strategy-agreement report.
    */
  private[operators] def simhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.Materialize.fixture(s, "dx-simhash", dir)(simhashPairsBuild(s, dir))

  private def simhashPairsBuild(s: SparkSession, dir: String): DataFrame = {
    val sh = shingled(s, dir)
      .select(col("doc_id"), simhash64(col("sh")).as("simhash"))
    val bandCols = (0 until 4).map { bnd =>
      struct(lit(bnd).as("band"),
        pmod(shiftrightunsigned(col("simhash"), bnd * 16), lit(65536L)).as("bkey"))
    }
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    admitted(bands, Seq("band", "bkey"), 2, MaxBucket)
      .groupBy("band", "bkey")
      .agg(sort_array(collect_set(struct(col("doc_id"), col("simhash")))).as("members"))
      .select(explode(pairsOf(col("members"))).as("p"))
      .select(col("p.id_a.doc_id").as("id_a"), col("p.id_b.doc_id").as("id_b"),
        col("p.id_a.simhash").as("h_a"), col("p.id_b.simhash").as("h_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** d07/d11 shared core: LSH candidates → exact-Jaccard edges →
    * connected components. Returns (doc_id, cluster_id) for every
    * clustered document.
    */
  // fixture-shared like nearDupPairs itself: four queries (d07, d11,
  // d20, the spectrum) consume the identical clustering, and the CC
  // iteration is the family's most expensive derived step
  private def nearDupClusters(s: SparkSession, dir: String): DataFrame =
    graft.Materialize.fixture(s, "dx-dupcc", dir)(
      connectedComponents(nearDupPairs(s, dir).select(col("id_a"), col("id_b"))))

  /** d20 core over a (doc_id, cluster_id) frame and a (doc_id, hsh)
    * hashed-shingle table — extracted so a crafted chain (a~b~c with
    * J(a, c) below the bar) pins the direct/chained split closed-form.
    * See the query scaladoc for the semantics and cap rule.
    */
  private[operators] def clusterPurity(clusters: DataFrame,
                                       hashed: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
    val members = clusters.join(
      sizes.filter(col("csize") <= ClusterPurityCap), "cluster_id")
    val pairs = members.select(col("cluster_id"), col("csize"), col("doc_id").as("id_a"))
      .join(members.select(col("cluster_id"), col("doc_id").as("id_b")), "cluster_id")
      .filter(col("id_a") < col("id_b"))
      .join(hashed.select(col("doc_id").as("id_a"), col("hsh").as("sh_a")), "id_a")
      .join(hashed.select(col("doc_id").as("id_b"), col("hsh").as("sh_b")), "id_b")
      .select(col("cluster_id"), col("csize"),
        expr("""CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT) * 1000000000
               | DIV CAST(size(array_union(sh_a, sh_b)) AS BIGINT)""".stripMargin)
          .as("jppb"))
    val enumerated = pairs.groupBy("csize")
      .agg(countDistinct("cluster_id").as("n_clusters"),
        count(lit(1)).as("n_pairs"),
        count(when(col("jppb") >= DirectPpb, 1)).as("n_direct"),
        count(when(col("jppb") < DirectPpb, 1)).as("n_chained"),
        sum(col("jppb").cast("decimal(38,0)")).as("sum_ppb"),
        min("jppb").as("min_jaccard_ppb"))
      .select(col("csize").as("cluster_size"), col("n_clusters"),
        col("n_pairs"), col("n_direct"), col("n_chained"),
        (col("sum_ppb").cast("double") / col("n_pairs").cast("double")
          / 1000000000.0).as("mean_jaccard"),
        col("min_jaccard_ppb"), lit(true).as("enumerated"))
    val skipped = sizes.filter(col("csize") > ClusterPurityCap)
      .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
      .select(col("csize").as("cluster_size"), col("n_clusters"),
        lit(0L).as("n_pairs"), lit(0L).as("n_direct"), lit(0L).as("n_chained"),
        lit(0.0).as("mean_jaccard"), lit(0L).as("min_jaccard_ppb"),
        lit(false).as("enumerated"))
    enumerated.unionByName(skipped).orderBy("cluster_size")
  }

  /** d14 core over a (doc_id, cluster_id) frame — extracted so crafted
    * cluster layouts pin the buckets/shares closed-form.
    */
  private[operators] def clusterSizeSpectrum(clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val tot = sizes.agg(count(lit(1)).as("nc"), sum("sz").as("nd"))
    sizes.groupBy((length(bin(col("sz"))) - 1).cast("long").as("sb"))
      .agg(count(lit(1)).as("n_clusters"), sum("sz").as("doc_mass"),
        min("sz").as("min_sz"), max("sz").as("max_sz"))
      .crossJoin(broadcast(tot))
      .select(col("sb"), col("n_clusters"), col("doc_mass"),
        col("min_sz"), col("max_sz"),
        (col("n_clusters").cast("double") / col("nc").cast("double")).as("cluster_share"),
        (col("doc_mass").cast("double") / col("nd").cast("double")).as("doc_share"))
      .orderBy("sb")
  }

  /** All unordered candidate pairs (id_a, id_b) from an array of bucket
    * members; each side carries its whole member value.
    */
  private def pairsOf(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y => struct(x.as("id_a"), y.as("id_b")))))

  /** (doc_id, band, bkey) rows — 32 band keys per signature. Exposed for
    * DedupSpec's fixture-precondition check on bucket widths.
    */
  private[operators] def minhashBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(Bands - 1)), b =>
          struct(b.as("band"),
            xxhash64(slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand))).as("bkey"))))
          .as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))

  /** d08/d22 asymmetric probe over a (doc_id, sig, hsh) index: the band
    * rows `isNew` keeps from the admitted bands equi-join every admitted
    * band row, and each candidate pair is exact-Jaccard verified — every
    * pair includes at least one new doc, and old×old is never paired.
    */
  private def incrementalPairs(idx: DataFrame, isNew: DataFrame => DataFrame): DataFrame = {
    val bandsAll = admitted(
      minhashBands(idx.select(col("doc_id"), col("sig"))), Seq("band", "bkey"), 2, MaxBucket)
    val bandsNew = isNew(bandsAll).withColumnRenamed("doc_id", "new_id")
    bandsAll.join(bandsNew, Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("new_id"))
      .select(least(col("doc_id"), col("new_id")).as("id_a"),
        greatest(col("doc_id"), col("new_id")).as("id_b"))
      .distinct()
      .join(idx.select(col("doc_id").as("id_a"), col("hsh").as("sh_a")), "id_a")
      .join(idx.select(col("doc_id").as("id_b"), col("hsh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** MinHash band explode → bucket group → capped candidate pairs, from a
    * (doc_id, sig) frame. Exposed for DedupSpec's bucket-explosion
    * property test.
    */
  private[operators] def minhashBandCandidates(sig: DataFrame,
                                               maxBucket: Int = MaxBucket): DataFrame =
    admitted(minhashBands(sig), Seq("band", "bkey"), 2, maxBucket)
      .groupBy("band", "bkey")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()

  /** d04 core: within-block all-pairs exact Jaccard over a
    * (doc_id, lang, source, sh) frame — with the block admission decided
    * COUNT-FIRST (`admitted`), exactly like d03's LSH buckets: a
    * degenerate block — a crawl where one source dominates — is dropped
    * BEFORE the self-join can build its pairs. Without the cap this was
    * the catalog's last unbounded quadratic: pair count grows as Σ|block|²
    * and a single million-doc block is 5·10¹¹ pairs. With it, pairs ≤
    * #blocks · maxBlock²/2 — bounded by a config constant, not the data.
    * Dropped blocks are not silently un-deduped at scale: metadata
    * blocking is the didactic contrast here, and oversized blocks are
    * exactly the regime where the shipped scale path (d03's banded LSH,
    * which subdivides by CONTENT, not metadata) takes over. Exposed for
    * DedupSpec's block-explosion property test.
    */
  private[operators] def blockedJaccardPairs(d: DataFrame,
                                             maxBlock: Int = MaxBucket): DataFrame = {
    val adm = admitted(d, Seq("lang", "source"), 2, maxBlock)
    val a = adm.select(col("lang"), col("source"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = adm.select(col("lang"), col("source"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("lang", "source"))
      .filter(col("id_a") < col("id_b"))
      .select(col("lang"), col("source"), col("id_a"), col("id_b"),
        jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** d10 core over distinct (doc_id, tok) rows — exposed so DedupSpec can
    * drive it with crafted token sets (directional semantics, df-cap
    * exclusion) independent of the fixture.
    */
  private[operators] def containmentPairs(toks: DataFrame): DataFrame = {
    val rare = admitted(toks, Seq("tok"), 2, DfCap)
    val rareSz = rare.groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
    val a = rare.select(col("tok"), col("doc_id").as("id_a"))
    val b = rare.select(col("tok"), col("doc_id").as("id_b"))
    a.join(b, "tok")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_common"))
      .join(rareSz.select(col("doc_id").as("id_a"), col("n_rare").as("n_rare_a")), "id_a")
      .filter(col("n_rare_a") >= MinRareShingles)
      .withColumn("containment",
        col("n_common").cast("double") / col("n_rare_a").cast("double"))
      .filter(col("containment") >= ContainmentThreshold)
      .select("id_a", "id_b", "n_rare_a", "n_common", "containment")
  }

  /** Connected components over undirected near-dup pairs (id_a, id_b) by
    * iterative min-label propagation: every endpoint starts labeled with
    * itself; each round a node takes the min label in its closed
    * neighborhood; fixpoint when no label changes. Rounds = component
    * diameter (dup clusters are shallow), each round is one equi-join +
    * one agg, and only a 1-row convergence count reaches the driver.
    * Returns (doc_id, cluster_id = min doc_id in the component).
    * Exposed for DedupSpec's chain-transitivity test.
    */
  private[operators] def connectedComponents(pairs: DataFrame,
                                             maxRounds: Int = MaxCcRounds): DataFrame = {
    // The loop tunes spark.sql.shuffle.partitions to the edge set; that
    // override runs on an ISOLATED CHILD SESSION (`newSession()`: shared
    // SparkContext, private SQLConf), so a concurrent runner executing
    // other queries on the caller's session can never observe it
    // (ConfHygieneSpec pins d07-concurrent-with-q04 correctness). The
    // session hand-off goes through storage both ways — the input pairs
    // are written to scratch once (cheap: the dup-graph edge list, which
    // the old code persisted anyway) and re-read on the child; the
    // result returns as a storage-backed frame on the CALLER's session.
    val owner = pairs.sparkSession
    val spark = graft.Materialize.loopSession(owner)
    // undirected edges + self-loops (self-loop keeps a node's own label
    // in the min; symmetric closure makes propagation direction-free)
    val pa = graft.Materialize.toStorage(pairs.toDF("id_a", "id_b"), "cc_input", spark)
    val edges = pa
      .union(pa.select(col("id_b"), col("id_a")))
      .union(pa.select(col("id_a"), col("id_a")))
      .union(pa.select(col("id_b"), col("id_b")))
      .toDF("src", "dst").distinct()
      .persist()
    // size the per-round shuffles to the EDGE SET, not the global config:
    // the dup graph is orders of magnitude smaller than the corpus that
    // produced it, and the loop pays the partition fixed cost every round.
    // (The count also materializes the persisted edges before the loop.)
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nParts = math.max(8, math.min(defaultParts, (edges.count() / 100000L).toInt))
    spark.conf.set("spark.sql.shuffle.partitions", nParts.toString)
    // AQE is OFF on this child session (Materialize.loopSession): every
    // propagation round is the same fixed shape — a tiny equi-join + a
    // hash agg at a partition count already sized to the edge set above.
    // AQE can't improve that plan, but it turns every exchange into its
    // own driver job; at dup-graph scale the loop's wall-clock is
    // per-job driver overhead, not executor work (measured on p04: 104
    // jobs, 29 s task time but only ~1 s of it parallel — the other
    // ~13 s of wall was scheduling/planning gaps). Static planning cuts
    // the loop to one job per action (p04 13.7 → 7.5 s, d07 3.5 → 2.9 s
    // at sf0.1).
    try {
      def propagate(lbls: DataFrame): DataFrame =
        edges.join(lbls, edges("dst") === lbls("doc_id"))
          .groupBy(col("src"))
          .agg(min(col("lbl")).as("lbl"))
          .select(col("src").as("doc_id"), col("lbl"))
      // convergence via the label-sum invariant: min-propagation only
      // ever DECREASES a vertex's label, so Σ labels strictly decreases
      // iff any label changed — "sum unchanged across two steps" ⟺
      // fixpoint. One map-side-combined agg per probe (|V| rows reduced
      // in place) replaces the previous next⋈prev join + count, which
      // shuffled both label frames just to find zero differences. Sum in
      // DECIMAL(38,0): exact up to ~1e38, far above |V|·max(doc_id) at
      // any real corpus.
      def labelSum(lbls: DataFrame): java.math.BigDecimal = {
        val s = lbls.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
        if (s == null) java.math.BigDecimal.ZERO else s // empty graph: fixpoint at once
      }
      var labels = edges.select(col("src").as("doc_id"), col("src").as("lbl")).distinct()
      var prevSum = labelSum(labels)
      var converged = false
      var rounds = 0
      while (!converged && rounds < maxRounds) {
        // TWO propagation steps per driver round-trip: labels only ever
        // decrease (min-propagation is monotone), so "unchanged across two
        // steps" ⟺ fixpoint — and the convergence probe is a full job,
        // which at small per-round data is the dominant cost. Halving the
        // probe/persist cycles ≈ halves the loop's wall-clock.
        val next = propagate(propagate(labels)).persist()
        val prev = labels
        val nextSum = labelSum(next) // 1 row to the driver
        if (rounds > 0) prev.unpersist()
        labels = next
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        rounds += 2
      }
      if (!converged) {
        labels.unpersist() // don't leak the final round's cache on the error path
        throw new IllegalStateException(
          s"connectedComponents hit the $maxRounds-round cap without converging: " +
            "component diameter exceeds the cap; emitting partial labels would be wrong")
      }
      // store the result (scratch parquet) so the final round's persisted
      // frame can be released HERE without invalidating the result —
      // otherwise every invocation either leaks one cached dataset for the
      // session lifetime, or (cache-materialized + unpersist) re-runs the
      // whole propagation on every later read. See Materialize.toStorage.
      // Read back on the CALLER's session: downstream consumers (d11's
      // survivor join) compose it with caller-session frames.
      val out = graft.Materialize.toStorage(
        labels.select(col("doc_id"), col("lbl").as("cluster_id")), "cc_labels", owner)
      labels.unpersist()
      out
    } finally {
      // no conf restore needed — the override lives and dies with the
      // child session's private SQLConf
      edges.unpersist()
    }
  }

  /** d13 core over any (source, text) frame — extracted so the
    * normalization collapse, the within-source distinct (n_copies inside
    * one source count once), and the pair containment arithmetic are
    * unit-testable on crafted rows. The matrix is FULL: every unordered
    * source pair gets a row, zero cells included — a provenance audit's
    * "these sources share nothing" is a finding, not an absence (and the
    * all-pairs frame is |sources|², metadata-sized at any corpus scale).
    */
  private[operators] def crossSourceDupMatrix(docs: DataFrame): DataFrame = {
    val fp = docs
      .select(col("source"), rolling_fingerprint(normText(col("text"))).as("fp"))
      .distinct()
    val sizes = fp.groupBy("source").agg(count(lit(1)).as("n_texts"))
    val shared = fp.select(col("fp"), col("source").as("src_a"))
      .join(fp.select(col("fp"), col("source").as("src_b")), "fp")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
    sizes.select(col("source").as("src_a"), col("n_texts").as("n_texts_a"))
      .crossJoin(broadcast(sizes.select(col("source").as("src_b"), col("n_texts").as("n_texts_b"))))
      .filter(col("src_a") < col("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_texts_a"), col("n_texts_b"),
        (coalesce(col("n_shared"), lit(0L)).cast("double")
          / least(col("n_texts_a"), col("n_texts_b")).cast("double")).as("containment"))
      .orderBy("src_a", "src_b")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: group identical text, keep lowest doc_id. The heavy
    // variant would group by fingerprint first to avoid shuffling raw text
    // — d02 shows that; here the semantics are the point.
    "d01_dedup_exact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    }),

    // normalized exact dedup, hash-first: normalize → 64-bit rolling
    // fingerprint → group by the fingerprint (8 bytes shuffled per doc
    // instead of the full text — the only workable exact dedup at 100 TB).
    "d02_dedup_normalized" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), rolling_fingerprint(normText(col("text"))).as("fp"))
        .groupBy("fp")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    }),

    // CROSS-SOURCE DUPLICATE MATRIX — the provenance audit behind a
    // licensing/attribution review: which sources carry the SAME
    // (normalized-exact) texts, pairwise. d06 answers "how similar are
    // two sources' vocabularies" (shingle Jaccard); this answers "who
    // copies whom" at document granularity. (source, fingerprint) is
    // deduped FIRST, so the per-fingerprint self-join fans out at most
    // |sources| ways per distinct text — never n_copies² — and the
    // shuffle carries 8-byte fingerprints (d02's discipline). Output is
    // ≤ |sources|² rows with the shared-text count and the containment
    // fraction against the smaller side.
    "d13_cross_source_dup_matrix" -> ((s, dir) =>
      crossSourceDupMatrix(Tables.documents(s, dir))),

    // MinHash+LSH near-dup pairs, exact-verified. Stages:
    //   sketch (map, once) → band explode (map, ×32) → bucket group →
    //   candidate pairs → join hashed shingles back → exact Jaccard
    //   filter. The sketch table is materialized once and feeds all three
    //   uses (banding + both verify sides).
    "d03_minhash_lsh" -> ((s, dir) =>
      nearDupPairs(s, dir).orderBy("id_a", "id_b")),

    // MINHASH CALIBRATION CURVE — the sketch-quality report a dedup
    // operator reads before trusting estimated Jaccard as a dedup
    // signal: over ANY-min-agrees candidate pairs (k = 16, 1-row
    // bands, the d03 bucket cap), bucket pairs by their signature
    // agreement count and compare the estimator (n_agree/k) against
    // the EXACT shingle Jaccard per bucket. Estimator arithmetic is
    // integer (agreement counts, ppb fixed-point via integer div);
    // the per-bucket exact mean sums floor(|I|·10⁹/|U|) integers —
    // order-free, so the whole curve gates hash-exactly. The oracle
    // restates the SKETCH itself (xxh64 string hash → per-hash
    // splitmix64 with the same derived mix keys → SIGNED min), not
    // just the pair semantics — the d03 oracle's brute-force shortcut
    // would prove nothing about the estimator. Scale shape: sketching
    // is scan-speed, candidates are capped-bucket-join-bounded, and
    // the output is ≤ k+1 rows.
    "d16_minhash_calibration" -> ((s, dir) => {
      val (sk, cand) = calibSketchAndCandidates(s, dir)
      locally {
        val scored = cand
          .join(sk.select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
            col("hsh").as("hsh_a")), "id_a")
          .join(sk.select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
            col("hsh").as("hsh_b")), "id_b")
          .select(
            aggregate(zip_with(col("sig_a"), col("sig_b"),
                (x, y) => when(x === y, 1L).otherwise(0L)),
              lit(0L), (acc, v) => acc + v).as("n_agree"),
            expr("""CAST(size(array_intersect(hsh_a, hsh_b)) AS BIGINT) * 1000000000
                   | DIV CAST(size(array_union(hsh_a, hsh_b)) AS BIGINT)""".stripMargin)
              .as("exact_ppb"))
        scored.groupBy("n_agree")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("exact_ppb").cast("decimal(38,0)")).as("sum_ppb"))
          .select(col("n_agree"),
            expr(s"CAST(n_agree * 1000000000 DIV $CalibK AS BIGINT)")
              .as("est_jaccard_ppb"),
            col("n_pairs"),
            (col("sum_ppb").cast("double") / col("n_pairs").cast("double")
              / 1000000000.0).as("mean_exact_jaccard"))
          .orderBy("n_agree")
      }
    }),

    // LEXICAL kNN — per-document top-3 most-similar documents by EXACT
    // (hashed-shingle) Jaccard, candidates from the k=16 1-row-band
    // sketch (calibSketchAndCandidates): the "show me this document's
    // nearest neighbors" serving query of a dedup/provenance UI, and the
    // lexical twin of e04b's embedding NN lists. Candidate recall is the
    // d16-calibrated 1−(1−J)^16 curve (a J=0.2 neighbor is a candidate
    // with P≈0.97; the J≥0.8 regime d03 governs is captured at
    // 1−3e-12), so unlike d03 the list reaches DOWN into moderate
    // similarity — which is exactly what a kNN view is for. Scale shape:
    // sketch at scan speed, capped-bucket candidates, exact verify over
    // 8-byte hash arrays, one bounded window per doc — never all-pairs.
    "d21_lexical_knn" -> ((s, dir) => {
      val (sk, cand) = calibSketchAndCandidates(s, dir)
      val scored = cand
        .join(sk.select(col("doc_id").as("id_a"), col("hsh").as("hsh_a")), "id_a")
        .join(sk.select(col("doc_id").as("id_b"), col("hsh").as("hsh_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          expr("""CAST(size(array_intersect(hsh_a, hsh_b)) AS BIGINT) * 1000000000
                 | DIV CAST(size(array_union(hsh_a, hsh_b)) AS BIGINT)""".stripMargin)
            .as("exact_ppb"))
      val sym = scored
        .select(col("id_a").as("doc_id"), col("id_b").as("nbr_id"), col("exact_ppb"))
        .unionByName(scored
          .select(col("id_b").as("doc_id"), col("id_a").as("nbr_id"), col("exact_ppb")))
      // top-3 via the bounded top_k aggregator, not a row_number window
      // (round 13, the e18 discipline): each task forwards ≤ k rows per
      // doc instead of shuffle-sorting the whole symmetric candidate
      // stream. Same (ppb DESC, id ASC) total order; ppb ≤ 1e9 < 2^53 so
      // the double round-trip through the aggregator is value-exact.
      sym.groupBy("doc_id")
        .agg(graft.functions.TopKAggregator.top_k(
          col("exact_ppb").cast("double"), col("nbr_id"), LexKnnK.toInt).as("tk"))
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "s")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
          col("s.id").as("nbr_id"), col("s.score").cast("long").as("exact_ppb"))
        .orderBy("doc_id", "rank")
    }),

    // LSH BAND-GEOMETRY AUDIT — the round-11 derivation (see
    // derivedBandRows) as a gated row: threshold ratio → the derived
    // (rows_per_band, n_bands) and the at-threshold miss probability in
    // ppb, all from the 2^-60 fixed-point squaring chain both engines
    // run step-for-step (the d16 pattern: the oracle restates the
    // DERIVATION, not just the result). n_sketched anchors the row to
    // the corpus (the doc population the geometry governs). If either
    // engine's chain drifts by one floor, this row fails before d03's
    // candidate set silently changes.
    "d17_lsh_geometry" -> ((s, dir) => {
      import s.implicits._
      val m = lshMissFp(JaccardTNum, JaccardTDen, RowsPerBand, MinHashK)
      val nSketched = shingled(s, dir).count()
      Seq((MinHashK.toLong, JaccardTNum, JaccardTDen, RowsPerBand.toLong,
        Bands.toLong, ((m * 1000000000L) >> 60).toLong, nSketched))
        .toDF("sig_k", "t_num", "t_den", "rows_per_band", "n_bands",
          "miss_ppb", "n_sketched")
    }),

    // JACCARD THRESHOLD SWEEP — d03's aggressiveness tuning curve (the
    // e20 pattern applied to text near-dup): pair count, docs dropped
    // (greedy keep-lowest — the higher id of each pair, d07's
    // convention), and drop rate at θ ∈ {0.80, 0.85, 0.90, 0.95}, all
    // FILTERS over ONE verified pair frame — the banding runs once at
    // the derived 0.8 geometry, and every sweep point is above that
    // threshold so band recall covers it (sweeping BELOW the derived
    // threshold would need a re-derived geometry; d17 is the knob).
    // What a dedup owner reads before committing to an aggressiveness:
    // how fast does the duplicate mass thin as the bar rises.
    "d18_jaccard_sweep" -> ((s, dir) => {
      // Materialized (persist+count, swept by Bench's fence like every
      // other shared frame): the four sweep branches then read one
      // cached pair frame instead of re-running the band+verify chain
      val pairs = graft.Materialize(
        nearDupPairs(s, dir).select(col("id_b"), col("jaccard")))
      val tot = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
      Seq(80, 85, 90, 95).map { t =>
        pairs.filter(col("jaccard") >= t / 100.0)
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("id_b")).as("n_dropped"))
          .select(lit(t.toLong).as("threshold_pct"), col("n_pairs"), col("n_dropped"))
      }.reduce(_ unionAll _)
        .crossJoin(broadcast(tot))
        .select(col("threshold_pct"), col("n_pairs"), col("n_dropped"),
          (col("n_dropped").cast("double") / col("n").cast("double")).as("drop_rate"))
        .orderBy("threshold_pct")
    }),

    // DEDUP STRATEGY AGREEMENT — the report a dedup owner reads before
    // choosing (or stacking) families: the verified MinHash-Jaccard
    // pair set (d03: j ≥ 0.8) and the SimHash Hamming ≤ 3 pair set
    // (d05) full-outer-joined into three classes — both, minhash_only,
    // simhash_only — each class scored by its exact hashed-shingle
    // Jaccard (count + fixed-point mean + min/max ppb, the d16
    // arithmetic, so the whole report gates hash-exactly). The classic
    // finding this surfaces: SimHash's bit-vote similarity admits pairs
    // whose Jaccard is far below d03's bar (shared vocabulary, different
    // composition) and misses some j ≥ 0.8 pairs whose differing
    // shingles happen to flip ≥ 4 sketch bits — the strategies are NOT
    // nested, and the report measures the asymmetry instead of assuming
    // it. Scale shape: both pair generators are their banded/capped
    // at-scale forms; the join and stats are pair-bounded.
    "d19_strategy_agreement" -> ((s, dir) => {
      val mh = nearDupPairs(s, dir)
        .select(col("id_a"), col("id_b"), lit(1L).as("in_mh"))
      val sp = simhashPairs(s, dir)
        .select(col("id_a"), col("id_b"), lit(1L).as("in_sh"))
      val cls = mh.join(sp, Seq("id_a", "id_b"), "full_outer")
        .select(col("id_a"), col("id_b"),
          when(col("in_mh").isNotNull && col("in_sh").isNotNull, "both")
            .when(col("in_mh").isNotNull, "minhash_only")
            .otherwise("simhash_only").as("strategy"))
      val sk = sketched(s, dir)
      cls
        .join(sk.select(col("doc_id").as("id_a"), col("hsh").as("sh_a")), "id_a")
        .join(sk.select(col("doc_id").as("id_b"), col("hsh").as("sh_b")), "id_b")
        .select(col("strategy"),
          expr("""CAST(size(array_intersect(sh_a, sh_b)) AS BIGINT) * 1000000000
                 | DIV CAST(size(array_union(sh_a, sh_b)) AS BIGINT)""".stripMargin)
            .as("jppb"))
        .groupBy("strategy")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("jppb").cast("decimal(38,0)")).as("sum_ppb"),
          min("jppb").as("min_jaccard_ppb"),
          max("jppb").as("max_jaccard_ppb"))
        .select(col("strategy"), col("n_pairs"),
          (col("sum_ppb").cast("double") / col("n_pairs").cast("double")
            / 1000000000.0).as("mean_jaccard"),
          col("min_jaccard_ppb"), col("max_jaccard_ppb"))
        .orderBy("strategy")
    }),

    // CLUSTER PURITY — the transitive-chaining audit a dedup owner runs
    // before trusting d07's components as "one document each": connected
    // components glue pairs transitively, so a cluster can contain pairs
    // (a, c) that were never verified similar (a~b ≥ 0.8 and b~c ≥ 0.8
    // admit J(a, c) far below 0.8). Per cluster SIZE this reports how
    // many intra-cluster pairs meet the direct bar vs ride chains only,
    // with exact hashed-shingle Jaccard stats (d16's ppb arithmetic) —
    // the number that tells you whether min-label survivorship (d11) is
    // deleting non-duplicates. Scale shape: pair enumeration is capped
    // per cluster (ClusterPurityCap, skipped clusters reported, never
    // silently dropped); everything shuffles as ids + jppb longs.
    "d20_cluster_purity" -> ((s, dir) =>
      clusterPurity(nearDupClusters(s, dir),
        sketched(s, dir).select(col("doc_id"), col("hsh")))),

    // blocking on metadata (lang, source) instead of LSH: the classic
    // "cheap key first" candidate strategy. Exact Jaccard inside blocks,
    // global top-50 most-similar pairs. Shingles are hashed to int64
    // BEFORE the pair join: intersect/union cardinalities (and hence
    // jaccard) are unchanged (64-bit collisions are ~1e-14 here), while
    // the arrays shuffled through the n²-per-block join shrink ~25× and
    // compare as primitives instead of strings. Blocks are CAPPED
    // count-first (blockedJaccardPairs) — see the helper's doc for why
    // the n²-per-block join needs the same admission discipline as d03's
    // LSH buckets.
    "d04_ngram_jaccard_blocked" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          sort_array(transform(wordShingles(col("text"), 3), g => xxhash64(g))).as("sh"))
        .filter(size(col("sh")) > 0)
      blockedJaccardPairs(d)
        .orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc)
        .limit(50)
    }),

    // INCREMENTAL dedup — the daily-ingest shape: new arrivals (doc_id ≥
    // 400 here; an ingest date in production) are near-dup-checked against
    // the WHOLE corpus without ever re-pairing old×old. The band join is
    // asymmetric: full-corpus band rows equi-join the NEW docs' band rows
    // only, so candidate work scales with |new| × bucket width, not
    // |corpus|² — at 100 TB the new side's band keys are a broadcastable
    // sliver of the day's data. Every pair includes ≥1 new doc by
    // construction; jaccard-verified exactly like d03.
    "d08_incremental_dedup" -> ((s, dir) => {
      val cutoff = 400L
      incrementalPairs(sketched(s, dir), _.filter(col("doc_id") >= cutoff))
        .orderBy("id_a", "id_b")
    }),

    // SIGNATURE-TABLE MAINTENANCE — the missing piece between d08
    // (incremental QUERYING of a corpus) and v01 (maintained aggregates):
    // the MinHash signature/band table is itself the persisted artifact,
    // and an ingest batch applies to it as UPSERTS — new docs' signatures
    // in, updated docs' rows replaced, tombstoned docs' bands out (q51's
    // latest-wins discipline on d03's index). The maintenance identity
    // upsert(stored, batch) == rebuild(final corpus) is audited inside
    // the query over BOTH the signature table and the derived band table,
    // and rides the gated output as mismatch counts the oracle pins at
    // zero. The probe then answers "what duplicates did this batch
    // introduce" from the MERGED index alone — d08's asymmetric band
    // join: changed docs' band rows against the whole maintained table,
    // exact-Jaccard verified (recall ⊇ d03's: a final-corpus pair's
    // band buckets only SHRINK when tombstoned docs leave, and both
    // members being present keeps every shared bucket admitted).
    //
    // Scale shape: the stored index is O(corpus) rows of 128 ints + the
    // hashed shingles — orders of magnitude under the text — and the
    // update never re-sketches unchanged docs: sketch cost is O(|batch|),
    // the upsert is two doc_id anti-joins + a union, the identity audit
    // two key-joins over index rows, and probe cost |changed| × bucket
    // width. At 100 TB this is the difference between re-deriving the
    // signature table per run (full-corpus scan + sketch, what a
    // production pipeline without this operator does) and maintaining it.
    "d22_signature_maintenance" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val tomb = col("doc_id") % D22Tomb === 0
      val ins  = !tomb && col("doc_id") % D22Ins === 0
      val upd  = !tomb && !ins && col("doc_id") % D22Upd === 0
      // ONE corpus sketch pass (persisted) serves all three snapshots;
      // only the updates' legacy revisions sketch separately (|upd| docs).
      // In production `stored` is a parquet scan of yesterday's index —
      // here it is assembled from the same sketch pass (unchanged+tomb
      // rows verbatim, updates re-sketched from the legacy revision) and
      // feeds the upsert once, so MERGED is the materialized artifact.
      val sk = sketched(s, dir)
      val stored = sk.filter(!ins && !upd).unionByName(sketchOf(
        docs.filter(upd).withColumn("text",
          concat(col("text"), lit(" legacy revision")))))
      val deltaSigs = sk.filter(ins || upd)
      val changedIds = docs.filter(ins || upd).select("doc_id")
      val tombIds = docs.filter(tomb).select("doc_id")
      val merged = graft.Materialize(
        upsertSignatureIndex(stored, changedIds, deltaSigs, tombIds))
      // maintenance identity vs the full rebuild — a broken admit,
      // update, or delete path leaves a missing/stale/orphaned row one
      // of these two full-outer key-joins counts
      val rebuilt = sk.filter(!tomb)
      val sigMis = merged
        .select(col("doc_id"), col("sig").as("sig_m"), col("hsh").as("hsh_m"))
        .join(rebuilt.select(col("doc_id"), col("sig").as("sig_r"), col("hsh").as("hsh_r")),
          Seq("doc_id"), "full_outer")
        .filter(col("sig_m").isNull || col("sig_r").isNull ||
          col("sig_m") =!= col("sig_r") || col("hsh_m") =!= col("hsh_r"))
        .agg(count(lit(1)).as("sig_mismatches"))
      val bandMis = minhashBands(merged.select(col("doc_id"), col("sig")))
        .withColumnRenamed("bkey", "bkey_m")
        .join(minhashBands(rebuilt.select(col("doc_id"), col("sig")))
            .withColumnRenamed("bkey", "bkey_r"),
          Seq("doc_id", "band"), "full_outer")
        .filter(col("bkey_m").isNull || col("bkey_r").isNull ||
          col("bkey_m") =!= col("bkey_r"))
        .agg(count(lit(1)).as("band_mismatches"))
      // the batch's new duplicates, from the maintained index alone
      incrementalPairs(merged, _.join(changedIds, Seq("doc_id")))
        .crossJoin(broadcast(sigMis))
        .crossJoin(broadcast(bandMis))
        .orderBy("id_a", "id_b")
    }),

    // EXACT similarity join via prefix filtering (the PPJoin family —
    // Xiao et al., "Efficient Similarity Joins for Near Duplicate
    // Detection", WWW 2008): unlike LSH (d03, probabilistic recall) or
    // metadata blocking (d04, n² inside unbounded blocks), this finds
    // EVERY pair with Jaccard ≥ t and never compares all pairs. Order all
    // shingles by global rarity (document frequency asc); a doc's PREFIX
    // is its |sh| − ceil(t·|sh|) + 1 rarest shingles. If J(x,y) ≥ t the
    // prefixes must intersect (missing the whole prefix caps the overlap
    // below t·|x|), so candidates = an equi-join on prefix shingles —
    // keyed by the RAREST tokens, which is what bounds bucket width; a
    // size-compatibility filter (min/max ≥ t) prunes further, and exact
    // Jaccard verifies. Shuffles: one DF count keyed by shingle, one
    // per-doc sort, one candidate join keyed by rare shingles — all
    // linear-ish in corpus size; candidate fan-out degrades only if the
    // corpus is so self-similar that rare tokens stop existing (the
    // positional/suffix filters of full PPJoin are the published
    // refinement for that regime).
    "d09_prefix_filter_join" -> ((s, dir) => {
      val t = PrefixJaccard
      val sk = sketched(s, dir).select(col("doc_id"), col("hsh"), size(col("hsh")).as("n"))
      val toks = sk.select(col("doc_id"), col("n"), explode(col("hsh")).as("tok"))
      val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      // per doc: sort its shingles by (global rarity, shingle) and keep
      // the prefix. FP note: t is the binary double just below 0.6, so
      // ceil(n*t) ≤ ceil(0.6n) — the prefix can only come out longer than
      // the exact formula, never shorter (no lost candidates).
      // singleton shingles (global df = 1) are kept for the ORDERING —
      // they occupy prefix positions — but dropped from the join input
      // afterwards: a token only one doc contains can never connect two
      // docs, and in natural text most rare shingles are singletons, so
      // this shrinks the candidate join's probe sides by the largest
      // factor available without losing a single true pair.
      val pre = toks.join(dfreq, "tok")
        .groupBy("doc_id", "n")
        .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ordered"))
        .select(col("doc_id"), col("n"),
          posexplode(slice(col("ordered"),
            lit(1), (col("n") - ceil(col("n") * t) + 1).cast("int"))).as(Seq("pos0", "o")))
        .filter(col("o.df") > 1)
        .select(col("doc_id"), col("n"), (col("pos0") + 1).as("pos"), col("o.tok").as("tok"))
      // POSITIONAL filter (the "P" of PPJoin): a match at 1-based sorted
      // positions (i, j) caps the overlap at 1 + min(n_a−i, n_b−j); a true
      // pair needs overlap ≥ α = ⌈t/(1+t)·(n_a+n_b)⌉, and its FIRST common
      // token always sits inside both prefixes and passes this cap, so
      // keeping pairs where ANY match passes loses nothing. On a
      // shared-template corpus (many docs sharing SOME boilerplate
      // shingles) this is what separates "shares a rare token" from
      // "could actually clear the threshold" — it cuts candidates by
      // orders of magnitude. The α factor rounds DOWN in FP (0.6/1.6 →
      // one ulp under 0.375), which only loosens the test — never drops a
      // true pair.
      val alphaF = t / (1.0 + t)
      val ca = pre.select(col("tok"), col("doc_id").as("id_a"),
        col("n").as("n_a"), col("pos").as("pos_a"))
      val cb = pre.select(col("tok"), col("doc_id").as("id_b"),
        col("n").as("n_b"), col("pos").as("pos_b"))
      val cand = ca.join(cb, "tok")
        .filter(col("id_a") < col("id_b") &&
          least(col("n_a"), col("n_b")).cast("double") >=
            greatest(col("n_a"), col("n_b")) * t &&
          lit(1) + least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b")) >=
            ceil((col("n_a") + col("n_b")) * alphaF))
        .select("id_a", "id_b").distinct()
      val av = sk.select(col("doc_id").as("id_a"), col("hsh").as("sh_a"))
      val bv = sk.select(col("doc_id").as("id_b"), col("hsh").as("sh_b"))
      cand.join(av, "id_a").join(bv, "id_b")
        .select(col("id_a"), col("id_b"), jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
        .filter(col("jaccard") >= t)
        .orderBy("id_a", "id_b")
    }),

    // ASYMMETRIC CONTAINMENT — the quote/subset detector Jaccard misses:
    // a short doc pasted into a long one has tiny Jaccard (union is the
    // long doc) but containment |S(a)∩S(b)| / |S(a)| ≈ 1. The standard
    // curation use: drop docs that are mostly quotes of another doc.
    // Candidates come from an equi-join on RARE shingles only — a
    // document-frequency cap (df ≤ DfCap, and df ≥ 2 since a singleton
    // connects nothing) bounds the per-shingle fan-out to DfCap docs ⇒
    // ≤ DfCap² pairs per shingle at ANY corpus size, the same bound
    // d09's prefix filter relies on; ubiquitous shingles are background
    // vocabulary, not containment evidence. Containment is computed over
    // that same rare universe (stated identically in the oracle), so the
    // division is integer/integer — exact. Directional output: (id_a
    // contained-in id_b) and (b in a) are different claims; both sides
    // emitted when both clear the threshold.
    "d10_containment" -> ((s, dir) => {
      val sk = sketched(s, dir)
      containmentPairs(sk.select(col("doc_id"), explode(col("hsh")).as("tok")))
        .orderBy("id_a", "id_b")
    }),

    // duplicate-CLUSTER resolution: pairwise near-dup output (d03) is not
    // actionable until pairs become clusters with one canonical doc each
    // (A~B, B~C must collapse to {A,B,C} keep-A, even when A~C was never
    // emitted). Connected components via iterative min-label propagation:
    // every doc in a dup pair starts labeled with itself; each round every
    // doc takes the min label in its neighborhood; converged when no label
    // changes. Rounds = cluster diameter (near-dup clusters are shallow —
    // a handful of shuffles at any corpus size), each round one equi-join
    // + one agg, nothing but a 1-row convergence count ever reaches the
    // driver. Output: (doc_id, cluster_id = min reachable doc_id).
    "d07_dup_clusters" -> ((s, dir) => nearDupClusters(s, dir).orderBy("doc_id")),

    // CLUSTER-SIZE SPECTRUM — t31's floor-log2 spectrum over d07's
    // near-dup clusters: the dedup-severity audit (a spectrum bulging at
    // high buckets means template farms / mirror floods, and it sizes
    // d11's survivorship work). Completes the spectrum trio: t31
    // vocabulary, g09 degrees, d14 duplicate clusters. Everything after
    // d07's closure is a |clusters|-row agg then ≤ 63 bucket rows.
    "d14_cluster_size_spectrum" -> ((s, dir) =>
      clusterSizeSpectrum(nearDupClusters(s, dir))),

    // SURVIVORSHIP — the decision a dedup pass actually ships: for every
    // near-dup cluster (d07's components), keep ONE canonical document
    // and mark the rest dropped. Policy here is the common web-corpus
    // rule "longest version wins, earliest id breaks ties" — stated as a
    // single max_by over a struct ordering key, so electing survivors is
    // one hash agg (constant state per cluster, map-side combinable)
    // plus a winners join-back that is broadcast-sized: clusters are
    // tiny relative to the corpus at any scale. Composes d07 ∘ metadata;
    // all integers ⇒ exact under the closure-window oracle.
    "d11_survivorship" -> ((s, dir) => {
      val c = nearDupClusters(s, dir)
        .join(Tables.documents(s, dir).select(col("doc_id"), col("n_chars")), "doc_id")
      val winners = c.groupBy("cluster_id").agg(
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).as("keep_id"),
        count(lit(1)).as("n_members"))
      c.join(broadcast(winners), "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("n_chars"),
          (col("doc_id") === col("keep_id")).as("keep"), col("n_members"))
        .orderBy("doc_id")
    }),

    // corpus-level set similarity: exact Jaccard between the distinct-
    // shingle UNIVERSES of en-language sources. The pair discovery is a
    // join on the shingle (shuffle keyed by shingle — scales with corpus
    // size, not with source-pair count); only intersecting source pairs
    // surface. The MinHashMergeAggregator estimates this same quantity
    // from constant-size sketches — DedupSpec asserts the estimate tracks
    // this exact answer.
    "d06_source_shingle_jaccard" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .filter(col("lang") === "en")
        .select(col("source"), explode(wordShingles(col("text"), 3)).as("g"))
        .distinct()
      val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
      val a = sh.select(col("source").as("src_a"), col("g"))
      val b = sh.select(col("source").as("src_b"), col("g"))
      val inter = a.join(b, "g")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
        .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_inter"),
          (col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
        .orderBy("src_a", "src_b")
    }),

    // SimHash near-dup: 64-bit sketch per doc; pairs within Hamming
    // distance ≤ 3 found by splitting the hash into 4×16-bit bands
    // (pigeonhole: ≤3 differing bits ⇒ ≥1 band identical). Deterministic
    // integer arithmetic end-to-end, so the oracle restates ALL of it —
    // XXH64, majority vote, banding, cap — in DuckDB SQL (hash-exact);
    // DedupSpec keeps the structural invariants.
    "d05_simhash_pairs" -> ((s, dir) =>
      simhashPairs(s, dir).orderBy("id_a", "id_b")),

    // SUBSTRING-level duplicate mass — the span-granular sibling of the
    // doc-pair dedups above (the "dedup at the substring level" technique
    // from the training-data dedup literature: a document is penalized for
    // every W-token window that occurs anywhere else in the corpus,
    // including elsewhere in itself — repeated boilerplate, quoted spans,
    // templated intros). Per doc: window positions, positions whose window
    // text occurs ≥2× corpus-wide, and the duplicated fraction — the
    // memorization-risk score a curation pipeline thresholds on.
    //
    // Scale shape: raw text never shuffles. Windows leave the scan as
    // 64-bit xxhash64 values (~16 B/row vs ~50 B of text), the global
    // frequency agg is map-side combinable on those hashes, and the
    // join back is a hash equi-join — corpus-token-linear end to end. The
    // oracle counts the window STRINGS; equality-under-hash is the same
    // ~1e-14 collision argument `sketched` documents, and a collision
    // would surface as a hash_match failure, not silent corruption.
    "d12_substring_dup_mass" -> ((s, dir) =>
      substringDupMass(Tables.documents(s, dir)).orderBy("doc_id"))
  )

  /** d12 core over any (doc_id, text) frame — see the catalog entry for
    * semantics and the scale argument.
    */
  private[operators] def substringDupMass(docs: DataFrame): DataFrame = {
    val wins = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= SubstringW)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("w")) - SubstringW),
          i => concat_ws(" ", slice(col("w"), i + lit(1), lit(SubstringW))))).as("win"))
      .select(col("doc_id"), xxhash64(col("win")).as("h"))
    val freq = wins.groupBy("h").agg(count(lit(1)).as("cnt"))
    wins.join(freq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        (col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
          .as("dup_frac"))
  }

  /** d07/d11/d14 shared closure SQL — shingles → exact-Jaccard pairs →
    * symmetric+reflexive edges → recursive reachability, ending in
    * `clusters(doc_id, cluster_id)`. One definition so the three oracles
    * cannot drift (the s23 shared-text rule; these were three verbatim
    * copies before round 9).
    */
  private[operators] val duckClusterCtes: String =
    s"""WITH RECURSIVE ${DuckSql.shingleCtes()}, pairs AS (
      |  ${DuckSql.nearPairs("s", "0.8")}
      |), ${duckClosureCtes("pairs")}""".stripMargin

  /** d07's min-label closure over an id-pair CTE `<pairs>(id_a, id_b)`:
    * symmetric and reflexive `edges`, the recursive `reach`, and
    * `clusters(doc_id, cluster_id)`. Needs WITH RECURSIVE.
    */
  private[operators] def duckClosureCtes(pairs: String): String =
    s"""edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM $pairs
       |  UNION SELECT id_b, id_a FROM $pairs
       |  UNION SELECT id_a, id_a FROM $pairs
       |  UNION SELECT id_b, id_b FROM $pairs
       |), reach AS (
       |  SELECT src AS doc_id, dst AS reach_id FROM edges
       |  UNION
       |  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON r.reach_id = e.src
       |), clusters AS (
       |  SELECT doc_id, MIN(reach_id) AS cluster_id
       |  FROM reach GROUP BY doc_id
       |)""".stripMargin

  /** d05's banding over duckSimhashCtes' sketches: `bands(doc_id, hu,
    * band, bkey)`, the four 16-bit bands of each sketch, and
    * `admitted(band, bkey)`, the buckets of 2..MaxBucket sketches.
    */
  private def duckSimhashBandCtes: String = {
    val bdivs = (0 until 4).map(b =>
      s"($b, CAST('${BigInt(1) << (16 * b)}' AS HUGEINT))").mkString(",")
    s"""bands AS (
       |  SELECT doc_id, hu, band, (hu // bdiv) % 65536 AS bkey
       |  FROM sh CROSS JOIN (VALUES $bdivs) AS t(band, bdiv)
       |), admitted AS (
       |  SELECT band, bkey FROM bands GROUP BY band, bkey
       |  HAVING COUNT(*) > 1 AND COUNT(*) <= $MaxBucket
       |)""".stripMargin
  }

  /** d03's brute-force reference: every id-ordered pair of 3-shingle
    * sets with Jaccard ≥ `threshold`; `where` is an extra pair predicate
    * ending in AND. d08 and d09 gate on the same statement.
    */
  private def duckBrutePairs(threshold: String, where: String = ""): String =
    s"""WITH ${DuckSql.shingleCtes()}
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  ${DuckSql.jaccard("a.sh", "b.sh")} AS jaccard
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE ${where}len(a.sh) > 0 AND len(b.sh) > 0
       |  AND ${DuckSql.jaccard("a.sh", "b.sh")} >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** d12's word windows: `wins(doc_id, win)`, every SubstringW-token
    * window of the token lists `w` in `from` (docs of at least
    * SubstringW tokens), and `freq(win, cnt)`, each window's corpus
    * count. p03 and p05 gate on the same mass.
    */
  private[operators] def duckWindowCtes(from: String = "t"): String =
    s"""wins AS (
       |  SELECT doc_id,
       |    unnest([array_to_string(w[i:i+${SubstringW - 1}], ' ')
       |            for i in range(1, len(w) - ${SubstringW - 2})]) AS win
       |  FROM $from WHERE len(w) >= $SubstringW
       |), freq AS (
       |  SELECT win, COUNT(*) AS cnt FROM wins GROUP BY win
       |)""".stripMargin

  /** d20/e27's exact-Jaccard domain: `docsh(doc_id, g)` the shingles of
    * duckClusterCtes' `s`, and `shh(doc_id, hh)` each document's
    * distinct xxh64 shingle hashes — the engine's hashed-shingle lists.
    */
  private[operators] def duckShingleHashCtes: String =
    s"""docsh AS MATERIALIZED (
       |  SELECT doc_id, unnest(sh) AS g FROM s
       |), gr AS (
       |  SELECT g AS gid, g FROM (SELECT DISTINCT g FROM docsh)
       |), ${DuckHash.xxh64StrCtes()}, shh AS MATERIALIZED (
       |  SELECT d.doc_id, list(DISTINCT h.hv) AS hh
       |  FROM docsh d JOIN gh h ON h.gid = d.g
       |  GROUP BY d.doc_id
       |)""".stripMargin

  /** d16/d21 shared oracle chain — the calibration SKETCH restated
    * hash-for-hash: xxh64 per distinct shingle (the d05-proven string
    * chain), per-hash splitmix64 with the SAME derived mix keys as
    * literals, SIGNED min per (doc, hash) — then the 1-row-band
    * candidates (`cand`), capped buckets, agreement counts (`agree`),
    * and the integer fixed-point exact side (`ej`, over the xxh64-HASHED
    * shingle domain on BOTH engines so a shingle hash collision shifts
    * engine and oracle identically). Starts mid-WITH (compose as
    * `WITH $duckCalibCtes ...`).
    */
  private[operators] lazy val duckCalibCtes: String = {
    val keyRows = calibMixKeys.zipWithIndex
      .map { case (k, j) => s"($j, CAST('$k' AS HUGEINT))" }.mkString(", ")
    s"""tok AS (
       |  SELECT doc_id, ${DuckSql.tokens()} AS w
       |  FROM documents
       |), shd AS MATERIALIZED (
       |  SELECT doc_id,
       |    ${DuckSql.shingles3("w")} AS sh
       |  FROM tok WHERE len(w) >= 3
       |), docsh AS MATERIALIZED (
       |  SELECT doc_id, unnest(sh) AS g FROM shd
       |), gr AS (
       |  SELECT g AS gid, g FROM (SELECT DISTINCT g FROM docsh)
       |), ${DuckHash.xxh64StrCtes()}, mk AS (
       |  SELECT * FROM (VALUES $keyRows) mk(j, mkey)
       |), ids AS (
       |  SELECT h.gid, mk.j,
       |    CAST(xor(CAST(h.hv AS UBIGINT), CAST(mk.mkey AS UBIGINT)) AS HUGEINT) AS x
       |  FROM gh h, mk
       |), ${DuckHash.splitmix64Ctes("gid, j")}, sm AS (
       |  SELECT gid, j, ${DuckHash.toSigned("sv")} AS mv FROM smixed
       |), dmins AS MATERIALIZED (
       |  SELECT d.doc_id, m.j, MIN(m.mv) AS mv
       |  FROM docsh d JOIN sm m ON m.gid = d.g
       |  GROUP BY d.doc_id, m.j
       |), bok AS (
       |  SELECT j, mv FROM dmins GROUP BY j, mv HAVING COUNT(*) <= $MaxBucket
       |), cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM dmins a JOIN bok USING (j, mv)
       |  JOIN dmins b ON b.j = a.j AND b.mv = a.mv AND a.doc_id < b.doc_id
       |), agree AS (
       |  SELECT c.id_a, c.id_b, COUNT(*) AS n_agree
       |  FROM cand c
       |  JOIN dmins x ON x.doc_id = c.id_a
       |  JOIN dmins y ON y.doc_id = c.id_b AND y.j = x.j AND y.mv = x.mv
       |  GROUP BY c.id_a, c.id_b
       |), shh AS MATERIALIZED (
       |  SELECT d.doc_id, list(DISTINCT h.hv) AS hh
       |  FROM docsh d JOIN gh h ON h.gid = d.g
       |  GROUP BY d.doc_id
       |), ej AS (
       |  SELECT c.id_a, c.id_b,
       |    len(list_intersect(sa.hh, sb.hh))::BIGINT * 1000000000
       |      // len(list_distinct(list_concat(sa.hh, sb.hh)))::BIGINT AS exact_ppb
       |  FROM cand c JOIN shh sa ON sa.doc_id = c.id_a JOIN shh sb ON sb.doc_id = c.id_b
       |)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "d01_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY text
        |ORDER BY keep_id""".stripMargin,

    "d02_dedup_normalized" ->
      s"""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY ${DuckSql.normText()}
        |ORDER BY keep_id""".stripMargin,

    // the normalized text itself is the oracle's group key (the Spark
    // side's 64-bit fingerprint is shuffle economy, same as d02)
    "d13_cross_source_dup_matrix" ->
      s"""WITH fp AS (
        |  SELECT DISTINCT source, ${DuckSql.normText()} AS nt
        |  FROM documents
        |), sizes AS (
        |  SELECT source, COUNT(*) AS n_texts FROM fp GROUP BY source
        |), pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        |  FROM fp a JOIN fp b ON a.nt = b.nt AND a.source < b.source
        |  GROUP BY a.source, b.source
        |)
        |SELECT sa.source AS src_a, sb.source AS src_b,
        |  CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared,
        |  sa.n_texts AS n_texts_a, sb.n_texts AS n_texts_b,
        |  COALESCE(p.n_shared, 0)::DOUBLE / LEAST(sa.n_texts, sb.n_texts)::DOUBLE AS containment
        |FROM sizes sa
        |JOIN sizes sb ON sa.source < sb.source
        |LEFT JOIN pairs p ON p.src_a = sa.source AND p.src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin,

    "d03_minhash_lsh" -> duckBrutePairs("0.8"),

    // the SKETCH restated hash-for-hash: xxh64 per distinct shingle
    // (the d05-proven string chain), per-hash splitmix64 with the SAME
    // derived mix keys as literals, SIGNED min per (doc, hash) — then
    // the 1-row-band candidates, capped buckets, agreement counts, and
    // the integer fixed-point exact side. The exact Jaccard is computed
    // over the xxh64-HASHED shingle domain on BOTH engines (shh rebuilds
    // the Spark side's hsh lists from the same gh chain): a shingle hash
    // collision would shift exact_ppb identically in engine and oracle
    // instead of on the Spark side only.
    "d16_minhash_calibration" ->
      s"""WITH $duckCalibCtes
         |SELECT a.n_agree,
         |  CAST(a.n_agree * 1000000000 // $CalibK AS BIGINT) AS est_jaccard_ppb,
         |  COUNT(*) AS n_pairs,
         |  CAST(SUM(e.exact_ppb) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0
         |    AS mean_exact_jaccard
         |FROM agree a JOIN ej e USING (id_a, id_b)
         |GROUP BY a.n_agree
         |ORDER BY n_agree""".stripMargin,

    // duckCalibCtes' candidate+exact-jaccard chain, symmetrized and
    // ranked — the drop convention and tie order restated
    "d21_lexical_knn" ->
      s"""WITH $duckCalibCtes, sym AS (
         |  SELECT id_a AS doc_id, id_b AS nbr_id, exact_ppb FROM ej
         |  UNION ALL
         |  SELECT id_b, id_a, exact_ppb FROM ej
         |), rk AS (
         |  SELECT doc_id, nbr_id, exact_ppb,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY exact_ppb DESC, nbr_id ASC) AS rank
         |  FROM sym
         |)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, nbr_id, exact_ppb
         |FROM rk WHERE rank <= $LexKnnK
         |ORDER BY doc_id, rank""".stripMargin,


    // brute-force pairs at each sweep threshold (band recall covers all
    // of them: every point is >= the derived 0.8 geometry's target);
    // drop convention mirrored (DISTINCT higher id)
    "d18_jaccard_sweep" ->
      s"""WITH ${DuckSql.shingleCtes()}, pj AS MATERIALIZED (
        |  SELECT b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh))::DOUBLE
        |      / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS j
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |), n AS (
        |  SELECT COUNT(*) AS n FROM documents
        |), sw AS (
        |  SELECT 80 AS threshold_pct, COUNT(*) AS n_pairs,
        |    COUNT(DISTINCT id_b) AS n_dropped FROM pj WHERE j >= 0.80
        |  UNION ALL
        |  SELECT 85, COUNT(*), COUNT(DISTINCT id_b) FROM pj WHERE j >= 0.85
        |  UNION ALL
        |  SELECT 90, COUNT(*), COUNT(DISTINCT id_b) FROM pj WHERE j >= 0.90
        |  UNION ALL
        |  SELECT 95, COUNT(*), COUNT(DISTINCT id_b) FROM pj WHERE j >= 0.95
        |)
        |SELECT CAST(threshold_pct AS BIGINT) AS threshold_pct, n_pairs, n_dropped,
        |  CAST(n_dropped AS DOUBLE) / CAST(n.n AS DOUBLE) AS drop_rate
        |FROM sw CROSS JOIN n
        |ORDER BY threshold_pct""".stripMargin,

    // the DERIVATION restated step-for-step: per candidate r the exact
    // integer powers (explicit products — no Scala-computed literals),
    // the same 2^-60 m0 floor, the same unrolled floor-squarings, the
    // same ceiling cross-multiply, MAX admitted r
    "d17_lsh_geometry" -> {
      val two60 = "1152921504606846976::HUGEINT"
      def prod(base: Long, r: Int): String =
        (s"CAST($base AS HUGEINT)" +: Seq.fill(r - 1)(base.toString)).mkString(" * ")
      val candRows = Seq(16, 8, 4, 2, 1).map { r =>
        val nsq = Integer.numberOfTrailingZeros(MinHashK / r)
        s"($r, $nsq, ${prod(JaccardTNum, r)}, ${prod(JaccardTDen, r)})"
      }.mkString(", ")
      val squarings = (1 to 7).map { i =>
        s""", d17_s$i AS (
           |  SELECT r, nsq,
           |    CASE WHEN nsq >= $i THEN (m * m) // $two60 ELSE m END AS m
           |  FROM d17_s${i - 1}
           |)""".stripMargin
      }.mkString
      s"""WITH d17_cand AS (
         |  SELECT * FROM (VALUES $candRows) t(r, nsq, tn, td)
         |), d17_s0 AS (
         |  SELECT r, nsq, ((td - tn) * $two60) // td AS m FROM d17_cand
         |)$squarings, d17_adm AS (
         |  SELECT COALESCE(MAX(r) FILTER (WHERE m * $LshMissCeilDen <= $two60), 1) AS rpb
         |  FROM d17_s7
         |), d17_tok AS (
         |  SELECT ${DuckSql.tokens()} AS w
         |  FROM documents
         |), d17_n AS (
         |  SELECT COUNT(*) AS n FROM d17_tok WHERE len(w) >= 3
         |)
         |SELECT CAST($MinHashK AS BIGINT) AS sig_k,
         |  CAST($JaccardTNum AS BIGINT) AS t_num,
         |  CAST($JaccardTDen AS BIGINT) AS t_den,
         |  CAST(a.rpb AS BIGINT) AS rows_per_band,
         |  CAST($MinHashK // a.rpb AS BIGINT) AS n_bands,
         |  CAST((s.m * 1000000000) // $two60 AS BIGINT) AS miss_ppb,
         |  n.n AS n_sketched
         |FROM d17_adm a JOIN d17_s7 s ON s.r = a.rpb CROSS JOIN d17_n n""".stripMargin
    },

    // brute force over ALL pairs — the exactness claim of the prefix
    // filter is precisely that it equals this quadratic reference.
    "d09_prefix_filter_join" -> duckBrutePairs(s"$PrefixJaccard"),

    // rare universe = shingles with 2 ≤ df ≤ DfCap, identical on both
    // engines; containment = integer/integer division → exact double
    "d10_containment" ->
      s"""WITH ${DuckSql.tokenCte()}, s AS (
         |  SELECT doc_id,
         |    unnest(${DuckSql.shingles3("w")}) AS tok
         |  FROM t WHERE len(w) >= 3
         |), rare AS (
         |  SELECT doc_id, tok FROM s
         |  WHERE tok IN (SELECT tok FROM s GROUP BY tok
         |                HAVING COUNT(*) >= 2 AND COUNT(*) <= $DfCap)
         |), sz AS (
         |  SELECT doc_id, COUNT(*) AS n_rare FROM rare GROUP BY doc_id
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  sz.n_rare AS n_rare_a, COUNT(*) AS n_common,
         |  COUNT(*)::DOUBLE / sz.n_rare::DOUBLE AS containment
         |FROM rare a JOIN rare b ON a.tok = b.tok AND a.doc_id <> b.doc_id
         |JOIN sz ON sz.doc_id = a.doc_id
         |WHERE sz.n_rare >= $MinRareShingles
         |GROUP BY a.doc_id, b.doc_id, sz.n_rare
         |HAVING COUNT(*)::DOUBLE / sz.n_rare::DOUBLE >= $ContainmentThreshold
         |ORDER BY id_a, id_b""".stripMargin,

    // block admission (2 ≤ size ≤ MaxBucket) restated count-first, same
    // as the engine's blockedJaccardPairs
    "d04_ngram_jaccard_blocked" ->
      s"""WITH ${DuckSql.shingleCtes(cols = "lang, source, ")}, adm AS (
         |  SELECT lang, source FROM s GROUP BY lang, source
         |  HAVING COUNT(*) > 1 AND COUNT(*) <= $MaxBucket
         |)
         |SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
         |  ${DuckSql.jaccard("a.sh", "b.sh")} AS jaccard
         |FROM s a JOIN s b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         |JOIN adm ON adm.lang = a.lang AND adm.source = a.source
         |WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |ORDER BY jaccard DESC, id_a ASC, id_b ASC
         |LIMIT 50""".stripMargin,

    // brute-force restricted to pairs involving a new doc: new docs have
    // the larger ids here, so with id_a < id_b the condition is id_b ≥ 400
    "d08_incremental_dedup" -> duckBrutePairs("0.8", "b.doc_id >= 400 AND "),

    // brute force over the FINAL corpus (tombstones out), restricted to
    // pairs touching a changed doc (insert or update — the %-rules are
    // D22Ins/D22Upd restated; within the final corpus "% Ins = 0 OR
    // % Upd = 0" covers both classes exactly). The identity-audit counts
    // are pinned at literal zero: the engine must produce a merged index
    // that matches its full rebuild row-for-row to emit them.
    "d22_signature_maintenance" ->
      s"""WITH fin AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % $D22Tomb <> 0
        |), ${DuckSql.shingleCtes(from = "fin")}
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ${DuckSql.jaccard("a.sh", "b.sh")} AS jaccard,
        |  CAST(0 AS BIGINT) AS sig_mismatches,
        |  CAST(0 AS BIGINT) AS band_mismatches
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id % $D22Ins = 0 OR a.doc_id % $D22Upd = 0
        |       OR b.doc_id % $D22Ins = 0 OR b.doc_id % $D22Upd = 0)
        |  AND len(a.sh) > 0 AND len(b.sh) > 0
        |  AND ${DuckSql.jaccard("a.sh", "b.sh")} >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "d07_dup_clusters" ->
      s"""$duckClusterCtes
        |SELECT doc_id, cluster_id FROM clusters
        |ORDER BY doc_id""".stripMargin,

    // d07's closure sizes in t31's bitlength buckets; SUMs cast
    "d14_cluster_size_spectrum" ->
      s"""$duckClusterCtes, sizes AS (
        |  SELECT cluster_id, COUNT(*) AS sz FROM clusters GROUP BY cluster_id
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nc, CAST(SUM(sz) AS BIGINT) AS nd FROM sizes
        |), spec AS (
        |  SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS sb, COUNT(*) AS n_clusters,
        |    CAST(SUM(sz) AS BIGINT) AS doc_mass, MIN(sz) AS min_sz, MAX(sz) AS max_sz
        |  FROM sizes GROUP BY 1
        |)
        |SELECT sb, n_clusters, doc_mass, min_sz, max_sz,
        |  CAST(n_clusters AS DOUBLE) / CAST(nc AS DOUBLE) AS cluster_share,
        |  CAST(doc_mass AS DOUBLE) / CAST(nd AS DOUBLE) AS doc_share
        |FROM spec CROSS JOIN tot
        |ORDER BY sb""".stripMargin,

    // d07's closure + documents metadata + the survivor window: keep =
    // first by (n_chars DESC, doc_id ASC) within the cluster
    "d11_survivorship" ->
      s"""$duckClusterCtes
        |SELECT c.doc_id, c.cluster_id, d.n_chars,
        |  (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
        |     ORDER BY d.n_chars DESC, c.doc_id ASC) = 1) AS keep,
        |  COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
        |FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    "d06_source_shingle_jaccard" ->
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |    ${DuckSql.tokens()} AS w
        |  FROM documents WHERE lang = 'en'
        |), s AS (
        |  SELECT DISTINCT source,
        |    unnest(${DuckSql.shingles3("w")}) AS g
        |  FROM t WHERE len(w) >= 3
        |), sizes AS (
        |  SELECT source, COUNT(*) AS n FROM s GROUP BY source
        |), inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
        |  FROM s a JOIN s b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_inter,
        |  CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.source = src_a
        |JOIN sizes sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,

    // d05: full restatement — DuckDB recomputes the per-shingle XXH64
    // (DuckHash.xxh64StrCtes, the complete stripe/tail/avalanche
    // algorithm), the 64-bit majority vote, the 4×16-bit banding with the
    // MaxBucket cap, and the Hamming filter. Votes are 64 columnar SUMs
    // over the (doc, shingle)-hash join (one aggregation pass, no 64×
    // row explosion); the sketch reassembles as Σ 2^b over winning bits.
    "d05_simhash_pairs" ->
      s"""WITH $duckSimhashCtes, $duckSimhashBandCtes, cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.hu AS ha, b.hu AS hb
         |  FROM bands a
         |  JOIN admitted ad ON ad.band = a.band AND ad.bkey = a.bkey
         |  JOIN bands b ON b.band = a.band AND b.bkey = a.bkey AND a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(CAST(ha AS UBIGINT), CAST(hb AS UBIGINT))) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(CAST(ha AS UBIGINT), CAST(hb AS UBIGINT))) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // both pair sets restated in their at-scale forms (the d05 chain
    // verbatim; the MinHash side as the brute j >= 0.8 equivalence the
    // d03 oracle already relies on), classes by full outer join, stats
    // over the SAME xxh64-hashed shingle domain as the engine (the
    // d16 shh pattern — collision symmetry)
    "d19_strategy_agreement" ->
      s"""WITH $duckSimhashCtes, $duckSimhashBandCtes, scand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a
         |  JOIN admitted ad ON ad.band = a.band AND ad.bkey = a.bkey
         |  JOIN bands b ON b.band = a.band AND b.bkey = a.bkey AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(CAST(a.hu AS UBIGINT), CAST(b.hu AS UBIGINT))) <= 3
         |), shh AS MATERIALIZED (
         |  SELECT d.doc_id, list(DISTINCT h.hv) AS hh
         |  FROM docsh d JOIN gh h ON h.gid = d.g
         |  GROUP BY d.doc_id
         |), jp AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.hh, b.hh))::DOUBLE
         |      / len(list_distinct(list_concat(a.hh, b.hh)))::DOUBLE AS jd,
         |    len(list_intersect(a.hh, b.hh))::BIGINT * 1000000000
         |      // len(list_distinct(list_concat(a.hh, b.hh)))::BIGINT AS jppb
         |  FROM shh a JOIN shh b ON a.doc_id < b.doc_id
         |), mh AS (
         |  SELECT id_a, id_b FROM jp WHERE jd >= $JaccardThreshold
         |), cls AS (
         |  SELECT id_a, id_b,
         |    CASE WHEN m.in_mh IS NOT NULL AND s2.in_sh IS NOT NULL THEN 'both'
         |         WHEN m.in_mh IS NOT NULL THEN 'minhash_only'
         |         ELSE 'simhash_only' END AS strategy
         |  FROM (SELECT id_a, id_b, 1 AS in_mh FROM mh) m
         |  FULL OUTER JOIN (SELECT id_a, id_b, 1 AS in_sh FROM scand) s2
         |  USING (id_a, id_b)
         |)
         |SELECT c.strategy, COUNT(*) AS n_pairs,
         |  CAST(SUM(j.jppb) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0
         |    AS mean_jaccard,
         |  MIN(j.jppb) AS min_jaccard_ppb, MAX(j.jppb) AS max_jaccard_ppb
         |FROM cls c JOIN jp j USING (id_a, id_b)
         |GROUP BY c.strategy
         |ORDER BY c.strategy""".stripMargin,

    // d07's closure chain verbatim for the clusters, intra-cluster pairs
    // by self-join under the same enumeration cap, exact Jaccard over the
    // SAME xxh64-hashed shingle domain as the engine (the d16 shh
    // pattern), direct/chained split on the shared integer ppb bar
    "d20_cluster_purity" ->
      s"""$duckClusterCtes, $duckShingleHashCtes, sizes AS (
         |  SELECT cluster_id, COUNT(*) AS csize FROM clusters GROUP BY cluster_id
         |), mem AS (
         |  SELECT c.doc_id, c.cluster_id, z.csize
         |  FROM clusters c JOIN sizes z USING (cluster_id)
         |  WHERE z.csize <= $ClusterPurityCap
         |), cp AS (
         |  SELECT a.cluster_id, a.csize, a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM mem a JOIN mem b ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id
         |), jp2 AS (
         |  SELECT cp.cluster_id, cp.csize,
         |    len(list_intersect(sa.hh, sb.hh))::BIGINT * 1000000000
         |      // len(list_distinct(list_concat(sa.hh, sb.hh)))::BIGINT AS jppb
         |  FROM cp JOIN shh sa ON sa.doc_id = cp.id_a
         |  JOIN shh sb ON sb.doc_id = cp.id_b
         |), en AS (
         |  SELECT csize AS cluster_size, COUNT(DISTINCT cluster_id) AS n_clusters,
         |    COUNT(*) AS n_pairs,
         |    CAST(SUM(CASE WHEN jppb >= $DirectPpb THEN 1 ELSE 0 END) AS BIGINT) AS n_direct,
         |    CAST(SUM(CASE WHEN jppb < $DirectPpb THEN 1 ELSE 0 END) AS BIGINT) AS n_chained,
         |    CAST(SUM(jppb) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0
         |      AS mean_jaccard,
         |    MIN(jppb) AS min_jaccard_ppb, TRUE AS enumerated
         |  FROM jp2 GROUP BY csize
         |), skp AS (
         |  SELECT csize AS cluster_size, COUNT(*) AS n_clusters,
         |    CAST(0 AS BIGINT) AS n_pairs, CAST(0 AS BIGINT) AS n_direct,
         |    CAST(0 AS BIGINT) AS n_chained, 0.0 AS mean_jaccard,
         |    CAST(0 AS BIGINT) AS min_jaccard_ppb, FALSE AS enumerated
         |  FROM sizes WHERE csize > $ClusterPurityCap GROUP BY csize
         |)
         |SELECT * FROM en UNION ALL SELECT * FROM skp
         |ORDER BY cluster_size""".stripMargin,

    // windows counted as strings (Spark side hashes them first — the same
    // collision argument as d03's hashed-shingle jaccard); slice w[i:i+W-1]
    // is 1-based inclusive = Spark's slice(w, i+1, W)
    "d12_substring_dup_mass" ->
      s"""WITH ${DuckSql.tokenCte()}, ${duckWindowCtes()}
         |SELECT doc_id, COUNT(*) AS n_windows,
         |  CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
         |  SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE AS dup_frac
         |FROM wins JOIN freq USING (win)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
  )
}
