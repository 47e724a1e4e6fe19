package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.functions.VectorFunctions

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * processed with partition-local batched "decode".
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked DETERMINISTIC STUB (`fakeDecode`) — but everything
  * Spark-side is real and tested: binary column handling, the
  * `mapPartitions` batch shape (the Scala analog of `mapInPandas`: group
  * rows into fixed-size batches so a vectorized decoder amortizes per-call
  * overhead), schema of the decoded output, and partition-preserving
  * execution (no shuffle — decode is a narrow map, which is what makes it
  * linear at 100 TB).
  *
  * Payloads here are the documents' UTF-8 bytes standing in for media
  * blobs; in production the same pipeline reads `binary` parquet columns
  * or binaryFile sources.
  */
object Multimodal {

  /** Decoder batch size: the unit a real vectorized decoder (or Arrow
    * transfer) would amortize over.
    */
  val DecodeBatchSize = 64

  case class Blob(doc_id: Long, payload: Array[Byte])
  case class BlobStats(doc_id: Long, n_bytes: Long, byte_sum: Long)
  case class BlobFeature(doc_id: Long, bin: Int, n: Long)
  case class FrameSample(doc_id: Long, n_frames: Long, n_sampled: Long, probe_sum: Long)

  /** m05 frame grid: a "frame" every `FrameStride` bytes; sample every
    * `SampleEvery`-th frame.
    */
  val FrameStride = 64
  val SampleEvery = 3

  /** m07 audio grid: 16-bit little-endian samples, `AudioFrameSamples`
    * samples per analysis frame.
    */
  val AudioFrameSamples = 256
  case class AudioStats(
      doc_id: Long, n_samples: Long, n_frames: Long,
      total_energy: Long, peak_frame: Long, peak_energy: Long)

  /** m11: a frame is "silent" iff energy·4 < the doc's peak frame energy
    * (a relative gate — integer compare, no float threshold; the peak
    * frame always passes it, so every doc keeps ≥ 1 frame).
    */
  case class AudioTrim(
      doc_id: Long, n_frames: Long, first_loud: Long, last_loud: Long,
      kept_frames: Long, trimmed_frames: Long, kept_energy: Long)

  /** m11 per-payload trim — exposed for MultimodalSpec's crafted-payload
    * closed forms. Two sequential passes: frame energies (m07's decode),
    * then the edge scan for the first/last frame clearing e·4 ≥ peak.
    */
  private[operators] def trimOf(b: Blob): AudioTrim = {
    val ns = b.payload.length / 2
    val nf = (ns + AudioFrameSamples - 1) / AudioFrameSamples
    val e = new Array[Long](nf)
    var peak = 0L
    var f = 0
    while (f < nf) {
      var acc = 0L
      var i = f * AudioFrameSamples
      val end = math.min(ns, i + AudioFrameSamples)
      while (i < end) {
        val smp = (b.payload(2 * i) & 0xFF) | ((b.payload(2 * i + 1) & 0xFF) << 8)
        acc += smp.toLong * smp
        i += 1
      }
      e(f) = acc
      if (acc > peak) peak = acc
      f += 1
    }
    var first = 0
    while (first < nf && e(first) * 4 < peak) first += 1
    var last = nf - 1
    while (last > first && e(last) * 4 < peak) last -= 1
    var kept = 0L
    var j = first
    while (j <= last) { kept += e(j); j += 1 }
    AudioTrim(b.doc_id, nf.toLong, first.toLong, last.toLong,
      (last - first + 1).toLong, (nf - (last - first + 1)).toLong, kept)
  }

  /** m08 scene-change grid: consecutive-frame signature delta above
    * `CutThreshold` flags a cut (shot-boundary detection's integer
    * skeleton). 256 ≈ 4 bytes' worth of full-range change on a
    * `FrameStride`-byte frame.
    */
  val CutThreshold = 256L
  case class SceneStats(
      doc_id: Long, n_frames: Long, n_cuts: Long,
      max_delta: Long, first_cut_frame: Long)

  /** m09 perceptual-hash grid: 64 gradient bits (dHash — sample i vs
    * sample i+1, samples every `PhashStride` bytes), packed into
    * `PhashBands`×16-bit band values. Near-dup iff Hamming distance over
    * all 64 bits ≤ `PhashHamMax`; distance ≤ 3 < 4 bands pigeonholes at
    * least one band to equality, so the banded equi-join loses nothing.
    */
  val PhashStride = 4
  val PhashBits = 64
  val PhashBands = 4
  val PhashHamMax = 3

  /** Bytes needed for the full 65-sample gradient grid (sample 64 sits at
    * 0-based offset 64·stride).
    */
  val PhashMinLen: Int = PhashBits * PhashStride + 1
  case class Decoded(
      doc_id: Long, n_bytes: Long,
      width: Int, height: Int, n_channels: Int,
      frame_offsets: Array[Long])

  /** m12: drop shot signatures shared by more than this many videos
    * before pairing (the d10 DfCap discipline — a boilerplate intro/
    * outro shot would otherwise pair every video with every other), and
    * admit a pair iff Jaccard ≥ 1/2 over the capped signature sets
    * (3·shared ≥ |A|+|B| — integer, engine-exact).
    */
  val ShotSigDfCap = 64L

  /** m12 pair core over distinct (doc_id, key_sig) rows — extracted so
    * the set algebra (exact twins, sub-threshold overlap, the df cap
    * silencing a corpus-wide boilerplate signature) is unit-testable on
    * crafted signature sets.
    */
  private[operators] def shotSigPairs(sigs: DataFrame): DataFrame = {
    // singletons stay: nsig counts them
    val keep = admitted(sigs, Seq("key_sig"), 1, ShotSigDfCap)
    val sz = keep.groupBy("doc_id").agg(count(lit(1)).as("nsig"))
    val shared = keep.select(col("key_sig"), col("doc_id").as("doc_a"))
      .join(keep.select(col("key_sig"), col("doc_id").as("doc_b")), "key_sig")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(sz.select(col("doc_id").as("doc_a"), col("nsig").as("n_a")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("nsig").as("n_b")), "doc_b")
      .filter(col("n_shared") * 3 >= col("n_a") + col("n_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Number of `FrameStride`-byte frames in a payload (the last one may
    * be short). */
  private def frameCount(b: Blob): Int = (b.payload.length + FrameStride - 1) / FrameStride

  /** Frame `f`'s signature: the unsigned byte sum of its bytes — the
    * per-frame value m08's cuts and m10's shots both read. */
  private def frameSig(b: Blob, f: Int): Long = {
    var sig = 0L
    var i = f * FrameStride
    val end = math.min(b.payload.length, i + FrameStride)
    while (i < end) { sig += (b.payload(i) & 0xFF); i += 1 }
    sig
  }

  /** One shot (maximal run of frames between cuts) of one payload. */
  case class ShotRow(
      doc_id: Long, shot_idx: Long, start_frame: Long, n_frames: Long,
      key_frame: Long, key_sig: Long, sig_mass: Long)

  /** m10 core: m08's cut chain composed into SHOTS — the curation unit a
    * video pipeline dedups/captions per. A cut at frame f (delta over
    * `CutThreshold` vs frame f-1) STARTS a new shot at f; per shot, the
    * keyframe is the max-signature frame (earliest on ties — the
    * deterministic stand-in for "most detailed frame"), and sig_mass is
    * the shot's total signature (its byte mass). Same single sequential
    * pass per payload as `sceneStats` — integer-exact, so the whole
    * segmentation is oracle-checkable.
    */
  private[operators] def shotRows(b: Blob): Seq[ShotRow] = {
    val nf = frameCount(b)
    val out = scala.collection.mutable.ArrayBuffer.empty[ShotRow]
    var prevSig = 0L
    var shotIdx = 0L; var start = 0L; var n = 0L
    var keyF = 0L; var keySig = Long.MinValue; var mass = 0L
    def close(): Unit = {
      out += ShotRow(b.doc_id, shotIdx, start, n, keyF, keySig, mass)
      shotIdx += 1
    }
    var f = 0
    while (f < nf) {
      val sig = frameSig(b, f)
      if (f > 0 && math.abs(sig - prevSig) > CutThreshold) {
        close()
        start = f; n = 0L; keySig = Long.MinValue; mass = 0L
      }
      n += 1; mass += sig
      if (sig > keySig) { keySig = sig; keyF = f }
      prevSig = sig
      f += 1
    }
    if (n > 0) close()
    out.toSeq
  }

  /** m08 core: frame signatures (Σ bytes per `FrameStride`-byte frame) →
    * consecutive deltas → cuts above `CutThreshold`. Extracted so
    * MultimodalSpec can drive it with crafted payloads (the fixture has
    * no guaranteed cut).
    */
  private[operators] def sceneStats(b: Blob): SceneStats = {
    val nf = frameCount(b)
    var prevSig = 0L; var nCuts = 0L; var maxDelta = 0L
    var firstCut = -1L
    var f = 0
    while (f < nf) {
      val sig = frameSig(b, f)
      if (f > 0) {
        val d = math.abs(sig - prevSig)
        if (d > maxDelta) maxDelta = d
        if (d > CutThreshold) {
          nCuts += 1
          if (firstCut < 0) firstCut = f
        }
      }
      prevSig = sig
      f += 1
    }
    SceneStats(b.doc_id, nf.toLong, nCuts, maxDelta, firstCut)
  }

  /** Per-JVM shared fixture over the corpus's pHash pair frame (the
    * Graph.partEdges discipline): m09 and p04 consume the identical
    * banded pair set.
    */
  private[graft] def phashPairsShared(s: SparkSession, dir: String): DataFrame =
    graft.Materialize.fixture(s, "mx-phash", dir)(
      phashPairs(Tables.documents(s, dir).select(col("doc_id"), col("text"))))

  /** m09 core over (doc_id, text) rows — exposed so MultimodalSpec can
    * drive crafted payloads with controlled bit flips (the fixture's only
    * sub-threshold pairs are exact duplicates, distance 0).
    *
    * The dHash construction: 65 probe bytes at fixed stride, bit i = 1
    * iff probe i > probe i+1 — the gradient signature a real perceptual
    * hash computes over downscaled pixel rows. Equal payloads ⇒ equal
    * hashes; a local edit flips only the bits whose probes it touches.
    * Candidate pairs come from the (band_idx, band_val) equi-join — the
    * d03/d05 pigeonhole shape, never all-pairs — and the 32-byte band
    * arrays ride the join so the exact Hamming check needs no second
    * join (bandMates). At 100 TB: ~2^16 buckets per band keep buckets tiny
    * on natural corpora; a degenerate corpus (one dominant signature)
    * needs d03's bucket cap, which the precondition spec would flag.
    */
  private[operators] def phashPairs(docs: DataFrame): DataFrame =
    hammingPairs(docs
      .filter(length(col("text")) >= PhashMinLen)
      .select(col("doc_id"), phashBands.as("bands")), PhashBands, PhashHamMax)

  /** The m09/m14 dHash band array: `PhashBands` 16-bit band values over
    * `text`. Each band is built as a 16-term codegen'd sum (no HOF
    * lambdas, no per-row allocation), so hashing stays inside
    * whole-stage codegen at scan speed.
    */
  private def phashBands: Column =
    array((0 until PhashBands).map { b =>
      (0 until 16).map { j =>
        val i = 16 * b + j
        val p1 = i * PhashStride + 1
        val p2 = (i + 1) * PhashStride + 1
        when(ascii(substring(col("text"), p1, 1)) > ascii(substring(col("text"), p2, 1)),
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)

  /** The banded-Hamming pigeonhole join over (doc_id, bands, …) rows:
    * every (doc_a < doc_b) pair equal in at least one (band_idx,
    * band_val), with both band arrays (ba, bb) and the `carry` columns
    * (over the `x`/`y` sides) riding the join so the exact distance
    * needs no second join. A pair can meet in several bands, so each
    * pair repeats once per shared band.
    */
  private def bandMates(hashed: DataFrame, carry: Column*): DataFrame = {
    val bands = hashed.select(col("*"),
      posexplode(col("bands")).as(Seq("band_idx", "band_val")))
    bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select((Seq(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.bands").as("ba"), col("y.bands").as("bb")) ++ carry): _*)
  }

  /** Hamming distance over all `nBands` band values of ba/bb. */
  private def bandHamming(nBands: Int): Column =
    (0 until nBands)
      .map(i => bit_count(col("ba").getItem(i).bitwiseXOR(col("bb").getItem(i))))
      .reduce(_ + _)
      .cast("long")

  /** m09/m15's near-dup pairs: bandMates within Hamming `hamMax`, one
    * (doc_a, doc_b, dist) row per pair. */
  private def hammingPairs(hashed: DataFrame, nBands: Int, hamMax: Int): DataFrame =
    bandMates(hashed)
      .withColumn("dist", bandHamming(nBands))
      .filter(col("dist") <= hamMax)
      // a pair ≤ hamMax can band-match in up to nBands bands; dist is
      // identical across those duplicate candidate rows
      .dropDuplicates("doc_a", "doc_b")
      .select("doc_a", "doc_b", "dist")

  /** m14 core — the d16-style CALIBRATION of the m09 index: for every
    * band-pigeonhole candidate pair (NO Hamming cut — the spectrum past
    * the threshold is the point), the pHash Hamming distance against the
    * exact probe-byte agreement (how many of the PhashBits+1 sampled
    * bytes are equal). The resulting distance→agreement curve is what a
    * threshold choice (PhashHamMax) should be read off of: if agreement
    * falls gently past distance 3, the cut is wasting recall; if it
    * cliffs, the cut is right. Same scale shape as m09 (band equi-join
    * candidates, arrays ride the join, per-row integer arithmetic);
    * output is ≤ 65 distance rows.
    */
  private[operators] def phashMargin(docs: DataFrame): DataFrame = {
    val probes = array((0 to PhashBits).map(i =>
      ascii(substring(col("text"), i * PhashStride + 1, 1))): _*)
    val hashed = docs
      .filter(length(col("text")) >= PhashMinLen)
      .select(col("doc_id"), phashBands.as("bands"), probes.as("pr"))
    // deduped BEFORE the distance: no Hamming cut here, so the distance
    // is computed once per pair, not once per shared band
    bandMates(hashed, col("x.pr").as("pa"), col("y.pr").as("pb"))
      .dropDuplicates("doc_a", "doc_b")
      .select(bandHamming(PhashBands).as("dist"),
        aggregate(zip_with(col("pa"), col("pb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("long").as("agr"))
      .groupBy("dist")
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("agr") === (PhashBits + 1), 1)).as("n_byte_identical"),
        sum("agr").as("sum_agr"),
        min("agr").as("min_agreement"))
      .select(col("dist"), col("n_pairs"), col("n_byte_identical"),
        (col("sum_agr").cast("double") / col("n_pairs").cast("double")
          / (PhashBits + 1).toDouble).as("mean_agreement"),
        col("min_agreement"))
      .orderBy("dist")
  }

  /** m15 audio-fingerprint grid: a "frame" is `AudioFpFrameSamples`
    * 16-bit LE samples (m07's decode at a finer stride, sized so the
    * short fixture docs clear the 33-frame minimum); the fingerprint is
    * `AudioFpBits` energy-GRADIENT bits (bit f = 1 iff energy(f) >
    * energy(f+1)) — the shape of a chromaprint-style acoustic hash:
    * amplitude-scaling a track leaves every gradient bit fixed, a local
    * edit flips only the bits whose frames it touches. Bands are
    * `AudioFpBands`×8 bits; near-dup iff Hamming ≤ `AudioFpHamMax`
    * (≤ 3 < 4 bands pigeonholes at least one band equal, so the banded
    * equi-join loses nothing — the m09/d05 guarantee).
    */
  // 8-bit bands are sized to THIS fixture's payload lengths (the
  // 33-frame minimum keeps ~56% of docs in scope); a production audio
  // corpus with kilobyte payloads widens to 64 fingerprint bits /
  // 16-bit bands (m09's geometry) so bucket population — and with it
  // candidate volume — stays sub-linear in the corpus, exactly as the
  // image leg does. The banded-join machinery is width-agnostic.
  val AudioFpFrameSamples = 4
  val AudioFpBits = 32
  val AudioFpBands = 4
  val AudioFpHamMax = 3

  /** Chars needed for AudioFpBits+1 complete frames (2 bytes/sample). */
  val AudioFpMinLen: Int = (AudioFpBits + 1) * AudioFpFrameSamples * 2


  /** m15 core: AUDIO near-dup pairs — the m09 pipeline on the audio
    * decode grid, completing the per-modality dedup set (image m09,
    * video m12, audio m15). Hashing is one codegen'd scan (integer
    * sample math, no UDF); candidates come from the (band_idx, band_val)
    * pigeonhole equi-join and the 4-band arrays ride the join so the
    * exact Hamming check needs no second join. Same 100 TB reading as
    * m09: ~2^8 buckets per band on this short grid (fixture-sized docs);
    * a production corpus widens the band to 16 bits the way m09's is.
    */
  private[operators] def audioFpPairs(docs: DataFrame): DataFrame = {
    // Two-stage form with a MATERIALIZATION barrier, not one inline
    // expression. The fully-unrolled scalar form generated a ~10k-line
    // whole-stage-codegen method janino recompiled per executing stage
    // (measured 13.4 s/bench-pass on a 2.8k-row input, ~all of it
    // compilation); a pure HOF rewrite was worse — CollapseProject
    // inlines the sample/energy arrays into every per-bit access and
    // interpreted evaluation re-derives the whole 132-substring chain
    // per element (measured as a runaway: ~1M substring evals PER ROW).
    // So: (1) decode the 16-bit samples ONCE per row into a concrete
    // array column behind graft.Materialize (an InMemoryRelation is a
    // collapse barrier, and the cache is |docs|·132 ints); (2) compute
    // the band bits as scalar element_at arithmetic over that column —
    // compact generated code, and codegen CSE dedupes the 33 shared
    // frame energies. Identical integers at every step ⇒ the
    // fingerprints — and the oracle gate — are bit-identical.
    val nSamples = (AudioFpBits + 1) * AudioFpFrameSamples
    val smpF = graft.Materialize(docs
      .filter(length(col("text")) >= AudioFpMinLen)
      .select(col("doc_id"), expr(
        s"transform(sequence(0, ${nSamples - 1}), si -> " +
          "ascii(substring(text, 2*si+1, 1)) + ascii(substring(text, 2*si+2, 1)) * 256)")
        .as("smp")))
    def energy(f: Int) = (0 until AudioFpFrameSamples).map { k =>
      val s = col("smp").getItem(f * AudioFpFrameSamples + k).cast("long")
      s * s
    }.reduce(_ + _)
    val bandCol = (b: Int) => (0 until 8).map { j =>
      val i = 8 * b + j
      when(energy(i) > energy(i + 1), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    // Second materialization barrier ON THE BANDS: without it the
    // Generate(posexplode) stage inlines the 32-energy CASE chain into
    // BOTH the projection and the generator's emptiness check, and that
    // doubled expression exceeds what janino will compile — the stage
    // fell back to interpreted evaluation with an ERROR CodeGenerator
    // per cold JVM (measured: 2 in a full Verify log, 6 in sbt test).
    // Behind the barrier posexplode sees a concrete 4-long array column;
    // the cache is |docs|·4 longs. Identical integers, same fingerprints.
    val hashed = graft.Materialize(smpF.select(col("doc_id"),
      array((0 until AudioFpBands).map(bandCol): _*).as("bands")))
    hammingPairs(hashed, AudioFpBands, AudioFpHamMax)
      .orderBy("doc_a", "doc_b")
  }

  /** STUB: deterministic fake media decode. A real implementation would
    * hand `batch` to an image/audio codec; we derive plausible, stable
    * "dimensions" from a fingerprint of the bytes so tests are exact.
    */
  private def fakeDecode(batch: Seq[Blob]): Seq[Decoded] = batch.map { b =>
    var f = 0L
    var i = 0
    while (i < b.payload.length) { f = f * 1315423911L + (b.payload(i) & 0xFF); i += 1 }
    val w = 64 + (VectorFunctions.splitmix64(f) & 0x3FF).toInt        // 64..1087
    val h = 64 + (VectorFunctions.splitmix64(f + 1) & 0x3FF).toInt
    val frames = Array.tabulate(4)(k => (VectorFunctions.splitmix64(f + 2 + k) >>> 1) % math.max(b.payload.length, 1L))
    Decoded(b.doc_id, b.payload.length.toLong, w, h, 3, frames.sorted)
  }

  /** m13 packing geometry: one media "patch" token per `PatchBytes` of
    * payload (ceil), text at one token per whitespace word, packed
    * sequences of `MmBudget` combined tokens.
    */
  val PatchBytes = 32
  val MmBudget = 1024

  /** m13 core — interleaved text+media sequence packing: the
    * vision-language analog of t11's text-only packer. Each document
    * costs txt_tokens (whitespace words) + media_tokens (payload patches,
    * ceil-divided — the ViT-style "an image costs ⌈bytes/patch⌉ tokens"
    * budget rule), and documents are packed greedily in doc_id order per
    * source into fixed combined-token sequences. Every number is integer
    * arithmetic on both engines (ceil stated as (n + P − 1) div P); the
    * cumulative offset is t11's prefix-sum window — one scan, one
    * source-partitioned window, no shuffle beyond it, corpus-linear at
    * 100 TB. Payload bytes = octet_length(text) (the m01 stand-in; a
    * production table reads a real binary column's length the same way).
    */
  private[operators] def multimodalPack(docs: DataFrame, patchBytes: Int,
      budget: Int): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenCountWs(col("text")).as("txt_tokens"),
        expr(s"(octet_length(text) + ${patchBytes - 1}) div $patchBytes")
          .cast("long").as("media_tokens"))
      .withColumn("cost", col("txt_tokens") + col("media_tokens"))
      .filter(col("cost") > 0)
      .withColumn("cum", sum("cost").over(w))
      .select(col("doc_id"), col("source"), col("txt_tokens"), col("media_tokens"),
        col("cost"), (col("cum") - col("cost")).as("start_off"),
        expr(s"(cum - cost) div $budget").as("first_seq"),
        expr(s"(cum - 1) div $budget").as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
      .orderBy("doc_id")
  }

  /** (doc_id, text) rows as typed binary payloads: the input of every
    * batched blob map below.
    */
  private def blobsOf(docs: DataFrame): Dataset[Blob] =
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as(Encoders.product[Blob])

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // binary ingestion + partition-local batched stats. Exact byte math →
    // oracle-checkable (DuckDB recomputes from the string bytes).
    "m01_blob_stats" -> ((s, dir) => {
      val blobs = blobsOf(Tables.documents(s, dir))
      blobs.mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          batch.map { b =>
            var sum = 0L
            var i = 0
            while (i < b.payload.length) { sum += (b.payload(i) & 0xFF); i += 1 }
            BlobStats(b.doc_id, b.payload.length.toLong, sum)
          }
        }
      }(Encoders.product[BlobStats])
        .toDF()
        .orderBy("doc_id")
    }),

    // batched feature extraction — the "embed the blob" step of a
    // multimodal pipeline, here a REAL feature (16-bin byte histogram,
    // exact ints) rather than a stub, so the whole batched-UDF path gets
    // a hash-matched oracle. Same narrow mapPartitions shape a vectorized
    // image/audio featurizer uses; emitted long-format (doc_id, bin, n)
    // with empty bins omitted.
    "m04_feature_extract" -> ((s, dir) => {
      val blobs = blobsOf(Tables.documents(s, dir))
      blobs.mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          batch.flatMap { b =>
            val hist = new Array[Long](16)
            var i = 0
            while (i < b.payload.length) { hist((b.payload(i) & 0xFF) >>> 4) += 1; i += 1 }
            hist.zipWithIndex.collect { case (n, bin) if n > 0 => BlobFeature(b.doc_id, bin, n) }
          }
        }
      }(Encoders.product[BlobFeature])
        .toDF()
        .orderBy("doc_id", "bin")
    }),

    // decode → resize-plan chain: two batched narrow maps composed without
    // a shuffle between them (the whole multimodal pipeline is one stage).
    // Geometry is derived from the stubbed decode → rows-only check +
    // MultimodalSpec invariants (aspect preserved, bounded, deterministic).
    "m03_resize_plan" -> ((s, dir) => {
      val blobs = blobsOf(Tables.documents(s, dir))
      blobs.mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap(b => planResize(fakeDecode(b), maxSide = 256))
      }(Encoders.product[Resized])
        .toDF()
        .orderBy("doc_id")
    }),

    // frame sampling over the real byte grid — the video-style access
    // pattern (decode only every k-th frame): a fixed stride imposes a
    // frame grid on the payload, every 3rd frame is probed, and the probe
    // reads one real byte per sampled frame. Unlike m02's stubbed decode
    // this is exact byte math end to end, so the whole sampling path is
    // oracle-checked. Same batched narrow map — no shuffle, scan-linear.
    "m05_frame_sample" -> ((s, dir) => {
      // empty payloads are excluded on BOTH sides: a zero-byte blob has no
      // frame grid, and the oracle's unnest(range(0,0)) would drop the doc
      // while an unguarded Spark side emitted a zero row
      val blobs = blobsOf(Tables.documents(s, dir).filter(length(col("text")) > 0))
      blobs.mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          batch.map { b =>
            val nf = frameCount(b)
            var ns = 0L; var sum = 0L; var fi = 0
            while (fi < nf) {
              if (fi % SampleEvery == 0) { ns += 1; sum += (b.payload(fi * FrameStride) & 0xFF) }
              fi += 1
            }
            FrameSample(b.doc_id, nf.toLong, ns, sum)
          }
        }
      }(Encoders.product[FrameSample])
        .toDF()
        .orderBy("doc_id")
    }),

    // audio-style windowed energy — the PCM access pattern (the audio leg
    // of the modality set: m01/m04 image-ish, m05 video-ish, m07 audio):
    // the payload is read as 16-bit little-endian samples, framed at 256
    // samples, and each frame's energy (Σ sample²) computed — the loudness
    // / silence-trim primitive an audio curation pass runs. All integer
    // math (an odd trailing byte is dropped; ASCII payloads make both
    // bytes of every sample < 128, so unsigned decode is exact on both
    // engines), so the whole windowing path is oracle-checked. Same
    // batched narrow map as m01/m05 — no shuffle, scan-linear.
    "m07_audio_energy" -> ((s, dir) => {
      val blobs = blobsOf(Tables.documents(s, dir).filter(length(col("text")) >= 2))
      blobs.mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap { batch =>
          batch.map { b =>
            val ns = b.payload.length / 2
            val nf = (ns + AudioFrameSamples - 1) / AudioFrameSamples
            var total = 0L; var peak = -1L; var peakIdx = -1L
            var f = 0
            while (f < nf) {
              var e = 0L
              var i = f * AudioFrameSamples
              val end = math.min(ns, i + AudioFrameSamples)
              while (i < end) {
                val smp = (b.payload(2 * i) & 0xFF) | ((b.payload(2 * i + 1) & 0xFF) << 8)
                e += smp.toLong * smp
                i += 1
              }
              total += e
              if (e > peak) { peak = e; peakIdx = f }
              f += 1
            }
            AudioStats(b.doc_id, ns.toLong, nf.toLong, total, peakIdx, peak)
          }
        }
      }(Encoders.product[AudioStats])
        .toDF()
        .orderBy("doc_id")
    }),

    // SILENCE TRIM — what a speech-data pass does with m07's frame
    // energies: cut the quiet lead-in/lead-out and keep the loud middle.
    // A frame is silent iff energy·4 < the doc's own peak frame energy —
    // a RELATIVE integer gate (no absolute float threshold to tune per
    // corpus, no cross-engine float compare), and the peak frame always
    // passes its own gate so first/last_loud are total. Trim removes
    // only the silent PREFIX and SUFFIX; interior silent frames between
    // the first and last loud frame stay (they're pauses, not padding).
    // Same batched narrow map as m07 — two sequential passes over each
    // payload's frames (energies, then the edge scan), no shuffle,
    // scan-linear, all BIGINT ⇒ exact gate.
    "m11_silence_trim" -> ((s, dir) => {
      val blobs = blobsOf(Tables.documents(s, dir).filter(length(col("text")) >= 2))
      blobs.mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap(_.map(b => trimOf(b)))
      }(Encoders.product[AudioTrim])
        .toDF()
        .orderBy("doc_id")
    }),

    // SCENE-CHANGE DETECTION — the shot-boundary primitive of a video
    // curation pass: per frame (m05's byte grid), an integer signature
    // (Σ frame bytes — a real decoder would use a histogram; the
    // ACCESS PATTERN is identical), then consecutive-frame deltas, a cut
    // wherever the delta exceeds the threshold. One sequential pass per
    // payload inside the same batched narrow map as m05/m07 — no
    // shuffle, scan-linear, and all integer math so the entire
    // frame-delta chain is oracle-checked exactly. At 100 TB: cuts
    // partition each video into shots for per-shot frame sampling
    // (m05) — the standard dedup/caption unit.
    "m08_scene_change" -> ((s, dir) => {
      val blobs = blobsOf(Tables.documents(s, dir).filter(length(col("text")) > 0))
      blobs.mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap(batch => batch.map(sceneStats))
      }(Encoders.product[SceneStats])
        .toDF()
        .orderBy("doc_id")
    }),

    // SHOT SUMMARIZATION — m08's cuts composed into the unit a video
    // curation pass actually operates on: shots (maximal runs of frames
    // between cuts), each with its span, keyframe (max-signature frame,
    // earliest on ties), and byte mass. This is the decode→segment→
    // keyframe-select chain that turns raw video into per-shot curation
    // rows (dedup on keyframes, caption per shot); same batched narrow
    // map as m05/m07/m08 — no shuffle, scan-linear, one sequential pass
    // per payload — and all-integer math keeps the full segmentation
    // under the exact gate (the oracle restates it with window
    // functions: cut flags → running-sum shot ids → per-shot rollup).
    "m10_shot_summary" -> ((s, dir) => {
      val blobs = blobsOf(Tables.documents(s, dir).filter(length(col("text")) > 0))
      blobs.mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap(batch => batch.flatMap(shotRows))
      }(Encoders.product[ShotRow])
        .toDF()
        .orderBy("doc_id", "shot_idx")
    }),

    // VIDEO NEAR-DUP — the shot-level analog of m09's frame-level dedup:
    // two videos are near-dups when their SHOT KEYFRAME SIGNATURE sets
    // overlap (re-encoded / trimmed copies keep most shots; m10's
    // keyframe signature is the stand-in for a real keyframe perceptual
    // hash). Candidate generation is an inverted-index equi-join on the
    // signature (d03's blocking shape in shot space) with a df cap —
    // signatures in more than ShotSigDfCap videos are dropped count-first
    // (the d10 discipline; a boilerplate intro shot must not pair the
    // whole corpus) — and the verdict is Jaccard ≥ 1/2 over the capped
    // sets as an INTEGER inequality (3·shared ≥ |A|+|B|), so the whole
    // chain gates exactly. Scale shape: shots stream out of the same
    // narrow decode map as m10, only (doc, sig) longs shuffle, pair work
    // is bounded by df·|bucket| per signature.
    "m12_video_neardup" -> ((s, dir) => {
      val blobs = blobsOf(Tables.documents(s, dir).filter(length(col("text")) > 0))
      val shots = blobs.mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap(batch => batch.flatMap(shotRows))
      }(Encoders.product[ShotRow]).toDF()
      shotSigPairs(shots.select(col("doc_id"), col("key_sig")).distinct())
    }),

    // PERCEPTUAL-HASH NEAR-DUP IMAGES — the pixel-space analog of d03's
    // MinHash (which never sees pixels, only tokens): a 64-bit gradient
    // dHash per payload, Hamming-band pigeonhole join for candidates,
    // exact Hamming ≤ 3 as the verdict. This is how image corpora dedup
    // at scale (resize-invariant hash ⇒ re-encoded / near-identical
    // images collide) without an O(n²) pixel compare. All integer byte math ⇒
    // the full hash→band→join→distance chain is oracle-checked exactly
    // (the oracle ranks ALL pairs brute-force; pigeonhole guarantees the
    // banded join finds the same ≤3 set).
    "m09_phash_neardup" -> ((s, dir) => {
      phashPairsShared(s, dir).orderBy("doc_a", "doc_b")
    }),

    // PHASH MARGIN CALIBRATION — the distance→byte-agreement curve the
    // PhashHamMax threshold should be read off of (d16's calibration
    // idea applied to the image leg). See phashMargin.
    "m14_phash_margin" -> ((s, dir) =>
      phashMargin(Tables.documents(s, dir).select(col("doc_id"), col("text")))),

    // AUDIO NEAR-DUP — energy-gradient fingerprint, banded pigeonhole
    // join, exact Hamming verify in-row. See audioFpPairs.
    "m15_audio_neardup" -> ((s, dir) =>
      audioFpPairs(Tables.documents(s, dir).select(col("doc_id"), col("text")))),

    // full stubbed decode: metadata struct + frame sampling offsets. The
    // decode values are fake (see fakeDecode) → no SQL oracle; schema,
    // batching, and determinism are asserted in MultimodalSpec.
    "m02_fake_decode" -> ((s, dir) => {
      val blobs = blobsOf(Tables.documents(s, dir))
      blobs.mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap(batch => fakeDecode(batch))
      }(Encoders.product[Decoded])
        .toDF()
        // frame_offsets serialized to a string: the driver's rows-only
        // pandas sort cannot hash array columns.
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
          col("n_channels"),
          concat_ws(",", col("frame_offsets")).as("frame_offsets_csv"))
        .orderBy("doc_id")
    }),

    // MODALITY COVERAGE AUDIT — the first question a multimodal training
    // run asks of its manifest: which text rows have a paired embedding
    // (and vice versa)? Full outer join on the shared id space, rolled up
    // per source: pairing rate plus the byte/char mass of the UNPAIRED
    // rows (what re-embedding would cost). One outer join + one agg;
    // both sides join on their primary key, so at scale this is the
    // bucketed-join shape StorageLayoutSpec pins.
    "m06_modality_coverage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val vecs = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"))
      docs.join(vecs, col("doc_id") === col("vec_id"), "full_outer")
        .groupBy(coalesce(col("source"), lit("<no_doc>")).as("source"))
        .agg(
          count(col("doc_id")).as("n_docs"),
          count(when(col("vec_id").isNotNull && col("doc_id").isNotNull, 1)).as("n_paired"),
          count(when(col("vec_id").isNull, 1)).as("n_unembedded"),
          count(when(col("doc_id").isNull, 1)).as("n_orphan_vecs"),
          coalesce(sum(when(col("vec_id").isNull, col("n_chars"))), lit(0L)).as("unembedded_chars"))
        .orderBy("source")
    }),

    // INTERLEAVED MULTIMODAL PACKING — see multimodalPack: text tokens +
    // ceil-divided payload-patch tokens packed per source into fixed
    // combined budgets, the sequence-assembly plan a vision-language
    // trainer consumes. ASCII-fixture precondition as m01 (strlen ⇔
    // octet_length), asserted in MultimodalSpec.
    "m13_multimodal_pack" -> ((s, dir) =>
      multimodalPack(Tables.documents(s, dir), PatchBytes, MmBudget))
  )

  case class Resized(
      doc_id: Long, src_w: Int, src_h: Int, dst_w: Int, dst_h: Int,
      scale: Double, est_bytes: Long)

  /** STUB resize planning: computes target geometry (fit longest side to
    * `maxSide`, aspect preserved) and output size from the fake-decoded
    * dims. A real pipeline hands (payload, dst_w, dst_h) to the codec; the
    * Spark-side contract — batched narrow map, typed output schema — is
    * identical and is what the spec pins.
    */
  private def planResize(batch: Seq[Decoded], maxSide: Int): Seq[Resized] = batch.map { d =>
    val longest = math.max(d.width, d.height)
    val scale = if (longest <= maxSide) 1.0 else maxSide.toDouble / longest
    val dw = math.max(1, math.round(d.width * scale).toInt)
    val dh = math.max(1, math.round(d.height * scale).toInt)
    Resized(d.doc_id, d.width, d.height, dw, dh, scale, dw.toLong * dh * d.n_channels)
  }

  /** m08's frame signatures: `c(doc_id, byte, pos)` the bytes of every
    * non-empty payload, `fr(doc_id, f, sig)` each FrameStride-byte
    * frame's byte sum.
    */
  private val duckFrameSigCtes: String =
    s"""c AS (
       |  SELECT doc_id, unnest([ascii(text[i]) for i in range(1, len(text)+1)]) AS byte,
       |    unnest(range(0, len(text))) AS pos
       |  FROM documents WHERE strlen(text) > 0
       |), fr AS (
       |  SELECT doc_id, pos // $FrameStride AS f, SUM(byte) AS sig
       |  FROM c GROUP BY doc_id, pos // $FrameStride
       |)""".stripMargin

  /** m10's shot segmentation over duckFrameSigCtes: `d` flags a cut
    * frame, `sid` numbers the shots, `sh(doc_id, f, sig, shot_idx, rk)`
    * ranks each shot's frames by (sig DESC, f ASC). m12 keys videos on
    * the same keyframes.
    */
  private val duckShotCtes: String =
    s"""$duckFrameSigCtes, d AS (
       |  SELECT doc_id, f, sig,
       |    CASE WHEN f > 0 AND abs(sig - LAG(sig) OVER (PARTITION BY doc_id ORDER BY f))
       |      > $CutThreshold THEN 1 ELSE 0 END AS is_cut
       |  FROM fr
       |), sid AS (
       |  SELECT doc_id, f, sig,
       |    SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY f) AS shot_idx
       |  FROM d
       |), sh AS (
       |  SELECT doc_id, f, sig, shot_idx,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id, shot_idx
       |      ORDER BY sig DESC, f ASC) AS rk
       |  FROM sid
       |)""".stripMargin

  /** m07's frame energies: `s` the 16-bit sample indexes `[0, siEnd)` of
    * payloads of at least `minLen` chars, `v` each sample's value in
    * frame `si // frameSamples`, `fr(doc_id, f, e<frameCols>)` each
    * frame's energy.
    */
  private def duckAudioFrameCtes(siEnd: String, minLen: String, frameSamples: Int,
                                 frameCols: String = ""): String =
    s"""s AS (
       |  SELECT doc_id, text, unnest(range(0, $siEnd)) AS si
       |  FROM documents WHERE strlen(text) >= $minLen
       |), v AS (
       |  SELECT doc_id, si // $frameSamples AS f,
       |    (ascii(text[(2*si+1)::INT]) + 256 * ascii(text[(2*si+2)::INT]))::BIGINT AS smp
       |  FROM s
       |), fr AS (
       |  SELECT doc_id, f, SUM(smp * smp) AS e$frameCols
       |  FROM v GROUP BY doc_id, f
       |)""".stripMargin

  /** m09's perceptual hash: `elig` the payloads of at least PhashMinLen
    * chars, `bits(doc_id, i, bit)` the probe comparisons, `<bands>(doc_id,
    * b, v)` the four 16-bit bands, `<hashes>(doc_id, vs)` the band list.
    */
  private[graft] def duckPhashCtes(bands: String = "bands", hashes: String = "h",
                                   alias: String = "t"): String =
    s"""elig AS (
       |  SELECT doc_id, text FROM documents WHERE strlen(text) >= $PhashMinLen
       |), bits AS (
       |  SELECT doc_id, i,
       |    CASE WHEN ascii(text[($PhashStride*i+1)::INT])
       |           > ascii(text[($PhashStride*i+${PhashStride + 1})::INT])
       |         THEN 1 ELSE 0 END AS bit
       |  FROM elig, unnest(range(0, $PhashBits)) AS $alias(i)
       |), $bands AS (
       |  SELECT doc_id, (i // 16)::INT AS b,
       |    SUM(bit * (1::BIGINT << (i % 16)::INT))::BIGINT AS v
       |  FROM bits GROUP BY doc_id, (i // 16)::INT
       |), $hashes AS (
       |  SELECT doc_id, list(v ORDER BY b) AS vs FROM $bands GROUP BY doc_id
       |)""".stripMargin

  /** Hamming distance of two four-band lists `<a>.vs`, `<b>.vs`. */
  private[graft] def duckHamming(a: String, b: String): String =
    s"""bit_count(xor($a.vs[1], $b.vs[1])) + bit_count(xor($a.vs[2], $b.vs[2]))
       |       + bit_count(xor($a.vs[3], $b.vs[3])) + bit_count(xor($a.vs[4], $b.vs[4]))""".stripMargin

  /** `pairs(doc_a, doc_b, dist)`: every id-ordered pair of `h` rows with
    * its Hamming distance (m09's and m15's brute-force pairs).
    */
  private val duckHamPairsCte: String =
    s"""pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(${duckHamming("a", "b")}
       |      AS BIGINT) AS dist
       |  FROM h a JOIN h b ON a.doc_id < b.doc_id
       |)""".stripMargin

  /** m02's rolling fold of the payload's code points, mod 2^64. */
  private val duckByteFold: String =
    s"""list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |      list_transform(list_filter(string_split(text, ''), c -> len(c) > 0),
       |        c -> CAST(unicode(c) AS HUGEINT))),
       |      (a, b) -> (a * 1315423911 + b) % ${DuckHash.T})""".stripMargin

  def oracles: Map[String, String] = Map(
    "m06_modality_coverage" ->
      """SELECT COALESCE(source, '<no_doc>') AS source,
        |  COUNT(doc_id) AS n_docs,
        |  COUNT(CASE WHEN vec_id IS NOT NULL AND doc_id IS NOT NULL THEN 1 END) AS n_paired,
        |  COUNT(CASE WHEN vec_id IS NULL THEN 1 END) AS n_unembedded,
        |  COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS n_orphan_vecs,
        |  CAST(COALESCE(SUM(CASE WHEN vec_id IS NULL THEN n_chars END), 0) AS BIGINT) AS unembedded_chars
        |FROM documents FULL OUTER JOIN embeddings ON doc_id = vec_id
        |GROUP BY COALESCE(source, '<no_doc>')
        |ORDER BY source""".stripMargin,

    // t11's prefix-sum restatement with the two-modality cost: strlen ⇔
    // octet_length under the ASCII-fixture precondition (m01's note);
    // window SUM widens to HUGEINT → cast back to BIGINT
    "m13_multimodal_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(${DuckSql.tokens}) AS BIGINT) AS txt_tokens,
         |    (strlen(text) + ${PatchBytes - 1}) // $PatchBytes AS media_tokens
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, source, txt_tokens, media_tokens,
         |    txt_tokens + media_tokens AS cost,
         |    CAST(SUM(txt_tokens + media_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t WHERE txt_tokens + media_tokens > 0
         |)
         |SELECT doc_id, source, txt_tokens, media_tokens, cost,
         |  cum - cost AS start_off,
         |  (cum - cost) // $MmBudget AS first_seq,
         |  (cum - 1) // $MmBudget AS last_seq,
         |  (cum - 1) // $MmBudget - (cum - cost) // $MmBudget + 1 AS n_seqs
         |FROM c
         |ORDER BY doc_id""".stripMargin,

    // NOTE: this oracle iterates CHARACTERS (ascii(text[i]), strlen) while
    // the Spark side sums UTF-8 BYTES — identical only because the fixture
    // is pure ASCII, which MultimodalSpec asserts as a precondition.
    "m01_blob_stats" ->
      """SELECT doc_id,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(list_sum([ascii(text[i]) for i in range(1, len(text)+1)]) AS BIGINT) AS byte_sum
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // same ASCII-fixture precondition as m01 (chars ⇔ bytes); the probe
    // byte at frame offset o is text[o+1] in DuckDB's 1-based indexing
    "m05_frame_sample" ->
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |    unnest(range(0, (strlen(text) + ${FrameStride - 1}) // $FrameStride)) AS fi
         |  FROM documents WHERE strlen(text) > 0
         |)
         |SELECT doc_id,
         |  COUNT(*) AS n_frames,
         |  COUNT(CASE WHEN fi % $SampleEvery = 0 THEN 1 END) AS n_sampled,
         |  CAST(SUM(CASE WHEN fi % $SampleEvery = 0
         |    THEN ascii(text[(fi * $FrameStride + 1)::INT]) ELSE 0 END) AS BIGINT) AS probe_sum
         |FROM f
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // same ASCII-fixture precondition as m01 (chars ⇔ bytes); sample si
    // is bytes (2si, 2si+1) = text chars (2si+1, 2si+2) in 1-based DuckDB
    "m07_audio_energy" ->
      s"""WITH ${duckAudioFrameCtes("strlen(text) // 2", "2", AudioFrameSamples, ", COUNT(*) AS n")}, agg AS (
         |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_samples, COUNT(*) AS n_frames,
         |    CAST(SUM(e) AS BIGINT) AS total_energy, CAST(MAX(e) AS BIGINT) AS peak_energy
         |  FROM fr GROUP BY doc_id
         |)
         |SELECT a.doc_id, n_samples, n_frames, total_energy,
         |  CAST(MIN(fr.f) AS BIGINT) AS peak_frame, peak_energy
         |FROM agg a JOIN fr ON fr.doc_id = a.doc_id AND fr.e = a.peak_energy
         |GROUP BY a.doc_id, n_samples, n_frames, total_energy, peak_energy
         |ORDER BY a.doc_id""".stripMargin,

    // m07's frame CTEs + the relative gate: loud ⟺ e·4 ≥ doc peak; the
    // kept range is [min loud, max loud] (interior pauses stay)
    "m11_silence_trim" ->
      s"""WITH ${duckAudioFrameCtes("strlen(text) // 2", "2", AudioFrameSamples)}, pk AS (
         |  SELECT doc_id, MAX(e) AS peak, COUNT(*) AS nf FROM fr GROUP BY doc_id
         |), loud AS (
         |  SELECT fr.doc_id, MIN(f) AS first_loud, MAX(f) AS last_loud
         |  FROM fr JOIN pk USING (doc_id)
         |  WHERE fr.e * 4 >= pk.peak
         |  GROUP BY fr.doc_id
         |), kept AS (
         |  SELECT fr.doc_id, SUM(fr.e) AS kept_energy
         |  FROM fr JOIN loud l ON fr.doc_id = l.doc_id
         |    AND fr.f BETWEEN l.first_loud AND l.last_loud
         |  GROUP BY fr.doc_id
         |)
         |SELECT p.doc_id, CAST(p.nf AS BIGINT) AS n_frames,
         |  CAST(l.first_loud AS BIGINT) AS first_loud,
         |  CAST(l.last_loud AS BIGINT) AS last_loud,
         |  CAST(l.last_loud - l.first_loud + 1 AS BIGINT) AS kept_frames,
         |  CAST(p.nf - (l.last_loud - l.first_loud + 1) AS BIGINT) AS trimmed_frames,
         |  CAST(k.kept_energy AS BIGINT) AS kept_energy
         |FROM pk p JOIN loud l USING (doc_id) JOIN kept k USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,

    // same ASCII-fixture precondition as m01 (chars ⇔ bytes); frame f
    // covers chars f*stride+1 .. f*stride+stride (1-based, clamped)
    "m08_scene_change" ->
      s"""WITH $duckFrameSigCtes, d AS (
         |  SELECT doc_id, f, sig,
         |    abs(sig - LAG(sig) OVER (PARTITION BY doc_id ORDER BY f)) AS delta
         |  FROM fr
         |)
         |SELECT doc_id,
         |  COUNT(*) AS n_frames,
         |  CAST(COUNT(CASE WHEN delta > $CutThreshold THEN 1 END) AS BIGINT) AS n_cuts,
         |  CAST(COALESCE(MAX(delta), 0) AS BIGINT) AS max_delta,
         |  CAST(COALESCE(MIN(CASE WHEN delta > $CutThreshold THEN f END), -1) AS BIGINT) AS first_cut_frame
         |FROM d
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // same ASCII-fixture precondition as m01 (chars ⇔ bytes); the
    // segmentation restated declaratively: per-frame sigs (m08's
    // fragment) → cut flags via LAG → running-sum shot ids → per-shot
    // rollup, keyframe = rank 1 by (sig DESC, f ASC) within the shot
    "m10_shot_summary" ->
      s"""WITH $duckShotCtes
         |SELECT doc_id, CAST(shot_idx AS BIGINT) AS shot_idx,
         |  CAST(MIN(f) AS BIGINT) AS start_frame,
         |  COUNT(*) AS n_frames,
         |  CAST(MIN(CASE WHEN rk = 1 THEN f END) AS BIGINT) AS key_frame,
         |  CAST(MIN(CASE WHEN rk = 1 THEN sig END) AS BIGINT) AS key_sig,
         |  CAST(SUM(sig) AS BIGINT) AS sig_mass
         |FROM sh
         |GROUP BY doc_id, shot_idx
         |ORDER BY doc_id, shot_idx""".stripMargin,

    // m10's segmentation chain → per-video keyframe-signature sets →
    // df-capped signature join; Jaccard threshold restated as the same
    // integer inequality
    "m12_video_neardup" ->
      s"""WITH $duckShotCtes, sigs AS (
         |  SELECT DISTINCT doc_id, CAST(sig AS BIGINT) AS key_sig
         |  FROM sh WHERE rk = 1
         |), df AS (
         |  SELECT key_sig, COUNT(*) AS df FROM sigs GROUP BY key_sig
         |), keep AS (
         |  SELECT s.doc_id, s.key_sig FROM sigs s JOIN df USING (key_sig)
         |  WHERE df.df <= $ShotSigDfCap
         |), sz AS (
         |  SELECT doc_id, COUNT(*) AS nsig FROM keep GROUP BY doc_id
         |), pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |  FROM keep a JOIN keep b ON a.key_sig = b.key_sig AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, n_shared, sa.nsig AS n_a, sb.nsig AS n_b,
         |  n_shared::DOUBLE / (sa.nsig + sb.nsig - n_shared)::DOUBLE AS jaccard
         |FROM pr
         |JOIN sz sa ON sa.doc_id = pr.doc_a
         |JOIN sz sb ON sb.doc_id = pr.doc_b
         |WHERE 3 * n_shared >= sa.nsig + sb.nsig
         |ORDER BY doc_a, doc_b""".stripMargin,

    // same ASCII-fixture precondition as m01 (chars ⇔ bytes); probe i is
    // the 0-based byte i·stride = 1-based char i·stride+1. The oracle
    // scores ALL eligible pairs brute-force and keeps Hamming ≤ HamMax —
    // the banded join is answer-invisible by the pigeonhole bound.
    "m09_phash_neardup" ->
      s"""WITH ${duckPhashCtes()}, pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(bit_count(xor(a.vs[1], b.vs[1])) + bit_count(xor(a.vs[2], b.vs[2]))
         |       + bit_count(xor(a.vs[3], b.vs[3])) + bit_count(xor(a.vs[4], b.vs[4]))
         |      AS BIGINT) AS dist
         |  FROM h a JOIN h b ON a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, dist FROM pairs
         |WHERE dist <= $PhashHamMax
         |ORDER BY doc_a, doc_b""".stripMargin,

    // m07's frame-energy CTEs at the m15 grid, LEAD for the gradient
    // bit, then brute pairs at the threshold (the m09 oracle shortcut:
    // dist ≤ 3 < 4 bands pigeonholes one band equal, so the engine's
    // banded candidate set IS the thresholded pair set)
    "m15_audio_neardup" ->
      s"""WITH ${duckAudioFrameCtes(((AudioFpBits + 1) * AudioFpFrameSamples).toString,
                                                AudioFpMinLen.toString, AudioFpFrameSamples)}, bits AS (
         |  SELECT doc_id, f AS i,
         |    CASE WHEN e > LEAD(e) OVER (PARTITION BY doc_id ORDER BY f)
         |         THEN 1 ELSE 0 END AS bit
         |  FROM fr
         |), bands AS (
         |  SELECT doc_id, (i // 8)::INT AS b,
         |    SUM(bit * (1::BIGINT << (i % 8)::INT))::BIGINT AS bv
         |  FROM bits WHERE i < $AudioFpBits GROUP BY doc_id, (i // 8)::INT
         |), h AS (
         |  SELECT doc_id, list(bv ORDER BY b) AS vs FROM bands GROUP BY doc_id
         |), ${duckHamPairsCte}
         |SELECT doc_a, doc_b, dist FROM pairs
         |WHERE dist <= $AudioFpHamMax
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the m09 chain restated WITH the band pigeonhole (the engine's
    // candidate set, not brute pairs — the spectrum is a property of the
    // index) plus the exact probe-byte agreement per pair
    "m14_phash_margin" ->
      s"""WITH ${duckPhashCtes()}, pr AS (
         |  SELECT doc_id,
         |    [ascii(text[($PhashStride*i+1)::INT]) for i in range(0, ${PhashBits + 1})] AS p
         |  FROM elig
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
         |  FROM bands a JOIN bands b2
         |    ON a.b = b2.b AND a.v = b2.v AND a.doc_id < b2.doc_id
         |), scored AS (
         |  SELECT
         |    CAST(${duckHamming("ha", "hb")}
         |      AS BIGINT) AS dist,
         |    CAST(list_sum([CASE WHEN pa.p[i] = pb.p[i] THEN 1 ELSE 0 END
         |                   for i in range(1, ${PhashBits + 2})]) AS BIGINT) AS agr
         |  FROM cand c
         |  JOIN h ha ON ha.doc_id = c.doc_a JOIN h hb ON hb.doc_id = c.doc_b
         |  JOIN pr pa ON pa.doc_id = c.doc_a JOIN pr pb ON pb.doc_id = c.doc_b
         |)
         |SELECT dist, COUNT(*) AS n_pairs,
         |  CAST(SUM(CASE WHEN agr = ${PhashBits + 1} THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_byte_identical,
         |  CAST(SUM(agr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / ${PhashBits + 1}.0
         |    AS mean_agreement,
         |  MIN(agr) AS min_agreement
         |FROM scored
         |GROUP BY dist
         |ORDER BY dist""".stripMargin,

    // same ASCII-fixture precondition as m01 (chars ⇔ bytes)
    "m04_feature_extract" ->
      """WITH c AS (
        |  SELECT doc_id, unnest([ascii(text[i]) // 16 for i in range(1, len(text)+1)]) AS bin
        |  FROM documents
        |)
        |SELECT doc_id, CAST(bin AS INT) AS bin, COUNT(*) AS n
        |FROM c
        |GROUP BY doc_id, bin
        |ORDER BY doc_id, bin""".stripMargin,

    // The "decode" is a STUB, but a deterministic one: geometry is pure
    // integer arithmetic (rolling fold + splitmix64) over the payload
    // bytes, so DuckDB can restate it exactly (DuckHash HUGEINT chains)
    // and the driver checks hashes, not rows-only. Same ASCII-fixture
    // precondition as m01 (chars ⇔ bytes in the fold). slot 0 → width,
    // slot 1 → height, slots 2-5 → the four frame offsets.
    "m02_fake_decode" ->
      s"""WITH f0 AS (
         |  SELECT doc_id, CAST(strlen(text) AS HUGEINT) AS nb,
         |    $duckByteFold AS f
         |  FROM documents
         |), ids AS (
         |  SELECT doc_id, nb, t.slot AS slot, (f + t.slot) % ${DuckHash.T} AS x
         |  FROM f0 CROSS JOIN range(0, 6) t(slot)
         |), ${DuckHash.splitmix64Ctes("doc_id, nb, slot")},
         |wh AS (
         |  SELECT doc_id,
         |    CAST(64 + MAX(CASE WHEN slot = 0 THEN sv % 1024 END) AS INTEGER) AS width,
         |    CAST(64 + MAX(CASE WHEN slot = 1 THEN sv % 1024 END) AS INTEGER) AS height
         |  FROM smixed GROUP BY doc_id
         |), fr AS (
         |  SELECT doc_id,
         |    array_to_string(list_sort(list(CAST((sv // 2) % GREATEST(nb, 1) AS BIGINT))), ',')
         |      AS frame_offsets_csv
         |  FROM smixed WHERE slot >= 2 GROUP BY doc_id
         |)
         |SELECT f0.doc_id, CAST(f0.nb AS BIGINT) AS n_bytes, wh.width, wh.height,
         |  CAST(3 AS INTEGER) AS n_channels, fr.frame_offsets_csv
         |FROM f0 JOIN wh USING (doc_id) JOIN fr USING (doc_id)
         |ORDER BY f0.doc_id""".stripMargin,

    // m02's geometry chain + the resize plan. The double arithmetic is
    // IEEE-identical across engines (256.0/longest, width*scale), and
    // FLOOR(x + 0.5) is Scala's math.round for these positive magnitudes
    // — so scale (a DOUBLE output column) and the rounded dims hash-match.
    "m03_resize_plan" ->
      s"""WITH f0 AS (
         |  SELECT doc_id,
         |    $duckByteFold AS f
         |  FROM documents
         |), ids AS (
         |  SELECT doc_id, t.slot AS slot, (f + t.slot) % ${DuckHash.T} AS x
         |  FROM f0 CROSS JOIN range(0, 2) t(slot)
         |), ${DuckHash.splitmix64Ctes("doc_id, slot")},
         |wh AS (
         |  SELECT doc_id,
         |    CAST(64 + MAX(CASE WHEN slot = 0 THEN sv % 1024 END) AS INTEGER) AS width,
         |    CAST(64 + MAX(CASE WHEN slot = 1 THEN sv % 1024 END) AS INTEGER) AS height
         |  FROM smixed GROUP BY doc_id
         |), rs AS (
         |  SELECT doc_id, width, height,
         |    CASE WHEN GREATEST(width, height) <= 256 THEN CAST(1 AS DOUBLE)
         |         ELSE CAST(256 AS DOUBLE) / GREATEST(width, height) END AS scale
         |  FROM wh
         |), rz AS (
         |  SELECT doc_id, width, height, scale,
         |    CAST(GREATEST(1, CAST(FLOOR(width * scale + 0.5) AS BIGINT)) AS INTEGER) AS dst_w,
         |    CAST(GREATEST(1, CAST(FLOOR(height * scale + 0.5) AS BIGINT)) AS INTEGER) AS dst_h
         |  FROM rs
         |)
         |SELECT doc_id, width AS src_w, height AS src_h, dst_w, dst_h, scale,
         |  CAST(dst_w AS BIGINT) * dst_h * 3 AS est_bytes
         |FROM rz ORDER BY doc_id""".stripMargin
  )
}
