package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.HashingFunctions._
import graft.functions.TextFunctions
import graft.functions.TextFunctions._

/** Text-analysis operators over `documents` (SURVEY.md extension surface):
  * token counting, quality scoring, language ID, fingerprinting, n-gram
  * stats. All per-row maps + one aggregation at most — scan-speed at 100 TB
  * (the only shuffle in this file is t05's n-gram count, which is the
  * classic high-cardinality-key agg: map-side partial aggregation does the
  * heavy lifting, the shuffle carries only distinct n-grams).
  */
object TextAnalysis {

  /** t10: sliding-window chunking geometry (chars). */
  val ChunkSize = 200
  val ChunkStride = 150

  /** t11: training-sequence token budget. */
  val SeqBudget = 512

  /** t14: corpus-frequency threshold below which a token counts as rare. */
  val RareBelow = 20L

  /** t19: a bigram is "heavy" at ≥ 1/`HeavyDenom` of all bigram
    * occurrences (ceil). CMS error eps·N must sit well under the
    * threshold N/HeavyDenom, so eps ≪ 1/HeavyDenom.
    */
  val HeavyDenom = 1000L
  val CmsEps = 2e-4
  val CmsConfidence = 0.99

  /** t21: docs kept per source (exact-count quota sampling). */
  val SampleK = 10

  /** t35: code-symbol density (ppm of characters in the code-y class
    * {}()[];=<>#_) at or above which a document is flagged code-ish.
    * 20000 ppm = 2%: typical prose sits well under 1%, real source code
    * well over 5% — the gap the threshold sits in.
    */
  val CodeSymPpm = 20000L

  /** t35: count of code-y symbol characters — one regexp_replace length
    * diff, scan-level. Exposed for TextSpec's crafted code/prose pins.
    */
  private[operators] def codeSymCount(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (length(c) - length(regexp_replace(c, "[{}()\\[\\];=<>#_]", ""))).cast("long")

  /** t22: total sample budget apportioned across sources by char mass.
    * Must stay modest — it bounds the TopKAggregator buffer (K rows per
    * source per task) and the largest per-source quota.
    */
  val SampleBudget = 120L

  /** t12: PII classes, applied in order (earlier classes consume their
    * matches before later, broader ones run). Patterns stay inside the
    * regex subset Java and RE2 share, so the DuckDB oracle runs them
    * verbatim.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("phone", "\\+?[0-9][0-9()\\- ]{6,}[0-9]", "<PHONE>"),
    ("id", "[0-9]{3,}", "<ID>"))

  /** Chained redaction of every PII class — a pure per-row map (zero
    * shuffle, scan-speed at any corpus size).
    */
  def redactPii(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (_, pat, tag)) => regexp_replace(acc, pat, tag) }

  /** t21 core over any documents frame: the SampleK smallest-hash docs
    * per source, kept by the TopKAggregator's bounded buffer, which goes
    * through `drain` (identity in batch; s20 runs the streaming state to
    * its sink) before the ranks unpack.
    */
  private[graft] def quotaSample(docs: DataFrame,
      drain: DataFrame => DataFrame = identity): DataFrame = {
    import graft.functions.TopKAggregator.top_k
    // reduce mod p BEFORE the multiply: (doc_id % p) ≤ ~1e9 times the
    // Knuth constant (~2.65e9) peaks at ~2.65e18 < Long.Max, so the
    // modular multiply never wraps — the raw doc_id * 2654435761 form
    // silently overflowed Long for doc_id ≳ 3.5e9 (Spark wraps, DuckDB
    // errors: a latent cross-engine divergence at real id scales).
    // For doc_id < p the value is unchanged, so the sample is stable.
    val h = col("doc_id") % lit(999999937L) * lit(2654435761L) % lit(999999937L)
    drain(docs.select(col("source"), col("doc_id"), h.as("h"))
        // negated: the aggregator keeps score-DESC, we want smallest-h;
        // hash < 1e9 ⇒ the double carries it exactly
        .groupBy("source")
        .agg(top_k((-col("h")).cast("double"), col("doc_id"), SampleK).as("top")))
      .select(col("source"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("source"), (col("i") + 1).cast("long").as("rank"),
        col("t.id").as("doc_id"), (-col("t.score")).cast("long").as("h"))
      .orderBy("source", "rank")
  }

  /** Per-doc (n_tokens, sum_bits, nb) frame t25 finalizes and p10's
    * curriculum planner phases on — one definition so the two operators
    * cannot drift (the s23 shared-gate lesson applied to Scala).
    */
  private[operators] def surprisalPerDoc(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
    val tot = freq.agg(sum("cf").as("n"))
      .select((length(bin(col("n"))) - 1).cast("long").as("nb"))
    toks.join(freq, "tok")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        (col("nb") - (length(bin(col("cf"))) - 1)).cast("long").as("bits"), col("nb"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("bits").as("sum_bits"), max("nb").as("nb"))
  }

  /** t34 core over a documents frame — extracted so a crafted two-doc
    * corpus pins counts, the fixed-point lift, and the filter floors
    * closed-form. See the query scaladoc.
    */
  private[operators] def pmiPairs(documents: DataFrame): DataFrame = {
    val docs = documents
      .select(tokens(col("text")).as("w"))
    val toks = docs.select(explode(col("w")).as("tok"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = toks.agg(count(lit(1)).as("n"))
    val ev = (1 to PmiWindow).map { g =>
      docs.filter(size(col("w")) > g)
        .select(explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - g),
          slice(col("w"), lit(g + 1), size(col("w")) - g))).as("p"))
        .select(least(col("p.0"), col("p.1")).as("u"),
          greatest(col("p.0"), col("p.1")).as("v"))
    }.reduce(_ unionAll _)
    val wtot = ev.agg(count(lit(1)).as("wt"))
    ev.groupBy("u", "v").agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= PmiMinPair)
      .join(uni.select(col("tok").as("u"), col("c").as("c_u")), "u")
      .join(uni.select(col("tok").as("v"), col("c").as("c_v")), "v")
      .filter(col("c_u") >= PmiMinTok && col("c_v") >= PmiMinTok)
      .crossJoin(broadcast(tot)).crossJoin(broadcast(wtot))
      .select(col("u"), col("v"), col("c_pair"), col("c_u"), col("c_v"),
        expr("""CAST(c_pair AS DECIMAL(38,0)) * 1000000000000
               | DIV (CAST(c_u AS DECIMAL(38,0)) * CAST(c_v AS DECIMAL(38,0)))"""
          .stripMargin).as("lift_ppt"),
        ((col("c_pair").cast("double") * col("n").cast("double")
          * col("n").cast("double"))
          / (col("wt").cast("double") * col("c_u").cast("double")
            * col("c_v").cast("double"))).as("pmi_ratio"))
      .orderBy(col("lift_ppt").desc, col("u").asc, col("v").asc)
      .limit(PmiTopK)
  }

  /** t33 core over any (doc_id, source, text) frame — extracted so the
    * OOV rule and the shift direction are unit-testable on crafted
    * splits (the fixture is IID by construction, so its report correctly
    * shows no shift). */
  private[operators] def splitShift(docs: DataFrame): DataFrame = {
    val bucket = pmod(xxhash64(col("doc_id")), lit(100))
    val toks = docs
      .select(col("doc_id"), col("source"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"),
        explode(tokens(col("text"))).as("tok"))
    val freq = toks.filter(col("split") === "train")
      .groupBy("tok").agg(count(lit(1)).as("cf"))
    val tot = freq.agg(sum("cf").as("n"))
      .select((length(bin(col("n"))) - 1).cast("long").as("nb"))
    toks.join(freq, Seq("tok"), "left")
      .crossJoin(broadcast(tot))
      .select(col("split"), col("source"),
        when(col("cf").isNull, col("nb") + lit(1L))
          .otherwise((col("nb") - (length(bin(col("cf"))) - 1)).cast("long")).as("bits"),
        col("cf").isNull.as("oov"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        sum("bits").as("sum_bits"))
      .select(col("split"), col("source"), col("n_tokens"), col("n_oov"),
        col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_tokens").cast("double"))
          .as("mean_bits"))
      .orderBy("split", "source")
  }

  /** t25 core over any (doc_id, text) frame — see the catalog entry for
    * the bitlength-as-floor-log2 exactness argument.
    */
  private[operators] def surprisalScore(docs: DataFrame): DataFrame = {
    surprisalPerDoc(docs)
      .select(col("doc_id"), col("n_tokens"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_tokens").cast("double")).as("mean_bits"),
        // mean surprisal > 3/4 of the max possible bits ⟺ integer
        // cross-multiplication — both engines decide identically
        (col("sum_bits") * 4 > col("nb") * 3 * col("n_tokens")).as("is_rare_heavy"))
      .orderBy("doc_id")
  }

  /** t27 core over any (text) frame — one BPE merge round, the
    * tokenizer-TRAINING kernel t26's pretokenizer feeds. The trainer
    * trick that makes BPE tractable at corpus scale is applied literally:
    * pair statistics are computed over the VOCABULARY (distinct word →
    * corpus frequency), not the corpus — the corpus is scanned once into
    * a word-frequency table (map-side combined, vocabulary-sized), and
    * the adjacent-symbol pair explode runs over |vocab| rows with each
    * pair weighted by its word's frequency. The merge winner is the
    * max-count pair with the standard deterministic tie-break
    * (count DESC, pair ASC); everything is integer counts over exact
    * strings, so the whole round sits under the hash gate.
    */
  private[operators] def bpeMergeStep(docs: DataFrame, topK: Int): DataFrame = {
    val vocab = docs
      .select(explode(alphaWords(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wf"))
    val pairs = vocab
      .select(col("wf"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => struct(col("w").substr(i, lit(1)).as("l"),
            col("w").substr(i + lit(1), lit(1)).as("r")))).as("p"))
      .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
      .agg(sum("wf").as("pair_count"))
    // ≤ |alphabet|² rows reach the rank — the unpartitioned window is
    // over a metadata-sized frame (the documented benign class)
    val wTop = Window.orderBy(col("pair_count").desc, col("left_sym").asc, col("right_sym").asc)
    pairs
      .orderBy(col("pair_count").desc, col("left_sym").asc, col("right_sym").asc)
      .limit(topK)
      .withColumn("merge_rank", row_number().over(wTop).cast("long"))
      .withColumn("is_merge_winner", col("merge_rank") === 1L)
      .orderBy("merge_rank")
  }

  /** t28 core over any (source, text) frame — APPLY the BPE merge t27
    * trains, and audit what it bought: per source, the corpus token count
    * before (char-level init: Σ wf·len(w)) and after one merge, with the
    * merge count in between. Same vocabulary trick as t27 — the corpus is
    * scanned ONCE into a (source, word → frequency) table (materialized:
    * both the winner derivation and the apply consume it), the global
    * winner re-aggregates it source-free, and the apply runs `replace`
    * over |vocab × sources| rows, never the corpus. `replace` is
    * leftmost-non-overlapping in both engines ("aaa" under merge "aa" →
    * one merge), which is exactly BPE's simultaneous-application rule;
    * chr(1) as the stand-in symbol can't collide with [a-z]+ pretokens.
    * Result lands in scratch storage (the p07 discipline) so the vocab
    * cache is released before return.
    */
  private[operators] def bpeApplyStep(docs: DataFrame): DataFrame = {
    val vocab = graft.Materialize(docs
      .select(col("source"), explode(alphaWords(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("wf")))
    try {
      val win = vocab
        .groupBy("w").agg(sum("wf").as("gwf"))
        .filter(length(col("w")) >= 2)
        .select(col("gwf"),
          explode(transform(sequence(lit(1), length(col("w")) - 1),
            i => struct(col("w").substr(i, lit(1)).as("l"),
              col("w").substr(i + lit(1), lit(1)).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("gwf").as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc).limit(1)
        .select(concat(col("l"), col("r")).as("pair"))
      val out = vocab.crossJoin(broadcast(win))
        .select(col("source"), col("wf"),
          length(col("w")).cast("long").as("lw"),
          (length(col("w")) - length(expr("replace(w, pair, chr(1))"))).cast("long").as("m"))
        .groupBy("source")
        .agg(sum("wf").as("n_words"),
          sum(col("wf") * col("lw")).as("tokens_before"),
          sum(col("wf") * col("m")).as("merges_applied"))
        .withColumn("tokens_after", col("tokens_before") - col("merges_applied"))
        .orderBy("source")
      graft.Materialize.toStorage(out, "t28_bpe_apply")
    } finally vocab.unpersist()
  }

  /** t29: the fixed merge-round count of the BPE training loop — both
    * engines unroll exactly this many layers (the g05/g02b discipline).
    */
  val BpeRounds = 6

  /** t34: co-occurrence window — unordered pairs at token gaps 1..this. */
  val PmiWindow = 2
  /** t34: pair-event floor (a collocation seen fewer times is noise). */
  val PmiMinPair = 3L
  /** t34: unigram floor — PMI of a near-hapax is dominated by its own
    * rarity, the classic PMI failure mode; the floor is the d10/t19 df
    * discipline applied to collocation mining. */
  val PmiMinTok = 5L
  val PmiTopK = 50

  /** t29 core over any (text) frame — the BPE TRAINING LOOP: t27's merge
    * pick and t28's apply alternated for K fixed rounds, emitting the
    * learned merge list with the per-round corpus token count (the curve
    * a tokenizer trainer actually watches). State is the VOCABULARY as a
    * symbol-sequence table: each word rendered with every symbol wrapped
    * chr(1)·sym·chr(2), so a merge is ONE literal `replace` — the
    * delimiters make cross-symbol false matches impossible (a pattern
    * can only match whole adjacent symbols) and `replace`'s
    * leftmost-non-overlapping scan is exactly BPE's simultaneous-
    * application rule, identical in both engines ("aaaa" under merge
    * (a,a) → two merges, "aaa" → one). Each round's vocabulary goes to
    * SCRATCH PARQUET (the g02b carry discipline — it is referenced by
    * both the next pick and the apply, and a cached carry doubles the
    * analyzed plan per round); per-round driver traffic is the winner
    * pair + two audit scalars. The corpus is scanned ONCE (round cost is
    * |vocab|-bounded), and every count is an exact integer — the whole
    * K-round training run sits under the hash gate against K generated
    * MATERIALIZED oracle layers.
    */
  private[graft] def bpeTrainProfile(docs: DataFrame,
                                         rounds: Int = BpeRounds): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val S = "\u0001"
    val E = "\u0002"
    var vocab = graft.Materialize.toStorage(
      docs.select(explode(alphaWords(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wf"))
        .select(regexp_replace(col("w"), "(.)", S + "$1" + E).as("ws"), col("wf")),
      "bpe_v0")
    val prof = (1 to rounds).map { r =>
      val pairs = vocab
        .select(col("wf"), split(expr("substring(ws, 2, length(ws) - 2)"), E + S).as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("wf"), explode(expr(
          "transform(sequence(1, size(sy) - 1)," +
            " i -> struct(element_at(sy, i) AS l, element_at(sy, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("wf").as("cnt"))
      val win = pairs.orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()(0)
      val (wl, wr, cnt) = (win.getString(0), win.getString(1), win.getLong(2))
      // `replace` with lit() patterns — corpus-derived symbols never touch
      // SQL text (and [a-z]+ symbols can't collide with the delimiters)
      val next = graft.Materialize.toStorage(
        vocab.select(
          replace(col("ws"), lit(S + wl + E + S + wr + E),
            lit(S + wl + wr + E)).as("ws"),
          col("wf")), s"bpe_v$r")
      val tokensAfter = next
        .agg(sum(col("wf") *
          (length(col("ws")) - length(replace(col("ws"), lit(S), lit(""))))).as("ta"))
        .collect()(0).getLong(0)
      vocab = next
      (r.toLong, wl, wr, cnt, tokensAfter)
    }
    prof.toDF("round", "left_sym", "right_sym", "pair_count", "tokens_after")
      .orderBy("round")
  }

  /** t30 core over any (doc_id, text) frame — per-document BIGRAM
    * surprisal under the corpus bigram model, t25's floor-log2 discipline
    * one order up: bits(w | prev) = bitlen(cf(prev)) − bitlen(cf(prev,w))
    * (both counts over the corpus bigram stream, so bf ≤ pf and bits ≥ 0
    * always), where bitlen = length(bin(n)) − 1 = ⌊log₂ n⌋ — exact
    * integers, no float log. What the unigram t25 cannot see: a doc made
    * of COMMON words in IMPROBABLE order scores high here, while looped /
    * templated text (every transition deterministic: bf = pf, 0 bits)
    * pins to the `is_low_entropy` flag — the cheap babble detector a
    * quality pipeline runs before paying for a real LM. Shape: one token
    * scan → bigram explode → two map-side-combined freq aggs (the t05
    * high-cardinality-agg class) → hash join back on (prev, w).
    */
  private[operators] def bigramSurprisal(docs: DataFrame): DataFrame = {
    val bi = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1)," +
          " i -> struct(element_at(toks, i) AS p, element_at(toks, i + 1) AS w))")).as("b"))
      .select(col("doc_id"), col("b.p").as("p"), col("b.w").as("w"))
    val bfreq = bi.groupBy("p", "w").agg(count(lit(1)).as("bf"))
    val pfreq = bi.groupBy("p").agg(count(lit(1)).as("pf"))
    bi.join(bfreq, Seq("p", "w")).join(pfreq, Seq("p"))
      .select(col("doc_id"),
        (length(bin(col("pf"))) - length(bin(col("bf")))).cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("bits").as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_bigrams").cast("double")).as("mean_bits"),
        // mean conditional surprisal < 2 bits ⟺ integer cross-mult
        (col("sum_bits") < col("n_bigrams") * 2).as("is_low_entropy"))
      .orderBy("doc_id")
  }

  /** t31 core over (doc_id, text) rows — the corpus frequency SPECTRUM:
    * vocabulary types bucketed by floor(log2 cf) (stated as bit lengths —
    * t25's no-float-log discipline), with each bucket's type count, token
    * mass, and the RANK RANGE its types occupy when the vocabulary is
    * ordered by descending frequency. This is the Zipf/Heaps audit a
    * corpus team reads before trusting token-budget math: under Zipf,
    * mass per log-frequency bucket is ~flat and n_types ~doubles per
    * bucket downward; a scraped corpus whose spectrum bulges at fb=0
    * (hapax flood — boilerplate IDs, OCR noise) or at the top (template
    * spam) fails both.
    *
    * Scale shape: one corpus-linear token scan into a vocabulary-keyed
    * hash agg (map-side combines), then everything downstream is
    * vocabulary-sized → ≤ 63 bucket rows. The rank range needs NO global
    * vocabulary sort: ranks are recovered per-bucket from the descending
    * cumulative type count — the unpartitioned window runs over the ≤ 63
    * bucket rows (metadata-sized, the Temporal daily-totals precedent),
    * never the vocabulary.
    */
  private[operators] def zipfSpectrum(docs: DataFrame): DataFrame = {
    val freq = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cf"))
    val tot = freq.agg(sum("cf").as("t"))
    val spec = freq
      .groupBy((length(bin(col("cf"))) - 1).cast("long").as("fb"))
      .agg(count(lit(1)).as("n_types"), sum("cf").as("mass"),
        min("cf").as("min_cf"), max("cf").as("max_cf"))
    val w = Window.orderBy(col("fb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spec
      .withColumn("rank_hi", sum("n_types").over(w))
      .crossJoin(broadcast(tot))
      .select(col("fb"), col("n_types"), col("mass"), col("min_cf"), col("max_cf"),
        (col("rank_hi") - col("n_types") + 1).as("rank_lo"), col("rank_hi"),
        (col("mass").cast("double") / col("t").cast("double")).as("mass_share"))
      .orderBy(col("fb").desc)
  }

  /** t32 core over (source, text) rows — EXACT total-variation distance
    * between every source pair's unigram distributions: TV(a, b) =
    * ½ Σ_tok |c_a/N_a − c_b/N_b| = Σ_tok |c_a·N_b − c_b·N_a| / (2·N_a·N_b)
    * — the numerator is pure integer arithmetic, so the whole drift
    * matrix sits under the hash gate (a float Σ|p−q| would differ
    * between engines by summation order). The mixture-diversity audit
    * run before trusting p02/p08's source quotas: two "different"
    * sources with TV ≈ 0 are the same crawl twice; TV = 1 means
    * disjoint vocabularies.
    *
    * The union-wide sum decomposes so ONE inner join suffices:
    * Σ_union = Σ_common |c_a·N_b − c_b·N_a| + (N_a − Σ_common c_a)·N_b
    * + (N_b − Σ_common c_b)·N_a — tokens private to a source never join.
    * Terms go through decimal(38,0) (g06's overflow discipline: c·N
    * products pass int64 at the 100× corpus; DuckDB's HUGEINT carries
    * the same exact integers), each side cast to double for the one
    * division. The pair grid comes from the totals frame, so source
    * pairs sharing NO tokens still appear with tv = 1 (the d13
    * zero-cell lesson). Scale shape: one token scan into a
    * (source, tok) agg, one vocab-keyed self-join fanning each token to
    * ≤ |S|² pairs, and a |S|²-row rollup.
    */
  private[operators] def sourceDivergence(docs: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    def d(c: Column) = c.cast(dec)
    val tf = docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val nt = tf.groupBy("source").agg(sum("c").as("n"))
    val a = tf.select(col("source").as("src_a"), col("tok"), col("c").as("ca"))
    val b = tf.select(col("source").as("src_b"), col("tok"), col("c").as("cb"))
    val na = nt.select(col("source").as("src_a"), col("n").as("na"))
    val nb = nt.select(col("source").as("src_b"), col("n").as("nb"))
    val common = a.join(b, "tok").filter(col("src_a") < col("src_b"))
      .join(broadcast(na), "src_a").join(broadcast(nb), "src_b")
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_common_types"),
        sum(abs(d(col("ca")) * d(col("nb")) - d(col("cb")) * d(col("na")))).as("num_common"),
        sum("ca").as("ca_common"), sum("cb").as("cb_common"))
    na.crossJoin(nb).filter(col("src_a") < col("src_b"))
      .join(common, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("na").as("n_a"), col("nb").as("n_b"),
        coalesce(col("n_common_types"), lit(0L)).as("n_common_types"),
        ((coalesce(col("num_common"), lit(0L).cast(dec))
          + d(col("na") - coalesce(col("ca_common"), lit(0L))) * d(col("nb"))
          + d(col("nb") - coalesce(col("cb_common"), lit(0L))) * d(col("na"))).cast("double")
          / (d(lit(2)) * d(col("na")) * d(col("nb"))).cast("double")).as("tv"))
      .orderBy("src_a", "src_b")
  }

  /** t18 core over (doc_id, w: array<string>) rows — exposed so TextSpec
    * can drive the flag threshold with a crafted corpus (the fixture's
    * span frequencies are emergent, not controlled).
    */
  private[operators] def boilerplateSpans(docs: DataFrame): DataFrame = {
    val d = docs.filter(size(col("w")) >= 2)
    val sp = d.select(col("doc_id"),
      explode(expr(
        "transform(sequence(0, int(size(w) / 2) - 1)," +
          " j -> concat(element_at(w, 2*j+1), ' ', element_at(w, 2*j+2)))")).as("span"))
    val nDocs = d.select(count(lit(1)).as("n_docs"))
    val dfreq = sp.select("doc_id", "span").distinct()
      .groupBy("span").agg(count(lit(1)).as("df"))
    sp.join(dfreq, "span")
      .crossJoin(broadcast(nDocs))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") * 20 > col("n_docs"), 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        col("n_boiler").cast("double") / col("n_spans").cast("double"))
      .withColumn("keep", col("n_boiler") * 2 <= col("n_spans"))
      .select("doc_id", "n_spans", "n_boiler", "boiler_ratio", "keep")
  }

  /** t24 core over (doc_id, text) rows — extracted so the boundary cases
    * (fully-novel doc, fully-shared twin docs, sub-3-token doc absent)
    * are unit-testable on crafted corpora.
    */
  private[operators] def ngramNovelty(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), explode(wordShingles(col("text"), 3)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    val df = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_frac",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
      .orderBy("doc_id")
  }

  /** t22's largest-remainder (Hamilton) apportionment over a (source, m)
    * mass frame: base = ⌊k·m/M⌋, the k − Σbase leftover seats go to the
    * largest remainders (ties by source asc). All BIGINT, so the quota
    * vector is engine-exact; the unpartitioned windows run over |sources|
    * rows, never the corpus. Exposed for TextSpec's apportionment-law
    * tests (Σquota = k; every quota within 1 of its exact share).
    */
  private[operators] def apportionedQuotas(mass: DataFrame, k: Long): DataFrame = {
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRem = Window.partitionBy(lit(1)).orderBy(col("rem").desc, col("source").asc)
    mass
      .withColumn("mtot", sum("m").over(wAll))
      // `div`, not `/`: Spark's `/` on BIGINTs is double division
      .withColumn("base", expr(s"($k * m) div mtot"))
      .withColumn("rem", expr(s"($k * m) % mtot"))
      .withColumn("leftover", lit(k) - sum("base").over(wAll))
      .withColumn("rr", row_number().over(wRem))
      .select(col("source"),
        (col("base") + when(col("rr") <= col("leftover"), 1L).otherwise(0L)).as("quota"))
  }

  /** t23 core over (doc_id, text) rows — exposed so TextSpec can pin the
    * masking geometry on a crafted corpus (overlapping hits merge, edge
    * windows cover exactly 4 positions, clean docs keep everything).
    * Eval membership is t07's rule (doc_id % 97 == 0).
    */
  private[operators] def decontaminateSurgery(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val wins = toks.filter(col("n_tokens") >= 4)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("w")) - 4),
          i => struct(i.cast("long").as("wi"),
            xxhash64(concat_ws(" ", slice(col("w"), i + 1, lit(4)))).as("h")))).as("x"))
      .select(col("doc_id"), col("x.wi"), col("x.h"))
    val evalH = wins.filter(col("doc_id") % 97 === 0).select("h").distinct()
    val masked = wins.filter(col("doc_id") % 97 =!= 0)
      .join(evalH, "h")
      .select(col("doc_id"), explode(sequence(col("wi"), col("wi") + 3)).as("pos"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_masked"))
    toks.filter(col("doc_id") % 97 =!= 0)
      .join(masked, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"))
      .withColumn("n_kept", col("n_tokens") - col("n_masked"))
      .withColumn("kept_frac",
        col("n_kept").cast("double") / col("n_tokens").cast("double"))
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // token accounting: whitespace tokens + BPE-ish subword units.
    "t01_token_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          tokenCountWs(col("text")).as("n_tokens_ws"),
          tokenCountBpe(col("text")).as("n_tokens_bpe"),
          col("n_chars"))
        .orderBy("doc_id")
    }),

    // quality scoring: exact int ratios, one double composite.
    "t02_quality_score" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          stopwordRatio(col("text")).as("stopword_ratio"),
          punctRatio(col("text")).as("punct_ratio"),
          meanTokenLen(col("text")).as("mean_token_len"),
          qualityScore(col("text")).as("quality_score"))
        .orderBy("doc_id")
    }),

    // language ID: marker-lexicon scores, alphabetical-first argmax.
    "t03_lang_id" -> ((s, dir) => {
      val scores = TextFunctions.LangMarkers.map { case (lang, ms) =>
        langScore(col("text"), ms).as(s"score_$lang")
      }
      Tables.documents(s, dir)
        .select(col("doc_id") +: col("lang").as("lang_actual") +: scores :+
          langId(col("text")).as("lang_pred") :+
          (langId(col("text")) === col("lang")).as("is_match"): _*)
        .orderBy("doc_id")
    }),

    // content fingerprinting: rolling hash of normalized text + dup-group
    // size. The hash is a polynomial fold over the normalized (ASCII-only)
    // bytes mod 2^64 — plain integer arithmetic, so the oracle restates it
    // in DuckDB as a HUGEINT list_reduce over codepoints (bytes ==
    // codepoints post-norm) and the driver checks hashes, not rows-only.
    // Equality semantics (fp equal ⟺ normalized text equal) also
    // asserted in TextSpec.
    "t04_fingerprint" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), rolling_fingerprint(normText(col("text"))).as("fp"))
      val groups = d.groupBy("fp").agg(count(lit(1)).as("group_size"))
      d.join(groups, "fp")
        .select(col("doc_id"), col("fp"), col("group_size"))
        .orderBy("doc_id")
    }),

    // deterministic train/val/test holdout split: bucket = xxhash64 of the
    // STABLE key, never rand() — identical assignment on every run, every
    // cluster size, every retry (the property that keeps a 100 TB corpus
    // split consistent across reprocessing). 80/10/10 by hash bucket.
    // Spark's xxhash64 over one BIGINT is ~12 fixed 64-bit wrapping
    // multiply/rotate/xor steps, which the oracle restates exactly in
    // DuckDB HUGEINT mod-2^64 arithmetic (see DuckHash) — so even the
    // hash-dependent split sits under the driver's hash gate. Split
    // determinism/disjointness/proportions additionally asserted in
    // TextSpec.
    "t06_hash_split" -> ((s, dir) => {
      val bucket = pmod(xxhash64(col("doc_id")), lit(100))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("split")
    }),

    // benchmark decontamination — the step every training pipeline runs
    // before release: flag training docs sharing any 4-gram shingle with
    // the held-out eval set (here: doc_id % 97 == 0, a deterministic
    // pseudo-benchmark). One explode per side + an equi-join KEYED BY THE
    // SHINGLE — shuffle scales with corpus shingle volume, never with
    // |train| × |eval|; the eval side is tiny and broadcastable at any
    // corpus size.
    "t07_decontaminate" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), explode(wordShingles(col("text"), 4)).as("g"))
      val evalG = sh.filter(col("doc_id") % 97 === 0).select("g").distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(evalG, "g")
        .groupBy("doc_id")
        // shingles are distinct within a doc, so count == distinct count
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    }),

    // DECONTAMINATION SURGERY — t07 upgraded from flag-the-doc to the
    // span-level excision a release pipeline actually performs: dropping
    // every contaminated doc wholesale throws away the 99% of its tokens
    // that are clean, so instead each eval-overlapping 4-gram window
    // masks exactly its own 4 token positions and the doc ships with
    // those positions excised. Mechanics are d12's position-mass shape
    // pointed at t07's eval set: windows leave the scan as 64-bit hashes
    // (raw text never shuffles), the eval side is distinct + tiny
    // (broadcast at any corpus size), and ONLY the contaminated windows
    // — rare by construction — explode ×4 into covered positions before
    // the distinct. Window wi covers tokens [wi, wi+3] with wi ≤
    // n_tokens−4, so coverage needs no clamp; all counts are integers
    // and kept_frac is one IEEE division of exact longs ⇒ exact gate.
    // 64-bit window-hash collisions are the same accepted ~1e-14 odds
    // as d02/d12/p01.
    "t23_decontaminate_surgery" -> ((s, dir) =>
      decontaminateSurgery(Tables.documents(s, dir))),

    // N-GRAM NOVELTY — the memorization/duplication-adjacent quality
    // signal: what fraction of a doc's distinct 3-gram shingles appear in
    // NO other document (df == 1 corpus-wide ⇒ the shingle is this doc's
    // alone — wordShingles is distinct-per-doc, so df counts documents).
    // High novelty = original text; low novelty = assembled from
    // corpus-common fragments. Complements d06 (pairwise source overlap)
    // and d12 (dup mass weighs REPEATED windows; novelty isolates the
    // never-repeated ones). Scale shape: the d12 discipline — shingles
    // leave the scan as 64-bit hashes (raw text never shuffles), one
    // map-side-combined df agg, one hash equi-join back; corpus-linear.
    // Same accepted ~1e-14 collision odds as d02/d12/t23.
    "t24_ngram_novelty" -> ((s, dir) => ngramNovelty(Tables.documents(s, dir))),

    // deterministic source-mixture sampling: admit each doc iff a
    // stateless mix of its id lands under the source's target rate
    // (30..93% by source number). (id % prime) bounds the product so the
    // arithmetic never overflows int64 at any id scale, and the whole rule
    // is plain integer SQL — the oracle runs it verbatim. Like t06, no
    // rand(): re-sampling on retries/re-runs is bit-identical. For
    // adversarially structured ids use xxhash64 as t06 does (engine-
    // specific hash → that variant is rows-only).
    "t08_mixture_sample" -> ((s, dir) => {
      // guard the digit extraction: a digitless source name yields "" from
      // regexp_extract — cast("") would throw under ANSI; when() makes the
      // rate null so the row is simply never sampled (mirrored by the
      // oracle's TRY_CAST, which also nulls out)
      val digits = regexp_extract(col("source"), "[0-9]+", 0)
      val rate = lit(30L) + when(digits =!= "", digits.cast("long")) % 10 * 7L
      val mix = col("doc_id") % 1000003L * 2654435761L % 100L
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          count(when(mix < rate, 1)).as("n_sampled"))
        .orderBy("source")
    }),

    // RAG/context-window chunking: overlapping fixed-size character
    // windows (size 200, stride 150 ⇒ 50-char overlap), one row per
    // chunk with its offset. A narrow explode — no shuffle at all; chunk
    // count is ⌈len/stride⌉ so output volume is ~4/3× input, constant
    // factor at any corpus size.
    "t10_chunk_docs" -> ((s, dir) => {
      Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          explode(expr(s"sequence(0, (length(text) - 1) div $ChunkStride)")).as("ci"))
        .select(col("doc_id"),
          col("ci").cast("long").as("chunk_idx"),
          (col("ci") * ChunkStride).cast("long").as("chunk_start"),
          col("text").substr(col("ci") * ChunkStride + 1, lit(ChunkSize)).as("chunk_text"))
        .withColumn("chunk_len", length(col("chunk_text")).cast("long"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // training-sequence packing, concat-and-chunk style: per source,
    // docs in doc_id order form one token stream that is cut every 512
    // tokens; each doc reports which sequences it lands in. The prefix
    // sum is a window WITHIN source — embarrassingly parallel across
    // sources, and the shuffle carries (source, doc_id, n_tokens) triples
    // only, never text. (A single global stream would serialize on one
    // partition; per-group streams are the form that scales.)
    "t11_pack_sequences" -> ((s, dir) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          tokenCountWs(col("text")).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .withColumn("cum", sum("n_tokens").over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          (col("cum") - col("n_tokens")).as("start_off"),
          expr(s"(cum - n_tokens) div $SeqBudget").as("first_seq"),
          expr(s"(cum - 1) div $SeqBudget").as("last_seq"))
        .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
        .orderBy("doc_id")
    }),

    // PII redaction — the release gate every published dataset passes:
    // mask email / phone / long-digit-id spans, report per-class match
    // counts (counted independently on the original text). Exercised here
    // on customer names (the fixture's digit-bearing column); the full
    // pattern set incl. emails and phone formats is pinned in TextSpec.
    "t12_pii_redact" -> ((s, dir) => {
      // lit(pat), not expr("... '$pat' ..."): a SQL string literal would
      // re-process the regex's backslashes
      val counts = PiiPatterns.map { case (name, pat, _) =>
        size(regexp_extract_all(col("c_name"), lit(pat), lit(0))).cast("long").as(s"n_$name")
      }
      Tables.customer(s, dir)
        .select(col("c_custkey") +: redactPii(col("c_name")).as("masked_name") +: counts: _*)
        .orderBy("c_custkey")
    }),

    // t07's decontamination with the at-scale prefilter: the eval set's
    // 4-gram hashes are folded into Spark's own runtime-filter bloom
    // (bloom_filter_agg — a few hundred KB however big the corpus), the
    // corpus is pre-filtered by might_contain BEFORE the shuffle join, and
    // the surviving sliver is exactly verified against the eval grams, so
    // false positives never reach the output (and blooms have no false
    // negatives — t13 ≡ t07, which is why the same oracle gates it). At
    // 100 TB the bloom probe drops ~99% of corpus grams at scan speed;
    // the collect of the filter binary to the driver is the broadcast of
    // a small dimension, not a data-path collect.
    "t13_bloom_decontaminate" -> ((s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), explode(wordShingles(col("text"), 4)).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("h"))
      val evalH = grams.filter(col("doc_id") % 97 === 0).select("h").distinct()
      val bloom = evalH.agg(bloom_filter_agg(col("h"), 1 << 14, (1 << 14) * 16L).as("bf"))
        .head().getAs[Array[Byte]](0)
      grams.filter(col("doc_id") % 97 =!= 0)
        .filter(might_contain(lit(bloom), col("h")))
        .join(broadcast(evalH), "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    }),

    // corpus-frequency fluency signal: score each document by how rare
    // its tokens are corpus-wide (the integer-exact cousin of a unigram
    // LM perplexity — rare-token ratio flags gibberish/OCR noise, a
    // standard curation rule). Two shuffles: the corpus unigram count
    // (distinct tokens only, map-side combined) and the token→freq
    // join-back keyed by token; at 100 TB the unigram table is the thing
    // you'd broadcast — integer sums keep the whole query hash-exact.
    // INTEGER SURPRISAL SCORING — the deterministic skeleton of the
    // perplexity quality filter every curation stack runs (score each
    // doc by how improbable its tokens are under a corpus LM, flag the
    // tail). The per-token surprisal is floor(log2(N / cf)) STATED AS
    // BIT LENGTHS — floor(log2 n) = bitlength(n) − 1 — because log/exp
    // are not correctly-rounded IEEE ops and a float log2 would differ
    // between engines at the ulp level, breaking the hash gate; the
    // bit-length form keeps the perplexity SHAPE (rare tokens cost more
    // bits, the flag is a mean-bits threshold) in exact integer
    // arithmetic on both sides. Same scale shape as t14: token-linear,
    // one vocabulary-keyed shuffle that map-side combines, and the
    // 1-row corpus total rides a broadcast.
    "t25_surprisal_score" -> ((s, dir) => surprisalScore(Tables.documents(s, dir))),

    // SPLIT DISTRIBUTION-SHIFT REPORT — the QA table a pipeline reads
    // after t06's split: train a unigram surprisal model on the TRAIN
    // split only (t25's integer-bitlength bits against the train token
    // mass), score every split with it, and report per (split, source)
    // token counts, OOV counts (val/test tokens unseen in train — the
    // shift signal itself), and mean bits/token. A val split that reads
    // systematically "more surprising" than train under the train model
    // IS distribution shift; per-source rows localize it. OOV tokens
    // take nb+1 bits — one more than the rarest seen token (cf = 1 ⇒
    // nb bits), the deterministic integer smoothing rule both engines
    // state identically. Scale shape: one token scan, a vocab-keyed
    // LEFT join (t25's shape), a |splits×sources|-row agg; the model
    // side is map-side-combined and vocabulary-sized.
    "t33_split_shift" -> ((s, dir) => splitShift(Tables.documents(s, dir))),

    // t34 core lives in pmiPairs (extracted for closed-form spec pins).
    // WINDOWED CO-OCCURRENCE / PMI TOP PAIRS — the collocation extractor
    // (phrase mining, tokenizer-merge candidates, entity cues): count
    // unordered token pairs co-occurring within a ±PmiWindow gap, then
    // rank by LIFT = c_uv∕(c_u·c_v) in fixed point — for a fixed corpus
    // that ranking IS the PMI ranking (PMI = log(lift·N²∕W), and N²∕W is
    // pair-independent), with no float log anywhere near the gate. The
    // true PMI ratio ships alongside as one deterministic double chain.
    // Window events come from per-doc array slices (zip with the g-th
    // shift), never a token self-join: generation is scan-level, the
    // only shuffles are the two count aggs and a pair-keyed join, and
    // the count floors (PmiMinPair/PmiMinTok — the d10 df discipline)
    // keep the pair table bounded by the true collocation mass, not the
    // vocabulary square.
    "t34_pmi_pairs" -> ((s, dir) => pmiPairs(Tables.documents(s, dir))),

    // CODE-VS-PROSE DETECTION — the curation signal that routes
    // documents to the right quality gates (prose heuristics like t02's
    // stopword ratio MISgrade source code, so a mixed crawl must split
    // the two before filtering). Detector = code-symbol density:
    // n_sym counts characters in the code-y class {}()[];=<>#_ via one
    // regexp_replace length diff (scan-level, codegen'd, identical RE2/
    // Java semantics for this literal char class), sym_ppm is an exact
    // integer ratio, and the flag is the integer compare sym_ppm ≥
    // CodeSymPpm. Report is per (source, lang): docs, flagged docs,
    // mean/max density — metadata-sized at any corpus. On this prose
    // fixture the flagged count is ~0, which is the correct reading;
    // the semantics are pinned by a crafted-code spec.
    "t35_code_detect" -> ((s, dir) => {
      Tables.documents(s, dir)
        .filter(length(col("text")) > 0)
        .select(col("source"), col("lang"), codeSymCount(col("text")).as("nsym"),
          length(col("text")).cast("long").as("nch"))
        .select(col("source"), col("lang"),
          expr("nsym * 1000000 DIV nch").as("sym_ppm"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("sym_ppm") >= CodeSymPpm, 1)).as("n_codeish"),
          sum(col("sym_ppm").cast("decimal(38,0)")).as("ssym"),
          max("sym_ppm").as("max_sym_ppm"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_codeish"),
          (col("ssym").cast("double") / col("n_docs").cast("double"))
            .as("mean_sym_ppm"),
          col("max_sym_ppm"))
        .orderBy("source", "lang")
    }),

    // PRETOKENIZER FERTILITY — the token-economics audit run before a
    // corpus goes to a trainer: segment with a BPE-style pretokenizer
    // (letter runs / digit runs / single punctuation — the portable
    // core of the GPT-2 pretokenize split) and report per-doc class
    // counts plus FERTILITY (pretokens per whitespace word — the
    // "how many tokens does this text really cost" multiplier that
    // drives training-budget math). Pure per-row regex counting at
    // scan speed; the three patterns are disjoint greedy character
    // classes, so Java regex and RE2 segment identically.
    "t26_pretokenize" -> ((s, dir) => {
      val t = lower(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(alphaWords(col("text"))).cast("long").as("n_alpha"),
          size(regexp_extract_all(t, lit("[0-9]+"), lit(0))).cast("long").as("n_num"),
          size(regexp_extract_all(t, lit("[^a-z0-9 ]"), lit(0))).cast("long").as("n_punct"),
          tokenCountWs(col("text")).as("n_ws"))
        .withColumn("n_pre", col("n_alpha") + col("n_num") + col("n_punct"))
        .withColumn("fertility",
          when(col("n_ws") === 0, 0.0)
            .otherwise(col("n_pre").cast("double") / col("n_ws").cast("double")))
        .orderBy("doc_id")
    }),

    // ONE BPE MERGE ROUND — the tokenizer-training kernel and the last
    // piece of the token-economics story (t25 scores token cost, t26
    // audits pretoken fertility, t27 trains the vocabulary that sets
    // both): adjacent-symbol pair frequencies over the pretokenized
    // corpus, top merge by (count DESC, pair ASC). Computed over the
    // word-frequency VOCABULARY, not the corpus (see bpeMergeStep) — the
    // scan is corpus-linear, the pair work vocabulary-sized, the output
    // ≤ |alphabet|². Training a full tokenizer = re-running this round
    // on re-segmented words (driver loop, d07's shape); one round is the
    // verifiable unit, exactly like e08's Lloyd step.
    "t27_bpe_merge_step" -> ((s, dir) =>
      bpeMergeStep(Tables.documents(s, dir), 20)),

    // APPLY the merge t27 trains — the compression audit a tokenizer
    // team reads per source: init token count, merges bought by the top
    // pair, resulting count. One corpus scan into the per-source
    // vocabulary; winner + apply both run vocabulary-sized (see
    // bpeApplyStep). Full BPE training = alternate t27 (pick) and this
    // (apply) in a driver loop, each round vocabulary-sized.
    "t28_bpe_apply" -> ((s, dir) =>
      bpeApplyStep(Tables.documents(s, dir))),

    // THE BPE TRAINING LOOP — t27's pick and t28's apply alternated for 6
    // fixed rounds: the learned merge list (what a real tokenizer ships)
    // with the per-round corpus token count. The iterative-state
    // discipline is g02b's (scratch-parquet carry, bounded driver
    // scalars); the symbol delimiters make each merge one literal
    // `replace` with BPE's exact simultaneous-application semantics in
    // both engines (see bpeTrainProfile). Corpus scanned once; every
    // round is vocabulary-sized — at 100 TB the vocab table is the only
    // thing the loop touches.
    "t29_bpe_train" -> ((s, dir) =>
      bpeTrainProfile(Tables.documents(s, dir))),

    // BIGRAM SURPRISAL — t25's integer floor-log2 surprisal lifted to the
    // corpus bigram model: per-doc mean conditional bits, with the
    // zero-entropy (looped/templated text) flag a quality pipeline uses
    // as its cheap babble detector. See bigramSurprisal for the
    // bitlength identity and why the unigram score can't see word ORDER.
    "t30_bigram_surprisal" -> ((s, dir) =>
      bigramSurprisal(Tables.documents(s, dir))),

    // ZIPF/HEAPS SPECTRUM — the vocabulary-shape audit (see zipfSpectrum):
    // types per floor-log2-frequency bucket with token mass and the rank
    // range each bucket spans. Complements t16 (per-source scalars) with
    // the full distributional profile a budget model is fit against; all
    // integer arithmetic, vocabulary-sized after one token scan.
    "t31_zipf_spectrum" -> ((s, dir) =>
      zipfSpectrum(Tables.documents(s, dir))),

    // SOURCE-DIVERGENCE MATRIX — exact total-variation distance between
    // every source pair's unigram distributions in integer arithmetic
    // (see sourceDivergence): the drift/diversity audit behind mixture
    // quotas. One token scan, one vocab-keyed join, a |S|²-row matrix.
    "t32_source_divergence" -> ((s, dir) =>
      sourceDivergence(Tables.documents(s, dir))),

    "t14_rare_token_ratio" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
      toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("cf")).as("cf_sum"),
          count(when(col("cf") < RareBelow, 1)).as("n_rare"))
        .select(col("doc_id"), col("n_tokens"), col("cf_sum"), col("n_rare"),
          (col("n_rare").cast("double") / col("n_tokens").cast("double")).as("rare_ratio"))
        .orderBy("doc_id")
    }),

    // intra-document repetition — the standard boilerplate/babble signal
    // of curation rule sets (duplicate-trigram fraction): 1 − distinct/
    // total trigrams. Both counts come from the same codegen'd WordNgrams
    // pass family (distinct=false / distinct=true); pure per-row map,
    // scan-speed at any corpus size.
    "t09_repetition" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(wordNgrams(col("text"), 3)).cast("long").as("n_ngrams"),
          size(wordShingles(col("text"), 3)).cast("long").as("n_distinct"))
      d.withColumn("rep_ratio",
          when(col("n_ngrams") === 0, 0.0)
            .otherwise(lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams").cast("double")))
        .orderBy("doc_id")
    }),

    // BOILERPLATE-SPAN FILTERING — the C4-style "discard spans seen
    // across many pages" pass (headers, nav bars, license blurbs), on
    // this fixture's delimiter-free text via fixed 2-word spans (real
    // corpora segment on lines/sentences; the mechanics — span hash,
    // corpus document-frequency, per-doc flag rollup — are identical).
    // A span is boilerplate when it appears in > 5% of docs, stated as
    // the integer comparison df·20 > n_docs so both engines decide
    // identically. Shuffles: one (doc, span)-distinct agg for df, one
    // span-keyed join back, one per-doc rollup — raw text never
    // shuffles twice; at 100 TB the df table is vocabulary-sized and
    // the join key is the span hash.
    "t18_boilerplate_spans" -> ((s, dir) => {
      boilerplateSpans(Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("w")))
        .orderBy("doc_id")
    }),

    // corpus-level n-gram frequency: top-50 word bigrams.
    "t05_ngram_topk" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(wordNgrams(col("text"), 2)).as("ngram"))
        .groupBy("ngram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram").asc)
        .limit(50)
    }),

    // TF-IDF keyword extraction: top-5 terms per doc. Two hash aggs
    // (term-frequency, then document-frequency over the already-distinct
    // (doc, term) pairs — df is NEVER a count-distinct over raw tokens),
    // a broadcast of the 1-row corpus count, and a per-doc ranking
    // window. Deliberately ln-free: rank by tf·N/df, which orders
    // identically to tf·idf for any monotone idf — one IEEE division of
    // exact integers, so both engines produce bit-identical scores and
    // the gate can hash-match floats.
    "t15_tfidf_topk" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val nDocs = docs.select(count(lit(1)).as("n_docs"))
      val wTop = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok").asc)
      tf.join(df, "tok")
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("score"))
        .orderBy(col("doc_id"), col("score").desc, col("tok"))
    }),

    // EDIT-DISTANCE near-dup pairs — the character-level complement to
    // d03's token-level Jaccard (catches typo-level variants that shift
    // every trigram). Distance runs on an 80-char document head (the
    // title/lede region where near-dups diverge least), blocked by
    // (lang, source) exactly like d04 — and with the same documented
    // caveat: n² inside unbounded blocks makes this the DIDACTIC
    // contrast; at corpus scale real work routes candidates through d03's
    // banded join and uses edit distance only as a VERIFY step on
    // candidate pairs. levenshtein() is the classic unit-cost DP in both
    // engines — integer-exact parity.
    "t17_edit_distance_pairs" -> ((s, dir) => {
      // bag-of-characters pigeonhole: one edit op changes a string's char
      // multiset by at most 2 units of L1 distance (substitution = one
      // char out + one in), so ed(a,b) ≥ ⌈L1(bag_a, bag_b)/2⌉ — a pair
      // whose 16-bin char histograms differ by more than 2·threshold can
      // NEVER pass, and the O(chars) histogram (computed once per doc,
      // not per pair) + 16-term L1 replaces the O(80²) DP for ~90% of
      // the pair space (measured at sf0.1: 8.5% survive). The bound is a
      // true lower bound, so the output is unchanged — the oracle stays
      // the unfiltered reference.
      // The pair join carries ONLY (ids, 16-int histograms) — the 80-char
      // heads rejoin by id for the ~8% of pairs surviving the bag filter
      // (id-keyed equi-joins: AQE broadcasts the heads side when the
      // corpus slice is small, shuffles on id at scale — never an
      // explicit broadcast of a corpus-sized frame), so the quadratic
      // shuffle payload is histograms, never strings. The surviving DPs run
      // BANDED: levenshtein(a, b, threshold) explores the |i-j| ≤ 10
      // diagonal band (O(τ·n), -1 past the bound) instead of the full
      // O(n²) table — same classic DP both engines implement, same
      // distances for every pair the ≤ 10 filter keeps, so the unfiltered
      // oracle is unchanged.
      // histogram via the native CharHistogram expression — the HOF
      // spelling re-split the head per bin, interpreted, and was the
      // dominant cost of the whole query (measured ~1.5 s/side at sf0.1)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          substring(col("text"), 1, 80).as("head"))
        .withColumn("hist", charHistogram(col("head"), 16))
      val a = d.select(col("lang"), col("source"), col("doc_id").as("id_a"),
        col("hist").as("hist_a"))
      val b = d.select(col("lang"), col("source"), col("doc_id").as("id_b"),
        col("hist").as("hist_b"))
      val heads = d.select(col("doc_id"), col("head"))
      // the L1 distance is spelled as 16 explicit |a[i]-b[i]| terms, not
      // zip_with/aggregate: higher-order lambdas are interpreted per row,
      // and this predicate runs over the FULL quadratic pair space —
      // explicit GetArrayItem/Abs/Add stays inside whole-stage codegen
      val bagL1 = (0 until 16)
        .map(i => abs(element_at(col("hist_a"), i + 1) - element_at(col("hist_b"), i + 1)))
        .reduce(_ + _)
      a.join(b, Seq("lang", "source"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("bag_l1", bagL1)
        .filter(col("bag_l1") <= 20)
        .select(col("lang"), col("source"), col("id_a"), col("id_b"))
        .join(heads.select(col("doc_id").as("id_a"), col("head").as("head_a")), "id_a")
        .join(heads.select(col("doc_id").as("id_b"), col("head").as("head_b")), "id_b")
        .select(col("lang"), col("source"), col("id_a"), col("id_b"),
          levenshtein(col("head_a"), col("head_b"), 10).cast("long").as("edit_dist"))
        .filter(col("edit_dist") >= 0)
        .orderBy("lang", "source", "id_a", "id_b")
    }),

    // VOCABULARY STATISTICS per source — the Heaps/Zipf health check a
    // corpus audit runs before training: vocabulary size (exact distinct
    // types), hapax count (types seen once — OCR noise and gibberish
    // inflate it), type-token ratio, and the top token's frequency share
    // (a degenerate corpus has one token dominating). Two hash aggs: the
    // (source, token) term-frequency agg is the classic high-cardinality
    // key whose map-side combine does the heavy lifting — raw text never
    // shuffles, only distinct (source, type) rows do — and the per-source
    // rollup is linear in vocabulary, not corpus. The argmax token is
    // pinned (freq desc, token asc), so every column sits under the exact
    // gate: counts are integers, ratios one IEEE division each.
    "t16_vocab_stats" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      val wTop = Window.partitionBy("source").orderBy(col("cnt").desc, col("tok").asc)
      val top = tf.withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
        .select(col("source"), col("tok").as("top_token"), col("cnt").as("top_freq"))
      tf.groupBy("source")
        .agg(sum("cnt").as("n_tokens"),
          count(lit(1)).as("n_types"),
          count(when(col("cnt") === 1, 1)).as("n_hapax"))
        .join(top, "source")
        .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
          (col("n_types").cast("double") / col("n_tokens").cast("double")).as("type_token_ratio"),
          (col("n_hapax").cast("double") / col("n_types").cast("double")).as("hapax_share"),
          col("top_token"), col("top_freq"),
          (col("top_freq").cast("double") / col("n_tokens").cast("double")).as("top_share"))
        .orderBy("source")
    }),

    // EDIT-DISTANCE VERIFY ON LSH CANDIDATES — the at-scale form t17's
    // scaladoc promises: instead of an n²-within-block pair space, the
    // character-level DP runs ONLY on d03's verified near-dup pairs
    // (banded candidates, exact-Jaccard gated — candidate-linear at any
    // corpus size), reporting the head edit distance for each. This is
    // how a production pass grades its near-dups char-level: O(|pairs|)
    // DPs, with |pairs| ∝ true duplicate structure, never ∝ corpus². The
    // oracle recomputes the same pairs brute-force and DuckDB's own
    // levenshtein — both engines' classic DP on identical inputs.
    "t20_edit_verify_lsh" -> ((s, dir) => {
      val heads = Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 80).as("head"))
      Dedup.nearDupPairs(s, dir).select("id_a", "id_b")
        .join(heads.select(col("doc_id").as("id_a"), col("head").as("head_a")), "id_a")
        .join(heads.select(col("doc_id").as("id_b"), col("head").as("head_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          levenshtein(col("head_a"), col("head_b")).cast("long").as("edit_dist"))
        .orderBy("id_a", "id_b")
    }),

    // DETERMINISTIC EXACTLY-k-PER-STRATUM SAMPLE — the reproducible
    // downsampling a training pipeline applies to overrepresented
    // sources: rank each doc by a multiplicative hash of its id (a
    // deterministic stand-in for a uniform draw — no rand(), so reruns,
    // task retries, and different partitionings all pick the SAME
    // sample), keep the k smallest per source. Complements t08: rate-
    // based admission there (keeps p% as the stream grows), exact-count
    // quota here. At scale this is the TopKAggregator's shape, not a
    // row_number window: the k-bounded buffer partial-aggregates
    // map-side, so the shuffle carries k rows per source per task
    // instead of the corpus (q38's argument, applied to sampling).
    "t21_stratified_sample" -> ((s, dir) => quotaSample(Tables.documents(s, dir))),

    // APPORTIONED SAMPLE — t21 upgraded from "k per stratum" to the
    // question a mixture designer actually asks: split ONE global budget
    // K across sources IN PROPORTION TO their char mass, exactly. The
    // apportionment is the largest-remainder method (Hamilton): base
    // quota = ⌊K·m_s/M⌋, then the K − Σbase leftover seats go to the
    // largest remainders (K·m_s mod M, ties by source name) — all BIGINT
    // arithmetic (K·m_s ≤ 120·total-chars, far under Long.Max even at
    // 100 TB), so the quota vector is bit-identical on any engine. Doc
    // selection inside each source is t21's deterministic hash rank via
    // the k-bounded TopKAggregator (buffer = K rows per source per task —
    // the corpus never rides the shuffle); quotas join back as a
    // broadcast of |sources| rows. The apportionment windows run over the
    // per-source mass frame — |sources| rows, so the unpartitioned
    // windows are O(sources), never a corpus-wide single-partition sort.
    "t22_apportioned_sample" -> ((s, dir) => {
      import graft.functions.TopKAggregator.top_k
      val h = col("doc_id") % lit(999999937L) * lit(2654435761L) % lit(999999937L)
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"), h.as("h"))
      val quotas = apportionedQuotas(
        docs.groupBy("source").agg(sum("n_chars").as("m")), SampleBudget)
      val ranked = docs
        .groupBy("source")
        .agg(top_k((-col("h")).cast("double"), col("doc_id"), SampleBudget.toInt).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("i", "t")))
        .select(col("source"), (col("i") + 1).cast("long").as("rank"),
          col("t.id").as("doc_id"), (-col("t.score")).cast("long").as("h"))
      ranked.join(broadcast(quotas), "source")
        .filter(col("rank") <= col("quota"))
        .select(col("source"), col("quota"), col("rank"), col("doc_id"), col("h"))
        .orderBy("source", "rank")
    }),

    // HEAVY-HITTER SPANS VIA COUNT-MIN SKETCH — the frequency sibling of
    // t13's bloom pattern: find every bigram making up ≥ 1/1000 of all
    // bigram occurrences. The naive form shuffles EVERY occurrence into a
    // vocabulary-sized hash agg (at 100 TB: billions of types, almost all
    // of them light). Here one scan builds a fixed-size CMS (a few hundred
    // KB, mergeable ⇒ map-side combined) plus the total; the second scan
    // keeps only rows whose CMS estimate clears the threshold — a narrow
    // per-row probe, no shuffle — and only the surviving occurrences (the
    // Zipf head) enter the exact count. CMS never underestimates, so no
    // true heavy hitter is dropped; overestimates (light grams sneaking
    // past at eps·N ≈ 5 vs T ≈ 27 at sf0.01) are removed by the exact
    // HAVING — output ≡ the oracle's plain GROUP BY / HAVING. On this
    // near-uniform synthetic fixture the prefilter is weakly selective
    // (~half the types clear it); on a Zipfian corpus it drops ~99% of
    // occurrences before the shuffle.
    "t19_heavy_hitters" -> ((s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(explode(wordNgrams(col("text"), 2)).as("g"))
        .select(col("g"), xxhash64(col("g")).as("h"))
      val row = grams.agg(
        cms_sketch_agg(col("h"), CmsEps, CmsConfidence, 42).as("cms"),
        count(lit(1)).as("n")).head()
      val cms = row.getAs[Array[Byte]](0)
      val total = row.getLong(1)
      val t = (total + HeavyDenom - 1) / HeavyDenom
      grams.filter(cms_min_count(cms, col("h")) >= t)
        .groupBy("g").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= t)
        .orderBy(col("cnt").desc, col("g").asc)
    })
  )

  /** t07's exact contamination join: every non-eval document sharing a
    * word 4-gram with an eval document (doc_id % 97 = 0). t13 gates on
    * the same statement — its bloom prefilter drops no true match.
    */
  private val duckDecontamSql: String =
    s"""WITH ${DuckSql.tokenCte()}, s AS (
       |  SELECT doc_id,
       |    unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
       |      for i in range(1, len(w) - 2)])) AS g
       |  FROM t WHERE len(w) >= 4
       |), ev AS (
       |  SELECT DISTINCT g FROM s WHERE doc_id % 97 = 0
       |)
       |SELECT s.doc_id, COUNT(*) AS n_shared
       |FROM s JOIN ev USING (g)
       |WHERE s.doc_id % 97 <> 0
       |GROUP BY s.doc_id
       |ORDER BY doc_id""".stripMargin

  /** t06's 80/10/10 split restated: `sp(doc_id, split)` from the
    * xxhash64 of the doc id (DuckHash chain). p06, p07 and t33 split on it.
    */
  private[graft] val duckSplitCtes: String =
    s"""ids AS (
       |  SELECT doc_id, doc_id AS x FROM documents
       |), ${DuckHash.xxhash64LongCtes("doc_id")}, sp AS (
       |  SELECT doc_id,
       |    CASE WHEN ((hv % 100) + 100) % 100 < 80 THEN 'train'
       |         WHEN ((hv % 100) + 100) % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM hashed
       |)""".stripMargin

  /** t25's bitlength surprisal: `toks(doc_id, tok)`, corpus frequencies
    * `freq(tok, cf)`, `tot(nb)` the bitlength of the corpus size, and
    * `sc(doc_id, bits, nb)` each token's floor-log2 surprisal. p10
    * phases its curriculum on the same bits.
    */
  private[graft] val duckSurprisalCtes: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(${DuckSql.tokens()}) AS tok
       |  FROM documents
       |), freq AS (
       |  SELECT tok, COUNT(*) AS cf FROM toks GROUP BY tok
       |), tot AS (
       |  SELECT length(bin(CAST(SUM(cf) AS BIGINT))) - 1 AS nb FROM freq
       |), sc AS (
       |  SELECT t.doc_id, CAST(tot.nb - (length(bin(f.cf)) - 1) AS BIGINT) AS bits, tot.nb
       |  FROM toks t JOIN freq f USING (tok) CROSS JOIN tot
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    "t01_token_stats" ->
      s"""SELECT doc_id,
         |  len(${DuckSql.tokens()}) AS n_tokens_ws,
         |  len(regexp_extract_all(lower(text), '${TextFunctions.BpeTokenPattern}')) AS n_tokens_bpe,
         |  n_chars
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "t02_quality_score" ->
      s"""WITH ${Curation.duckScoredCtes}
         |SELECT doc_id, stop_ratio AS stopword_ratio, p_ratio AS punct_ratio,
         |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         |    CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE) / len(toks)::DOUBLE END AS mean_token_len,
         |  ${Curation.duckQualityExpr} AS quality_score
         |FROM scored
         |ORDER BY doc_id""".stripMargin,

    "t03_lang_id" -> {
      val scoreExprs = TextFunctions.LangMarkers.map { case (lang, ms) =>
        val markers = ms.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(toks, w -> list_contains($markers, w))) AS score_$lang"
      }.mkString(",\n    ")
      val langs = TextFunctions.LangMarkers.map(_._1)
      val best = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
      val caseExpr = langs.map(l => s"WHEN score_$l = $best THEN '$l'").mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH t AS (
         |  SELECT doc_id, lang AS lang_actual,
         |    ${DuckSql.tokens()} AS toks
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id, lang_actual,
         |    $scoreExprs
         |  FROM t
         |)
         |SELECT doc_id, lang_actual, ${langs.map(l => s"score_$l").mkString(", ")},
         |  $caseExpr AS lang_pred,
         |  ($caseExpr = lang_actual) AS is_match
         |FROM sc
         |ORDER BY doc_id""".stripMargin
    },

    "t15_tfidf_topk" ->
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(${DuckSql.tokens()}) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
        |), df AS (
        |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
        |), n AS (
        |  SELECT COUNT(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |    (tf.tf * n.n_docs)::DOUBLE / df.df::DOUBLE AS score
        |  FROM tf JOIN df USING (tok) CROSS JOIN n
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rn
        |  FROM scored
        |)
        |SELECT doc_id, tok, tf, df, score FROM r WHERE rn <= 5
        |ORDER BY doc_id, score DESC, tok""".stripMargin,

    "t17_edit_distance_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source, substring(text, 1, 80) AS head
        |  FROM documents
        |)
        |SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
        |FROM d a JOIN d b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 10
        |ORDER BY a.lang, a.source, id_a, id_b""".stripMargin,

    "t16_vocab_stats" ->
      s"""WITH toks AS (
        |  SELECT source,
        |    unnest(${DuckSql.tokens()}) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT source, tok, COUNT(*) AS cnt FROM toks GROUP BY source, tok
        |), agg AS (
        |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
        |    COUNT(CASE WHEN cnt = 1 THEN 1 END) AS n_hapax
        |  FROM tf GROUP BY source
        |), top AS (
        |  SELECT source, tok AS top_token, cnt AS top_freq FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, tok ASC) AS rn
        |    FROM tf
        |  ) WHERE rn = 1
        |)
        |SELECT a.source, n_tokens, n_types, n_hapax,
        |  n_types::DOUBLE / n_tokens::DOUBLE AS type_token_ratio,
        |  n_hapax::DOUBLE / n_types::DOUBLE AS hapax_share,
        |  top_token, top_freq,
        |  top_freq::DOUBLE / n_tokens::DOUBLE AS top_share
        |FROM agg a JOIN top t ON a.source = t.source
        |ORDER BY a.source""".stripMargin,

    // the aggregator's bounded-buffer plan must equal the window
    // semantics — the oracle states the window form (q38's proof shape)
    "t21_stratified_sample" ->
      s"""SELECT source, rank, doc_id, h FROM (
         |  SELECT source, doc_id,
         |    doc_id % 999999937 * 2654435761 % 999999937 AS h,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY doc_id % 999999937 * 2654435761 % 999999937 ASC, doc_id ASC) AS rank
         |  FROM documents
         |)
         |WHERE rank <= $SampleK
         |ORDER BY source, rank""".stripMargin,

    // the apportionment arithmetic restated verbatim (all BIGINT — the
    // quota vector must be bit-identical) + t21's window-form rank
    "t22_apportioned_sample" ->
      s"""WITH mass AS (
         |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS m
         |  FROM documents GROUP BY source
         |), tot AS (
         |  SELECT source, m, SUM(m) OVER () AS mtot FROM mass
         |), seats AS (
         |  SELECT source,
         |    ($SampleBudget * m) // mtot AS base,
         |    ($SampleBudget * m) % mtot AS rem
         |  FROM tot
         |), q AS (
         |  SELECT source, base,
         |    $SampleBudget - SUM(base) OVER () AS leftover,
         |    ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rr
         |  FROM seats
         |), quota AS (
         |  SELECT source,
         |    base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS quota
         |  FROM q
         |), ranked AS (
         |  SELECT source, doc_id,
         |    doc_id % 999999937 * 2654435761 % 999999937 AS h,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY doc_id % 999999937 * 2654435761 % 999999937 ASC, doc_id ASC) AS rank
         |  FROM documents
         |)
         |SELECT r.source, CAST(q.quota AS BIGINT) AS quota, r.rank, r.doc_id, r.h
         |FROM ranked r JOIN quota q USING (source)
         |WHERE r.rank <= q.quota
         |ORDER BY r.source, r.rank""".stripMargin,

    // the same windows joined on the raw 4-gram STRING (the hash-free
    // statement of the semantics the 64-bit window hashes implement),
    // contaminated windows exploded to their 4 covered positions
    "t23_decontaminate_surgery" ->
      s"""WITH t AS (
        |  SELECT doc_id, ${DuckSql.tokens()} AS w
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w FROM t WHERE len(w) > 0
        |), wins AS (
        |  SELECT doc_id,
        |    unnest([{'wi': i - 1, 'g': w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]}
        |            for i in range(1, len(w) - 2)]) AS x
        |  FROM toks WHERE n_tokens >= 4
        |), ww AS (
        |  SELECT doc_id, x.wi AS wi, x.g AS g FROM wins
        |), ev AS (
        |  SELECT DISTINCT g FROM ww WHERE doc_id % 97 = 0
        |), cov AS (
        |  SELECT DISTINCT w.doc_id, w.wi + r.d AS pos
        |  FROM ww w JOIN ev USING (g) CROSS JOIN range(0, 4) r(d)
        |  WHERE w.doc_id % 97 <> 0
        |), mask AS (
        |  SELECT doc_id, COUNT(*) AS n_masked FROM cov GROUP BY doc_id
        |)
        |SELECT k.doc_id, k.n_tokens, COALESCE(m.n_masked, 0) AS n_masked,
        |  k.n_tokens - COALESCE(m.n_masked, 0) AS n_kept,
        |  (k.n_tokens - COALESCE(m.n_masked, 0))::DOUBLE / k.n_tokens::DOUBLE AS kept_frac
        |FROM toks k LEFT JOIN mask m ON m.doc_id = k.doc_id
        |WHERE k.doc_id % 97 <> 0
        |ORDER BY k.doc_id""".stripMargin,

    // df over the shingle STRINGS (the hash is Spark-internal shuffle
    // economy, answer-invisible modulo the accepted collision odds)
    "t24_ngram_novelty" ->
      s"""WITH t AS (
        |  SELECT doc_id, ${DuckSql.tokens()} AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                          for i in range(1, len(w) - 1)])) AS g
        |  FROM t WHERE len(w) >= 3
        |), df AS (
        |  SELECT g, COUNT(*) AS df FROM sh GROUP BY g
        |)
        |SELECT sh.doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE AS novelty_frac
        |FROM sh JOIN df USING (g)
        |GROUP BY sh.doc_id
        |ORDER BY sh.doc_id""".stripMargin,

    // d03's brute-force pair oracle + DuckDB's levenshtein on the same
    // 80-char heads (both engines implement the classic DP exactly)
    "t20_edit_verify_lsh" ->
      s"""WITH ${DuckSql.shingleCtes()}, pairs AS (
        |  ${DuckSql.nearPairs("s", "0.8")}
        |), heads AS (
        |  SELECT doc_id, substr(text, 1, 80) AS h FROM documents
        |)
        |SELECT p.id_a, p.id_b,
        |  CAST(levenshtein(ha.h, hb.h) AS BIGINT) AS edit_dist
        |FROM pairs p
        |JOIN heads ha ON ha.doc_id = p.id_a
        |JOIN heads hb ON hb.doc_id = p.id_b
        |ORDER BY p.id_a, p.id_b""".stripMargin,

    // the CMS prefilter is answer-invisible (no-underestimate + exact
    // verify), so the oracle is the plain threshold count over t05's
    // bigram formulation; ceil(n/1000) stated in integers on both sides
    "t19_heavy_hitters" ->
      s"""WITH t AS (
         |  SELECT ${DuckSql.tokens()} AS w
         |  FROM documents
         |), g AS (
         |  SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
         |  FROM t WHERE len(w) >= 2
         |), tot AS (SELECT COUNT(*) AS n FROM g)
         |SELECT g, COUNT(*) AS cnt
         |FROM g, tot
         |GROUP BY g, n
         |HAVING COUNT(*) >= (n + ${HeavyDenom - 1}) // $HeavyDenom
         |ORDER BY cnt DESC, g ASC""".stripMargin,

    "t05_ngram_topk" ->
      s"""WITH t AS (
        |  SELECT ${DuckSql.tokens()} AS w
        |  FROM documents
        |), g AS (
        |  SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS ngram
        |  FROM t WHERE len(w) >= 2
        |)
        |SELECT ngram, COUNT(*) AS n
        |FROM g
        |GROUP BY ngram
        |ORDER BY n DESC, ngram ASC
        |LIMIT 50""".stripMargin,

    // fixed 2-word spans over the 1-based word list: span j (0-based)
    // covers w[2j+1], w[2j+2]; the ragged odd tail word spans nothing.
    // boilerplate test stated as integers (df·20 > n_docs) on both sides
    "t18_boilerplate_spans" ->
      s"""WITH t AS (
        |  SELECT doc_id, ${DuckSql.tokens()} AS w
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, w FROM t WHERE len(w) >= 2
        |), sp AS (
        |  SELECT doc_id,
        |    unnest([w[2*j+1] || ' ' || w[2*j+2] for j in range(0, len(w) // 2)]) AS span
        |  FROM d
        |), n AS (
        |  SELECT COUNT(*) AS n_docs FROM d
        |), dfreq AS (
        |  SELECT span, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, span FROM sp)
        |  GROUP BY span
        |)
        |SELECT sp.doc_id AS doc_id,
        |  COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN df * 20 > n_docs THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  CAST(SUM(CASE WHEN df * 20 > n_docs THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*)::DOUBLE AS boiler_ratio,
        |  CAST(SUM(CASE WHEN df * 20 > n_docs THEN 1 ELSE 0 END) AS BIGINT) * 2 <= COUNT(*) AS keep
        |FROM sp JOIN dfreq USING (span) CROSS JOIN n
        |GROUP BY sp.doc_id
        |ORDER BY doc_id""".stripMargin,

    "t10_chunk_docs" ->
      s"""WITH t AS (
         |  SELECT doc_id, text FROM documents WHERE len(text) > 0
         |), c AS (
         |  SELECT doc_id, text,
         |    unnest(range(0, (len(text) - 1) // $ChunkStride + 1)) AS ci
         |  FROM t
         |)
         |SELECT doc_id, ci AS chunk_idx, ci * $ChunkStride AS chunk_start,
         |  substr(text, ci * $ChunkStride + 1, $ChunkSize) AS chunk_text,
         |  len(substr(text, ci * $ChunkStride + 1, $ChunkSize)) AS chunk_len
         |FROM c
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "t11_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    len(${DuckSql.tokens()}) AS n_tokens
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t WHERE n_tokens > 0
         |)
         |SELECT doc_id, source, n_tokens,
         |  cum - n_tokens AS start_off,
         |  (cum - n_tokens) // $SeqBudget AS first_seq,
         |  (cum - 1) // $SeqBudget AS last_seq,
         |  (cum - 1) // $SeqBudget - (cum - n_tokens) // $SeqBudget + 1 AS n_seqs
         |FROM c
         |ORDER BY doc_id""".stripMargin,

    "t12_pii_redact" -> {
      // masked text + per-class counts generated from the SAME PiiPatterns
      // the Spark side folds over — one source of truth for the regexes
      val masked = PiiPatterns.foldLeft("c_name") { case (acc, (_, pat, tag)) =>
        s"regexp_replace($acc, '$pat', '$tag', 'g')"
      }
      val counts = PiiPatterns.map { case (name, pat, _) =>
        s"len(regexp_extract_all(c_name, '$pat')) AS n_$name"
      }.mkString(",\n  ")
      s"""SELECT c_custkey,
         |  $masked AS masked_name,
         |  $counts
         |FROM customer
         |ORDER BY c_custkey""".stripMargin
    },

    // t13 ≡ t07 by construction (bloom prefilter admits a superset — no
    // false negatives — and the exact verify join removes the false
    // positives), so the same exact-join oracle gates both
    "t13_bloom_decontaminate" ->
      duckDecontamSql,

    // same three disjoint regex classes; counts BIGINT, one division
    "t26_pretokenize" ->
      s"""SELECT doc_id,
        |  CAST(len(${DuckSql.alphaWords}) AS BIGINT) AS n_alpha,
        |  CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS BIGINT) AS n_num,
        |  CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS BIGINT) AS n_punct,
        |  CAST(len(${DuckSql.tokens()}) AS BIGINT) AS n_ws,
        |  CAST(len(${DuckSql.alphaWords})
        |     + len(regexp_extract_all(lower(text), '[0-9]+'))
        |     + len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS BIGINT) AS n_pre,
        |  CASE WHEN len(${DuckSql.tokens()}) = 0 THEN 0.0
        |       ELSE CAST(len(${DuckSql.alphaWords})
        |               + len(regexp_extract_all(lower(text), '[0-9]+'))
        |               + len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS DOUBLE)
        |            / CAST(len(${DuckSql.tokens()}) AS DOUBLE)
        |  END AS fertility
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // same vocabulary-weighted pair counting: word frequencies first,
    // pairs exploded per distinct word via the list-comprehension unnest,
    // counts BIGINT, the identical (count DESC, pair ASC) tie-break
    "t27_bpe_merge_step" ->
      s"""WITH words AS (
        |  SELECT unnest(${DuckSql.alphaWords}) AS w FROM documents
        |), vocab AS (
        |  SELECT w, COUNT(*) AS wf FROM words WHERE len(w) >= 2 GROUP BY w
        |), pairs AS (
        |  SELECT wf, unnest([{'l': w[i], 'r': w[i+1]} for i in range(1, len(w))]) AS u
        |  FROM vocab
        |), pc AS (
        |  SELECT u.l AS left_sym, u.r AS right_sym, CAST(SUM(wf) AS BIGINT) AS pair_count
        |  FROM pairs GROUP BY u.l, u.r
        |), ranked AS (
        |  SELECT left_sym, right_sym, pair_count,
        |    CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, left_sym ASC, right_sym ASC) AS BIGINT)
        |      AS merge_rank
        |  FROM pc
        |  QUALIFY merge_rank <= 20
        |)
        |SELECT left_sym, right_sym, pair_count, merge_rank,
        |  merge_rank = 1 AS is_merge_winner
        |FROM ranked
        |ORDER BY merge_rank""".stripMargin,

    // same one-vocab shape: per-source word frequencies first, the global
    // winner re-aggregated from them, leftmost-non-overlapping replace
    // (identical semantics both engines), all counts BIGINT
    "t28_bpe_apply" ->
      s"""WITH words AS (
        |  SELECT source, unnest(${DuckSql.alphaWords}) AS w FROM documents
        |), vocab AS MATERIALIZED (
        |  SELECT source, w, COUNT(*) AS wf FROM words GROUP BY source, w
        |), gv AS (
        |  SELECT w, SUM(wf) AS gwf FROM vocab WHERE len(w) >= 2 GROUP BY w
        |), pr AS (
        |  SELECT gwf, unnest([{'l': w[i], 'r': w[i+1]} for i in range(1, len(w))]) AS u
        |  FROM gv
        |), pc AS (
        |  SELECT u.l AS l, u.r AS r, SUM(gwf) AS cnt FROM pr GROUP BY u.l, u.r
        |), win AS (
        |  SELECT l || r AS pair FROM pc ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
        |)
        |SELECT source,
        |  CAST(SUM(wf) AS BIGINT) AS n_words,
        |  CAST(SUM(wf * len(w)) AS BIGINT) AS tokens_before,
        |  CAST(SUM(wf * (len(w) - len(replace(w, pair, chr(1))))) AS BIGINT) AS merges_applied,
        |  CAST(SUM(wf * len(w)) - SUM(wf * (len(w) - len(replace(w, pair, chr(1))))) AS BIGINT)
        |    AS tokens_after
        |FROM vocab CROSS JOIN win
        |GROUP BY source ORDER BY source""".stripMargin,

    // the 6 training rounds unrolled as generated MATERIALIZED layers
    // (g05/g02b's template): each layer re-counts adjacent-symbol pairs
    // from the previous vocabulary, picks the (count DESC, pair ASC)
    // winner, and applies it with the same delimiter-wrapped literal
    // replace; chr(1)/chr(2) are the Scala side's \u0001/\u0002
    "t29_bpe_train" -> {
      val layers = (1 to BpeRounds).map { r =>
        s"""p$r AS (
           |  SELECT wf, unnest([{'l': sy[i], 'r': sy[i+1]} for i in range(1, len(sy))]) AS u
           |  FROM (SELECT string_split(substring(ws, 2, length(ws) - 2), chr(2) || chr(1)) AS sy, wf
           |        FROM v${r - 1})
           |), w$r AS (
           |  SELECT u.l AS l, u.r AS r, CAST(SUM(wf) AS BIGINT) AS cnt
           |  FROM p$r GROUP BY u.l, u.r
           |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
           |), v$r AS MATERIALIZED (
           |  SELECT replace(ws, chr(1) || w$r.l || chr(2) || chr(1) || w$r.r || chr(2),
           |                 chr(1) || w$r.l || w$r.r || chr(2)) AS ws, wf
           |  FROM v${r - 1}, w$r
           |), t$r AS (
           |  SELECT CAST(SUM(wf * (length(ws) - length(replace(ws, chr(1), '')))) AS BIGINT) AS ta
           |  FROM v$r
           |)""".stripMargin
      }.mkString(",\n")
      val rows = (1 to BpeRounds).map { r =>
        s"SELECT CAST($r AS BIGINT) AS round, l AS left_sym, r AS right_sym," +
          s" cnt AS pair_count, (SELECT ta FROM t$r) AS tokens_after FROM w$r"
      }.mkString("\nUNION ALL\n")
      s"""WITH words AS (
         |  SELECT unnest(${DuckSql.alphaWords}) AS w FROM documents
         |), v0 AS MATERIALIZED (
         |  SELECT regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g') AS ws, COUNT(*) AS wf
         |  FROM words GROUP BY w
         |),
         |$layers
         |$rows
         |ORDER BY round""".stripMargin
    },

    // the same bitlength identity over the bigram stream: bits =
    // (length(bin(pf)) − 1) − (length(bin(bf)) − 1), the −1s cancel
    "t30_bigram_surprisal" ->
      s"""WITH tk AS (
        |  SELECT doc_id, ${DuckSql.tokens()} AS toks
        |  FROM documents
        |), bi AS (
        |  SELECT doc_id, u.p AS p, u.w AS w
        |  FROM (SELECT doc_id,
        |          unnest([{'p': toks[i], 'w': toks[i+1]} for i in range(1, len(toks))]) AS u
        |        FROM tk WHERE len(toks) >= 2)
        |), bf AS (
        |  SELECT p, w, COUNT(*) AS bf FROM bi GROUP BY p, w
        |), pf AS (
        |  SELECT p, COUNT(*) AS pf FROM bi GROUP BY p
        |), sc AS (
        |  SELECT doc_id, CAST(length(bin(pf.pf)) - length(bin(bf.bf)) AS BIGINT) AS bits
        |  FROM bi JOIN bf USING (p, w) JOIN pf USING (p)
        |)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
        |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_bits,
        |  SUM(bits) < COUNT(*) * 2 AS is_low_entropy
        |FROM sc
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // same bitlength bucketing; DuckDB's SUM/window-SUM widen to HUGEINT,
    // so every aggregate is cast back to BIGINT (the a17/s21 discipline)
    "t31_zipf_spectrum" ->
      s"""WITH toks AS (
        |  SELECT unnest(${DuckSql.tokens()}) AS tok
        |  FROM documents
        |), freq AS (
        |  SELECT tok, COUNT(*) AS cf FROM toks GROUP BY tok
        |), tot AS (
        |  SELECT CAST(SUM(cf) AS BIGINT) AS t FROM freq
        |), spec AS (
        |  SELECT CAST(length(bin(cf)) - 1 AS BIGINT) AS fb, COUNT(*) AS n_types,
        |    CAST(SUM(cf) AS BIGINT) AS mass, MIN(cf) AS min_cf, MAX(cf) AS max_cf
        |  FROM freq GROUP BY 1
        |), ranked AS (
        |  SELECT fb, n_types, mass, min_cf, max_cf,
        |    CAST(SUM(n_types) OVER (ORDER BY fb DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rank_hi
        |  FROM spec
        |)
        |SELECT fb, n_types, mass, min_cf, max_cf,
        |  rank_hi - n_types + 1 AS rank_lo, rank_hi,
        |  CAST(mass AS DOUBLE) / CAST(t AS DOUBLE) AS mass_share
        |FROM ranked CROSS JOIN tot
        |ORDER BY fb DESC""".stripMargin,

    // the same decomposed union sum; c·N products in HUGEINT (Spark's
    // decimal(38,0) — the g06 discipline), one double division at the end
    "t32_source_divergence" ->
      s"""WITH tf AS (
        |  SELECT source, tok, COUNT(*) AS c FROM (
        |    SELECT source,
        |      unnest(${DuckSql.tokens()}) AS tok
        |    FROM documents)
        |  GROUP BY source, tok
        |), nt AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY source
        |), common AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common_types,
        |    SUM(abs(CAST(a.c AS HUGEINT) * nb.n - CAST(b.c AS HUGEINT) * na.n)) AS num_common,
        |    CAST(SUM(a.c) AS BIGINT) AS ca_common,
        |    CAST(SUM(b.c) AS BIGINT) AS cb_common
        |  FROM tf a JOIN tf b ON a.tok = b.tok AND a.source < b.source
        |  JOIN nt na ON na.source = a.source
        |  JOIN nt nb ON nb.source = b.source
        |  GROUP BY a.source, b.source
        |)
        |SELECT na.source AS src_a, nb.source AS src_b, na.n AS n_a, nb.n AS n_b,
        |  CAST(COALESCE(c.n_common_types, 0) AS BIGINT) AS n_common_types,
        |  CAST(COALESCE(c.num_common, 0)
        |      + CAST(na.n - COALESCE(c.ca_common, 0) AS HUGEINT) * nb.n
        |      + CAST(nb.n - COALESCE(c.cb_common, 0) AS HUGEINT) * na.n AS DOUBLE)
        |    / CAST(CAST(2 AS HUGEINT) * na.n * nb.n AS DOUBLE) AS tv
        |FROM nt na JOIN nt nb ON na.source < nb.source
        |LEFT JOIN common c ON c.src_a = na.source AND c.src_b = nb.source
        |ORDER BY src_a, src_b""".stripMargin,

    // bitlength-stated floor-log2 (see the query's scaladoc): exact
    // integer surprisal in both engines, no float log anywhere
    "t25_surprisal_score" ->
      s"""WITH $duckSurprisalCtes
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
        |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_bits,
        |  SUM(bits) * 4 > MAX(nb) * 3 * COUNT(*) AS is_rare_heavy
        |FROM sc
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // t06's hash split + t25's bitlength bits with the train-only model;
    // the OOV rule (nb + 1) restated on the LEFT join's null side
    // window events as per-doc list comprehensions (one per gap), the
    // same unordered least/greatest pair key, the same DECIMAL floor
    // division for lift, the same double chain for the ratio
    // same regexp class (literal chars — RE2 and Java agree), same
    // integer ppm and threshold compare
    "t35_code_detect" ->
      s"""WITH f AS (
         |  SELECT source, lang,
         |    (strlen(text) - strlen(regexp_replace(text, '[{}()\\[\\];=<>#_]', '', 'g')))::BIGINT
         |      * 1000000 // strlen(text)::BIGINT AS sym_ppm
         |  FROM documents WHERE strlen(text) > 0
         |)
         |SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(COUNT(CASE WHEN sym_ppm >= $CodeSymPpm THEN 1 END) AS BIGINT) AS n_codeish,
         |  CAST(SUM(sym_ppm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_sym_ppm,
         |  MAX(sym_ppm) AS max_sym_ppm
         |FROM f GROUP BY source, lang
         |ORDER BY source, lang""".stripMargin,

    "t34_pmi_pairs" ->
      s"""WITH wd AS (
         |  SELECT ${DuckSql.tokens()} AS w
         |  FROM documents
         |), toks AS MATERIALIZED (
         |  SELECT unnest(w) AS tok FROM wd
         |), uni AS (
         |  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
         |), tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks
         |), ev AS MATERIALIZED (
         |  SELECT unnest([{'u': least(w[i], w[i+1]), 'v': greatest(w[i], w[i+1])}
         |                 for i in range(1, len(w))]) AS p
         |  FROM wd WHERE len(w) >= 2
         |  UNION ALL
         |  SELECT unnest([{'u': least(w[i], w[i+2]), 'v': greatest(w[i], w[i+2])}
         |                 for i in range(1, len(w) - 1)]) AS p
         |  FROM wd WHERE len(w) >= 3
         |), wtot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS wt FROM ev
         |), pc AS (
         |  SELECT p.u AS u, p.v AS v, COUNT(*) AS c_pair
         |  FROM ev GROUP BY p.u, p.v
         |  HAVING COUNT(*) >= $PmiMinPair
         |)
         |SELECT pc.u, pc.v, pc.c_pair, cu.c AS c_u, cv.c AS c_v,
         |  CAST(CAST(pc.c_pair AS HUGEINT) * 1000000000000
         |    // (CAST(cu.c AS HUGEINT) * CAST(cv.c AS HUGEINT)) AS BIGINT)
         |    AS lift_ppt,
         |  (CAST(pc.c_pair AS DOUBLE) * CAST(tot.n AS DOUBLE)
         |    * CAST(tot.n AS DOUBLE))
         |    / (CAST(wtot.wt AS DOUBLE) * CAST(cu.c AS DOUBLE)
         |      * CAST(cv.c AS DOUBLE)) AS pmi_ratio
         |FROM pc
         |JOIN uni cu ON cu.tok = pc.u
         |JOIN uni cv ON cv.tok = pc.v
         |CROSS JOIN tot CROSS JOIN wtot
         |WHERE cu.c >= $PmiMinTok AND cv.c >= $PmiMinTok
         |ORDER BY lift_ppt DESC, pc.u ASC, pc.v ASC
         |LIMIT $PmiTopK""".stripMargin,

    "t33_split_shift" ->
      s"""WITH $duckSplitCtes, tk AS (
         |  SELECT d.doc_id, d.source, sp.split,
         |    unnest(${DuckSql.tokens("d.text")}) AS tok
         |  FROM documents d JOIN sp USING (doc_id)
         |), freq AS (
         |  SELECT tok, COUNT(*) AS cf FROM tk WHERE split = 'train' GROUP BY tok
         |), tot AS (
         |  SELECT CAST(length(bin(CAST(SUM(cf) AS BIGINT))) - 1 AS BIGINT) AS nb FROM freq
         |), sc AS (
         |  SELECT t.split, t.source,
         |    CASE WHEN f.cf IS NULL THEN tot.nb + 1
         |         ELSE CAST(tot.nb - (length(bin(f.cf)) - 1) AS BIGINT) END AS bits,
         |    f.cf IS NULL AS oov
         |  FROM tk t LEFT JOIN freq f USING (tok) CROSS JOIN tot
         |)
         |SELECT split, source, COUNT(*) AS n_tokens,
         |  CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
         |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_bits
         |FROM sc
         |GROUP BY split, source
         |ORDER BY split, source""".stripMargin,

    "t14_rare_token_ratio" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${DuckSql.tokens()}) AS tok
         |  FROM documents
         |), freq AS (
         |  SELECT tok, COUNT(*) AS cf FROM toks GROUP BY tok
         |)
         |SELECT t.doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(f.cf) AS BIGINT) AS cf_sum,
         |  COUNT(CASE WHEN f.cf < $RareBelow THEN 1 END) AS n_rare,
         |  CAST(COUNT(CASE WHEN f.cf < $RareBelow THEN 1 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS rare_ratio
         |FROM toks t JOIN freq f USING (tok)
         |GROUP BY t.doc_id
         |ORDER BY doc_id""".stripMargin,

    "t07_decontaminate" ->
      duckDecontamSql,

    "t09_repetition" ->
      s"""WITH t AS (
        |  SELECT doc_id, ${DuckSql.tokens()} AS w
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END AS n_ngrams,
        |    CASE WHEN len(w) >= 3 THEN
        |      len(${DuckSql.shingles3("w")})
        |    ELSE 0 END AS n_distinct
        |  FROM t
        |)
        |SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CASE WHEN n_ngrams = 0 THEN 0.0
        |       ELSE 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_ngrams AS DOUBLE) END AS rep_ratio
        |FROM g
        |ORDER BY doc_id""".stripMargin,

    "t08_mixture_sample" ->
      """SELECT source,
        |  COUNT(*) AS n_total,
        |  COUNT(CASE WHEN (doc_id % 1000003) * 2654435761 % 100
        |    < 30 + TRY_CAST(regexp_extract(source, '[0-9]+') AS BIGINT) % 10 * 7 THEN 1 END) AS n_sampled
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // the same polynomial fold the Spark-side RollingFingerprint expression
    // runs (f = f*1315423911 + byte, mod 2^64), restated over codepoints —
    // identical to bytes because the norm regex leaves only ASCII. HUGEINT
    // keeps the accumulator exact: acc < 2^64, multiplier < 2^31, so every
    // intermediate < 2^95 < HUGEINT max. string_split('','') yields ['']
    // (unicode('') = -1), hence the len(c) filter; an empty norm folds to
    // 0 exactly like the Spark expression's empty-byte loop.
    "t04_fingerprint" ->
      s"""WITH f0 AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |      list_transform(
         |        list_filter(string_split(${DuckSql.normText()}, ''),
         |                    c -> len(c) > 0),
         |        c -> CAST(unicode(c) AS HUGEINT))),
         |      (a, b) -> (a * 1315423911 + b) % ${DuckHash.T}) AS f
         |  FROM documents
         |), fp AS (
         |  SELECT doc_id, ${DuckHash.toSigned("f")} AS fp FROM f0
         |), g AS (
         |  SELECT fp, COUNT(*) AS group_size FROM fp GROUP BY fp
         |)
         |SELECT d.doc_id, d.fp, g.group_size
         |FROM fp d JOIN g USING (fp)
         |ORDER BY d.doc_id""".stripMargin,

    // Spark pmod(xxhash64(doc_id), 100) restated step-for-step in DuckDB
    // (DuckHash.xxhash64LongCtes emits one CTE per mul/rotate/xor step);
    // pmod over the SIGNED hash exactly as Spark computes it.
    "t06_hash_split" ->
      s"""WITH ids AS (
         |  SELECT doc_id, doc_id AS x FROM documents
         |), ${DuckHash.xxhash64LongCtes("doc_id")}, b AS (
         |  SELECT doc_id, ((hv % 100) + 100) % 100 AS bucket FROM hashed
         |), sp AS (
         |  SELECT doc_id,
         |    CASE WHEN bucket < 80 THEN 'train'
         |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM b
         |)
         |SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         |FROM sp GROUP BY split ORDER BY split""".stripMargin
  )
}

/** DuckDB spellings of the engine's 64-bit wrapping hash arithmetic, so
  * hash-dependent queries (t04/t06) sit under the driver's exact gate
  * instead of a rows-only check. Everything runs in HUGEINT (int128) with
  * explicit mod-2^64 reduction; xor routes through UBIGINT (DuckDB's xor
  * doesn't take HUGEINT). mul64 splits each operand at 2^32 so no
  * intermediate exceeds 2^65 — wrapping 64×64 multiply without overflow.
  */
private[graft] object DuckHash {
  /** 2^64 as a DuckDB HUGEINT literal. */
  val T = "18446744073709551616"

  /** unsigned→signed reinterpretation: the BIGINT Spark emits. */
  def toSigned(u: String): String =
    s"CAST(CASE WHEN $u < 9223372036854775808 THEN $u ELSE $u - $T END AS BIGINT)"

  private def mul64(a: String, b: String): String =
    s"(((($a) % 4294967296) * (($b) % 4294967296) + ((((($a) // 4294967296) * (($b) % 4294967296))" +
      s" + ((($a) % 4294967296) * (($b) // 4294967296))) % 4294967296) * 4294967296) % $T)"

  private def xor64(a: String, b: String): String =
    s"CAST(xor(CAST(($a) AS UBIGINT), CAST(($b) AS UBIGINT)) AS HUGEINT)"

  private def rotl(a: String, r: Int): String =
    s"(${mul64(a, (1L << r).toString)} + (($a) // ${java.lang.Long.toUnsignedString(1L << (64 - r))}))"

  // xxhash64 primes (unsigned decimal spellings of the XXH64 constants)
  private val P1 = "11400714785074694791"
  private val P2 = "14029467366897019727"
  private val P3 = "1609587929392839161"
  private val P4 = "9650029242287828579"
  private val P5 = 2870177450012600261L

  /** CTE chain computing Spark's `xxhash64(<bigint col>)` (seed 42, the
    * single-long fast path: h = seed+P5+8; h ^= rotl31(x*P2)*P1;
    * h = rotl27(h)*P1+P4; avalanche). Expects a CTE `ids(<keep>, x)` in
    * scope; emits CTEs ending in `hashed(<keep>, hv BIGINT)`. One CTE per
    * step keeps each mul64 expansion referencing a plain column alias —
    * nesting them textually would blow up ~4× per step.
    */
  def xxhash64LongCtes(keep: String): String = {
    val h0 = java.lang.Long.toUnsignedString(42L + P5 + 8L)
    s"""s0 AS (
       |  SELECT $keep, ((CAST(x AS HUGEINT) % $T) + $T) % $T AS u FROM ids
       |), s1 AS (
       |  SELECT $keep, ${mul64("u", P2)} AS a FROM s0
       |), s2 AS (
       |  SELECT $keep, ${rotl("a", 31)} AS b FROM s1
       |), s3 AS (
       |  SELECT $keep, ${xor64(h0, mul64("b", P1))} AS h1 FROM s2
       |), s4 AS (
       |  SELECT $keep, (${mul64(rotl("h1", 27), P1)} + $P4) % $T AS h3 FROM s3
       |), s5 AS (
       |  SELECT $keep, ${xor64("h3", "h3 // 8589934592")} AS f1 FROM s4
       |), s6 AS (
       |  SELECT $keep, ${mul64("f1", P2)} AS f2 FROM s5
       |), s7 AS (
       |  SELECT $keep, ${xor64("f2", "f2 // 536870912")} AS f3 FROM s6
       |), s8 AS (
       |  SELECT $keep, ${mul64("f3", P3)} AS f4 FROM s7
       |), s9 AS (
       |  SELECT $keep, ${xor64("f4", "f4 // 4294967296")} AS f5 FROM s8
       |), hashed AS (
       |  SELECT $keep, ${toSigned("f5")} AS hv FROM s9
       |)""".stripMargin
  }

  /** CTE chain computing Spark's `xxhash64(<string col>)` (seed 42) — the
    * FULL algorithm over UTF-8 bytes: 32-byte stripes (4 lanes folded via
    * `list_reduce`), lane merge, 8/4/1-byte tails, avalanche. Mirrors
    * `org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes`,
    * validated byte-for-byte against Spark on path-covering lengths
    * (0..100: every stripe count × 8-byte × 4-byte × 1-byte tail
    * combination). Expects a CTE `gr(gid, g VARCHAR)` in scope; emits
    * CTEs ending in `gh(gid, hv)` with hv the UNSIGNED HUGEINT hash
    * (callers band/bit-test it; `toSigned` gives Spark's BIGINT).
    *
    * PRECONDITION: `g` is pure ASCII — the byte list is built from
    * codepoints (`unicode(c)`), which equals the UTF-8 byte only below
    * 0x80. The documents fixture satisfies this (asserted in DedupSpec);
    * non-ASCII corpora would need a blob-level byte extraction instead.
    */
  def xxh64StrCtes(): String = {
    val u64mod = BigInt(1) << 64
    def u64(x: BigInt): String = x.mod(u64mod).toString
    val p1 = BigInt(P1); val p2 = BigInt(P2); val p5 = BigInt(P5)
    val h0Small = u64(p5 + 42)                       // seed+P5 (len<32 init)
    val vInit = Seq(u64(p1 + p2 + 42), u64(p2 + 42), "42", u64(BigInt(42) - p1))
    // UTF-8 byte list from ASCII codepoints, 1-indexed
    val by = "list_transform(list_filter(string_split(g, ''), c -> len(c) > 0)," +
      " c -> CAST(unicode(c) AS HUGEINT))"
    // little-endian 8-byte words
    val w8 = (1 to 8).map(k => s"b[8*j + $k]" +
        (if (k == 1) "" else s" * ${BigInt(1) << (8 * (k - 1))}"))
      .mkString("[", " + ", " for j in range(0, CAST(ln // 8 AS BIGINT))]")
    // one stripe lane: acc -> rotl31(acc + w*P2) * P1 over every 4th word
    def vfold(i: Int): String = {
      val step = mul64(rotl(s"(acc + ${mul64("w", P2)}) % $T", 31), P1)
      s"list_reduce(list_prepend(CAST(${vInit(i)} AS HUGEINT)," +
        s" [w[4*t + ${i + 1}] for t in range(0, CAST(ns AS BIGINT))]), (acc, w) -> $step)"
    }
    def merge(h: String, v: String): String = {
      val k = mul64(rotl(mul64(v, P2), 31), P1)
      s"(${mul64(xor64(h, k), P1)} + $P4) % $T"
    }
    val tail8Step =
      s"(${mul64(rotl(xor64("acc", mul64(rotl(mul64("w", P2), 31), P1)), 27), P1)} + $P4) % $T"
    val tail1Step = mul64(rotl(xor64("acc", mul64("w", p5.toString)), 11), P1)
    val mg = merge(merge(merge(merge("hacc", "v1"), "v2"), "v3"), "v4")
    val w4 = "b[off2 + 1] + b[off2 + 2] * 256 + b[off2 + 3] * 65536 + b[off2 + 4] * 16777216"
    s"""g0 AS MATERIALIZED (
       |  SELECT gid, CAST(strlen(g) AS BIGINT) AS ln, $by AS b FROM gr
       |), g1 AS (
       |  SELECT gid, ln, ln // 32 AS ns, $w8 AS w FROM g0
       |), g2 AS (
       |  SELECT gid, ln, ns, w,
       |    ${vfold(0)} AS v1, ${vfold(1)} AS v2, ${vfold(2)} AS v3, ${vfold(3)} AS v4
       |  FROM g1
       |), g3 AS (
       |  SELECT gid, ln, ns, w,
       |    CASE WHEN ln >= 32 THEN
       |      (${rotl("v1", 1)} + ${rotl("v2", 7)} + ${rotl("v3", 12)} + ${rotl("v4", 18)}) % $T
       |    ELSE CAST($h0Small AS HUGEINT) END AS hacc, v1, v2, v3, v4
       |  FROM g2
       |), g4 AS (
       |  SELECT gid, ln, ns, w,
       |    (CASE WHEN ln >= 32 THEN $mg ELSE hacc END + ln) % $T AS hacc
       |  FROM g3
       |), g5 AS (
       |  SELECT gid, g4.ln AS ln, 8 * (g4.ln // 8) AS off2,
       |    list_reduce(list_prepend(hacc, w[4*ns + 1 :]), (acc, w) -> $tail8Step) AS hacc, b
       |  FROM g4 JOIN g0 USING (gid)
       |), g6 AS (
       |  SELECT gid, ln,
       |    CASE WHEN off2 + 4 <= ln THEN off2 + 4 ELSE off2 END AS off3,
       |    CASE WHEN off2 + 4 <= ln THEN
       |      (${mul64(rotl(xor64("hacc", mul64(w4, P1)), 23), P2)} + $P3) % $T
       |    ELSE hacc END AS hacc, b
       |  FROM g5
       |), g7 AS (
       |  SELECT gid,
       |    list_reduce(list_prepend(hacc, b[off3 + 1 :]), (acc, w) -> $tail1Step) AS hacc
       |  FROM g6
       |), g8 AS (
       |  SELECT gid, ${mul64(xor64("hacc", "hacc // 8589934592"), P2)} AS f1 FROM g7
       |), g9 AS (
       |  SELECT gid, ${mul64(xor64("f1", "f1 // 536870912"), P3)} AS f2 FROM g8
       |), gh AS (
       |  SELECT gid, ${xor64("f2", "f2 // 4294967296")} AS hv FROM g9
       |)""".stripMargin
  }

  // splitmix64 constants (unsigned decimal: 0x9E3779B97F4A7C15,
  // 0xBF58476D1CE4E5B9, 0x94D049BB133111EB)
  private val SM1 = "11400714819323198485"
  private val SM2 = "13787848793156543929"
  private val SM3 = "10723151780598845931"

  /** CTE chain computing `VectorFunctions.splitmix64(x)` — the stub-decode
    * geometry generator (m02/m03): z = x + SM1; z = (z ^ z>>>30) * SM2;
    * z = (z ^ z>>>27) * SM3; z ^ z>>>31, all mod 2^64. Expects a CTE
    * `<prefix>ids(<keep>, x)` (x unsigned HUGEINT, already reduced mod
    * 2^64); emits CTEs ending in `<prefix>smixed(<keep>, sv)` with sv the
    * unsigned HUGEINT result. `keep` may be a comma-separated column
    * list. Pass a `prefix` when the chain is embedded in a SHARED
    * fragment (duckSemCtes): a prefixed instance cannot collide with a
    * consumer's own splitmix/xxh64 chain, so composition is safe by
    * construction instead of by naming convention.
    */
  def splitmix64Ctes(keep: String, prefix: String = ""): String =
    s"""${prefix}p0 AS (
       |  SELECT $keep, (x + $SM1) % $T AS z0 FROM ${prefix}ids
       |), ${prefix}p1 AS (
       |  SELECT $keep, ${xor64("z0", "z0 // 1073741824")} AS a1 FROM ${prefix}p0
       |), ${prefix}p2 AS (
       |  SELECT $keep, ${mul64("a1", SM2)} AS z1 FROM ${prefix}p1
       |), ${prefix}p3 AS (
       |  SELECT $keep, ${xor64("z1", "z1 // 134217728")} AS a2 FROM ${prefix}p2
       |), ${prefix}p4 AS (
       |  SELECT $keep, ${mul64("a2", SM3)} AS z2 FROM ${prefix}p3
       |), ${prefix}smixed AS (
       |  SELECT $keep, ${xor64("z2", "z2 // 2147483648")} AS sv FROM ${prefix}p4
       |)""".stripMargin
}

/** DuckDB oracle fragments that several modules' statements restate —
  * one copy of each, so a change to the tokenizer, the normalizer or the
  * shingle rule reaches every oracle that uses it. The CTE fragments start
  * mid-WITH (compose as `WITH ${...}, next AS (`); the text rules are
  * expressions over a text column, the twins of `TextFunctions`'.
  */
private[graft] object DuckSql {
  /** `TextFunctions.tokens`: the whitespace tokens of column `text`. */
  def tokens(text: String = "text"): String =
    s"list_filter(string_split(lower($text), ' '), w -> len(w) > 0)"

  /** `TextFunctions.normText`: column `text`, normalized for exact dedup. */
  def normText(text: String = "text"): String =
    s"regexp_replace(lower($text), '[^a-z0-9 ]', '', 'g')"

  /** `TextFunctions.alphaWords`: the letter runs of column `text`. */
  val alphaWords = "regexp_extract_all(lower(text), '[a-z]+')"

  /** `t(doc_id, <cols> w)`: the tokens of each row of `from`. */
  def tokenCte(from: String = "documents", cols: String = ""): String =
    s"""t AS (
       |  SELECT doc_id, $cols${tokens()} AS w
       |  FROM $from
       |)""".stripMargin

  /** Distinct word 3-shingles of the token list `w` (d03's shingle rule). */
  def shingles3(w: String): String =
    s"list_distinct([$w[i] || ' ' || $w[i+1] || ' ' || $w[i+2] for i in range(1, len($w) - 1)])"

  /** tokenCte plus `<shingles>(doc_id, <cols> sh)`: each document of at
    * least 3 tokens with its distinct 3-shingles.
    */
  def shingleCtes(shingles: String = "s", from: String = "documents", cols: String = ""): String =
    s"""${tokenCte(from, cols)}, $shingles AS (
       |  SELECT doc_id, $cols
       |    ${shingles3("w")} AS sh
       |  FROM t WHERE len(w) >= 3
       |)""".stripMargin

  /** Exact Jaccard of two shingle lists, as a DOUBLE. */
  def jaccard(a: String, b: String): String =
    s"len(list_intersect($a, $b))::DOUBLE / len(list_distinct(list_concat($a, $b)))::DOUBLE"

  /** Body of a pair CTE `(id_a, id_b)`: every id-ordered pair of
    * `shingles` rows with Jaccard ≥ `threshold` — d03's brute force.
    */
  def nearPairs(shingles: String, threshold: Any): String =
    s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM $shingles a JOIN $shingles b ON a.doc_id < b.doc_id
       |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |    AND ${jaccard("a.sh", "b.sh")} >= $threshold""".stripMargin

  /** a03's sessions over `events`: `flagged(<cols>, is_new)` marks an
    * event that opens a session (the user's first, or `gap` 1800 s after
    * the previous one on second-truncated time, `gap` one of `>`, `>=`);
    * `numbered` adds the running `session_seq`, ordered by `seqOrder`.
    */
  def sessionCtes(cols: String = "user_id, event_id, event_type, ts, epoch(date_trunc('second', ts)) AS ts_sec",
                  gap: String = ">", seqOrder: String = "ts"): String =
    s"""flagged AS (
       |  SELECT $cols,
       |    CASE WHEN LAG(epoch(date_trunc('second', ts))) OVER w IS NULL
       |           OR epoch(date_trunc('second', ts)) - LAG(epoch(date_trunc('second', ts))) OVER w $gap 1800
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
       |), numbered AS (
       |  SELECT *, SUM(is_new) OVER (
       |    PARTITION BY user_id ORDER BY $seqOrder ASC, event_id ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
       |  FROM flagged
       |)""".stripMargin
}
