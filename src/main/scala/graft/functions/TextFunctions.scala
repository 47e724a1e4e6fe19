package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for large-scale corpus curation, composed from
  * codegen'd built-ins (SURVEY.md §2.8 extension surface). Everything here
  * is a narrow per-row map — no shuffle, fully pushdown/codegen friendly —
  * so it streams at scan speed over a 100 TB documents table.
  *
  * Semantics are deliberately mirrored 1:1 by DuckDB SQL in the oracle
  * catalog (same tokenizer, same ratios in exact int arithmetic before the
  * final double division).
  */
object TextFunctions {

  /** Whitespace tokens of lower-cased text, empties dropped. Split on the
    * ASCII space only: a tab or newline stays inside its token.
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), " "), t => length(t) > 0)

  /** Lower-cased text with every char outside `[a-z0-9 ]` dropped (spaces
    * kept as they are): the exact-dedup key.
    */
  def normText(text: Column): Column =
    regexp_replace(lower(text), "[^a-z0-9 ]", "")

  /** The maximal runs of ASCII letters in lower-cased text, in order: the
    * BPE vocabulary's words and the pretokenizer's letter class.
    */
  def alphaWords(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** Word n-grams in document order (repeats kept; docs shorter than n
    * yield an empty array). Native single-pass expression — see
    * [[WordNgrams]] for why the HOF formulation is quadratic.
    */
  def wordNgrams(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      WordNgrams(org.apache.spark.sql.graft.Bridge.expression(text), n, distinct = false))

  /** Distinct word n-gram shingles (the near-dup unit — token sets saturate
    * on small vocabularies, n-grams stay discriminative).
    */
  def wordShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      WordNgrams(org.apache.spark.sql.graft.Bridge.expression(text), n, distinct = true))

  /** Per-row character histogram (UTF-16 code unit % bins) — the
    * bag-of-characters edit-distance prefilter primitive; see
    * [[CharHistogram]].
    */
  def charHistogram(text: Column, bins: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      CharHistogram(org.apache.spark.sql.graft.Bridge.expression(text), bins))

  /** Exact token-set Jaccard similarity of two shingle arrays: int set
    * sizes, one final double division (bit-exact across engines).
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** [[jaccard]] for SORTED UNIQUE `array<long>` inputs (the hashed-shingle
    * arrays `Dedup.sketched` builds): one allocation-free sorted-merge
    * intersection (SortedIntersectCount) replaces array_intersect +
    * array_union's two per-pair hash sets and two materialized arrays —
    * |a ∪ b| = |a| + |b| − |a ∩ b| for sets, so the value is bit-identical
    * to [[jaccard]] (same integer operands, same one double division).
    * This sits in the verify stage of every LSH dedup (d03/d04/d08/d09/
    * p01/t20), the hottest per-pair loop in the engine.
    */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = graft.functions.ArrayFunctions.sorted_intersect_count(a, b)
    inter.cast("double") /
      (size(a).cast("long") + size(b).cast("long") - inter).cast("double")
  }

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword-unit estimate: runs of letters, single digits, and
    * single punctuation marks each count as one unit (the standard cheap
    * pre-tokenizer shape used to budget LLM token counts).
    */
  val BpeTokenPattern = "[a-z]+|[0-9]|[^a-z0-9\\s]"
  def tokenCountBpe(text: Column): Column =
    regexp_count(lower(text), lit(BpeTokenPattern)).cast("long")

  /** Share of tokens that are stopwords (English function-word list). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is")
  def stopwordRatio(text: Column): Column = {
    val ts = tokens(text)
    val stops = filter(ts, t => t.isin(Stopwords: _*))
    when(size(ts) === 0, 0.0)
      .otherwise(size(stops).cast("double") / size(ts).cast("double"))
  }

  /** Share of non-alphanumeric, non-space characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(regexp_count(lower(text), lit("[^a-z0-9 ]")).cast("double")
        / length(text).cast("double"))

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) === 0, 0.0)
      .otherwise(
        aggregate(ts, lit(0L), (acc, t) => acc + length(t).cast("long")).cast("double")
          / size(ts).cast("double"))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, prose-like
    * stopword share, low punctuation noise. Weights are fixed constants so
    * the score is engine-reproducible (pure double arithmetic over exact
    * int ratios).
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(400.0), lit(1.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    val punctPenalty = lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))
    lenScore * 0.4 + stopScore * 0.3 + punctPenalty * 0.3
  }

  /** Language-ID marker lexicons. Scores = marker-token hits per language;
    * prediction = first language (alphabetical) attaining the max score.
    * An n-gram/lexicon heuristic of this shape is how trillion-token
    * pipelines do first-pass lang routing; the lexicons here are tuned to
    * the synthetic corpus vocabulary so scores actually discriminate.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "das", "batch", "stream"),
    "en" -> Seq("the", "a", "fast", "slow", "small"),
    "es" -> Seq("el", "la", "de", "data", "query"),
    "fr" -> Seq("le", "les", "des", "merge", "join"),
    "zh" -> Seq("spark", "vector", "window", "hash"))

  def langScore(text: Column, markers: Seq[String]): Column = {
    val ts = tokens(text)
    size(filter(ts, t => t.isin(markers: _*))).cast("long")
  }

  /** Predicted language code + its score, alphabetical-first tie-break. */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) => (lang, langScore(text, ms)) }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best, lit(lang)).otherwise(acc)
    }
  }
}
