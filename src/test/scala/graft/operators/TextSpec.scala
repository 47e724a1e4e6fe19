package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import graft.functions.HashingFunctions._
import graft.functions.TextFunctions._

class TextSpec extends SparkSpec {

  test("rolling fingerprint: equal normalized text <=> equal fingerprint (on this corpus)") {
    import spark.implicits._
    val norm = normText(col("text"))
    val d = Tables.documents(spark, sfDir)
      .select(norm.as("n"), rolling_fingerprint(norm).as("fp"))
    val groups = d.groupBy("fp").agg(countDistinct("n").as("texts")).collect()
    groups.foreach(r => assert(r.getLong(1) === 1L, "hash collision between distinct texts"))
    // and determinism
    val again = Tables.documents(spark, sfDir)
      .select(rolling_fingerprint(norm).as("fp")).as[Long].collect().sorted
    val first = d.select("fp").as[Long].collect().sorted
    assert(first.sameElements(again))
  }

  test("fingerprint of known strings matches the documented recurrence") {
    import spark.implicits._
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((f, b) => f * 1315423911L + (b & 0xFF))
    val inputs = Seq("", "a", "hello world", "the quick brown fox")
    val got = inputs.toDF("s").select(rolling_fingerprint(col("s"))).as[Long].collect()
    assert(got.toSeq === inputs.map(ref))
  }

  test("token counts agree with a driver-side tokenizer on sample docs") {
    import spark.implicits._
    // the shared text policies at their edges: runs of spaces, leading and
    // trailing spaces, a tab, uppercase ASCII and a non-ASCII capital,
    // punctuation
    val edges = Seq("a  b   c", " lead and trail ", "tab\tinside  x", "UPPER Case ÉCOLE",
      "don't stop, (ok)! 3.14", "   ", "")
    val sample = Tables.documents(spark, sfDir).limit(20).select("text").as[String].collect()
    val rows = (sample ++ edges).toSeq.toDF("text")
      .select(col("text"),
        tokenCountWs(col("text")).as("ws"),
        tokenCountBpe(col("text")).as("bpe"),
        tokens(col("text")).as("toks"),
        normText(col("text")).as("norm"),
        alphaWords(col("text")).as("alpha"))
      .collect()
    rows.foreach { r =>
      val lowered = r.getString(0).toLowerCase(java.util.Locale.ROOT)
      val expectedToks = lowered.split(" ").filter(_.nonEmpty).toSeq
      assert(r.getLong(1) === expectedToks.length.toLong)
      assert(r.getLong(2) === BpeTokenPattern.r.findAllIn(lowered).length.toLong)
      assert(r.getSeq[String](3) === expectedToks)
      assert(r.getString(4) === lowered.replaceAll("[^a-z0-9 ]", ""))
      assert(r.getSeq[String](5) === "[a-z]+".r.findAllIn(lowered).toSeq)
    }
    // the same policies spelled out: split on the space only (a tab stays
    // in its token), spaces kept by the normalizer, É lowered but not ASCII
    val pinned = rows.drop(sample.length).map(r => r.getString(0) ->
      (r.getSeq[String](3), r.getString(4), r.getSeq[String](5))).toMap
    assert(pinned("a  b   c") === ((Seq("a", "b", "c"), "a  b   c", Seq("a", "b", "c"))))
    assert(pinned(" lead and trail ") ===
      ((Seq("lead", "and", "trail"), " lead and trail ", Seq("lead", "and", "trail"))))
    assert(pinned("tab\tinside  x") === ((Seq("tab\tinside", "x"), "tabinside  x", Seq("tab", "inside", "x"))))
    assert(pinned("UPPER Case ÉCOLE") ===
      ((Seq("upper", "case", "école"), "upper case cole", Seq("upper", "case", "cole"))))
    assert(pinned("don't stop, (ok)! 3.14") ===
      ((Seq("don't", "stop,", "(ok)!", "3.14"), "dont stop ok 314", Seq("don", "t", "stop", "ok"))))
    assert(pinned("   ") === ((Seq.empty, "   ", Seq.empty)))
    assert(pinned("") === ((Seq.empty, "", Seq.empty)))
  }

  test("quality score stays in [0,1] and lang-id emits only known codes") {
    val q = TextAnalysis.queries("t02_quality_score")(spark, sfDir).collect()
    q.foreach { r =>
      val s = r.getDouble(4)
      assert(s >= 0.0 && s <= 1.0)
    }
    val langs = LangMarkers.map(_._1).toSet
    val preds = TextAnalysis.queries("t03_lang_id")(spark, sfDir)
      .select("lang_pred").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(langs + "und"))
  }

  test("t06 hash split: deterministic, complete, disjoint, ~80/10/10") {
    val runs = (1 to 2).map(_ =>
      TextAnalysis.queries("t06_hash_split")(spark, sfDir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(runs(0) === runs(1), "identical assignment across runs")
    val total = runs(0).values.sum
    assert(total === graft.Tables.documents(spark, sfDir).count(), "complete partition")
    val trainFrac = runs(0)("train").toDouble / total
    assert(trainFrac > 0.6 && trainFrac < 0.95, s"train fraction $trainFrac near 0.8")
  }

  test("word shingles: short docs yield empty arrays, not errors") {
    import spark.implicits._
    val got = Seq("one two", "a", "", "x y z w").toDF("text")
      .select(size(wordShingles(col("text"), 3)).as("n")).as[Int].collect()
    assert(got.toSeq === Seq(0, 0, 0, 2))
  }

  test("t10 chunking: stride-aligned prefixes reassemble every document exactly") {
    import spark.implicits._
    // the first ChunkStride chars of each chunk, concatenated in order,
    // must reproduce the original text (overlap = size - stride is the
    // only redundancy) — the property that makes chunking lossless
    val rebuilt = TextAnalysis.queries("t10_chunk_docs")(spark, sfDir)
      .groupBy("doc_id")
      // collect_list has no order guarantee — sort the structs by chunk_idx
      .agg(concat_ws("", transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
        s => substring(s.getField("chunk_text"), 1, TextAnalysis.ChunkStride))).as("rebuilt"))
      .select(col("doc_id"), col("rebuilt"))
    val orig = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val diff = rebuilt.join(orig, "doc_id")
      .filter(col("rebuilt") =!= col("text")).count()
    assert(diff === 0L)
    // chunk geometry: every chunk is exactly min(ChunkSize, len - start)
    // chars — full-width until the text runs out
    val bad = TextAnalysis.queries("t10_chunk_docs")(spark, sfDir)
      .join(orig.select(col("doc_id"), length(col("text")).cast("long").as("len")), "doc_id")
      .filter(col("chunk_len") =!=
        least(lit(TextAnalysis.ChunkSize.toLong), col("len") - col("chunk_start")))
      .count()
    assert(bad === 0L)
  }

  test("t11 packing: offsets are contiguous per source and sequences cover every token") {
    val packed = TextAnalysis.queries("t11_pack_sequences")(spark, sfDir).collect()
    assert(packed.nonEmpty)
    // group by source, check start_off contiguity in doc_id order
    packed.groupBy(_.getString(1)).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_.getLong(0))
      var expect = 0L
      ordered.foreach { r =>
        assert(r.getLong(3) === expect, s"doc ${r.getLong(0)}: start_off ${r.getLong(3)} != $expect")
        expect += r.getLong(2)
      }
    }
    // a doc spanning k sequences has first_seq + k - 1 = last_seq, and
    // every doc's span is consistent with its token count and the budget
    packed.foreach { r =>
      val (tok, off, first, last, n) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(first === off / TextAnalysis.SeqBudget)
      assert(last === (off + tok - 1) / TextAnalysis.SeqBudget)
      assert(n === last - first + 1)
    }
  }

  test("t12 redaction: masks emails, phones, ids on adversarial inline rows") {
    import spark.implicits._
    val rows = Seq(
      ("reach me at jane.doe+spam@example.co.uk please", "reach me at <EMAIL> please"),
      ("call +1 (555) 123-4567 now", "call <PHONE> now"),
      ("id 123456789 and zip 02139", "id <PHONE> and zip <ID>"), // 9-digit run reads as phone-like; 5-digit as id
      ("no pii here at all", "no pii here at all"),
      ("a@b.io or 12 cats", "<EMAIL> or 12 cats") // short digit runs survive
    ).toDF("text", "expected")
    val got = rows.select(TextAnalysis.redactPii(col("text")).as("m"), col("expected")).collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("t13 bloom prefilter: superset of true matches, equal final answer to t07") {
    // the bloom path must agree with the exact join exactly (no false
    // negatives, FPs removed by the verify join)
    val exact = TextAnalysis.queries("t07_decontaminate")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = TextAnalysis.queries("t13_bloom_decontaminate")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloom === exact)
    assert(exact.nonEmpty, "fixture must contain contaminated docs")
  }

  test("t08 mixture sampler: achieved rate tracks each source's target rate") {
    // the oracle pins exact parity; this pins the STATISTICAL claim — the
    // stateless id mix is uniform enough that every source's achieved
    // sampling rate lands near its target (binomial stderr at these
    // per-source counts is ~7-10 points; allow 3 sigma)
    val rows = TextAnalysis.queries("t08_mixture_sample")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val srcNum = "[0-9]+".r.findFirstIn(r.getString(0)).get.toLong
      val target = (30L + srcNum % 10 * 7L).toDouble / 100.0
      val achieved = r.getLong(2).toDouble / r.getLong(1)
      val sigma = math.sqrt(target * (1 - target) / r.getLong(1))
      assert(math.abs(achieved - target) <= 3 * sigma + 0.02,
        s"${r.getString(0)}: achieved $achieved vs target $target (n=${r.getLong(1)})")
    }
  }

  test("t18 boilerplate spans: crafted corpus hits the 5% flag threshold exactly") {
    import spark.implicits._
    // 40-doc corpus. Docs 1..3 share the span "legal boiler" (df 3:
    // 3·20 = 60 > 40 → flagged); docs 1..2 also share "rare pair"
    // (df 2: 40 > 40 is FALSE → at exactly 5% the span must NOT flag —
    // the strict inequality is the contract). Every doc adds unique
    // spans. Doc 50 has one word — no spans, excluded entirely.
    val docs = (
      Seq(
        (1L, "legal boiler rare pair u1a u1b"),
        (2L, "legal boiler rare pair u2a u2b"),
        (3L, "legal boiler u3a u3b u3c u3d")) ++
        (4L to 40L).map(d => (d, s"w${d}a w${d}b w${d}c w${d}d w${d}e w${d}f")) ++
        Seq((50L, "loner"))
      ).toDF("doc_id", "text")
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("w"))
    val got = TextAnalysis.boilerplateSpans(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(!got.contains(50L), "a spanless doc must be absent")
    assert(got(1L) === ((3L, 1L, true)), s"doc 1: ${got(1L)}")  // only 'legal boiler' flags
    assert(got(2L) === ((3L, 1L, true)))
    assert(got(3L) === ((3L, 1L, true)))
    (4L to 40L).foreach(d => assert(got(d) === ((3L, 0L, true)), s"doc $d"))
  }

  test("t19 cms estimates never underestimate — the prefilter loses no heavy hitter") {
    // The contract that makes t19's exact oracle valid: a CMS counter only
    // ever adds, so estimate ≥ true count for EVERY key. Checked over the
    // full fixture vocabulary (exact counts vs probe on the same hashes).
    val grams = Tables.documents(spark, sfDir)
      .select(explode(wordNgrams(col("text"), 2)).as("g"))
      .select(xxhash64(col("g")).as("h"))
    val cms = grams
      .agg(cms_sketch_agg(col("h"), TextAnalysis.CmsEps, TextAnalysis.CmsConfidence, 42).as("cms"))
      .head().getAs[Array[Byte]](0)
    val under = grams.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(cms_min_count(cms, col("h")) < col("cnt"))
      .count()
    assert(under === 0L, "CMS must never report less than the true count")
  }

  test("t25 surprisal closed form: bit-lengths, mean, and the 3/4 rare-heavy gate") {
    import spark.implicits._
    // corpus: cf(a)=4, cf(b)=cf(zzz)=cf(qqq)=1, N=7 → nb = bitlen(7)−1 = 2
    // bits: a → 2−(bitlen(4)−1) = 0; singletons → 2−0 = 2
    val docs = Seq(
      (1L, "a a a"),   // sum 0, mean 0.0, 0·4 > 2·3·3 ? no
      (2L, "a b"),     // sum 2, mean 1.0, 8 > 12 ? no
      (3L, "zzz qqq")  // sum 4, mean 2.0, 16 > 12 ? YES — rare-heavy
    ).toDF("doc_id", "text")
    val got = TextAnalysis.surprisalScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) === ((3L, 0L, 0.0, false)))
    assert(got(2L) === ((2L, 2L, 1.0, false)))
    assert(got(3L) === ((2L, 4L, 2.0, true)))
  }

  test("t31 zipf spectrum closed form: buckets, rank ranges, and mass shares") {
    import spark.implicits._
    // cf: a=8 (fb 3), b=4 (fb 2), c=2 (fb 1), d=e=1 (fb 0); mass 16.
    // rank ranges follow from the descending cumulative type count alone.
    val docs = Seq(
      (1L, "a a a a a a a a"),
      (2L, "b b b b c c d"),
      (3L, "e")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.zipfSpectrum(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))
    assert(got === Array(
      (3L, 1L, 8L, 8L, 8L, 1L, 1L, 0.5),
      (2L, 1L, 4L, 4L, 4L, 2L, 2L, 0.25),
      (1L, 1L, 2L, 2L, 2L, 3L, 3L, 0.125),
      (0L, 2L, 2L, 1L, 1L, 4L, 5L, 0.125)))
  }

  test("t32 divergence closed forms: twins 0, disjoint 1, half-overlap 2/3, zero-cell pair present") {
    import spark.implicits._
    // s1=(a:1, b:1)/2, s2=(a:1, c:2)/3: common a → |1·3−1·2|=1;
    // a-only b → 1·3; b-only c → 2·2 ⇒ tv = 8/12 = 2/3.
    // s0 is s1's twin (tv 0); s3 is vocabulary-disjoint from all (tv 1).
    val docs = Seq(
      ("s0", "a b"), ("s1", "a b"), ("s2", "a c c"), ("s3", "z z z z")
    ).toDF("source", "text")
    val got = TextAnalysis.sourceDivergence(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.size === 6, "full pair grid incl. zero-common cells")
    assert(got(("s0", "s1")) === ((2L, 2L, 2L, 0.0)))
    assert(got(("s1", "s2")) === ((2L, 3L, 1L, 2.0 / 3.0)))
    assert(got(("s0", "s3")) === ((2L, 4L, 0L, 1.0)))
    assert(got(("s2", "s3")) === ((3L, 4L, 0L, 1.0)))
  }

  test("t27 BPE merge closed form: vocabulary-weighted pair counts, winner by count then pair") {
    import spark.implicits._
    // vocab: aaab wf=3 (pairs aa×2, ab×1), ab wf=2 (ab×1); "x" too short;
    // digits/punct are not pretokens → pair counts aa=6, ab=3+2=5
    val docs = Seq(
      "aaab aaab x 7",
      "aaab ab.ab"
    ).toDF("text")
    val got = TextAnalysis.bpeMergeStep(docs, 20).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(got === Array(
      ("a", "a", 6L, 1L, true),
      ("a", "b", 5L, 2L, false)))
  }

  test("t27 tie-break: equal counts rank left-sym then right-sym ascending") {
    import spark.implicits._
    // zz and ab both count 1 — ab wins the merge on the pair tie-break
    val docs = Seq("zz ab").toDF("text")
    val got = TextAnalysis.bpeMergeStep(docs, 20).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(got === Array(
      ("a", "b", 1L, 1L, true),
      ("z", "z", 1L, 2L, false)))
  }

  test("t28 BPE apply closed form: per-source token counts before/after the global winner") {
    import spark.implicits._
    // global vocab: aaab wf=3 (aa=6, ab=3), ab wf=2 (ab=2) → winner aa.
    // s1: aaab×2 + x → 3 words, before 9, merges 2 ("aaab"→chr1+"ab"), after 7
    // s2: aaab×1 + ab×2 → 3 words, before 8, merges 1, after 7
    val docs = Seq(
      ("s1", "aaab aaab x"),
      ("s2", "aaab ab.ab")
    ).toDF("source", "text")
    val got = TextAnalysis.bpeApplyStep(docs).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got === Array(
      ("s1", 3L, 9L, 2L, 7L),
      ("s2", 3L, 8L, 1L, 7L)))
  }

  test("t28 overlap rule: merges apply leftmost non-overlapping (aaa yields one aa merge)") {
    import spark.implicits._
    // vocab: aaa wf=2 → pair aa counts 2 per word = 4; winner aa; each
    // "aaa" admits ONE merge (the overlapping second aa is consumed)
    val docs = Seq(("s", "aaa aaa")).toDF("source", "text")
    val got = TextAnalysis.bpeApplyStep(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got === Array(("s", 2L, 6L, 2L, 4L)))
  }

  test("t29 BPE training loop: 2 hand-computed rounds, multi-char symbols compound") {
    import spark.implicits._
    // vocab: abab wf=2 (pairs ab×2, ba×1), cd wf=1.
    // r1: counts ab=4, ba=2, cd=1 → winner (a,b,4); abab → [ab][ab],
    //     tokens = 2·2 + 2·1 = 6
    // r2: counts (ab,ab)=2, (c,d)=1 → winner (ab,ab,2); abab → [abab],
    //     tokens = 1·2 + 2·1 = 4 — the round-2 winner is a MULTI-CHAR
    //     pair, which is what separates training from t27's single round
    val docs = Seq("abab abab cd").toDF("text")
    val got = TextAnalysis.bpeTrainProfile(docs, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(got === Array(
      (1L, "a", "b", 4L, 6L),
      (2L, "ab", "ab", 2L, 4L)))
  }

  test("t29 overlap rule holds round over round: aaa merges once, then closes") {
    import spark.implicits._
    // r1: (a,a) counts 2 per "aaa" ×2 = 4; leftmost-non-overlapping →
    //     [aa][a], tokens 2·2 = 4
    // r2: (aa,a) = 2 → [aaa], tokens 2
    val docs = Seq("aaa aaa").toDF("text")
    val got = TextAnalysis.bpeTrainProfile(docs, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(got === Array(
      (1L, "a", "a", 4L, 4L),
      (2L, "aa", "a", 2L, 2L)))
  }

  test("t29 round 1 winner agrees with t27's top merge on the same corpus") {
    import spark.implicits._
    val docs = Seq("aaab aaab x 7", "aaab ab.ab").toDF("text")
    val t27 = TextAnalysis.bpeMergeStep(docs, 1).collect()(0)
    val t29 = TextAnalysis.bpeTrainProfile(docs, rounds = 1).collect()(0)
    assert((t29.getString(1), t29.getString(2), t29.getLong(3))
      === ((t27.getString(0), t27.getString(1), t27.getLong(2))))
  }

  test("t30 bigram surprisal closed form: looped text pins to 0 bits, rare transition scores") {
    import spark.implicits._
    // corpus bigrams: d1 → (a,b)×4, (b,a)×4; d2 → (a,z)×1
    // pf(a) = 5, pf(b) = 4; bitlens: 5→3, 4→3, 1→1
    // d1: bits(a,b) = 3−3 = 0, bits(b,a) = 3−3 = 0 → sum 0 over 8,
    //     mean 0.0, low-entropy (the loop detector firing)
    // d2: bits(a,z) = 3−1 = 2 → mean 2.0, NOT low-entropy
    val docs = Seq(
      (1L, "a b a b a b a b a"),
      (2L, "a z"),
      (3L, "solo")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramSurprisal(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(got === Array(
      (1L, 8L, 0L, 0.0, true),
      (2L, 1L, 2L, 2.0, false)))
    // single-token docs have no bigrams and never appear
    assert(!got.exists(_._1 == 3L))
  }

  test("t30: bits are never negative (bf ≤ pf by construction)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y x z y x"), (2L, "y x y"), (3L, "z z z y")
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.bigramSurprisal(docs).collect()
    rows.foreach(r => assert(r.getLong(2) >= 0L && r.getLong(2) <= 63L * r.getLong(1)))
  }

  test("t23 surgery geometry: edge windows mask 4; overlapping hits merge; clean docs intact") {
    import spark.implicits._
    // eval docs (id % 97 == 0) carry the contaminated 4-grams
    val docs = Seq(
      (97L, "aa bb cc dd"),                       // eval gram 1
      (194L, "bb cc dd ee"),                      // eval gram 2 (overlaps 1 in doc 1)
      (1L, "aa bb cc dd ee"),                     // hits at wi=0 AND wi=1 → merged mask 0..4
      (2L, "xx aa bb cc dd yy zz"),               // one hit at wi=1 → masks 1..4 of 7
      (3L, "clean words only here five"),         // no hit
      (4L, "aa bb cc dd zz aa bb cc dd")          // two disjoint-ish hits: wi=0, wi=5 → masks 0..3 ∪ 5..8
    ).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminateSurgery(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((5L, 5L, 0L)), "overlapping masks must merge, not double-count")
    assert(got(2L) === ((7L, 4L, 3L)))
    assert(got(3L) === ((5L, 0L, 5L)))
    assert(got(4L) === ((9L, 8L, 1L)), "two hits mask 8 distinct positions of 9")
    assert(!got.contains(97L) && !got.contains(194L), "eval docs are not surgery targets")
  }

  private def quotasOf(masses: Seq[(String, Long)], k: Long): Map[String, Long] = {
    import spark.implicits._
    TextAnalysis.apportionedQuotas(masses.toDF("source", "m"), k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("t22 apportionment: exact shares pass through; Hamilton tie goes to source asc") {
    // masses proportional to 5:3:2 with k=10 — exact, no leftover seats
    assert(quotasOf(Seq("a" -> 500L, "b" -> 300L, "c" -> 200L), 10L) ===
      Map("a" -> 5L, "b" -> 3L, "c" -> 2L))
    // equal thirds with k=10: base 3 each, one leftover seat, remainders
    // all equal → the tie-break (source asc) must give it to 'a'
    assert(quotasOf(Seq("a" -> 7L, "b" -> 7L, "c" -> 7L), 10L) ===
      Map("a" -> 4L, "b" -> 3L, "c" -> 3L))
  }

  test("t22 apportionment laws on the fixture: Σquota = k, each within 1 of exact share") {
    val mass = Tables.documents(spark, sfDir)
      .groupBy("source").agg(sum("n_chars").as("m"))
    val masses = mass.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val total = masses.map(_._2).sum
    val k = TextAnalysis.SampleBudget
    val q = quotasOf(masses, k)
    assert(q.values.sum === k, "largest-remainder must hand out exactly k seats")
    masses.foreach { case (src, m) =>
      val exact = k.toDouble * m / total
      assert(math.abs(q(src) - exact) < 1.0 + 1e-9,
        s"$src quota ${q(src)} strays more than a seat from exact share $exact")
    }
  }

  test("t24 novelty: unique doc 1.0; identical twins share everything; short doc absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),     // shingles unique to doc 1 → novelty 1.0
      (2L, "one two three four"),         // identical twin of 3: df=2 on every shingle
      (3L, "one two three four"),
      (4L, "one two three five"),         // shares "one two three" with 2/3, owns 1 of 2
      (5L, "too short")                   // < 3 tokens → no shingles → absent
    ).toDF("doc_id", "text")
    val got = TextAnalysis.ngramNovelty(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    assert(got(1L) === ((2L, 2L, 1.0)), "fully original doc is fully novel")
    assert(got(2L) === ((2L, 0L, 0.0)), "twin docs have zero novelty")
    assert(got(3L) === ((2L, 0L, 0.0)))
    assert(got(4L) === ((2L, 1L, 0.5)), "'two three five' is doc 4's alone")
  }

  test("t33 crafted shift: OOV val tokens take nb+1 bits and raise the val mean") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // pick REAL bucket assignments from the operator's own hash — ids
    // are chosen at runtime so the crafted split can't drift from t06's
    val buckets = spark.range(0, 2000)
      .select(col("id"), pmod(xxhash64(col("id")), lit(100)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainIds = buckets.collect { case (id, b) if b < 80 => id }.take(3).toSeq
    val valId = buckets.collect { case (id, b) if b >= 80 && b < 90 => id }.head
    val docs = (trainIds.map(id => (id, "s", "alpha beta alpha beta")) :+
      ((valId, "s", "alpha zzz"))).toDF("doc_id", "source", "text")
    val got = TextAnalysis.splitShift(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // train model: alpha=6, beta=6, total 12 → nb=3; alpha bits 3-2=1
    val (trN, trOov, trBits, trMean) = got("train")
    assert((trN, trOov, trBits, trMean) === ((12L, 0L, 12L, 1.0)))
    // val doc: alpha (1 bit) + OOV zzz (nb+1 = 4 bits)
    val (vN, vOov, vBits, vMean) = got("val")
    assert((vN, vOov, vBits) === ((2L, 1L, 5L)))
    assert(vMean > trMean, "the OOV token must read as shift")
  }

  test("t34 PMI pairs: hand-computed counts, lift floor division, and both count floors") {
    import spark.implicits._
    // doc1 = "x y" × 6 → 12 tokens (6 x, 6 y): gap-1 events = 11 × (x,y);
    // gap-2 events = 5 × (x,x) + 5 × (y,y). doc2's tokens (p,q,r: 2 each)
    // all fall below PmiMinTok = 5 and must not appear.
    val docs = Seq(
      ("x y " * 6).trim,
      "p q r p q r").toDF("text")
    val got = TextAnalysis.pmiPairs(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    // N = 18 tokens, W = 11 + 10 (doc1) + 5 + 4 (doc2) = 30 events
    val n = 18.0; val w = 30.0
    assert(got.toSeq === Seq(
      ("x", "y", 11L, 6L, 6L, 11L * 1000000000000L / 36L, 11.0 * n * n / (w * 6.0 * 6.0)),
      ("x", "x", 5L, 6L, 6L, 5L * 1000000000000L / 36L, 5.0 * n * n / (w * 6.0 * 6.0)),
      ("y", "y", 5L, 6L, 6L, 5L * 1000000000000L / 36L, 5.0 * n * n / (w * 6.0 * 6.0))))
  }

  test("t35 code detection: source code clears the 2% symbol bar, prose stays under it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val code = "int main() { int x[4]; for (i = 0; i < 4; i++) { x[i] = i * 2; } return x[0]; }"
    val prose = "the quick brown fox jumps over the lazy dog and keeps running through the field"
    val got = Seq(("c", code), ("p", prose)).toDF("k", "text")
      .select(col("k"), TextAnalysis.codeSymCount(col("text")).as("nsym"),
        length(col("text")).cast("long").as("nch"))
      .select(col("k"), expr("nsym * 1000000 DIV nch").as("ppm"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("c") >= TextAnalysis.CodeSymPpm, s"code at ${got("c")} ppm")
    assert(got("p") < TextAnalysis.CodeSymPpm, s"prose at ${got("p")} ppm")
    // the count itself: 22 symbols in the code line
    val n = Seq(code).toDF("text")
      .select(TextAnalysis.codeSymCount(col("text"))).head().getLong(0)
    assert(n === code.count("{}()[];=<>#_".contains(_)))
  }
}
