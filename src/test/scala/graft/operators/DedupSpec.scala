package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import graft.functions.HashingFunctions._
import graft.functions.TextFunctions._

class DedupSpec extends SparkSpec {

  test("minhash LSH finds every brute-force pair with jaccard >= threshold (recall = 1 here)") {
    // ground truth: brute-force exact jaccard over all pairs at sf0.001
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val truth = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("j"))
      .filter(col("j") >= Dedup.JaccardThreshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val got = Dedup.queries("d03_minhash_lsh")(spark, sfDir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(truth.nonEmpty, "test data must contain near-dup pairs")
    assert(got === truth)
  }

  test("prefix filter is exact: d09 equals brute force at its threshold, both directions") {
    // the claim under test is EXACTNESS (no lost candidates), so the
    // ground truth is the full quadratic join at the same threshold
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val truth = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("j"))
      .filter(col("j") >= Dedup.PrefixJaccard)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val got = Dedup.queries("d09_prefix_filter_join")(spark, sfDir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(truth.nonEmpty, "test data must contain pairs above the d09 threshold")
    assert(got === truth)
  }

  test("minhash signature estimates jaccard within 0.15 on a pair sample") {
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val sig = sh.select(col("doc_id"),
      minhash_signature(col("sh"), Dedup.MinHashK).as("sig"), col("sh"))
    val a = sig.select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("sh").as("sh_a"))
    val b = sig.select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("sh").as("sh_b"))
    // estimate = fraction of matching signature positions
    val rows = a.join(b, col("id_a") < col("id_b") && col("id_b") < 60)
      .select(
        jaccard(col("sh_a"), col("sh_b")).as("exact"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / Dedup.MinHashK).as("est"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 0.15,
        s"exact=${r.getDouble(0)} est=${r.getDouble(1)}")
    }
  }

  test("simhash: identical shingle arrays hash identically; d05 pairs are true close pairs") {
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val h1 = sh.select(col("doc_id"), simhash64(col("sh")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h2 = sh.select(col("doc_id"), simhash64(col("sh")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 === h2)

    val pairs = Dedup.queries("d05_simhash_pairs")(spark, sfDir).collect()
    pairs.foreach { r =>
      val ha = h1(r.getLong(0)); val hb = h1(r.getLong(1))
      assert(java.lang.Long.bitCount(ha ^ hb) <= 3)
    }
  }

  test("exact dedup keeps one row per distinct text") {
    val docs = Tables.documents(spark, sfDir)
    val distinctTexts = docs.select("text").distinct().count()
    assert(Dedup.queries("d01_dedup_exact")(spark, sfDir).count() === distinctTexts)
  }

  test("rolling fingerprint dedup groups match normalized-text groups") {
    val norm = regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")
    val docs = Tables.documents(spark, sfDir)
    val normGroups = docs.select(norm.as("n")).distinct().count()
    assert(Dedup.queries("d02_dedup_normalized")(spark, sfDir).count() === normGroups)
  }

  test("bucket cap: a corpus of identical docs cannot explode LSH pair generation") {
    import spark.implicits._
    // 600 identical docs: every band funnels ALL of them into ONE bucket —
    // uncapped, that is 600·599/2 ≈ 180k candidate pairs from a single key
    // (the degenerate-corpus disaster the cap exists for).
    val n = 600
    val docs = (1 to n).map(i => (i.toLong, "the same boilerplate text repeated for every single document here"))
      .toDF("doc_id", "text")
    val sig = docs.select(col("doc_id"),
      minhash_signature(wordShingles(col("text"), 3), Dedup.MinHashK).as("sig"))
    val capped = Dedup.minhashBandCandidates(sig).count()
    assert(capped === 0L,
      s"over-wide buckets (> ${Dedup.MaxBucket}) must be dropped, got $capped pairs")
    // an explicit high cap restores the quadratic blow-up — proving the
    // cap (not an accident of the data) is what bounds the work
    val uncapped = Dedup.minhashBandCandidates(sig, maxBucket = n + 1).count()
    assert(uncapped === n.toLong * (n - 1) / 2)
    // and a mixed corpus under the cap still pairs up its true dups
    val mixed = docs.limit(10).union(
      Seq((9999L, "a genuinely different text about something else entirely altogether"))
        .toDF("doc_id", "text"))
    val mixedSig = mixed.select(col("doc_id"),
      minhash_signature(wordShingles(col("text"), 3), Dedup.MinHashK).as("sig"))
    assert(Dedup.minhashBandCandidates(mixedSig).count() === 45L) // C(10,2), loner excluded
    // the admission kernel's bounds: groups of 1, cap and cap + 1 members
    val cap = 4
    val groups = Seq(1 -> 1, 2 -> cap, 3 -> (cap + 1))
      .flatMap { case (k, sz) => (1 to sz).map(i => (k.toLong, i.toLong)) }.toDF("k", "id")
    def kept(minSize: Long) = admitted(groups, Seq("k"), minSize, cap)
      .groupBy("k").count().as[(Long, Long)].collect().sorted.toSeq
    assert(kept(1) === Seq(1L -> 1L, 2L -> cap.toLong), "singleton and cap-sized groups kept whole, cap + 1 dropped")
    assert(kept(2) === Seq(2L -> cap.toLong), "minSize 2 drops the singleton")
  }

  test("block cap: a single dominant (lang, source) block cannot explode d04's pair join") {
    import spark.implicits._
    // 600 docs in ONE metadata block — the one-source-dominates crawl.
    // Uncapped metadata blocking would emit 600·599/2 ≈ 180k pairs from
    // that block alone; the count-first admission must drop it before the
    // self-join materializes any of them (same discipline as d03's
    // bucket cap above).
    val n = 600
    val block = (1 to n).map(i =>
      (i.toLong, "en", "srcBig", s"unique document number $i with its own words"))
      .toDF("doc_id", "lang", "source", "text")
    val shingled = block.select(col("doc_id"), col("lang"), col("source"),
      sort_array(transform(wordShingles(col("text"), 3), g => xxhash64(g))).as("sh"))
    assert(Dedup.blockedJaccardPairs(shingled).count() === 0L,
      s"blocks wider than ${Dedup.MaxBucket} must be dropped count-first")
    // an explicit high cap restores the quadratic — the cap, not the
    // data, is what bounds the pair space
    assert(Dedup.blockedJaccardPairs(shingled, maxBlock = n + 1).count() === n.toLong * (n - 1) / 2)
    // admitted blocks still pair up: two small blocks, one loner block
    val mixed = (1 to 6).map(i => (i.toLong, "en", "srcA", s"text alpha $i common words here"))
      .++((7 to 10).map(i => (i.toLong, "de", "srcB", s"text beta $i andere worte hier")))
      .:+((11L, "fr", "srcC", "texte solitaire sans paire"))
      .toDF("doc_id", "lang", "source", "text")
    val mixedSh = mixed.select(col("doc_id"), col("lang"), col("source"),
      sort_array(transform(wordShingles(col("text"), 3), g => xxhash64(g))).as("sh"))
      .filter(size(col("sh")) > 0)
    assert(Dedup.blockedJaccardPairs(mixedSh).count() === 15L + 6L) // C(6,2) + C(4,2), loner block excluded
  }

  test("connected components: non-convergence at the round cap throws, not partial labels") {
    import spark.implicits._
    // a 10-node path has diameter 9 — 3 rounds of min-label propagation
    // cannot finish it; silently returning the round-3 labels would be
    // wrong, so the cap must surface as an error
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxRounds = 3).collect()
    }
    assert(ex.getMessage.contains("without converging"))
    // the same graph converges fine under the real cap
    val ok = Dedup.connectedComponents(chain).collect().map(r => r.getLong(1)).distinct
    assert(ok === Array(1L))
  }

  test("fixture precondition: no minhash band bucket exceeds MaxBucket at gate SFs") {
    // MaxBucket gates d03/d07/d08/p01, which are verified against EXACT
    // brute-force oracles: a fixture bucket wider than the cap would drop
    // true pairs and fail (or silently skew) oracle parity. Assert the
    // precondition here so a future fixture change fails loudly at the
    // precondition, not at the oracle diff. (p01's buckets are subsets of
    // these — same doc ⇒ same band keys — so the full corpus covers it.)
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val sig = Tables.documents(spark, dir)
        .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), minhash_signature(col("sh"), Dedup.MinHashK).as("sig"))
      val widest = Dedup.minhashBands(sig)
        .groupBy("band", "bkey").count()
        .agg(max("count").as("m")).collect()(0).getLong(0)
      assert(widest <= Dedup.MaxBucket,
        s"$dir: widest band bucket $widest > cap ${Dedup.MaxBucket} — " +
          "exact-gated LSH queries would silently drop true pairs")
    }
  }

  test("fixture precondition: documents text is pure ASCII at gate SFs") {
    // d05's DuckDB oracle rebuilds XXH64 input bytes from CODEPOINTS
    // (DuckHash.xxh64StrCtes) — codepoint == UTF-8 byte only below 0x80.
    // Assert the fixture honors that so a corpus change fails here, not
    // as an inscrutable hash divergence in the oracle diff.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val nonAscii = Tables.documents(spark, dir)
        .filter(length(col("text")) =!= octet_length(col("text")))
        .count()
      assert(nonAscii === 0L,
        s"$dir: $nonAscii documents contain non-ASCII text — d05's oracle " +
          "byte reconstruction (codepoint == byte) would diverge")
    }
  }

  test("connected components: chains collapse transitively, min id wins, loners absent") {
    import spark.implicits._
    // 1-2-3-4 is a path (1~4 never directly paired), {10,11} a pair,
    // {20,21,22} a triangle — all must take their component's min id,
    // and docs in no pair must not appear at all
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("d13 cross-source matrix: normalization collapse, within-source distinct, zero cells present") {
    import spark.implicits._
    // s1 {abc, def}; s2 {ABC! → abc, ghi, ghi again (counts once)};
    // s3 {zzz} shares nothing — and still gets its zero rows (the FULL
    // matrix: "shares nothing" is a finding)
    val docs = Seq(
      ("s1", "abc"), ("s1", "def"),
      ("s2", "ABC!"), ("s2", "ghi"), ("s2", "ghi"),
      ("s3", "zzz")
    ).toDF("source", "text")
    val got = Dedup.crossSourceDupMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got === Array(
      ("s1", "s2", 1L, 2L, 2L, 0.5),
      ("s1", "s3", 0L, 2L, 1L, 0.0),
      ("s2", "s3", 0L, 2L, 1L, 0.0)))
  }

  test("d13: a text shared by three sources yields all three pairs, ordered") {
    import spark.implicits._
    val docs = Seq(("a", "x"), ("b", "x"), ("c", "x"), ("c", "y"))
      .toDF("source", "text")
    val got = Dedup.crossSourceDupMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(5)))
    assert(got === Array(
      ("a", "b", 1L, 1.0), ("a", "c", 1L, 1.0), ("b", "c", 1L, 1.0)))
  }

  test("d10 containment: directional semantics, df-cap exclusion, denominator floor") {
    import spark.implicits._
    // doc 1 = {t1..t10} (the quote), doc 2 = doc 1 ∪ {u1..u90} (the
    // container), doc 3 = {u1..u90} (so the u-tokens are not singletons).
    // One token 'w' is shared by everything incl. 70 filler docs — its
    // df (73) exceeds DfCap, so it must contribute to NO pair.
    val toks =
      ((1L to 10L).map(i => (1L, s"t$i")) ++
        ((1L to 10L).map(i => (2L, s"t$i")) ++ (1L to 90L).map(i => (2L, s"u$i"))) ++
        (1L to 90L).map(i => (3L, s"u$i")) ++
        Seq((1L, "w"), (2L, "w"), (3L, "w")) ++
        (100L until 170L).flatMap(d => Seq((d, "w"), (d, s"only$d")))
      ).toDF("doc_id", "tok")
    val got = Dedup.containmentPairs(toks).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // 1 ⊂ 2 exactly: containment 1.0 over n_rare = 10 (w excluded by cap)
    assert(got((1L, 2L)) === ((10L, 10L, 1.0)))
    // the reverse direction fails the threshold: 10/100 — directionality
    assert(!got.contains((2L, 1L)))
    // 3 ⊂ 2 (90/90) and 2 mostly-in-3 (90/100 = 0.9 ≥ 0.8): both emitted
    assert(got((3L, 2L)) === ((90L, 90L, 1.0)))
    assert(got((2L, 3L)) === ((100L, 90L, 0.9)))
    // filler docs: their only rare-eligible token is the capped 'w' and a
    // singleton — below MinRareShingles, so they appear in no pair
    assert(got.keys.forall { case (a, b) => a < 100L && b < 100L })
  }

  test("d12 substring dup mass: window counts, cross-doc and within-doc duplication, short-doc drop") {
    val s = spark
    import s.implicits._
    val W = Dedup.SubstringW
    // doc 1 and 2 share their full 6-word text (cross-doc dup: every
    // window duplicated); doc 3 repeats one W-window of itself twice
    // (within-doc dup) inside otherwise-unique words; doc 4 is unique;
    // doc 5 is one word short of a single window
    val repeated = (1 to W).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, s"$repeated u1 u2 u3 $repeated"),
      (4L, "one two three four five six seven"),
      (5L, (1 until W).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")

    val out = Dedup.substringDupMass(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // 6 words -> 2 windows at W=5, all duplicated across docs 1/2
    assert(out(1L) === ((2L, 2L)) && out(2L) === ((2L, 2L)))
    // doc 3: 2W+3 words -> W+4 windows; exactly the two copies of the
    // repeated W-window collide (the bridging windows each cross into
    // unique filler words, so no other window repeats)
    assert(out(3L) === (((W + 4).toLong, 2L)))
    assert(out(4L) === ((3L, 0L)), "unique doc carries zero dup mass")
    assert(!out.contains(5L), "docs shorter than W contribute no windows")
  }

  test("d16 calibration: estimator monotone — mean exact jaccard rises with agreement count") {
    val rows = Dedup.queries("d16_minhash_calibration")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    // est side is pure integer fixed-point: n_agree·10⁹ div 16
    rows.foreach { case (na, est, _, _) =>
      assert(est === na * 1000000000L / Dedup.CalibK)
      assert(na >= 1L && na <= Dedup.CalibK, "candidates agree on >= 1 hash by construction")
    }
    // calibration: higher signature agreement ⇒ higher true jaccard.
    // Trend asserted on well-populated buckets only — a 9-pair bucket's
    // mean is dominated by which few pairs landed there, not by the
    // estimator (observed: the sparse n_agree=3/4 buckets swap order)
    val popd = rows.filter(_._3 >= 50)
    popd.sliding(2).foreach {
      case Array((na1, _, _, m1), (na2, _, _, m2)) =>
        assert(m2 > m1, s"mean exact jaccard must rise with n_agree ($na1:$m1 -> $na2:$m2)")
      case _ => ()
    }
    // the two ends separate cleanly: sketch noise vs near-dup mass
    assert(rows.head._4 < 0.1, s"lowest-agreement bucket must be background: ${rows.head}")
    rows.filter(_._1 >= Dedup.CalibK - 2L).foreach { r =>
      assert(r._4 >= 0.9, s">=14/16-agreement pairs must be near-dups: $r")
    }
  }

  test("derivedBandRows: the S-curve derivation lands on the hand-tuned geometry at 4/5") {
    // t = 0.8 admits r = 4 (miss ~4.7e-8) and rejects r = 8 (miss
    // ~0.053) — exactly the previous hand-set (4, 32), so every
    // d03-family fixture is unchanged by construction
    assert(Dedup.derivedBandRows(128, 4, 5) === 4)
    assert(Dedup.RowsPerBand === 4 && Dedup.Bands === 32)
    // sharper threshold => longer bands (precision is free); looser =>
    // shorter bands (recall must be bought)
    assert(Dedup.derivedBandRows(128, 19, 20) === 8)
    assert(Dedup.derivedBandRows(128, 3, 5) === 2)
    // the fixed-point chain reproduces the closed form to the grid:
    // (1 - 0.8^4)^32 * 2^60 with downward floor bias only
    val m = Dedup.lshMissFp(4, 5, 4, 128)
    val exact = math.pow(1.0 - math.pow(0.8, 4), 32) * math.pow(2.0, 60)
    assert(m.toDouble <= exact && m.toDouble >= exact * 0.999,
      s"fixed-point miss $m must lower-bound the closed form $exact tightly")
    // the derived geometry always clears its own ceiling
    assert(m * Dedup.LshMissCeilDen <= (BigInt(1) << 60))
  }

  test("d18 sweep: monotone in threshold; the 0.80 point IS d03's verified pair count") {
    val rows = Dedup.queries("d18_jaccard_sweep")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet === Set(80L, 85L, 90L, 95L))
    // raising the bar can only shrink pairs and drops
    Seq((80L, 85L), (85L, 90L), (90L, 95L)).foreach { case (lo, hi) =>
      assert(rows(lo)._1 >= rows(hi)._1 && rows(lo)._2 >= rows(hi)._2)
    }
    rows.values.foreach { case (_, _, rate) => assert(rate >= 0.0 && rate <= 1.0) }
    // the sweep's loosest point reproduces d03 exactly (same pair frame)
    val d03n = Dedup.queries("d03_minhash_lsh")(spark, sfDir).count()
    assert(rows(80L)._1 === d03n)
  }

  test("d19 agreement: classes partition both pair sets; minhash classes respect the bar") {
    val rows = Dedup.queries("d19_strategy_agreement")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    def n(k: String): Long = rows.get(k).map(_._1).getOrElse(0L)
    // the three classes tile the two source pair sets exactly
    val d03n = Dedup.queries("d03_minhash_lsh")(spark, sfDir).count()
    val d05n = Dedup.queries("d05_simhash_pairs")(spark, sfDir).count()
    assert(n("both") + n("minhash_only") === d03n)
    assert(n("both") + n("simhash_only") === d05n)
    // any class containing minhash pairs sits at or above the 0.8 bar
    Seq("both", "minhash_only").foreach { k =>
      rows.get(k).foreach { case (_, lo, hi) =>
        assert(lo >= 800000000L && hi <= 1000000000L)
      }
    }
  }

  test("d14 spectrum closed form: sizes 2,2,3,8 split into buckets 1 and 3 with exact shares") {
    import spark.implicits._
    val clusters = (Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L),
      (5L, 30L), (6L, 30L), (7L, 30L)) ++
      (8L to 15L).map(d => (d, 40L))).toDF("doc_id", "cluster_id")
    val got = Dedup.clusterSizeSpectrum(clusters).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq === Seq(
      (1L, 3L, 7L, 2L, 3L, 0.75, 7.0 / 15.0),
      (3L, 1L, 8L, 8L, 8L, 0.25, 8.0 / 15.0)))
  }

  test("d20 purity: a chain's endpoint pair is chained-not-direct; cap rows report zeroed stats") {
    import spark.implicits._
    // cluster 1 = {1,2,3}: docs 1 and 3 each share 4 of 5 hashed shingles
    // with doc 2 (J = 4/6 < 0.8? no — craft J(1,2) = J(2,3) = 4/5 = 0.8:
    // |∩| = 4, |∪| = 5 → direct), while 1 and 3 share only 3 shingles
    // (|∩| = 3, |∪| = 6 → J = 0.5: chained). cluster 10 = {10,11}
    // identical docs (direct). One oversized cluster (65 singles labeled
    // 100) exercises the cap row.
    val clusters = (Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)) ++
      (100L to 164L).map(d => (d, 100L))).toDF("doc_id", "cluster_id")
    val hashed = (Seq(
      (1L, Seq(1L, 2L, 3L, 4L, 7L)),
      (2L, Seq(1L, 2L, 3L, 4L, 5L)),
      (3L, Seq(2L, 3L, 4L, 5L, 8L)),
      (10L, Seq(40L, 41L)), (11L, Seq(40L, 41L))) ++
      (100L to 164L).map(d => (d, Seq(d * 10)))).toDF("doc_id", "hsh")
    val got = Dedup.clusterPurity(clusters, hashed).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getLong(6), r.getBoolean(7)))
    // J(1,2): |∩|=4 |∪|=6 → 666666666 ppb... recompute: sh1={1,2,3,4,7},
    // sh2={1,2,3,4,5}: ∩=4, ∪=6 → 4e9/6 = 666666666 (chained);
    // sh2 vs sh3 {2,3,4,5,8}: ∩=4, ∪=6 chained too; sh1 vs sh3: ∩=3,
    // ∪=7 → 428571428. So size-3 cluster: 3 pairs, 0 direct, 3 chained.
    assert(got.toSeq === Seq(
      (2L, 1L, 1L, 1L, 0L, 1.0, 1000000000L, true),
      (3L, 1L, 3L, 0L, 3L, (666666666L + 666666666L + 428571428L) / 3.0 / 1e9,
        428571428L, true),
      (65L, 1L, 0L, 0L, 0L, 0.0, 0L, false)))
  }

  test("d21 lexical kNN: ranks contiguous from 1, exact jaccard nonincreasing, no self-neighbors, symmetric candidates") {
    val rows = Dedup.queries("d21_lexical_knn")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (d, _, n, _) => assert(d !== n) }
    rows.groupBy(_._1).foreach { case (d, rs) =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).toSeq === (1L to rs.length.toLong), s"doc $d ranks")
      assert(rs.length <= Dedup.LexKnnK, s"doc $d over k")
      val ppbs = byRank.map(_._4)
      assert(ppbs.zip(ppbs.tail).forall { case (a, b) => a >= b }, s"doc $d order")
    }
    // candidate symmetry: a's rank-1 neighbor b must list a SOMEWHERE
    // only if a is within b's top-k by b's own ordering — but b must at
    // least have SOME neighbor rows (the pair exists from both sides)
    val docsWithRows = rows.map(_._1).toSet
    rows.filter(_._2 == 1L).foreach { case (_, _, n, _) =>
      assert(docsWithRows.contains(n), s"neighbor $n has no kNN rows")
    }
  }

  test("d22 kernel: admit/update/delete paths each reproduce the rebuilt index exactly") {
    import spark.implicits._
    // yesterday's corpus: 1 unchanged, 2 updated (legacy text), 3 doomed,
    // 5 updated to a SUB-SHINGLE text (the row must LEAVE the index even
    // though the delta sketch has no replacement row for it)
    val v1 = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "the old revision of document two"),
      (3L, "this document will be tombstoned away"),
      (5L, "five words were here before")).toDF("doc_id", "text")
    // today's corpus: 2 rewritten, 3 gone, 4 inserted, 5 now too short
    val fin = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "a completely new revision of two"),
      (4L, "a freshly inserted document body"),
      (5L, "too short")).toDF("doc_id", "text")
    val changed = Seq(2L, 4L, 5L).toDF("doc_id")
    val merged = Dedup.upsertSignatureIndex(
      Dedup.sketchOf(v1),
      changed,
      Dedup.sketchOf(fin.join(changed, "doc_id")),
      Seq(3L).toDF("doc_id"))
    val m = merged.collect().map(_.toString).toSet
    val r = Dedup.sketchOf(fin).collect().map(_.toString).toSet
    assert(m === r, "upsert(stored, batch) must equal rebuild(final)")
    val ids = merged.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 4L), "delete path (3) and vanish-on-update path (5) must both remove")
    // the update path must actually REPLACE doc 2's signature, not keep
    // the legacy row: its merged sig equals the fresh sketch of the new
    // text and differs from the legacy sketch
    def sigOf(df: org.apache.spark.sql.DataFrame, id: Long) =
      df.filter(col("doc_id") === id).select("sig").collect().head.toString
    assert(sigOf(merged, 2L) === sigOf(Dedup.sketchOf(fin), 2L))
    assert(sigOf(merged, 2L) !== sigOf(Dedup.sketchOf(v1), 2L))
  }

  test("d22 catalog entry: identity counts are zero and pairs all touch the change batch") {
    val rows = Dedup.queries("d22_signature_maintenance")(spark, sfDir).collect()
    assert(rows.nonEmpty, "sf0.001 must surface at least one batch-introduced dup pair")
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("sig_mismatches")) === 0L)
      assert(r.getLong(r.fieldIndex("band_mismatches")) === 0L)
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a % Dedup.D22Tomb != 0L && b % Dedup.D22Tomb != 0L, s"tombstoned doc in pair ($a,$b)")
      assert(a % Dedup.D22Ins == 0L || a % Dedup.D22Upd == 0L ||
        b % Dedup.D22Ins == 0L || b % Dedup.D22Upd == 0L,
        s"pair ($a,$b) touches no changed doc")
    }
  }
}
