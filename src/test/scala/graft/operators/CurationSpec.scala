package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.cosine_similarity

/** p04's cross-modal closure semantics, pinned against the three edge
  * generators it unions (the per-modality generators are each already
  * hash-gated by their own oracle rows — this spec pins the COMPOSITION:
  * every per-modality duplicate pair must co-cluster, and the manifest
  * columns must be internally consistent).
  */
class CurationSpec extends SparkSpec {

  private lazy val out =
    Curation.queries("p04_crossmodal_clusters")(spark, sfDir).collect()
  private lazy val cluster: Map[Long, Long] =
    out.map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("p04: manifest is internally consistent (min-label keeper, true sizes)") {
    assert(out.nonEmpty)
    // keep ⟺ the doc IS its cluster label; the label is the min member
    out.foreach { r =>
      assert(r.getBoolean(3) === (r.getLong(0) == r.getLong(1)))
    }
    val members = out.groupBy(_.getLong(1))
    members.foreach { case (cid, rows) =>
      assert(rows.map(_.getLong(0)).min === cid, s"cluster $cid label != min member")
      rows.foreach(r => assert(r.getLong(2) === rows.length.toLong,
        s"n_members mismatch in cluster $cid"))
    }
  }

  test("p04: every per-modality duplicate pair lands in one cluster") {
    val textE = Dedup.nearDupPairs(spark, sfDir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val phashE = Multimodal.phashPairs(Tables.documents(spark, sfDir))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val assigned = Similarity.semAssigned(Tables.embeddings(spark, sfDir))
    val ea = assigned.select(col("cell"), col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val eb = assigned.select(col("cell"), col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val semE = ea.join(eb, "cell").filter(col("id_a") < col("id_b"))
      .filter(cosine_similarity(col("emb_a"), col("emb_b")) >= Similarity.SemDedupTheta)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val all = textE ++ phashE ++ semE
    assert(all.nonEmpty, "fixture must exercise at least one modality's edges")
    all.foreach { case (a, b) =>
      assert(cluster.contains(a) && cluster.contains(b),
        s"edge endpoints $a,$b missing from the closure")
      assert(cluster(a) === cluster(b), s"pair ($a,$b) split across clusters")
    }
  }

  test("p05 report internal consistency on the fixture: extras bounded, norm ⊇ exact") {
    val rows = Curation.queries("p05_dedup_report")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, nExact, nNorm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (nWin, nDup, frac) = (r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(nExact < nDocs && nNorm < nDocs, "a source cannot lose every doc (keepers stay)")
      // normalization only merges MORE texts, so normalized extras can
      // never be fewer than exact extras for the same source
      assert(nNorm >= nExact, s"norm dedup must subsume exact (got $nNorm < $nExact)")
      assert(nDup <= nWin && frac >= 0.0 && frac <= 1.0)
      if (nWin > 0) assert(frac === nDup.toDouble / nWin.toDouble)
    }
  }

  test("p07 precedence: each doc reports its FIRST failing gate; eval outranks all") {
    import spark.implicits._
    // S passes quality (480 chars, stopword-rich, no punctuation) and
    // lang ('the'/'and'/'over' markers); doc 97 is the eval holdout AND
    // would fail quality -- eval_holdout must win. Docs 1/2 are
    // near-dups sharing an eval 4-gram: 2 (larger id) must report
    // near_dup, NOT contaminated -- the precedence pin. Doc 5 is an
    // exact copy of 1 -> exact_dup. Doc 4 is clean English -> kept,
    // with a split assigned. Doc 3 is junk -> low_quality.
    val S = Seq.fill(10)("the quick brown fox jumps over the lazy dog and").mkString(" ")
    // en markers only (the/a/fast/slow/small), none of the other
    // languages' marker words ("and" is a de marker in this fixture!)
    val T = Seq.fill(8)("the small house sits near the slow river on a fast path to it").mkString(" ")
    val docs = Seq(
      (1L, "sA", S),
      (2L, "sA", S + " extra"),
      (3L, "sB", "zz qq"),
      (4L, "sB", T),
      (5L, "sA", S),
      (97L, "sE", "the quick brown fox")
    ).toDF("doc_id", "source", "text")
    val got = Curation.releaseManifest(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), Option(r.getString(3))))).toMap
    assert(got(97L)._1 === "eval_holdout", "holdout outranks every other gate")
    assert(got(3L)._1 === "low_quality")
    assert(got(5L)._1 === "exact_dup", "exact copy of doc 1 loses to the keeper")
    assert(got(2L)._1 === "near_dup", "near-dup outranks the contamination it also has")
    assert(got(1L)._1 === "contaminated", "the surviving twin still carries the eval 4-gram")
    assert(got(4L)._1 === "kept" && Set("train", "val", "test")(got(4L)._2.get))
    assert(got.filter(_._2._1 != "kept").forall(_._2._2.isEmpty),
      "only kept docs get a split")
  }

  test("p08: cap arithmetic closed-form; under-cap sources kept whole; selection self-consistent") {
    import spark.implicits._
    // sources: a = 40 docs (1..40), b = 4 docs (101..104). total 44,
    // 2 sources → cap = max(1, 44 div 4) = 11. For b, pmod(hv, 4) < 11
    // always holds → kept WHOLE (count and id-sum exact); for a, the
    // kept set must equal the hash-threshold set recomputed here with
    // the same spark hash.
    val docs = ((1L to 40L).map(i => (i, "a")) ++ (101L to 104L).map(i => (i, "b")))
      .toDF("doc_id", "source")
    val bySrc = Curation.sourceCapSample(docs).collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(bySrc("b") === ((4L, 11L, 4L, 101L + 102L + 103L + 104L)))
    val expA = docs.filter(col("source") === "a" &&
        pmod(xxhash64(col("doc_id")), lit(40L)) < lit(11L))
      .agg(count(lit(1)), coalesce(sum("doc_id"), lit(0L))).collect()(0)
    assert(bySrc("a") === ((40L, 11L, expA.getLong(0), expA.getLong(1))))
  }

  test("p10 curriculum closed form: t25's corpus phases easy/middle/hard by integer gates") {
    import spark.implicits._
    // t25's spec corpus + sources: cf(a)=4, three singletons, N=7 → nb=2.
    // doc 1 (s1): sum 0, n 3 → 0 ≤ 2·3        → phase 0 (easy)
    // doc 2 (s1): sum 2, n 2 → 8 > 4, 8 ≤ 12  → phase 1 (middle)
    // doc 3 (s2): sum 4, n 2 → 16 > 12         → phase 2 (hard, ≡ rare-heavy)
    val docs = Seq(
      (1L, "s1", "a a a"),
      (2L, "s1", "a b"),
      (3L, "s2", "zzz qqq")
    ).toDF("doc_id", "source", "text")
    val got = Curation.curriculumPlan(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got === Array(
      (0L, "s1", 1L, 3L, 0L, 0.0),
      (1L, "s1", 1L, 2L, 2L, 1.0),
      (2L, "s2", 1L, 2L, 4L, 2.0)))
  }

  test("p11 yield: stage monotonicity, flag arithmetic, independent keeper-mass recomputation") {
    val rows = Curation.queries("p11_dedup_yield")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tot, ae, an) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(an <= ae && ae <= tot && an >= 0L,
        "each dedup stage can only shrink the token mass")
      assert(r.getDouble(5) === an.toDouble / tot.toDouble)
    }
    // exact-keeper mass recomputed independently of the operator's joins
    val docs = Tables.documents(spark, sfDir)
    val keepers = docs.groupBy("text").agg(min(col("doc_id")).as("k"))
      .select("k").collect().map(_.getLong(0)).toSet
    val expAe = docs
      .select(col("doc_id"),
        expr("cast(size(filter(split(lower(text), ' '), w -> length(w) > 0)) as long)").as("nt"))
      .collect().filter(r => keepers(r.getLong(0))).map(_.getLong(1)).sum
    assert(rows.map(_.getLong(3)).sum === expAe)
  }

  test("p09 epoch plan closed form: truncated giant, cap-bound dwarf, exact two-pass") {
    import spark.implicits._
    def txt(n: Int) = Seq.fill(n)("tok").mkString(" ")
    // tokens: A=100, B=10, C=2 → total 112, target = 224 div 3 = 74
    // A: 1 epoch (truncates to 74), util 1.0
    // B: ceil(74/10)=8 → capped at 4 → planned 40, deficit 34
    // C: ceil(74/2)=37 → capped at 4 → planned 8, deficit 66
    val got = Curation.epochPlan(Seq(
      ("A", txt(100)), ("B", txt(10)), ("C", txt(2))
    ).toDF("source", "text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === Seq(
      ("A", 100L, 74L, 1L, 74L, 0L),
      ("B", 10L, 74L, 4L, 40L, 34L),
      ("C", 2L, 74L, 4L, 8L, 66L)))

    // two equal sources: target = 2·total/2 = total → exactly 2 epochs
    // each, zero deficit, utilization 1.0
    val even = Curation.epochPlan(Seq(
      ("X", txt(50)), ("Y", txt(50))
    ).toDF("source", "text")).collect()
    even.foreach { r =>
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        === ((100L, 2L, 100L, 0L)))
      assert(r.getDouble(6) === 1.0)
    }
  }

  test("p12 alpha mixture: isqrt weights, budget conservation, rates flatten the head") {
    val rows = Curation.queries("p12_alpha_mixture")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, w, planned, ppm) =>
      // weight is the integer sqrt (fixture counts are far below 2^52)
      assert(w * w <= n && (w + 1) * (w + 1) > n, s"weight $w is not isqrt($n)")
      assert(planned <= n, "a source never plans more tokens than it has")
      assert(ppm >= 0L && ppm <= 1000000L)
    }
    val budget = rows.map(_._2).sum / 2
    assert(rows.map(_._4).sum <= budget, "allocations never exceed the budget")
  }

  test("p12 closed form: skewed sources — small ones cap at their mass, the head flattens") {
    import spark.implicits._
    // n = 100 / 2500 / 160000 → isqrt weights 10 / 50 / 400, Σw = 460,
    // budget = 162600 div 2 = 81300. α-shares 1767 / 8836 / 70695: the
    // two small sources' shares EXCEED their mass (the α < 1 up-weight)
    // so they cap at 100 % rate; the head takes 70695 of its 160000 —
    // rate 441843 ppm. Exact integer arithmetic end to end.
    val docs = Seq(
      ("tiny", ("x " * 100).trim),
      ("mid", ("x " * 2500).trim),
      ("big", ("x " * 16000).trim)) ++ (1 to 9).map(i => ("big", ("x " * 16000).trim))
    val got = Curation.alphaMixture(docs.toDF("source", "text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      ("big", 160000L, 400L, 70695L, 441843L),
      ("mid", 2500L, 50L, 2500L, 1000000L),
      ("tiny", 100L, 10L, 100L, 1000000L)))
  }

  test("p14 split: partitions the corpus, zero cross-split near-dup pairs, sane shares") {
    val n = graft.Tables.documents(spark, sfDir).count()
    val rows = Curation.queries("p14_leakage_safe_split")(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(rows.keySet.subsetOf(Set("train", "val", "test")) && rows.contains("train"))
    // the splits tile the corpus exactly
    assert(rows.values.map(_._1).sum === n)
    assert(math.abs(rows.values.map(_._3).sum - 1.0) < 1e-9)
    // THE property: no near-dup pair straddles a split boundary — every
    // cluster member hashes the same group representative
    rows.values.foreach { case (_, _, _, leak) => assert(leak === 0L) }
    // groups never exceed docs; train dominates (13/16 of hash space)
    rows.foreach { case (_, (d, g, _, _)) => assert(g >= 1L && g <= d) }
    assert(rows("train")._1 > rows.getOrElse("val", (0L, 0L, 0.0, 0L))._1)
  }

  test("p13 k-anonymity: risk counts monotone in k; full-corpus totals consistent") {
    val rows = Curation.queries("p13_k_anonymity")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(2L, 5L, 10L))
    val docs = graft.Tables.documents(spark, sfDir).count()
    rows.foreach { case (_, nGroups, nDocs, nSmall, nRisk, frac) =>
      assert(nDocs === docs, "the group frame partitions the corpus")
      assert(nSmall <= nGroups && nRisk <= nDocs)
      assert(frac === nRisk.toDouble / nDocs.toDouble)
    }
    // raising k can only grow the violating population
    rows.sliding(2).foreach {
      case Array((_, _, _, s1, r1, _), (_, _, _, s2, r2, _)) =>
        assert(s1 <= s2 && r1 <= r2, "violations must be monotone in k")
      case _ => ()
    }
  }

  test("p09: zero-token docs don't create a source; all-empty source absent") {
    import spark.implicits._
    val got = Curation.epochPlan(Seq(
      ("A", "one two three"), ("A", ""), ("B", "")
    ).toDF("source", "text")).collect()
    assert(got.map(_.getString(0)).toSeq === Seq("A"))
    assert(got(0).getLong(1) === 3L)
  }

  test("p15 dataset card hand trace: cross-source dup flagged on both sides, exact median, lang mode") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = SparkSpec.tmpDir("graft-p15")
    try {
      // src A: 3 docs (en, en, de) with token counts 1/3/5 (median 3);
      //   doc 2 duplicates doc 10 in src B ACROSS sources (normalization
      //   kills case + punctuation)
      // src B: 2 docs, median = lower of {2, 4} = 2; one dup with A
      Seq(
        (1L, "one", "en", "A"),
        (2L, "Shared Text, Here!", "en", "A"),   // 3 ws-tokens
        (3L, "a b c d e", "de", "A"),
        (10L, "shared text here", "en", "B"),
        (11L, "w x y z", "fr", "B"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Curation.queries("p15_dataset_card")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getString(5), r.getLong(6), r.getLong(7)))
        .toSeq
      assert(got.map(_._1) === Seq("A", "B"))
      val a = got(0); val b = got(1)
      assert(a._2 === 3L && b._2 === 2L, "populations")
      assert(a._3 === 1L + 3L + 5L && b._3 === 3L + 4L, "token masses")
      assert(a._5 === 3L && b._5 === 3L, "exact lower medians")
      // lang mode: A has en x2 / de x1; B ties en/fr -> 'en' by lang ASC
      assert(a._6 === "en" && a._7 === 666666L)
      assert(b._6 === "en" && b._7 === 500000L)
      // the cross-source duplicate counts in BOTH sources' dup_ppm
      assert(a._8 === 333333L && b._8 === 500000L, s"dup ppm: $a $b")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("p15 on the fixture: partitions the corpus, dup mass agrees with d02's census") {
    val got = Curation.queries("p15_dataset_card")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getLong(6), r.getLong(7)))
    assert(got.nonEmpty)
    val docs = graft.Tables.documents(spark, sfDir).count()
    assert(got.map(_._2).sum === docs, "cards partition the corpus")
    got.foreach { c =>
      assert(c._7 > 0L && c._7 <= 1000000L, s"${c._1}: top-lang ppm in (0, 1e6]")
      assert(c._8 >= 0L && c._8 < 1000000L, s"${c._1}: dup ppm in [0, 1e6)")
      assert(c._4 > 0L && c._5 > 0L)
    }
    // total dup docs across cards == docs sitting in d02 groups of size >= 2
    // (same normalize->fingerprint rule; ppm rounding avoided by recount)
    val base = graft.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("source"),
        graft.functions.HashingFunctions.rolling_fingerprint(
          org.apache.spark.sql.functions.regexp_replace(
            org.apache.spark.sql.functions.lower(
              org.apache.spark.sql.functions.col("text")), "[^a-z0-9 ]", "")).as("fp"))
    val dupTotal = base.groupBy("fp")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter("n >= 2")
      .agg(org.apache.spark.sql.functions.sum("n")).collect()(0)
    val expected = if (dupTotal.isNullAt(0)) 0L else dupTotal.getLong(0)
    val perSource = base.join(
      base.groupBy("fp").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")).filter("n >= 2").select("fp"),
      Seq("fp"), "left_semi").count()
    assert(perSource === expected)
    info(s"corpus dup docs: $expected of $docs")
  }
}
