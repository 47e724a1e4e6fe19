package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{VectorFunctions, WordNgrams}
import graft.streaming.{Envelope, TestMsg}
import org.apache.spark.unsafe.types.UTF8String

/** Property-based invariants (SURVEY.md §5d): serde round-trips, hash
  * determinism, shingling/jaccard laws — driver-side where the property is
  * about pure expression semantics, Spark-side where encoding matters.
  */
class PropertySpec extends SparkSpec {

  /** Deterministic manual sampling (the scalatest-scalacheck bridge isn't
    * on the classpath; raw Gen + fixed seeds gives reproducible cases).
    */
  private def samples[A](g: Gen[A], n: Int = 100): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("JSON serde round-trip: encode then decode is identity for any id") {
    import spark.implicits._
    val ids = Gen.listOfN(200, Gen.chooseNum(Int.MinValue, Int.MaxValue)).sample.get
    val df = ids.toDF("id")
      .select(Envelope.encode(col("id")).as("data"))
      .withColumn("msg", from_json(col("data"), Envelope.msgSchema))
      .select(col("msg.id").as("id"))
    assert(df.as[Int].collect().toSeq === ids)
  }

  test("word n-grams: count law |ngrams| == max(0, tokens - n + 1), repeats kept") {
    val cases = samples(for {
      words <- Gen.listOf(Gen.oneOf("a", "bb", "ccc", "a", "dd"))
      n <- Gen.choose(1, 4)
    } yield (words, n))
    assert(cases.nonEmpty)
    cases.foreach { case (words, n) =>
      val text = words.mkString(" ")
      val expr = WordNgrams(
        org.apache.spark.sql.catalyst.expressions.Literal(UTF8String.fromString(text),
          org.apache.spark.sql.types.StringType), n, distinct = false)
      val out = expr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      assert(out.numElements() === math.max(0, words.length - n + 1))
    }
  }

  test("word shingles: distinct variant is the distinct of the plain variant, order-preserving") {
    samples(Gen.listOf(Gen.oneOf("x", "y", "z"))).foreach { words =>
      val text = words.mkString(" ")
      def run(distinct: Boolean): Seq[String] = {
        val e = WordNgrams(
          org.apache.spark.sql.catalyst.expressions.Literal(UTF8String.fromString(text),
            org.apache.spark.sql.types.StringType), 2, distinct)
        val a = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
      }
      assert(run(true) === run(false).distinct)
    }
  }

  test("splitmix64 is a bijection-quality mixer: no collisions on a dense range") {
    val xs = (0L until 20000L).map(VectorFunctions.splitmix64)
    assert(xs.distinct.length === xs.length)
  }

  test("dedup idempotence: d01 output is stable under re-application") {
    val d1 = graft.operators.Dedup.queries("d01_dedup_exact")(spark, sfDir)
    // a second exact-dedup over the already-deduped keep set keeps every row
    val n1 = d1.count()
    val n2 = d1.dropDuplicates("keep_id").count()
    assert(n1 === n2)
  }

  test("PII redaction is idempotent: redact(redact(x)) == redact(x)") {
    import spark.implicits._
    import graft.operators.TextAnalysis.redactPii
    // replacement tags contain no digits or '@', so a second pass can
    // never find new matches — crafted adjacency cases plus random noise
    val crafted = Seq(
      "a@b.io next to 123456789 and +1 (555) 123-4567",
      "1234567890abc123456 and x12y", // two runs replaced in ONE pass, juxtaposed tags
      "<ID>123<ID>", "edge@case.com@twice.org", "")
    val noisy = samples(Gen.listOf(Gen.oneOf(
      "word", "1", "12", "123", "@", "a@b.cd", "555-123-4567", "(", ")", "-", " ")).map(_.mkString(" ")), 60)
    val df = (crafted ++ noisy).toDF("t")
      .select(redactPii(col("t")).as("once"))
      .select(col("once"), redactPii(col("once")).as("twice"))
    df.collect().foreach(r => assert(r.getString(0) === r.getString(1),
      s"not idempotent: '${r.getString(0)}' -> '${r.getString(1)}'"))
  }

  test("t11 packing law: per source, sequences exactly tile the token stream") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.queries("t11_pack_sequences")(spark, sfDir).collect()
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val total = rs.map(_.getLong(2)).sum
      val maxLast = rs.map(_.getLong(5)).max
      assert(maxLast === (total - 1) / TextAnalysis.SeqBudget,
        "the last sequence index must equal ceil(total/B) - 1 — no gaps, no overrun")
    }
  }

  test("t10 chunk-count law: n_chunks == (len - 1) div stride + 1") {
    import graft.operators.TextAnalysis
    val counts = TextAnalysis.queries("t10_chunk_docs")(spark, sfDir)
      .groupBy("doc_id").count()
    val lens = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val bad = counts.join(lens, "doc_id")
      .filter(col("count") =!= (col("len") - 1).divide(TextAnalysis.ChunkStride).cast("long") + 1)
      .count()
    assert(bad === 0L)
  }

  test("bloom filter: no false negatives over random key sets") {
    import spark.implicits._
    import graft.functions.HashingFunctions.{bloom_filter_agg, might_contain}
    val keys = Gen.listOfN(5000, Gen.chooseNum(Long.MinValue, Long.MaxValue)).sample.get.distinct
    val df = keys.toDF("k")
    val bloom = df.agg(bloom_filter_agg(col("k"), 8192L, 8192L * 16).as("bf"))
      .head().getAs[Array[Byte]](0)
    val hits = df.filter(might_contain(lit(bloom), col("k"))).count()
    assert(hits === keys.length.toLong, "every inserted key must probe positive")
  }

  test("jaccard symmetry and unit self-similarity on corpus pairs") {
    import graft.functions.TextFunctions._
    val d = Tables.documents(spark, sfDir).limit(20)
      .select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = d.select(col("doc_id").as("ia"), col("sh").as("sa"))
    val b = d.select(col("doc_id").as("ib"), col("sh").as("sb"))
    val pairs = a.join(b)
      .select(col("ia"), col("ib"),
        jaccard(col("sa"), col("sb")).as("jab"),
        jaccard(col("sb"), col("sa")).as("jba"))
      .collect()
    pairs.foreach { r =>
      assert(r.getDouble(2) === r.getDouble(3)) // symmetric
      if (r.getLong(0) == r.getLong(1)) assert(r.getDouble(2) === 1.0) // self = 1
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("sorted_intersect_count equals size(array_intersect) on random sorted unique arrays") {
    import graft.functions.ArrayFunctions.sorted_intersect_count
    val s = spark
    import s.implicits._
    val gen = Gen.listOf(Gen.chooseNum(0L, 60L)).map(_.distinct.sorted)
    val rows = (0 until 200).flatMap { i =>
      val seed = Seed(i.toLong)
      for {
        a <- gen.apply(Gen.Parameters.default, seed)
        b <- gen.apply(Gen.Parameters.default, seed.next)
      } yield (a, b)
    }
    assert(rows.size >= 150, "generator must produce cases")
    val df = rows.toDF("a", "b")
      .select(
        sorted_intersect_count(col("a"), col("b")).as("merged"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("hashed"))
    assert(df.filter(col("merged") =!= col("hashed")).count() === 0L)
    // edge shapes: empty × any, identical, disjoint
    val edge = Seq(
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L))).toDF("a", "b")
      .select(sorted_intersect_count(col("a"), col("b")).as("c"))
      .collect().map(_.getLong(0)).toSeq
    assert(edge === Seq(0L, 3L, 0L))
  }

  test("jaccardSorted is bit-identical to jaccard on the real hashed-shingle arrays") {
    // the claim 8 oracle queries rest on: same integer operands, same one
    // double division — checked on the actual corpus pair space, not a toy
    import graft.functions.TextFunctions._
    val d = Tables.documents(spark, sfDir).limit(40)
      .select(col("doc_id"), sort_array(transform(wordShingles(col("text"), 3), g => xxhash64(g))).as("h"))
      .filter(size(col("h")) > 0)
    val a = d.select(col("doc_id").as("ia"), col("h").as("ha"))
    val b = d.select(col("doc_id").as("ib"), col("h").as("hb"))
    val both = a.join(b, col("ia") < col("ib"))
      .select(jaccard(col("ha"), col("hb")).as("classic"),
        jaccardSorted(col("ha"), col("hb")).as("merged"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
      s"diverged: classic=${r.getDouble(0)} merged=${r.getDouble(1)}"))
  }

  test("g08 monotone laws on random graphs: labels and label mass never increase") {
    import graft.operators.Graph
    val s = spark
    import s.implicits._
    // three deterministic pseudo-random graphs of different densities
    for (m <- Seq(13, 29, 61)) {
      val edges = (1 to 80)
        .map(i => ((i * 7919L) % m, (i * 104729L) % m))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct.toDF("u", "v")
      val prof = Graph.ccProfile(Graph.directedMsgs(edges, Graph.degrees(edges)),
          Graph.degrees(edges).select("x"), rounds = 6).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      // min-label propagation: distinct labels and label mass are
      // non-increasing; once movement stops both freeze
      prof.sliding(2).foreach { case Array((_, l1, s1), (c2, l2, s2)) =>
        assert(l2 <= l1 && s2 <= s1, s"labels/mass grew on m=$m")
        if (c2 == 0L) assert(l2 == l1 && s2 == s1, s"converged round moved on m=$m")
      }
    }
  }

  test("t29 monotone law: corpus token count never increases across merge rounds") {
    import graft.operators.TextAnalysis
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sfDir).limit(60).select("text")
    val prof = TextAnalysis.bpeTrainProfile(docs, rounds = 4).collect()
      .map(r => (r.getLong(3), r.getLong(4)))
    assert(prof.length === 4)
    prof.sliding(2).foreach { case Array((_, t1), (c2, t2)) =>
      // a winning pair with count > 0 applies at least once, and never
      // more times than it was counted (overlapping self-pairs — "aaa"
      // under (a,a) — are counted twice but merge once, so equality
      // would be WRONG as a law)
      assert(t2 < t1, "a counted winner must merge at least once")
      assert(t1 - t2 <= c2, "more merges than counted occurrences")
    }
  }
}
