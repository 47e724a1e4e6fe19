package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.BinaryType

/** SQL-text surface for the engine's custom expressions: a user of the
  * library should be able to write `spark.sql("SELECT simhash64(...)")`,
  * not only the Scala DSL.
  *
  * Two registration paths, same builders:
  *  - `GraftFunctions.register(spark)` — attach to an existing session
  *    (what the specs and a notebook user call);
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` — the
  *    cluster-deployment path (`SparkSessionExtensions.injectFunction`
  *    runs at session build, before any query is parsed).
  *
  * Scalar tuning parameters (k, n, bits…) arrive as SQL literals and must
  * be foldable — they parameterize codegen, so a column-valued k has no
  * meaning. Non-literal arguments fail fast with the function name.
  */
object GraftFunctions {

  private def intArg(name: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) if v.isValidInt => v.toInt
    case Literal(v: Long, _) => throw new IllegalArgumentException(
      s"$name parameter $v out of Int range") // silent truncation would diverge from the DSL
    case other => throw new IllegalArgumentException(
      s"$name expects a literal integer parameter, got: $other")
  }

  /** (name, builder) for every SQL-exposed expression. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "minhash_signature" -> {
      case Seq(c, k) => MinHashSignature(c, intArg("minhash_signature", k), MinHashSignature.DefaultSeed)
      case Seq(c, k, s) => MinHashSignature(c, intArg("minhash_signature", k),
        intArg("minhash_signature", s).toLong)
      case args => throw new IllegalArgumentException(
        s"minhash_signature(shingles, k[, seed]) got ${args.length} args")
    },
    "simhash64" -> {
      case Seq(c) => SimHash64(c, MinHashSignature.DefaultSeed)
      case args => throw new IllegalArgumentException(
        s"simhash64(tokens) got ${args.length} args")
    },
    "rolling_fingerprint" -> {
      case Seq(c) => RollingFingerprint(c)
      case args => throw new IllegalArgumentException(
        s"rolling_fingerprint(text) got ${args.length} args")
    },
    "word_ngrams" -> {
      case Seq(c, n) => WordNgrams(c, intArg("word_ngrams", n), distinct = false)
      case args => throw new IllegalArgumentException(
        s"word_ngrams(text, n) got ${args.length} args")
    },
    "word_shingles" -> {
      case Seq(c, n) => WordNgrams(c, intArg("word_shingles", n), distinct = true)
      case args => throw new IllegalArgumentException(
        s"word_shingles(text, n) got ${args.length} args")
    },
    "cosine_similarity" -> {
      case Seq(a, b) => CosineSimilarity(a, b)
      case args => throw new IllegalArgumentException(
        s"cosine_similarity(a, b) got ${args.length} args")
    },
    "hyperplane_lsh_multi" -> {
      case Seq(c, bits, tables, dim) => HyperplaneLsh(c,
        intArg("hyperplane_lsh_multi", bits), intArg("hyperplane_lsh_multi", tables),
        intArg("hyperplane_lsh_multi", dim), 7L)
      case args => throw new IllegalArgumentException(
        s"hyperplane_lsh_multi(emb, bits, tables, dim) got ${args.length} args")
    },
    "cms_min_count" -> {
      // the sketch must be a foldable binary (a literal collected from
      // cms_sketch_agg) — it deserializes once at plan time
      case Seq(Literal(bytes: Array[Byte], BinaryType), key) => CmsMinCount(new SketchBytes(bytes), key)
      case args => throw new IllegalArgumentException(
        s"cms_min_count(sketch_literal, key) needs a BINARY literal sketch, got: $args")
    },
    "sorted_intersect_count" -> {
      case Seq(a, b) => SortedIntersectCount(a, b)
      case args => throw new IllegalArgumentException(
        s"sorted_intersect_count(a, b) got ${args.length} args")
    })

  /** Register every function on an already-built session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** `spark.sql.extensions`-compatible injector (cluster deployment path):
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
}
