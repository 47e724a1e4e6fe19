package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.aggregate
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.util.sketch.CountMinSketch
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ExpectsInputTypes, Expression, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hash-sketch expressions for near-duplicate detection at scale.
  *
  * MinHash, SimHash and the rolling fingerprint are single-pass native
  * Catalyst expressions fused into whole-stage codegen. Each spells its
  * algorithm once, as a Scala kernel method that both `nullSafeEval` and
  * the generated code call. At 100 TB the sketching pass reads every
  * document once, so the sketch must be computed in one traversal of the
  * token array (a `transform`-HOF formulation of MinHash would traverse
  * the array k=128 times and allocate k intermediate arrays per row).
  *
  * Hashing: xxhash64 of the token bytes once per token, then k cheap
  * splitmix64 remixes — standard "one hash + k mixers" MinHash construction
  * (Broder-style minwise hashing over shingles).
  */
object HashingFunctions {

  /** k-minimum MinHash signature over an `array<string>` of shingles. */
  def minhash_signature(shingles: Column, numHashes: Int, seed: Long = MinHashSignature.DefaultSeed): Column =
    ExpressionUtils.column(MinHashSignature(ExpressionUtils.expression(shingles), numHashes, seed))

  /** 64-bit SimHash over an `array<string>` of tokens. */
  def simhash64(tokens: Column, seed: Long = MinHashSignature.DefaultSeed): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(tokens), seed))

  /** Polynomial rolling fingerprint (Karp–Rabin style) over a string's
    * UTF-8 bytes, mod 2^64. Equal strings ⇒ equal fingerprints; used for
    * content-identity dedup where the raw text must not be shuffled.
    */
  def rolling_fingerprint(text: Column): Column =
    ExpressionUtils.column(RollingFingerprint(ExpressionUtils.expression(text)))

  /** Spark's own runtime-filter bloom aggregate (the machinery behind
    * `spark.sql.optimizer.runtime.bloomFilter`), surfaced as a library
    * function: aggregates LONG keys into a serialized bloom filter binary.
    * Sized explicitly — at ~16 bits/item the false-positive rate is < 1%.
    */
  def bloom_filter_agg(key: Column, estItems: Long, numBits: Long): Column =
    ExpressionUtils.column(new BloomFilterAggregate(
      ExpressionUtils.expression(key),
      Literal(estItems), Literal(numBits)).toAggregateExpression())

  /** Membership probe against a `bloom_filter_agg` binary. No false
    * negatives; false positives at the configured rate — callers must
    * follow with an exact verification join when exactness matters.
    * `bloom` must be foldable (a `lit(bytes)` collected from the agg).
    */
  def might_contain(bloom: Column, key: Column): Column =
    ExpressionUtils.column(BloomFilterMightContain(
      ExpressionUtils.expression(bloom), ExpressionUtils.expression(key)))

  /** Spark's own Count-Min-Sketch aggregate (`CountMinSketchAgg`), surfaced
    * as a library function: aggregates LONG keys into a serialized CMS
    * binary (width ⌈2/eps⌉ × depth ⌈ln(1/(1−confidence))/ln 2⌉ counters).
    * The frequency sibling of [[bloom_filter_agg]]: membership there,
    * multiplicity here.
    */
  def cms_sketch_agg(key: Column, eps: Double, confidence: Double, seed: Int): Column =
    ExpressionUtils.column(new aggregate.CountMinSketchAgg(
      ExpressionUtils.expression(key),
      Literal(eps), Literal(confidence), Literal(seed)).toAggregateExpression())

  /** Point-estimate probe against a `cms_sketch_agg` binary: the CMS
    * frequency estimate for `key`. NEVER an underestimate (each counter
    * only ever adds), overestimates by ≤ eps·N with the configured
    * confidence — so `cms_min_count(...) >= T` keeps every truly-heavy key
    * and callers follow with an exact count when exactness matters (the
    * heavy-hitter analog of [[might_contain]]'s verify-join contract).
    * The sketch deserializes once per task, not per row.
    */
  def cms_min_count(sketch: Array[Byte], key: Column): Column =
    ExpressionUtils.column(CmsMinCount(new SketchBytes(sketch), ExpressionUtils.expression(key)))
}

/** Content-equal wrapper for sketch payload bytes. A bare `Array[Byte]`
  * parameter gives the case class REFERENCE equality, so two semantically
  * identical probes never compare equal — defeating Catalyst
  * canonicalization and common-subexpression elimination (two probes of
  * the same sketch would each ship and deserialize their own copy).
  */
final class SketchBytes(val bytes: Array[Byte]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case s: SketchBytes => java.util.Arrays.equals(bytes, s.bytes)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(bytes)
}

/** CMS frequency-estimate probe over a LONG key (see
  * [[HashingFunctions.cms_min_count]]). Keys must be hashed to longs the
  * same way on the build (`cms_sketch_agg`) and probe side — both route
  * through `CountMinSketch`'s long path, so estimates are consistent.
  * Codegen'd: the deserialized sketch rides the plan's reference array and
  * the generated code is one `estimateCount` call per row.
  */
case class CmsMinCount(sketchBytes: SketchBytes, child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cms_min_count"

  @transient private lazy val sketch: CountMinSketch =
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(sketchBytes.bytes))

  /** Public for generated code. */
  def estimate(h: Long): Long = sketch.estimateCount(java.lang.Long.valueOf(h))

  override protected def nullSafeEval(input: Any): Any =
    estimate(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cmsProbe", this, classOf[CmsMinCount].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.estimate($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CmsMinCount =
    copy(child = newChild)
}

case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes > 0 && numHashes <= 1024)

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_signature"

  /** Per-hash-function xor keys, derived once from the seed. */
  private lazy val mixKeys: Array[Long] = MinHashSignature.mixKeys(numHashes, seed)

  override def nullSafeEval(v: Any): Any = signature(v.asInstanceOf[ArrayData])

  /** Also invoked from generated code (public on purpose). */
  def signature(arr: ArrayData): ArrayData = {
    val keys = mixKeys
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
      var j = 0
      while (j < numHashes) {
        val z = VectorFunctions.splitmix64(h ^ keys(j))
        if (z < mins(j)) mins(j) = z
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashSignature", this, classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.signature($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {

  /** The sketch seed when a caller names none: the DSL defaults, the SQL
    * builders and d16's DuckDB oracle all take it from here.
    */
  val DefaultSeed = 42L

  /** The per-hash xor keys: splitmix64 iterated from `seed`, one step per
    * hash function.
    */
  def mixKeys(numHashes: Int, seed: Long): Array[Long] =
    Iterator.iterate(seed)(VectorFunctions.splitmix64).slice(1, numHashes + 1).toArray
}

case class SimHash64(child: Expression, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override def nullSafeEval(v: Any): Any = hash(v.asInstanceOf[ArrayData])

  /** Also invoked from generated code (public on purpose). */
  def hash(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
      var b = 0
      // branchless vote: a data-dependent if/else here runs ~4x slower
      while (b < 64) { votes(b) += ((h >>> b).toInt & 1) * 2 - 1; b += 1 }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash64", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.hash($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class RollingFingerprint(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_fingerprint"

  override def nullSafeEval(v: Any): Any = fingerprint(v.asInstanceOf[UTF8String])

  /** Also invoked from generated code (public on purpose). */
  def fingerprint(text: UTF8String): Long = {
    val s = text.getBytes
    var f = 0L
    var i = 0
    while (i < s.length) { f = f * 1315423911L + (s(i) & 0xFF); i += 1 }
    f
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rollingFingerprint", this, classOf[RollingFingerprint].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.fingerprint($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
