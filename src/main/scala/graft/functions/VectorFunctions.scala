package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{Bridge => ExpressionUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity over two `array<float>` embedding columns.
  *
  * A native Catalyst expression rather than a UDF so the hot loop stays
  * inside whole-stage codegen — no boxing, no Row materialization, no
  * codegen-fence. Like every expression in this file it has one kernel
  * ([[cos]]) that `nullSafeEval` and the generated code both call, so the
  * loop is spelled once. At 100 TB this expression sits inside an
  * O(candidates) inner loop of every ANN/near-dup job, so it is the one
  * scalar that must be cheap.
  *
  * Accumulation is sequential double (left→right), matching the DuckDB
  * oracle formulation `list_sum([a[i]::DOUBLE * b[i]::DOUBLE ...])
  * / sqrt(..) / sqrt(..)` bit-for-bit (verified: DuckDB's own
  * `list_cosine_similarity` computes in float32 and does NOT match).
  *
  * Zero-norm or empty input yields 0.0 (embeddings in this engine are
  * never zero vectors; a sentinel beats a nullable hot-path column).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any =
    cos(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Also invoked from generated code (public on purpose). */
  def cos(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / math.sqrt(nx) / math.sqrt(ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosineSimilarity", this, classOf[CosineSimilarity].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.cos($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sequential-double dot product over two `array<float>` columns — the
  * factored-out numerator of [[CosineSimilarity]] (round 13).
  *
  * Inside an O(candidates) pair loop, cosine_similarity recomputes BOTH
  * squared norms per pair — 3 multiply-adds per dimension where only the
  * dot needs the pair. A candidate stream that carries each vector's
  * Σx² (computed once per vector by [[SquaredNorm]], same left→right
  * double accumulation) pays 1 FMA/dim per pair and reassembles
  * `dot / sqrt(nx) / sqrt(ny)` in the identical operation order — the
  * doubles are bit-for-bit the ones CosineSimilarity produces, so
  * hash-gated outputs are unchanged.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any =
    dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Also invoked from generated code (public on purpose). */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dotProduct", this, classOf[DotProduct].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.dot($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σx² of an `array<float>` in sequential double — see [[DotProduct]]. */
case class SquaredNorm(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "squared_norm"

  override def nullSafeEval(a: Any): Any = sumSquares(a.asInstanceOf[ArrayData])

  /** Also invoked from generated code (public on purpose). */
  def sumSquares(x: ArrayData): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val v = x.getFloat(i).toDouble
      s += v * v
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("squaredNorm", this, classOf[SquaredNorm].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.sumSquares($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {

  /** Codegen'd cosine similarity (the production primitive). */
  def cosine_similarity(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd sequential-double dot product (see [[DotProduct]]). */
  def dot_product(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd Σx² (see [[SquaredNorm]]). */
  def squared_norm(a: Column): Column =
    ExpressionUtils.column(SquaredNorm(ExpressionUtils.expression(a)))

  /** `dot / sqrt(nx) / sqrt(ny)` with [[CosineSimilarity]]'s exact
    * operation order and zero-norm sentinel — for candidate streams that
    * carry precomputed squared norms.
    */
  def cosine_from_parts(dot: Column, nx: Column, ny: Column): Column =
    when(nx === 0.0 || ny === 0.0, lit(0.0))
      .otherwise(dot / sqrt(nx) / sqrt(ny))

  /** Built-in-only formulation (zip_with + sequential aggregate). Used to
    * cross-check the custom expression and as the fallback documented in
    * SURVEY.md §4.2. Same sequential-double semantics.
    */
  def cosine_similarity_hof(a: Column, b: Column): Column = {
    def dot(u: Column, v: Column): Column =
      aggregate(zip_with(u, v, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))
  }

  /** Multi-table hyperplane LSH signatures as one codegen'd pass: returns
    * `array<long>` of `tables` bucket ids (each `bits` sign bits). The
    * production ANN path: bucket ids are computed at scan speed, the join
    * key is (table, bucket), and only same-bucket candidates pay the full
    * cosine — turning an O(N·Q) brute-force scan into O(bucket volume).
    */
  def hyperplane_lsh_multi(vec: Column, bits: Int, tables: Int, dim: Int, seed: Long): Column =
    ExpressionUtils.column(
      HyperplaneLsh(ExpressionUtils.expression(vec), bits, tables, dim, seed))

  private[graft] def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** See [[VectorFunctions.hyperplane_lsh_multi]]. Hyperplanes are derived
  * deterministically from (seed, table, bit, dim) via splitmix64 — no RNG
  * state, so every executor and every task retry agrees on the planes.
  */
case class HyperplaneLsh(child: Expression, bits: Int, tables: Int, dim: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  require(bits > 0 && bits <= 63, s"hyperplane_lsh_multi: bits must be in 1..63, got $bits")
  require(tables > 0 && tables <= 64, s"hyperplane_lsh_multi: tables must be in 1..64, got $tables")
  require(dim > 0, s"hyperplane_lsh_multi: dim must be positive, got $dim")

  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_lsh"

  /** planes(t*bits + j)(d) in [-1, 1). */
  private lazy val planes: Array[Array[Double]] =
    Array.tabulate(tables * bits, dim) { (tj, d) =>
      val z = VectorFunctions.splitmix64(
        seed + tj.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xC2B2AE3D27D4EB4FL)
      (z >>> 11).toDouble / (1L << 52).toDouble - 1.0
    }

  override def nullSafeEval(v: Any): Any = signature(v.asInstanceOf[ArrayData])

  /** Also invoked from generated code (public on purpose). */
  def signature(arr: ArrayData): ArrayData = {
    val ps = planes
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var j = 0
      while (j < bits) {
        val p = ps(t * bits + j)
        val n = math.min(arr.numElements(), p.length)
        var dot = 0.0
        var d = 0
        while (d < n) { dot += arr.getFloat(d).toDouble * p(d); d += 1 }
        if (dot >= 0.0) sig |= (1L << j)
        j += 1
      }
      out(t) = sig
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplaneLsh", this, classOf[HyperplaneLsh].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.signature($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
