package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** |a ∩ b| for two SORTED `array<long>` columns, as one allocation-free
  * two-pointer merge inside whole-stage codegen.
  *
  * Exists for the triangle count's hot loop (g01): `size(array_intersect)`
  * builds a per-row hash set AND materializes the intersection array just
  * to take its length — at 1.2 M edges × ~120-element adjacency arrays
  * that is millions of transient OpenHashSets + UnsafeArrayData per pass.
  * The merge does the same Σ min(|a|,|b|)-ish element walk with zero
  * allocation; measured ~2× on the g01 intersect stage at sf0.1. It is
  * one Scala kernel, [[count]], that `nullSafeEval` and the generated
  * code both call (as does [[SortedIntersect.intersect]] for its sibling).
  *
  * PRECONDITIONS (caller's contract, asserted nowhere at runtime — this
  * is a hot-loop primitive): both arrays ascending-sorted, elements
  * unique within each array, no null elements. Adjacency arrays built
  * with `sort_array(collect_list(...))` over deduplicated edges satisfy
  * all three; sorting in the aggregation also pins the array order that
  * `collect_list` alone leaves partition-dependent.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** The merge walk; also invoked from generated code (public on purpose). */
  def count(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedIntersectCount", this, classOf[SortedIntersectCount].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.count($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** a ∩ b for two SORTED `array<long>` columns, as a two-pointer merge that
  * materializes ONLY the intersection (≤ min(|a|,|b|) longs) — the
  * array-returning sibling of [[SortedIntersectCount]], for consumers that
  * need the members, not the size (g04 explodes the common neighbors into
  * per-triangle credit rows). `array_intersect` pays a per-row OpenHashSet
  * probe per element; the merge walk is branch-predictable and
  * allocation-bounded by the result. Same (sorted, unique, non-null)
  * input contract.
  */
case class SortedIntersect(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect"

  override def nullSafeEval(a: Any, b: Any): Any =
    intersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** The merge walk; also invoked from generated code (public on purpose). */
  def intersect(x: ArrayData, y: ArrayData): ArrayData = {
    val nx = x.numElements(); val ny = y.numElements()
    val tmp = new Array[Long](math.min(nx, ny))
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { tmp(c) = xv; c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(tmp, c))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedIntersect", this, classOf[SortedIntersect].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.intersect($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayFunctions {

  /** Codegen'd sorted-set intersection size — see [[SortedIntersectCount]]
    * for the (sorted, unique, non-null) input contract.
    */
  def sorted_intersect_count(a: Column, b: Column): Column =
    ExpressionUtils.column(
      SortedIntersectCount(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd sorted-set intersection (members) — see [[SortedIntersect]]
    * for the contract and why not `array_intersect`.
    */
  def sorted_intersect(a: Column, b: Column): Column =
    ExpressionUtils.column(
      SortedIntersect(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
