package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native |A ∩ B| over two `array<bigint>` columns — value-identical to
  * `size(array_intersect(a, b))` (distinct matched values counted once,
  * a null element in BOTH arrays counted once, null in on either arg →
  * null result), registered as SQL `inter_size`.
  *
  * This sits in the innermost loop of every candidate-pair verify
  * (exact Jaccard / containment over hashed gram sets): blocked
  * candidate generation emits ~40 pairs per document at bench SF, so
  * the per-pair set traversal IS the verify stage's cost.
  * `array_intersect` builds a generic hash set of boxed elements per
  * invocation; this kernel copies both arrays to primitive longs,
  * sorts, and merge-counts — zero boxing, zero per-element allocation,
  * and `doGenCode` keeps it inside whole-stage codegen. Value equality
  * with the built-in form is asserted in FunctionsSpec (r18).
  */
case class InterSize(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"inter_size requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def nullSafeEval(a: Any, b: Any): Any =
    InterSize.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.InterSize.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): InterSize =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "inter_size"
}

/** [[InterSize]] over arrays the CALLER has already sorted ascending
  * (nulls first — exactly `sort_array`'s order): the verify stages
  * compare each document's gram set against ~40 candidate partners, so
  * the per-pair copy + sort inside [[InterSize.compute]] re-sorts every
  * array once per PAIR. Sorting once per document in the sets projection
  * and merge-counting straight over the `ArrayData` does the same
  * distinct-intersection count with zero per-pair allocation and zero
  * per-pair sorting. Value-identical to
  * `size(array_intersect(a, b))` on the pre-sort arrays (FunctionsSpec
  * witness). Unsorted inputs would silently undercount, so the
  * expression has no SQL name and is package-private: its one builder
  * is `Dedup.sortedSetsAndInter`, directly behind the `sort_array`
  * projection it relies on.
  */
private[graft] case class InterSizeSorted(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"inter_size_sorted requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def nullSafeEval(a: Any, b: Any): Any =
    InterSize.computeSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.InterSize.computeSorted($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): InterSizeSorted =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "inter_size_sorted"
}

object InterSize {
  /** Distinct-intersection count over two ascending-sorted (nulls-first)
    * arrays — one merge pass directly over the `ArrayData`, no copies.
    * Null elements (leading after `sort_array`) match only each other
    * and count once, duplicates count once: `array_intersect` set
    * semantics on the pre-sort arrays.
    */
  def computeSorted(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var ai = 0
    var bi = 0
    while (ai < na && a.isNullAt(ai)) ai += 1
    while (bi < nb && b.isNullAt(bi)) bi += 1
    var cnt = if (ai > 0 && bi > 0) 1 else 0
    while (ai < na && bi < nb) {
      val x = a.getLong(ai)
      val y = b.getLong(bi)
      if (x == y) {
        cnt += 1
        while (ai < na && a.getLong(ai) == x) ai += 1
        while (bi < nb && b.getLong(bi) == x) bi += 1
      } else if (x < y) ai += 1
      else bi += 1
    }
    cnt
  }

  /** Sort-and-merge distinct-intersection count; duplicates within
    * either array count once (array_intersect's set semantics), null
    * elements match only each other. One primitive sort per side, one
    * merge pass, no allocation beyond the two primitive copies.
    */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0
    var aNull = false
    var bNull = false
    val xs = new Array[Long](na)
    var nx = 0
    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) aNull = true
      else { xs(nx) = a.getLong(i); nx += 1 }
      i += 1
    }
    val ys = new Array[Long](nb)
    var ny = 0
    i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bNull = true
      else { ys(ny) = b.getLong(i); ny += 1 }
      i += 1
    }
    java.util.Arrays.sort(xs, 0, nx)
    java.util.Arrays.sort(ys, 0, ny)
    var cnt = if (aNull && bNull) 1 else 0
    var xi = 0
    var yi = 0
    while (xi < nx && yi < ny) {
      val x = xs(xi)
      val y = ys(yi)
      if (x == y) {
        cnt += 1
        while (xi < nx && xs(xi) == x) xi += 1
        while (yi < ny && ys(yi) == x) yi += 1
      } else if (x < y) xi += 1
      else yi += 1
    }
    cnt
  }
}
