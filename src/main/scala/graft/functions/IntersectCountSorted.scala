package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** |A ∩ B| for two SORTED long arrays, as a merge scan.
  *
  * `size(array_intersect(a, b))` builds a hash set per row (boxing +
  * hashing on every element); for the dedup verification step that runs
  * once per candidate pair, this expression does a single O(n+m) merge
  * over primitive longs with zero allocation — measured ~8× cheaper on
  * the 3-gram Jaccard verification join. Inputs MUST be sorted
  * ascending (graft sorts shingle arrays once per document, amortized
  * over all of the document's candidate pairs).
  *
  * `need` is for a verification that only has to know whether the
  * count reaches it: the result is the exact count when it does and −1
  * when it does not, and the merge stops as soon as the matches so far
  * plus the shorter remainder fall below `need` (PPJoin's
  * early-terminating verification, Xiao et al. 2008). A threshold
  * filter on the result is unchanged as long as `need` sits at or below
  * the smallest count that passes it. With `need = 0` (the two-argument
  * form) every count is exact.
  */
case class IntersectCountSorted(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count_sorted"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r, n) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>, bigint), got " +
          s"(${l.simpleString}, ${r.simpleString}, ${n.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any, need: Any): Any =
    IntersectCountSorted.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      need.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, need) =>
      s"graft.functions.IntersectCountSorted.count($a, $b, $need)")

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
                                                 newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object IntersectCountSorted {
  /** The exact count: no early exit. */
  def apply(a: Expression, b: Expression): IntersectCountSorted =
    IntersectCountSorted(a, b, Literal(0L))

  /** Static entry point shared by the interpreted and codegen paths:
    * |a ∩ b| if it is at least `need`, else −1; both arrays sorted. */
  def count(a: ArrayData, b: ArrayData, need: Long): Long = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else {
        if (x < y) i += 1 else j += 1
        // a match keeps c + min(remainders) fixed; only a miss lowers it
        if (c + math.min(na - i, nb - j) < need) return -1L
      }
    }
    if (c < need) -1L else c
  }

  def intersect_count_sorted(a: Column, b: Column): Column =
    GraftColumn.column(IntersectCountSorted(GraftColumn.expression(a), GraftColumn.expression(b)))

  def intersect_count_sorted(a: Column, b: Column, need: Column): Column =
    GraftColumn.column(IntersectCountSorted(GraftColumn.expression(a),
      GraftColumn.expression(b), GraftColumn.expression(need.cast(LongType))))
}
