package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Does a SORTED ARRAY<BIGINT> contain any element in [lo, hi]? One binary
  * search (lower bound of `lo`, then a single ≤ `hi` check) — O(log n) per
  * probe.
  *
  * Used by the duplicated-span rebuild: a token at position `i` is covered
  * by some duplicated `g`-token window iff a dup-window START exists in
  * `[i − (g−1), i]` — probing the per-document sorted START array replaces
  * materializing every covered position (the exploded form shuffled
  * `g×` rows per duplicated window and collect_set-ed the expansion; the
  * starts carry the same information at 1/g the rows). The caller must
  * sort the array ascending (`sort_array`) — this expression assumes it
  * and does not verify. The element type must be non-nullable
  * (`collect_set` output is): a possibly-null array fails analysis rather
  * than reading a null slot as a number. */
case class SortedArrayAnyInRange(first: Expression, second: Expression,
                                 third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, false), LongType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT NOT NULL> sorted, BIGINT lo, BIGINT hi), " +
          s"got ${first.dataType.simpleString}, ${second.dataType.simpleString}" +
          s" and ${third.dataType.simpleString}")
    }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "sorted_array_any_in_range"

  override protected def nullSafeEval(arr: Any, loV: Any, hiV: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val loB = loV.asInstanceOf[Long]
    val hiB = hiV.asInstanceOf[Long]
    var lo = 0
    var hi = a.numElements()
    while (lo < hi) { // lower bound: first idx with a(idx) >= loB
      val mid = (lo + hi) >>> 1
      if (a.getLong(mid) < loB) lo = mid + 1 else hi = mid
    }
    lo < a.numElements() && a.getLong(lo) <= hiB
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, loV, hiV) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      s"""
         |int $lo = 0;
         |int $hi = $a.numElements();
         |while ($lo < $hi) {
         |  final int $mid = ($lo + $hi) >>> 1;
         |  if ($a.getLong($mid) < $loV) { $lo = $mid + 1; } else { $hi = $mid; }
         |}
         |${ev.value} = $lo < $a.numElements() && $a.getLong($lo) <= $hiV;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SortedArrayAnyInRange =
    copy(first = newFirst, second = newSecond, third = newThird)
}
