package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType}

/**
 * Committed-interval membership test for GAP-DENSE offset histories, as a
 * native codegen expression: `intervalInside(logPart, seq)` is true iff
 * `seq` lies inside one of the partition's committed `(lo, hi]` intervals.
 *
 * MergeEngine's replay fence (`admit`) always filters through this
 * expression, whatever the interval count: a binary search over the
 * flattened index. The r3 version did that search inside a scalar
 * `udf(...)` — right algorithm, but a boxed per-row call that broke
 * whole-stage codegen on the hot filter for exactly the histories that are
 * gap-dense. This expression keeps the search (O(log n) per row, constant
 * plan size) INSIDE the generated pipeline: the index rides the expression
 * as a codegen reference object (`ctx.addReferenceObj`) with primitive
 * int/long arguments — no boxing, no broadcast to leak (the r3 broadcast
 * was never destroyed; here the index ships with the serialized plan and
 * dies with the stage). Same pattern as [[Mix64]]/[[SimHash64]].
 */
final class IntervalIndex(
    // CSR layout: partition p's intervals are los/his[starts(p) ..< starts(p+1)]
    val starts: Array[Int],
    val los: Array[Long],
    val his: Array[Long]) extends Serializable {

  def inside(p: Int, s: Long): Boolean = {
    if (p < 0 || p + 1 >= starts.length) return false
    // greatest interval with lo < s (intervals sorted, disjoint)
    var l = starts(p); var r = starts(p + 1) - 1; var ans = -1
    while (l <= r) {
      val m = (l + r) >>> 1
      if (los(m) < s) { ans = m; l = m + 1 } else r = m - 1
    }
    ans >= 0 && s <= his(ans)
  }

  def intervalCount: Int = los.length
}

object IntervalIndex {
  /** flatten per-partition normalized interval sets (partition ids may be
    * sparse; absent slots get zero-width ranges) */
  def build(ivs: Map[Int, Seq[(Long, Long)]]): IntervalIndex = {
    val maxP = ivs.keys.foldLeft(-1)(math.max)
    val starts = new Array[Int](maxP + 2)
    val total = ivs.values.map(_.size).sum
    val los = new Array[Long](total)
    val his = new Array[Long](total)
    var off = 0
    var p = 0
    while (p <= maxP) {
      starts(p) = off
      ivs.getOrElse(p, Nil).sorted.foreach { case (lo, hi) =>
        los(off) = lo; his(off) = hi; off += 1
      }
      p += 1
    }
    starts(maxP + 1) = off
    new IntervalIndex(starts, los, his)
  }
}

case class IntervalInside(left: Expression, right: Expression,
    index: IntervalIndex) extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (int, bigint), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(p: Any, s: Any): Any =
    index.inside(p.asInstanceOf[Int], s.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idxRef = ctx.addReferenceObj("fenceIdx", index,
      classOf[IntervalIndex].getName)
    defineCodeGen(ctx, ev, (p, s) => s"$idxRef.inside($p, $s)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntervalInside =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_interval_inside"
}

object IntervalInside {
  def apply(logPart: Column, seq: Column, ivs: Map[Int, Seq[(Long, Long)]])
      : Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      IntervalInside(
        org.apache.spark.sql.GraftSqlBridge.expression(logPart),
        org.apache.spark.sql.GraftSqlBridge.expression(seq),
        IntervalIndex.build(ivs)))
}
