package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Morton/Z-order bit interleaving, shared by interpreted eval, generated
  * code, the spec's round-trip check, and (as a generated bit-op chain)
  * the DuckDB oracle. The classic parallel-prefix spread: 5 shift-mask
  * steps per operand, branch-free.
  */
object ZOrderUtil {
  /** Spread the low 16 bits of v so bit i lands at position 2i. */
  def spread16(v: Long): Long = {
    var x = v & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  /** 32-bit Z-value: x's low 16 bits on even positions, y's on odd. */
  def interleave16(x: Long, y: Long): Long =
    spread16(x) | (spread16(y) << 1)

  /** The same spread as a DuckDB SQL expression over `col` — the oracle
    * mirror of [[spread16]], one nested shift/mask chain (integer-only,
    * so both engines agree bit-for-bit).
    */
  def duckSpread16(col: String): String = {
    val steps = Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
    steps.foldLeft(s"($col & 65535)") { case (e, (sh, m)) =>
      s"(($e | ($e << $sh)) & $m)"
    }
  }

  /** DuckDB mirror of [[interleave16]]. */
  def duckInterleave16(x: String, y: String): String =
    s"(${duckSpread16(x)} | (${duckSpread16(y)} << 1))"
}

/** Z-order interleave as a native codegen'd expression: the multi-
  * dimensional clustering key behind Z-ordered lakehouse layouts — sort
  * or range-partition by `zinterleave16(a, b)` and every output file's
  * min/max stays tight on BOTH a and b, so scans filtering on EITHER
  * column prune files (a single-column sort gives this for one column
  * only). Null-intolerant, LongType in/out; the hot loop is 10 shift-mask
  * ops in generated code — no UDF boundary, no boxing.
  */
case class ZInterleave16(left: Expression, right: Expression) extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "zinterleave16"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"zinterleave16 expects (bigint, bigint), got ${children.map(_.dataType).mkString(", ")}")

  override protected def nullSafeEval(x: Any, y: Any): Any =
    ZOrderUtil.interleave16(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.ZOrderUtil.interleave16($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZInterleave16 {
  /** Column API: 32-bit Z-value of (x, y)'s low 16 bits each. */
  def zinterleave16(x: Column, y: Column): Column =
    Bridge.column(ZInterleave16(Bridge.expression(x), Bridge.expression(y)))
}
