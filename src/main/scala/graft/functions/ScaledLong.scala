package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** round(x · 10^scale) as a LONG — the scaled-fixed-point conversion
  * under every exact decimal sum/average in graft.queries.Q — as a
  * codegen'd primitive.
  *
  * Semantics are identical to Spark's `round(x*s, 0).cast(long)` (and
  * to DuckDB's `CAST(ROUND(x*s, 0) AS BIGINT)`), but without a
  * BigDecimal round-trip through Double.toString per value, which
  * profiled as a ~3× tax on wide exact aggregates (h01) and 16× on the
  * 64-element vector sums (s02):
  *
  *  - |y| ≥ 1: `floor(y+0.5)` / `ceil(y-0.5)`. The ±0.5 add is EXACT
  *    for 1 ≤ |y| < 2^52 (0.5 is on the result's grid there), so this
  *    picks the nearest integer, half away from zero — which is what
  *    both engines produce. Equality with Spark's shortest-repr
  *    BigDecimal path: a shortest decimal repr can only sit on the
  *    other side of a .5 boundary than the exact binary value if the
  *    boundary value itself is representable — in which case they
  *    coincide. For |y| ≥ 2^52, y is an integer and all paths agree.
  *  - |y| < 1: delegate to the exact BigDecimal HALF_UP (the
  *    floor(y+0.5) shortcut has the classic 0.49999999999999994
  *    binade-crossing bug there).
  */
case class ScaledLong(child: Expression, scale: Int) extends UnaryExpression {

  private val mult: Double = math.pow(10, scale)

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      // integral inputs take the same x·10^s double path the
      // round(c * 10^s, 0) form used (long × double literal → double)
      case DoubleType | FloatType | LongType | IntegerType | ShortType | ByteType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"scaled_long needs double/float/integral, got ${other.sql}")
    }

  override def nullSafeEval(v: Any): Any = {
    val x = v match {
      case d: java.lang.Double => d.doubleValue()
      case f: java.lang.Float => f.toDouble
      case l: java.lang.Long => l.toDouble
      case i: java.lang.Integer => i.toDouble
      case s: java.lang.Short => s.toDouble
      case b: java.lang.Byte => b.toDouble
    }
    ScaledLong.round(x * mult)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val y = ctx.freshName("y")
      s"""
         |double $y = ((double) $x) * ${mult}D;
         |if (Double.isFinite($y) && ($y >= 1.0D || $y <= -1.0D)) {
         |  ${ev.value} = ($y >= 0) ? (long) Math.floor($y + 0.5D)
         |                          : (long) Math.ceil($y - 0.5D);
         |} else {
         |  // |y| < 1 exact path; non-finite raises (ANSI cast parity)
         |  ${ev.value} = graft.functions.ScaledLong.roundSlow($y);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ScaledLong {
  /** Shared by the interpreted path and VectorScaledLongSum. */
  def round(y: Double): Long =
    if (java.lang.Double.isFinite(y) && (y >= 1.0 || y <= -1.0)) {
      if (y >= 0) Math.floor(y + 0.5).toLong else Math.ceil(y - 0.5).toLong
    } else roundSlow(y)

  /** Exact HALF_UP on the shortest decimal repr — Spark round's own
    * semantics; reached for |y| < 1 and for non-finite values, where
    * it raises like ANSI `CAST(round(x) AS BIGINT)` does (the
    * expression this one is documented value-identical to). */
  def roundSlow(y: Double): Long = {
    if (!java.lang.Double.isFinite(y))
      throw new ArithmeticException(
        s"scaled_long: non-finite input $y cannot be cast to BIGINT (ANSI cast parity)")
    java.math.BigDecimal.valueOf(y).setScale(0, java.math.RoundingMode.HALF_UP).longValue()
  }
}
