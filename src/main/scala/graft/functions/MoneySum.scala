package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{
  Add, AttributeReference, BinaryExpression, EvalMode, Expression, If, IsNull,
  Literal, Or, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.{
  BitwiseAnd, BitwiseNot, BitwiseOr, ShiftRight, ShiftRightUnsigned}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.types.{
  BooleanType, DataType, DoubleType, LongType}

/** Exact, order-independent money accumulation with a PRIMITIVE
  * aggregation buffer.
  *
  * The round-10 money-sum discipline (`TpchExtra.moneySum`) fixed the
  * cross-engine order-sensitivity of ~1e9-magnitude double sums by
  * rounding each term to 4 decimals and accumulating in DECIMAL(28,4) —
  * associative, so bit-stable under any partitioning. Correct, but
  * priced: DECIMAL(28,4) exceeds Spark's 18-digit compact-long window,
  * so every term allocates a BigDecimal, every group's buffer holds one,
  * and the buffer is variable-length — HashAggregate's vectorized fast
  * map is off. `cube_agg`'s 4-grain Expand multiplied that by the
  * lattice and regressed 4.5× (round-10 verdict "what's wrong" #2).
  *
  * This aggregate keeps the identical CONTRACT — per-term HALF-UP
  * 4-decimal rounding, exact associative accumulation, DECIMAL-exact
  * final value — with an all-primitive buffer: the rounded term becomes
  * a LONG count of ten-thousandths ([[Money4Bits]]) and the sum
  * accumulates in a two's-complement 128-BIT integer held as two longs
  * `(hi, lo)`. Update/merge are wrapping long adds plus the classic
  * carry-out formula `((a & b) | ((a | b) & ~s)) >>> 63` — pure
  * codegen'd integer arithmetic, fast-hash-map eligible, overflow-safe
  * to 2^127 ten-thousandths (~1.7e34 money units: ~10^12× a 100-TB
  * corpus's reach, where a plain BIGINT sum — 9.2e14 units — could
  * genuinely wrap on a grand-total grain). The one BigDecimal per GROUP
  * appears only in [[Bits128ToMoney]] at evaluate, which reproduces
  * exactly what `CAST(sum AS DOUBLE)` did: `BigDecimal(unscaled,
  * 4).doubleValue`. The DuckDB oracle (`duckMoneySum`) is unchanged —
  * both engines still compute the same exact decimal.
  */
case class MoneySum(child: Expression, scale: Int = 4)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "money_sum"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen =
    AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  // wrapping long add — the 128-bit carry discipline requires two's-
  // complement wraparound, so eval mode is pinned LEGACY regardless of
  // the session's ANSI setting
  private def wadd(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  /** 128-bit add of the two's-complement pair (vHi, vLo) into (h, l):
    * Seq(newHi, newLo). Carry-out of the unsigned low-word add s = l+vLo
    * is `((l & vLo) | ((l | vLo) & ~s)) >>> 63`. */
  private def add128(h: Expression, l: Expression,
      vHi: Expression, vLo: Expression): Seq[Expression] = {
    val s = wadd(l, vLo)
    val carry = ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(l, vLo), BitwiseAnd(BitwiseOr(l, vLo), BitwiseNot(s))),
      Literal(63))
    Seq(wadd(wadd(h, vHi), carry), s)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val v = If(IsNull(child), Literal(0L), child) // null term = add 0
    // sign-extend the 64-bit term to 128 bits: vHi = v >> 63
    add128(hi, lo, ShiftRight(v, Literal(63)), v) :+
      Or(seen, org.apache.spark.sql.catalyst.expressions.Not(IsNull(child)))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    add128(hi.left, lo.left, hi.right, lo.right) :+ Or(seen.left, seen.right)

  override lazy val evaluateExpression: Expression =
    If(seen, Bits128ToMoney(hi, lo, scale), Literal(null, DoubleType))

  override protected def withNewChildInternal(newChild: Expression): MoneySum =
    copy(child = newChild)
}

/** A money term as a LONG count of ten-thousandths. The child must be
  * a double within ~1 ulp of an exact ≤ 4-decimal value x (money
  * columns and their pairwise products — `TpchExtra.moneySum`'s
  * documented precondition), so `Math.round(d * 1e4)` recovers the
  * integer x·10⁴ exactly: the scaled double lies within
  * ~|x·10⁴|·2⁻⁵² < 0.5 of it for every |x| below 2⁵¹ ten-thousandths
  * (2.2e11 money units per TERM — far above any row-level money
  * value), and no rounding tie can arise because the true scaled value
  * IS an integer. This makes Money4Bits ≡ HALF-UP `round(term, 4)`
  * rescaled — with ZERO allocations, where the round→DECIMAL cast
  * chain it replaces allocated two BigDecimals per row. */
case class Money4Bits(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def prettyName: String = "money4_bits"

  override protected def nullSafeEval(input: Any): Any =
    Math.round(input.asInstanceOf[Double] * 10000.0)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"Math.round($c * 10000.0)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Money4Bits {
  /** Column API: the term's exact ten-thousandths as a long. */
  def apply(term: Column): Column =
    GraftShims.column(Money4Bits(GraftShims.expression(term)))
}

/** The 128-bit ten-thousandths accumulator (hi, lo) surfaced as the
  * 4-decimal-exact double the oracle contract gates on — identical to
  * the `CAST(DECIMAL(38,4) AS DOUBLE)` of the buffer it replaces:
  * `BigDecimal(hi·2⁶⁴ + unsigned(lo), scale 4).doubleValue` (correctly
  * rounded). Runs once per GROUP, not per row. */
case class Bits128ToMoney(left: Expression, right: Expression, scale: Int = 4)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(hi: Any, lo: Any): Any =
    MoneySum.toMoney(hi.asInstanceOf[Long], lo.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (h, l) => s"graft.functions.MoneySum.toMoney($h, $l, $scale)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MoneySum {
  private val M64 =
    java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE)

  /** (hi, lo) two's-complement 128-bit ten-thousandths → double money. */
  def toMoney(hi: Long, lo: Long, scale: Int): Double =
    new java.math.BigDecimal(
      java.math.BigInteger.valueOf(hi).shiftLeft(64)
        .add(java.math.BigInteger.valueOf(lo).and(M64)),
      scale).doubleValue

  /** Column API over a money term (exact ≤ 4-decimal value in double —
    * see [[Money4Bits]]'s precondition). */
  def apply(term: Column): Column =
    GraftShims.column(
      MoneySum(Money4Bits(GraftShims.expression(term)))
        .toAggregateExpression())

  /** Column API over an ALREADY-SCALED integer term (a LongType count
    * of 10^-scale units — e.g. `Money4Bits(a) * Money4Bits(b)` is an
    * exact 10^-8-unit product for |a·b| < 9.2e10): 128-bit exact sum,
    * surfaced as the scale-decimal double. The moment accumulator for
    * [[graft.operators.RelationalQueries.corrMatrix]]'s Σx²/Σxy. */
  def ofBits(bits: Column, scale: Int): Column =
    GraftShims.column(
      MoneySum(GraftShims.expression(bits), scale).toAggregateExpression())
}
