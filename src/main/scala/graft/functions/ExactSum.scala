package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `sum(cast(x as decimal(p, s)))` — the exact, order-independent sum
  * behind `Catalog.dsum`/`dsum4`/`dsumP4` — computed on long buffers.
  * Same value, same `decimal(p+10, s)` result type, same null and
  * overflow rules as Spark's `Sum` over the cast; what changes is the
  * arithmetic:
  *
  *  - Per row, [[DecimalWord]] takes the unscaled integer of
  *    `cast(x as decimal(p, s))` without building a `BigDecimal` when a
  *    double rounding provably gives Spark's answer (see
  *    [[ExactSum.fastUnscaled]]), and runs Spark's own `Cast` otherwise.
  *  - The running sum is a 128-bit two's-complement integer held in two
  *    longs, `hi·2^64 + lo` with `lo` read unsigned ([[LongPairSum]]), so
  *    `HashAggregateExec` codegens it over fixed-width buffer slots
  *    instead of reading and writing a `decimal(28, s)` through
  *    `BigInteger` on every row.
  *  - The finish builds `Decimal(hi·2^64 + lo, s)` once per group and
  *    applies Spark's `CheckOverflowInSum` at `decimal(p+10, s)`.
  *
  * Integer addition is exact and associative, so the result does not
  * depend on partitioning or merge order (ScalingSpec's exact-8× test).
  */
object ExactSum {

  /** The exact decimal sum of `c` cast to `decimal(precision, scale)`,
    * typed `decimal(precision + 10, scale)` like Spark's `sum`.
    * ANSI mode is read from the session conf when the column is built.
    */
  def apply(c: Column, precision: Int, scale: Int): Column =
    GraftColumnBridge.column(LongPairSum(GraftColumnBridge.expression(c),
      precision, scale, SQLConf.get.ansiEnabled).toAggregateExpression())

  /** Returned by [[fastUnscaled]] when the fast path does not apply. */
  final val NoFastPath: Long = Long.MinValue

  private final val TwoP50 = 1125899906842624.0 // 2^50
  private final val RelSlack = 1.0 / TwoP50 // 2^-50
  private final val AbsSlack = 1.0 / 1099511627776.0 // 2^-40

  /** Unscaled integer of Spark's `cast(x as decimal(p, s))` for a double
    * `x`, given `pow10s = 10^s` and `limit = 10^p` (or Long.MaxValue),
    * or [[NoFastPath]] when this cannot prove it equal to Spark's.
    *
    * Spark casts a double through `BigDecimal(Double.toString(x))` — the
    * shortest decimal D that reads back as x — then rounds D·10^s
    * HALF_UP to an integer. Let t = x·10^s rounded to a double. Then
    * |t − D·10^s| ≤ |t − x·10^s| + 10^s·|x − D| ≤ ulp(t)/2 + 10^s·ulp(x)/2
    * ≤ 2^-52·|t| (10^s is exact for s ≤ 22). If t lies farther than
    * that from every half-integer, D·10^s is on the same side of all of
    * them, is not a tie, and so rounds to the same nearest integer as
    * t, which `Math.rint` returns. The check uses 4× that bound plus
    * 2^-40 for the rounding of `t - floor(t)` near zero, and needs
    * |t| < 2^50 (so the bound stays below 1/4 and the integer is exact).
    * NaN and ±Inf fail the magnitude test; ties such as 1.005 at scale 2
    * (t = 100.49999999999999) fail the distance test; a result of 10^p
    * or more would overflow the precision. All three take Spark's cast.
    */
  def fastUnscaled(x: Double, pow10s: Double, limit: Long): Long = {
    val t = x * pow10s
    val a = Math.abs(t)
    if (!(a < TwoP50)) return NoFastPath
    if (Math.abs(t - Math.floor(t) - 0.5) <= a * RelSlack + AbsSlack)
      return NoFastPath
    val r = Math.rint(t).toLong
    if (r >= limit || r <= -limit) NoFastPath else r
  }

  /** High 64-bit word of (hi, lo) + (wh, wl) as 128-bit integers (the
    * low word is the wrapping `lo + wl`); throws ArithmeticException
    * when the sum leaves the 128-bit range.
    */
  def addHigh(hi: Long, lo: Long, wh: Long, wl: Long): Long = {
    val carry = if (java.lang.Long.compareUnsigned(lo + wl, lo) < 0) 1L else 0L
    Math.addExact(Math.addExact(hi, wh), carry)
  }

  private val Two64 = BigInteger.ONE.shiftLeft(64)
  private val Ten38 = BigInteger.TEN.pow(38)

  /** `hi·2^64 + unsigned(lo)` at `scale` as a `decimal(38, scale)`, or
    * null when it needs more than 38 digits.
    */
  def toDecimal(hi: Long, lo: Long, scale: Int): Decimal =
    if (hi == (lo >> 63)) Decimal(lo, DecimalType.MAX_PRECISION, scale)
    else {
      val l = BigInteger.valueOf(lo)
      val v = BigInteger.valueOf(hi).shiftLeft(64)
        .add(if (lo < 0) l.add(Two64) else l)
      if (v.abs.compareTo(Ten38) >= 0) null
      else Decimal(new java.math.BigDecimal(v, scale),
        DecimalType.MAX_PRECISION, scale)
    }
}

/** Per-row kernel: one 64-bit word (`high` selects which) of the
  * unscaled integer of `cast(child as decimal(precision, scale))`, as a
  * 128-bit two's-complement value; null when the cast is null. A double
  * child takes [[ExactSum.fastUnscaled]] and falls back to Spark's
  * `Cast` (same eval mode, so the same nulls and ANSI errors); any other
  * numeric child always takes the `Cast`.
  */
final case class DecimalWord(child: Expression, precision: Int, scale: Int,
    high: Boolean, ansi: Boolean) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = if (high) "decimal_hi" else "decimal_lo"

  private def pow10s: Double = math.pow(10, scale)
  private def limit: Long =
    if (precision >= 19) Long.MaxValue else math.pow(10, precision).toLong

  @transient private lazy val cast = Cast(
    BoundReference(0, child.dataType, nullable = true),
    DecimalType(precision, scale), None,
    if (ansi) EvalMode.ANSI else EvalMode.LEGACY)

  private def word(v: BigInteger): Long =
    if (high) v.shiftRight(64).longValue else v.longValue

  /** Spark's cast of one child value, as this expression's word. */
  def slowWord(v: Any): java.lang.Long = {
    val d = cast.eval(new GenericInternalRow(Array[Any](v)))
    if (d == null) null
    else java.lang.Long.valueOf(
      word(d.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue))
  }

  override protected def nullSafeEval(input: Any): Any = child.dataType match {
    case DoubleType =>
      val r = ExactSum.fastUnscaled(input.asInstanceOf[Double], pow10s, limit)
      if (r == ExactSum.NoFastPath) slowWord(input)
      else if (high) r >> 63 else r
    case _ => slowWord(input)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("decimalWord", this)
    val w = ctx.freshName("w")
    def slow(x: String) = {
      val arg =
        if (!CodeGenerator.isPrimitiveType(child.dataType)) x
        else s"${CodeGenerator.boxedType(child.dataType)}.valueOf($x)"
      s"""java.lang.Long $w = $self.slowWord($arg);
         |if ($w == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $w.longValue();
         |}""".stripMargin
    }
    nullSafeCodeGen(ctx, ev, x => child.dataType match {
      case DoubleType =>
        val r = ctx.freshName("r")
        s"""long $r = graft.functions.ExactSum.fastUnscaled($x, ${pow10s}D, ${limit}L);
           |if ($r != java.lang.Long.MIN_VALUE) {
           |  ${ev.value} = ${if (high) s"$r >> 63" else r};
           |} else {
           |  ${slow(x)}
           |}""".stripMargin
      case _ => slow(x)
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DecimalWord =
    copy(child = newChild)
}

/** One word of the 128-bit sum (hi, lo) + (wh, wl): the low word is
  * `lo + wl` mod 2^64, the high word `hi + wh + carry`. Null when any
  * input is null (an earlier overflow stays sticky) or when the high
  * word overflows, i.e. the sum leaves ±2^127 (beyond decimal(38)).
  */
final case class PairAdd(hi: Expression, lo: Expression, wh: Expression,
    wl: Expression, high: Boolean) extends QuaternaryExpression {

  override def first: Expression = hi
  override def second: Expression = lo
  override def third: Expression = wh
  override def fourth: Expression = wl
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = if (high) "pair_add_hi" else "pair_add_lo"

  override def nullSafeEval(h: Any, l: Any, a: Any, b: Any): Any = {
    val lo = l.asInstanceOf[Long]
    val wl = b.asInstanceOf[Long]
    if (!high) lo + wl
    else try ExactSum.addHigh(h.asInstanceOf[Long], lo, a.asInstanceOf[Long], wl)
    catch { case _: ArithmeticException => null }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l, a, b) =>
      if (!high) s"${ev.value} = $l + $b;"
      else
        s"""try {
           |  ${ev.value} = graft.functions.ExactSum.addHigh($h, $l, $a, $b);
           |} catch (java.lang.ArithmeticException e) {
           |  ${ev.isNull} = true;
           |}""".stripMargin)

  override protected def withNewChildrenInternal(h: Expression,
      l: Expression, a: Expression, b: Expression): PairAdd =
    copy(hi = h, lo = l, wh = a, wl = b)
}

/** The finished pair as `decimal(38, scale)` ([[ExactSum.toDecimal]]);
  * null when either word is null or the value needs more than 38 digits
  * — both an overflow to `CheckOverflowInSum`. Evaluated once per group.
  */
final case class PairToDecimal(hi: Expression, lo: Expression, scale: Int)
    extends BinaryExpression {

  override def left: Expression = hi
  override def right: Expression = lo
  override def dataType: DataType = DecimalType(DecimalType.MAX_PRECISION, scale)
  override def nullable: Boolean = true

  override protected def nullSafeEval(h: Any, l: Any): Any =
    ExactSum.toDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l) =>
      s"""${ev.value} = graft.functions.ExactSum.toDecimal($h, $l, $scale);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PairToDecimal =
    copy(hi = newLeft, lo = newRight)
}

/** The aggregate: buffer (hi, lo, isEmpty), all fixed-width. A null
  * row word (null input, or a cast that yields null) leaves the buffer
  * unchanged, as `sum` skips nulls; an empty or all-null group yields
  * null; otherwise `CheckOverflowInSum` at `decimal(p+10, s)` turns an
  * out-of-range total into null, or into Spark's overflow error under
  * ANSI.
  */
final case class LongPairSum(child: Expression, precision: Int, scale: Int,
    ansi: Boolean) extends DeclarativeAggregate with UnaryLike[Expression] {

  private def resultType: DecimalType =
    DecimalType(math.min(precision + 10, DecimalType.MAX_PRECISION), scale)

  override def dataType: DataType = resultType
  override def nullable: Boolean = true
  override def prettyName: String = "exact_sum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a numeric input, got ${t.catalogString}")
  }

  private lazy val hi = AttributeReference("hi", LongType)()
  private lazy val lo = AttributeReference("lo", LongType)()
  private lazy val isEmpty =
    AttributeReference("isEmpty", BooleanType, nullable = false)()

  private lazy val wordHi = DecimalWord(child, precision, scale, high = true, ansi)
  private lazy val wordLo = DecimalWord(child, precision, scale, high = false, ansi)

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    hi :: lo :: isEmpty :: Nil

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(wordLo), hi, PairAdd(hi, lo, wordHi, wordLo, high = true)),
    If(IsNull(wordLo), lo, PairAdd(hi, lo, wordHi, wordLo, high = false)),
    And(isEmpty, IsNull(wordLo)))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    PairAdd(hi.left, lo.left, hi.right, lo.right, high = true),
    PairAdd(hi.left, lo.left, hi.right, lo.right, high = false),
    And(isEmpty.left, isEmpty.right))

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, resultType),
      CheckOverflowInSum(PairToDecimal(hi, lo, scale), resultType,
        !ansi, null))

  override protected def withNewChildInternal(newChild: Expression): LongPairSum =
    copy(child = newChild)
}
