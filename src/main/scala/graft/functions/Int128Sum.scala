package graft.functions

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `exact_sum(a)` / `exact_sum(a, b)` — the exact integer sum Σa or Σa·b
  * over integral `a`, `b`, carried in 128 bits.
  *
  * It returns exactly what the decimal sum it replaces returns — the
  * Spark `sum` of `a` (or of `a·b`) cast to `decimal(38,0)`: that type,
  * NULL for a group with no non-null term (a term is null when any
  * factor is), and on a total outside 38 digits (or a 128-bit wrap)
  * NULL with ANSI off or, under ANSI, the decimal sum's own
  * `ARITHMETIC_OVERFLOW` "Overflow in sum of decimals" — it ends in the
  * same `CheckOverflowInSum`. (A global decimal sum keeps its final
  * buffer as an unbounded BigDecimal and reports that case as
  * `NUMERIC_VALUE_OUT_OF_RANGE` instead; both are SQLSTATE 22003.)
  *
  * The decimal sum keeps a `java.math.BigDecimal` buffer that Spark
  * re-serializes into the aggregation row on every update. This buffer
  * is two longs — `hi` (signed) and `lo` (unsigned) of a two's-complement
  * 128-bit integer, DuckDB's HUGEINT layout — plus the decimal sum's
  * `isEmpty` flag, and `hi` is NULL once the accumulator has wrapped, as
  * the decimal sum's buffer is NULL once it has overflowed. A product of
  * two longs is at most 2¹²⁶ in magnitude, so it never wraps on its own.
  * As a `DeclarativeAggregate` it keeps `HashAggregateExec`'s whole-stage
  * codegen and its fast hash map; the decimal is built once per group.
  */
case class Int128Sum(terms: Seq[Expression],
    ansi: Boolean = SQLConf.get.ansiEnabled)
    extends DeclarativeAggregate with SupportQueryContext {

  override def children: Seq[Expression] = terms
  override def dataType: DataType = Int128Sum.ResultType
  override def nullable: Boolean = true
  override def prettyName: String = "exact_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    if (terms.size != 1 && terms.size != 2) {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes 1 or 2 arguments, got ${terms.size}")
    } else terms.map(_.dataType).find(!Int128Sum.integral(_)) match {
      case Some(dt) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects integral arguments, got $dt")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def initQueryContext(): Option[QueryContext] =
    if (ansi) Some(origin.context) else None

  private lazy val longs: Seq[Expression] =
    terms.map(t => if (t.dataType == LongType) t else Cast(t, LongType))

  private lazy val hi = AttributeReference("hi", LongType)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty =
    AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, isEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  override lazy val updateExpressions: Seq[Expression] = {
    // the term as a 128-bit addend (xHi, xLo)
    val (xHi, xLo) = longs match {
      case Seq(a) => (ShiftRight(a, Literal(63)), a)
      case Seq(a, b) => (Int128Word(a, b, Int128Word.MulHigh),
        Int128Word(a, b, Int128Word.Mul))
    }
    val termNull = longs.filter(_.nullable).map(IsNull(_): Expression)
      .reduceOption(Or(_, _))
    def unlessNull(keep: Expression, next: Expression): Expression =
      termNull.fold(next)(If(_, keep, next))
    Seq(
      unlessNull(hi, Int128CarryAdd(hi, lo, xHi, xLo)),
      unlessNull(lo, Int128Word(lo, xLo, Int128Word.Add)),
      termNull.fold[Expression](Literal(false))(And(isEmpty, _)))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Int128CarryAdd(hi.left, lo.left, hi.right, lo.right),
    Int128Word(lo.left, lo.right, Int128Word.Add),
    And(isEmpty.left, isEmpty.right))

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal(null, Int128Sum.ResultType),
      CheckOverflowInSum(Int128ToDecimal(hi, lo), Int128Sum.ResultType,
        !ansi, getContextOrNull()))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Int128Sum =
    copy(terms = newChildren)
}

object Int128Sum {
  val ResultType: DecimalType = DecimalType(38, 0)

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private val Limit = java.math.BigInteger.TEN.pow(38)

  /** The 128-bit value (hi, lo) as a `decimal(38,0)`, or null outside 38
    * digits — where the decimal sum's buffer would have gone NULL.
    */
  def toDecimal(hi: Long, lo: Long): Decimal = {
    val v = if (hi == (lo >> 63)) java.math.BigInteger.valueOf(lo)
      else java.math.BigInteger.valueOf(hi).shiftLeft(64)
        .or(java.math.BigInteger.valueOf(lo >>> 1).shiftLeft(1)
          .or(java.math.BigInteger.valueOf(lo & 1L)))
    if (v.abs.compareTo(Limit) >= 0) null
    else Decimal(new java.math.BigDecimal(v), 38, 0)
  }
}

/** One non-checking 64-bit word operation of the 128-bit sum: the low
  * word `l + r` or `l * r`, or the high word of the signed product
  * (`Math.multiplyHigh`). Spark's `Add`/`Multiply` on longs throw on wrap
  * under ANSI; here the wrap is the arithmetic.
  */
case class Int128Word(left: Expression, right: Expression, op: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[Long], r.asInstanceOf[Long])
    op match {
      case Int128Word.Add => a + b
      case Int128Word.Mul => a * b
      case Int128Word.MulHigh => Math.multiplyHigh(a, b)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => op match {
      case Int128Word.Add => s"$a + $b"
      case Int128Word.Mul => s"$a * $b"
      case Int128Word.MulHigh => s"java.lang.Math.multiplyHigh($a, $b)"
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Int128Word = copy(left = newLeft, right = newRight)
}

object Int128Word {
  final val Add = 0
  final val Mul = 1
  final val MulHigh = 2
}

/** The high word of (hi, lo) + (xHi, xLo): `hi + xHi` plus the carry out
  * of the unsigned low-word add, or null when the signed 128-bit sum
  * wraps (both addends' signs agree and the result's differs).
  */
case class Int128CarryAdd(hi: Expression, lo: Expression, xHi: Expression,
    xLo: Expression) extends QuaternaryExpression {

  override def first: Expression = hi
  override def second: Expression = lo
  override def third: Expression = xHi
  override def fourth: Expression = xLo
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(h: Any, l: Any, xh: Any, xl: Any): Any = {
    val (a, al) = (h.asInstanceOf[Long], l.asInstanceOf[Long])
    val (x, xlo) = (xh.asInstanceOf[Long], xl.asInstanceOf[Long])
    val carry = if (java.lang.Long.compareUnsigned(al + xlo, al) < 0) 1L else 0L
    val r = a + x + carry
    if (((a ^ r) & (x ^ r)) < 0) null else r
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, al, x, xl) =>
      s"""
       |${ev.value} = $a + $x +
       |  (java.lang.Long.compareUnsigned($al + $xl, $al) < 0 ? 1L : 0L);
       |${ev.isNull} = (($a ^ ${ev.value}) & ($x ^ ${ev.value})) < 0L;
       """.stripMargin)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Int128CarryAdd =
    copy(hi = newFirst, lo = newSecond, xHi = newThird, xLo = newFourth)
}

/** [[Int128Sum.toDecimal]] of the buffer words; null when `hi` is. */
case class Int128ToDecimal(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = Int128Sum.ResultType
  override def nullable: Boolean = true

  override def nullSafeEval(h: Any, l: Any): Any =
    Int128Sum.toDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l) =>
      s"""
       |${ev.value} = graft.functions.Int128Sum.toDecimal($h, $l);
       |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Int128ToDecimal =
    copy(left = newLeft, right = newRight)
}
