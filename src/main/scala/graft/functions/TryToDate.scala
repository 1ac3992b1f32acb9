package graft.functions

import java.time.{ZoneId, ZonedDateTime}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, ParseToTimestamp, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.{DataType, DateType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `cast(try_to_timestamp(child, format) AS DATE)` with a byte-level fast
  * path for fixed-width date-only patterns.
  *
  * Spark parses every value through `java.time`, which for a date column
  * costs a formatter run and several objects per row. When `format` is
  * `yyyy`, `MM` and `dd` joined by ASCII literals ([[DateLayout]]), the
  * [[DateKernel]] reads the date from the string's bytes in one scan and
  * evaluates the Spark parse only for the strings the scan does not decide.
  * Every value is therefore the value of the Spark expression. Any other
  * pattern, and a session on the LEGACY time parser, get the plain Spark
  * expression. Spec-pinned against it on every month and day slot of
  * several years and on adversarial strings (TryToDateSpec).
  */
case class TryToDate(child: Expression, format: String)
  extends UnaryExpression with RuntimeReplaceable {

  override lazy val replacement: Expression = {
    val conf = SQLConf.get
    val zone = conf.sessionLocalTimeZone
    val fallback = Cast(
      ParseToTimestamp(child, Some(Literal(format)), conf.timestampType, Some(zone),
        failOnError = false),
      DateType, Some(zone))
    if (DateLayout.fits(format) &&
        conf.legacyTimeParserPolicy != LegacyBehaviorPolicy.LEGACY)
      DateKernel(child, fallback, DateLayout(format, ZoneId.of(zone)))
    else fallback
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string, not ${other.simpleString}")
  }

  override protected def withNewChildInternal(newChild: Expression): TryToDate =
    copy(child = newChild)

  override def prettyName: String = "try_to_date"
}

object TryToDate {
  /** `c` must be a string column. */
  def apply(c: Column, format: String): Column =
    Bridge.column(TryToDate(Bridge.eagerExpression(c), format))
}

/** The epoch day of `child` read by `layout`, or `fallback`'s value for
  * every string the layout does not decide. `fallback` is evaluated only for
  * those rows, in the interpreted path and in generated code alike: the
  * kernel runs inside interpreted aggregate inputs (error dumps), so its
  * `eval` is the same byte scan as its generated code. */
case class DateKernel(child: Expression, fallback: Expression, layout: DateLayout)
  extends Expression {

  override def children: Seq[Expression] = Seq(child, fallback)
  override def dataType: DataType = DateType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input)
    if (s == null) null
    else {
      val day = layout.epochDay(s.asInstanceOf[UTF8String])
      if (day != DateLayout.Undecided) day else fallback.eval(input)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dateLayout", layout, classOf[DateLayout].getName)
    val s = child.genCode(ctx)
    val fb = fallback.genCode(ctx)
    ev.copy(code = code"""
      ${s.code}
      boolean ${ev.isNull} = ${s.isNull};
      int ${ev.value} = -1;
      if (!${ev.isNull}) {
        ${ev.value} = $ref.epochDay(${s.value});
        if (${ev.value} == Integer.MIN_VALUE) {
          ${fb.code}
          ${ev.isNull} = ${fb.isNull};
          ${ev.value} = ${fb.value};
        }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DateKernel =
    copy(child = newChildren(0), fallback = newChildren(1))

  override def prettyName: String = "date_kernel"
}

/** A fixed-width date-only pattern: `yyyy`, `MM` and `dd` once each,
  * joined by ASCII literals that are neither letters, digits nor pattern
  * syntax (`yyyy-MM-dd`, `yyyy/MM/dd`, `yyyyMMdd`), read in `zone`.
  *
  * `shape` holds the literal byte at each position and 0 at each digit.
  * `skipped` lists the epoch days whose midnight `zone` skips by a whole
  * day (Pacific/Apia on 2011-12-30): Spark's parse moves those to the next
  * day, so they are left to the fallback. */
final case class DateLayout(format: String, zone: ZoneId) {
  require(DateLayout.fits(format), s"not a fixed-width date pattern: $format")

  private val shape = format.map(c => if (c.isLetter) 0.toByte else c.toByte).toArray
  private val yAt = format.indexOf("yyyy")
  private val mAt = format.indexOf("MM")
  private val dAt = format.indexOf("dd")
  private val skipped = DateLayout.skippedDays(zone)

  /** The epoch day, or [[DateLayout.Undecided]] unless the string has the
    * layout's length, a digit in every digit slot, the layout's literals and
    * a real proleptic-Gregorian date with a year from 0001 to 9999. */
  def epochDay(s: UTF8String): Int = {
    if (s.numBytes != shape.length) return DateLayout.Undecided
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    while (i < shape.length) {
      val b = Platform.getByte(base, off + i)
      val want = shape(i)
      if (if (want == 0) b < '0' || b > '9' else b != want) return DateLayout.Undecided
      i += 1
    }
    def num(at: Int, width: Int): Int = {
      var v = 0
      var j = 0
      while (j < width) { v = v * 10 + Platform.getByte(base, off + at + j) - '0'; j += 1 }
      v
    }
    val y = num(yAt, 4)
    val m = num(mAt, 2)
    val d = num(dAt, 2)
    if (y == 0 || m < 1 || m > 12 || d < 1 || d > DateLayout.monthDays(y, m))
      return DateLayout.Undecided
    val day = DateLayout.epochDay(y, m, d)
    if (skipped.length > 0 && java.util.Arrays.binarySearch(skipped, day) >= 0)
      DateLayout.Undecided
    else day
  }
}

object DateLayout {
  /** No epoch day of the years 0001–9999 is this low (`Integer.MIN_VALUE`
    * in [[DateKernel]]'s generated code). */
  final val Undecided: Int = Int.MinValue

  private val syntax = "'[]{}#"

  /** true for a fixed-width date-only pattern. */
  def fits(format: String): Boolean = {
    val runs = "([a-zA-Z])\\1*|[^a-zA-Z]".r.findAllIn(format).toSeq
    val (fields, literals) = runs.partition(_.head.isLetter)
    fields.sorted == Seq("MM", "dd", "yyyy") && literals.forall { l =>
      val c = l.head
      c >= ' ' && c < 0x7f && !c.isDigit && !syntax.contains(c)
    }
  }

  private def leap(y: Int): Boolean = (y % 4 == 0 && y % 100 != 0) || y % 400 == 0

  private def monthDays(y: Int, m: Int): Int = m match {
    case 2 => if (leap(y)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** `LocalDate.of(y, m, d).toEpochDay` for y >= 1, without the object. */
  private[functions] def epochDay(y: Int, m: Int, d: Int): Int = {
    var total = 365 * y + (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400 +
      (367 * m - 362) / 12 + d - 1
    if (m > 2) total -= (if (leap(y)) 1 else 2)
    total - 719528
  }

  private val skippedByZone = new ConcurrentHashMap[ZoneId, Array[Int]]()

  /** Days whose local midnight `zone` resolves to another date: a gap of a
    * day or more. Only the zone's listed transitions can be that long; its
    * recurring rules are daylight-saving shifts of hours. */
  private[functions] def skippedDays(zone: ZoneId): Array[Int] =
    skippedByZone.computeIfAbsent(zone, z =>
      z.getRules.getTransitions.asScala.filter(_.isGap).flatMap { t =>
        Iterator.iterate(t.getDateTimeBefore.toLocalDate)(_.plusDays(1))
          .takeWhile(!_.isAfter(t.getDateTimeAfter.toLocalDate))
          .filter(d => ZonedDateTime.of(d.atStartOfDay, z).toLocalDate != d)
          .map(_.toEpochDay.toInt)
      }.sorted.toArray)
}
