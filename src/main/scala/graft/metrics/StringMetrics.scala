package graft.metrics

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TryToDate

/** Shared shape for "count rows/cells satisfying a predicate" metrics —
  * `sum(when(cond(col), 1) ...)` folded over the metric's columns
  * (reference: .../metrics/df/ConditionalDFCalculator.scala:40-56).
  */
abstract class ConditionalMetric extends RowMetric {
  /** Per-cell predicate. */
  protected def cond(c: Column): Column
  /** true → a row errors when the predicate HOLDS (reversed metrics),
    * false → when it FAILS on any cell. Matches the reference's
    * direct/reversed error-collection logic. */
  protected def reversed: Boolean = false

  private def cellHit(c: Column): Column =
    when(cond(c), lit(1L)).otherwise(lit(0L))

  override def result: Column =
    sum(columns.map(n => cellHit(col(n))).reduce(_ + _)).cast("double").as(id)

  override def errorCondition: Option[Column] = Some {
    val anyHit = columns.map(n => cond(col(n))).reduce(_ || _)
    val anyMiss = columns.map(n => !coalesce(cond(col(n)), lit(false))).reduce(_ || _)
    if (reversed) anyHit else anyMiss
  }
}

/** ROW_COUNT (ref: .../metrics/df/regular/FileDFMetrics.scala:11-19). */
final case class RowCountMetric(id: String, sourceId: String = "") extends RowMetric {
  val name = "ROW_COUNT"
  val columns: Seq[String] = Nil
  def result: Column = count(lit(1)).cast("double").as(id)
}

/** NULL_VALUES — count of null cells across columns
  * (ref: BasicStringDFMetrics.scala:84-104). */
final case class NullValuesMetric(id: String, columns: Seq[String]) extends ConditionalMetric {
  val name = "NULL_VALUES"
  protected def cond(c: Column): Column = c.isNull
  override protected def reversed: Boolean = true
}

/** EMPTY_VALUES — count of empty-string cells (ref: :220-241). */
final case class EmptyValuesMetric(id: String, columns: Seq[String]) extends ConditionalMetric {
  val name = "EMPTY_VALUES"
  protected def cond(c: Column): Column = c.cast("string") === lit("")
  override protected def reversed: Boolean = true
}

/** COMPLETENESS — share of non-null (optionally non-empty) cells
  * (ref: BasicStringDFMetrics.scala:114-166). */
final case class CompletenessMetric(id: String, columns: Seq[String],
    includeEmptyStrings: Boolean = false) extends RowMetric {
  val name = "COMPLETENESS"
  /** Matches the reference: by default only nulls are incomplete; with
    * includeEmptyStrings=true empty strings count as incomplete too
    * (BasicStringDFMetrics.scala:114-166 — the round-1 branches were
    * swapped, flagged in ADVICE.md). */
  private def ok(c: Column): Column =
    if (includeEmptyStrings) c.isNotNull && c.cast("string") =!= lit("")
    else c.isNotNull
  def result: Column = {
    val rowOk = columns.map(n => when(ok(col(n)), lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    try_divide(sum(rowOk), count(lit(1)) * lit(columns.size)).cast("double").as(id)
  }
}

/** EMPTINESS — share of null (optionally empty) cells (ref: :177-211). */
final case class EmptinessMetric(id: String, columns: Seq[String],
    includeEmptyStrings: Boolean = false) extends RowMetric {
  val name = "EMPTINESS"
  private def bad(c: Column): Column =
    if (includeEmptyStrings) c.isNull || c.cast("string") === lit("")
    else c.isNull
  def result: Column = {
    val rowBad = columns.map(n => when(bad(col(n)), lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    try_divide(sum(rowBad), count(lit(1)) * lit(columns.size)).cast("double").as(id)
  }
}

/** REGEX_MATCH / REGEX_MISMATCH (ref: BasicStringDFMetrics.scala:19-75). */
final case class RegexMatchMetric(id: String, columns: Seq[String], regex: String,
    mismatch: Boolean = false) extends ConditionalMetric {
  val name: String = if (mismatch) "REGEX_MISMATCH" else "REGEX_MATCH"
  protected def cond(c: Column): Column = {
    val m = c.cast("string").rlike(regex)
    if (mismatch) c.isNotNull && !m else m
  }
}

/** MIN_STRING / MAX_STRING — min/max string length over columns
  * (ref: BasicStringDFMetrics.scala:249-329). */
final case class StringLenExtremeMetric(id: String, columns: Seq[String],
    isMax: Boolean) extends RowMetric {
  val name: String = if (isMax) "MAX_STRING" else "MIN_STRING"
  def result: Column = {
    val lens = columns.map(n => length(col(n).cast("string")))
    val rowExtreme =
      if (lens.size == 1) lens.head
      else if (isMax) greatest(lens: _*)
      else least(lens: _*)
    (if (isMax) max(rowExtreme) else min(rowExtreme)).cast("double").as(id)
  }
}

/** AVG_STRING — mean string length, nulls skipped (ref: :341-393). */
final case class AvgStringLenMetric(id: String, columns: Seq[String]) extends RowMetric {
  val name = "AVG_STRING"
  def result: Column = {
    val lenSum = columns
      .map(n => coalesce(length(col(n).cast("string")).cast("long"), lit(0L)))
      .reduce(_ + _)
    val cnt = columns
      .map(n => when(col(n).isNotNull, lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    try_divide(sum(lenSum), sum(cnt)).cast("double").as(id)
  }
}

/** FORMATTED_DATE — count of values parseable with a datetime pattern
  * (ref: BasicStringDFMetrics.scala:403-438). A value counts iff
  * `try_to_timestamp(value, format)` is not null; [[TryToDate]] reads
  * date-only patterns from the bytes. */
final case class FormattedDateMetric(id: String, columns: Seq[String],
    format: String = "yyyy-MM-dd HH:mm:ss") extends ConditionalMetric {
  val name = "FORMATTED_DATE"
  protected def cond(c: Column): Column = TryToDate(c.cast("string"), format).isNotNull
}

sealed trait CompareRule
object CompareRule {
  case object Eq extends CompareRule
  case object Lt extends CompareRule
  case object Lte extends CompareRule
  case object Gt extends CompareRule
  case object Gte extends CompareRule
}

/** STRING_LENGTH — count of values whose length ⋈ threshold
  * (ref: BasicStringDFMetrics.scala:454-499). */
final case class StringLengthMetric(id: String, columns: Seq[String],
    lengthValue: Int, rule: CompareRule) extends ConditionalMetric {
  val name = "STRING_LENGTH"
  protected def cond(c: Column): Column = {
    val l = length(c.cast("string"))
    rule match {
      case CompareRule.Eq  => l === lengthValue
      case CompareRule.Lt  => l < lengthValue
      case CompareRule.Lte => l <= lengthValue
      case CompareRule.Gt  => l > lengthValue
      case CompareRule.Gte => l >= lengthValue
    }
  }
}

/** STRING_IN_DOMAIN / STRING_OUT_DOMAIN (ref: :509-576). */
final case class StringDomainMetric(id: String, columns: Seq[String],
    domain: Set[String], outbound: Boolean = false) extends ConditionalMetric {
  val name: String = if (outbound) "STRING_OUT_DOMAIN" else "STRING_IN_DOMAIN"
  protected def cond(c: Column): Column = {
    val in = c.cast("string").isInCollection(domain)
    if (outbound) c.isNotNull && !in else in
  }
}

/** STRING_VALUES — count of cells equal to a constant (ref: :586-615). */
final case class StringValuesMetric(id: String, columns: Seq[String],
    compareValue: String) extends ConditionalMetric {
  val name = "STRING_VALUES"
  protected def cond(c: Column): Column = c.cast("string") === lit(compareValue)
}
