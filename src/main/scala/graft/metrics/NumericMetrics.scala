package graft.metrics

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TryCastDouble

/** MIN_NUMBER / MAX_NUMBER over columns cast to double
  * (ref: BasicNumericDFMetrics.scala:169-252). */
final case class NumberExtremeMetric(id: String, columns: Seq[String],
    isMax: Boolean) extends RowMetric {
  val name: String = if (isMax) "MAX_NUMBER" else "MIN_NUMBER"
  def result: Column = {
    val casts = columns.map(n => TryCastDouble(col(n)))
    val rowExtreme =
      if (casts.size == 1) casts.head
      else if (isMax) greatest(casts: _*)
      else least(casts: _*)
    (if (isMax) max(rowExtreme) else min(rowExtreme)).cast("double").as(id)
  }
}

/** SUM_NUMBER (ref: BasicNumericDFMetrics.scala:260-299). */
final case class SumNumberMetric(id: String, columns: Seq[String]) extends RowMetric {
  val name = "SUM_NUMBER"
  def result: Column =
    sum(columns.map(n => coalesce(TryCastDouble(col(n)), lit(0.0))).reduce(_ + _))
      .cast("double").as(id)
}

/** AVG_NUMBER — single column (ref: :314-352). */
final case class AvgNumberMetric(id: String, column: String) extends RowMetric {
  val name = "AVG_NUMBER"
  val columns = Seq(column)
  def result: Column = avg(TryCastDouble(col(column))).as(id)
}

/** STD_NUMBER — population stddev, single column (ref: :365-403). */
final case class StdNumberMetric(id: String, column: String) extends RowMetric {
  val name = "STD_NUMBER"
  val columns = Seq(column)
  def result: Column = stddev_pop(TryCastDouble(col(column))).as(id)
}

/** CASTED_NUMBER — count of values castable to double (ref: :458-485). */
final case class CastedNumberMetric(id: String, columns: Seq[String]) extends ConditionalMetric {
  val name = "CASTED_NUMBER"
  protected def cond(c: Column): Column = TryCastDouble(c).isNotNull
}

/** FORMATTED_NUMBER — count of numbers that fit (or don't, `outbound`) within
  * decimal(precision, scale). The reference needed a custom codegen'd
  * predicate (CheckNumberFormat.scala:28-112); here the same semantics
  * compose from built-ins that stay in WholeStageCodegen:
  * fits ⇔ |x| < 10^(p-s) ∧ x == round(x, s). */
final case class FormattedNumberMetric(id: String, columns: Seq[String],
    precision: Int, scale: Int, outbound: Boolean = false) extends ConditionalMetric {
  val name = "FORMATTED_NUMBER"
  protected def cond(c: Column): Column = {
    val d = TryCastDouble(c)
    val fits = d.isNotNull &&
      abs(d) < math.pow(10, (precision - scale).toDouble) &&
      d === round(d, scale)
    if (outbound) d.isNotNull && !fits else fits
  }
}

/** NUMBER_IN_DOMAIN / NUMBER_OUT_DOMAIN (ref: :496-563). */
final case class NumberDomainMetric(id: String, columns: Seq[String],
    domain: Set[Double], outbound: Boolean = false) extends ConditionalMetric {
  val name: String = if (outbound) "NUMBER_OUT_DOMAIN" else "NUMBER_IN_DOMAIN"
  protected def cond(c: Column): Column = {
    val in = TryCastDouble(c).isInCollection(domain)
    if (outbound) TryCastDouble(c).isNotNull && !in else in
  }
}

/** NUMBER_VALUES — count of cells equal to a constant (ref: :573-602). */
final case class NumberValuesMetric(id: String, columns: Seq[String],
    compareValue: Double) extends ConditionalMetric {
  val name = "NUMBER_VALUES"
  protected def cond(c: Column): Column = TryCastDouble(c) === lit(compareValue)
}

/** NUMBER_LESS_THAN / NUMBER_GREATER_THAN with inclusive-bound option
  * (ref: BasicNumericDFMetrics.scala:637-688). */
final case class NumberCompareMetric(id: String, columns: Seq[String],
    compareValue: Double, greater: Boolean, includeBound: Boolean = false)
  extends ConditionalMetric {
  val name: String = if (greater) "NUMBER_GREATER_THAN" else "NUMBER_LESS_THAN"
  protected def cond(c: Column): Column = {
    val d = TryCastDouble(c)
    (greater, includeBound) match {
      case (true, true)   => d >= compareValue
      case (true, false)  => d > compareValue
      case (false, true)  => d <= compareValue
      case (false, false) => d < compareValue
    }
  }
}

/** NUMBER_BETWEEN / NUMBER_NOT_BETWEEN, bounds inclusive
  * (ref: BasicNumericDFMetrics.scala:702-772). */
final case class NumberBetweenMetric(id: String, columns: Seq[String],
    lower: Double, upper: Double, negate: Boolean = false) extends ConditionalMetric {
  val name: String = if (negate) "NUMBER_NOT_BETWEEN" else "NUMBER_BETWEEN"
  protected def cond(c: Column): Column = {
    val d = TryCastDouble(c)
    val in = d >= lower && d <= upper
    if (negate) d.isNotNull && !in else in
  }
}

/** MEDIAN_VALUE / FIRST_QUANTILE / THIRD_QUANTILE / GET_QUANTILE.
  * The reference uses a t-digest aggregate (TDigestPercentile.scala:39-144);
  * Spark's built-in `percentile_approx` (Greenwald-Khanna) provides the same
  * capability as a mergeable single-pass sketch — exact whenever the number
  * of distinct values fits in `accuracy` (ref mapping:
  * BasicNumericDFMetrics.scala:15-138). */
final case class QuantileMetric(id: String, column: String, quantile: Double,
    accuracy: Int = 10000) extends RowMetric {
  require(quantile >= 0 && quantile <= 1, s"quantile must be in [0,1]: $quantile")
  val name: String = quantile match {
    case 0.5  => "MEDIAN_VALUE"
    case 0.25 => "FIRST_QUANTILE"
    case 0.75 => "THIRD_QUANTILE"
    case _    => "GET_QUANTILE"
  }
  val columns = Seq(column)
  def result: Column =
    percentile_approx(TryCastDouble(col(column)), lit(quantile), lit(accuracy))
      .cast("double").as(id)
}

/** GET_PERCENTILE — CDF at a value: exact share of non-null values ≤ v.
  * (The reference inverts its t-digest — BasicNumericDFMetrics.scala:150-161;
  * an exact ratio of two fused counters is both cheaper and more precise.) */
final case class PercentileAtValueMetric(id: String, column: String,
    value: Double) extends RowMetric {
  val name = "GET_PERCENTILE"
  val columns = Seq(column)
  def result: Column = {
    val d = TryCastDouble(col(column))
    try_divide(
      sum(when(d <= value, 1L).otherwise(0L)),
      sum(when(d.isNotNull, 1L).otherwise(0L))).cast("double").as(id)
  }
}
