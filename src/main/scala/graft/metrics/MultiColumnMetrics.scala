package graft.metrics

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TryToDate

/** CO_MOMENT / COVARIANCE / COVARIANCE_BESSEL over exactly two columns
  * (ref: MultiColumnDFMetrics.scala:70-246). The reference adds a custom
  * `comoment` aggregate (CoMoment.scala:18-34) returning the unnormalized ck;
  * ck == covar_pop * n, so it composes from two fused built-in aggregates. */
final case class CovarianceMetric(id: String, x: String, y: String,
    kind: CovarianceMetric.Kind) extends RowMetric {
  import CovarianceMetric._
  val name: String = kind match {
    case Kind.CoMoment => "CO_MOMENT"
    case Kind.Population => "COVARIANCE"
    case Kind.Sample => "COVARIANCE_BESSEL"
  }
  val columns = Seq(x, y)
  def result: Column = {
    val cx = col(x).try_cast("double")
    val cy = col(y).try_cast("double")
    kind match {
      case Kind.CoMoment =>
        (covar_pop(cx, cy) * count(when(cx.isNotNull && cy.isNotNull, 1))).as(id)
      case Kind.Population => covar_pop(cx, cy).as(id)
      case Kind.Sample => covar_samp(cx, cy).as(id)
    }
  }
  override def errorCondition: Option[Column] =
    Some(col(x).try_cast("double").isNull || col(y).try_cast("double").isNull)
}
object CovarianceMetric {
  sealed trait Kind
  object Kind {
    case object CoMoment extends Kind
    case object Population extends Kind
    case object Sample extends Kind
  }
}

/** COLUMN_EQ — rows where all columns' string representations are equal
  * (ref: MultiColumnDFMetrics.scala:255-286; fold over sliding pairs). */
final case class ColumnEqMetric(id: String, columns: Seq[String]) extends RowMetric {
  require(columns.size >= 2, "COLUMN_EQ needs at least two columns")
  val name = "COLUMN_EQ"
  private def allEq: Column =
    columns.map(n => col(n).cast("string")).sliding(2)
      .map { case Seq(a, b) => a === b }
      .reduce(_ && _)
  def result: Column =
    sum(when(allEq, 1L).otherwise(0L)).cast("double").as(id)
  override def errorCondition: Option[Column] =
    Some(!coalesce(allEq, lit(false)))
}

/** DAY_DISTANCE — rows where |datediff(a, b)| < threshold days, both parsed
  * to dates with `format` by [[TryToDate]]
  * (ref: MultiColumnDFMetrics.scala:298-329). */
final case class DayDistanceMetric(id: String, a: String, b: String,
    threshold: Int, format: String = "yyyy-MM-dd") extends RowMetric {
  val name = "DAY_DISTANCE"
  val columns = Seq(a, b)
  private def within: Column =
    abs(datediff(TryToDate(col(a).cast("string"), format),
      TryToDate(col(b).cast("string"), format))) < threshold
  def result: Column = sum(when(within, 1L).otherwise(0L)).cast("double").as(id)
  override def errorCondition: Option[Column] = Some(!coalesce(within, lit(false)))
}

/** LEVENSHTEIN_DISTANCE — rows with (optionally length-normalized) edit
  * distance below threshold; case-insensitive comparison
  * (ref: MultiColumnDFMetrics.scala:340-385). */
final case class LevenshteinMetric(id: String, a: String, b: String,
    threshold: Double, normalized: Boolean = false) extends RowMetric {
  require(!normalized || (threshold >= 0 && threshold <= 1),
    "normalized levenshtein threshold must be within [0, 1]")
  val name = "LEVENSHTEIN_DISTANCE"
  val columns = Seq(a, b)
  private def dist: Column = {
    val ca = upper(col(a).cast("string"))
    val cb = upper(col(b).cast("string"))
    val raw = levenshtein(ca, cb).cast("double")
    if (normalized) raw / greatest(length(ca), length(cb)).cast("double") else raw
  }
  private def within: Column = dist < threshold
  def result: Column = sum(when(within, 1L).otherwise(0L)).cast("double").as(id)
  override def errorCondition: Option[Column] = Some(!coalesce(within, lit(false)))
}
