package graft.metrics

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData

/** One computed metric.
  *
  * Mirrors the reference's result model — every calculator yields a Double
  * plus an optional `additional` payload and a capped dump of failing rows
  * (reference: checkita-core .../metrics/rdd/RDDMetricCalculator.scala:50-54,
  * .../storage/Models.scala:57-165).
  */
final case class MetricResult(
    metricId: String,
    metricName: String,
    sourceId: String,
    columns: Seq[String],
    value: Double,
    additional: Option[String] = None,
    errors: Seq[Seq[String]] = Nil,
    /** user-supplied annotation stored with the result (ref
      * V1.2__add_metadata_column: description + metadata on every result
      * row). */
    description: Option[String] = None,
    metadata: Option[String] = None)

/** A single-pass metric over a DataFrame.
  *
  * Contract (reference: .../metrics/df/DFMetricCalculator.scala:60-139,
  * re-expressed Spark-first): the metric contributes
  *  - `result`: ONE aggregate `Column` — all metrics for a source are fused
  *    into a single `df.select(m1.result, m2.result, ...)` so Spark performs
  *    exactly one scan and one partial+final aggregate regardless of how
  *    many metrics are requested;
  *  - `errorCondition`: an optional per-row predicate; matching rows' key
  *    fields + metric columns are collected via the bounded
  *    `collect_list_limit` aggregate (never an unbounded collect).
  *
  * The aggregate is a code-generated HashAggregate only while every metric
  * is declarative. Once an error dump or a sketch (HLL, quantiles, TOP_N)
  * joins, it is an ObjectHashAggregate, which has no whole-stage code: the
  * declarative updates still run through one generated projection, but the
  * inputs of the dumps and sketches (a dump's condition and payload, a
  * sketch's value) are evaluated interpreted, row by row, through
  * `Expression.eval`. A per-row kernel such as `TryCastDouble` or
  * `TryToDate` therefore needs an `eval` as cheap as its generated code,
  * or it runs at interpreted speed in exactly the metrics that dump.
  * Identical aggregate expressions are computed once, so metrics that can
  * share a sketch build the same one (see [[QuantileMetric]]).
  */
trait RowMetric extends Serializable {
  /** Unique id of this metric instance (user-assigned). */
  def id: String
  /** Metric kind name, e.g. "NULL_VALUES". */
  def name: String
  /** Columns this metric reads (drives column pruning + error dumps). */
  def columns: Seq[String]
  /** The fused aggregate expression producing the metric value. */
  def result: Column
  /** Per-row failure predicate; None = this metric never dumps error rows. */
  def errorCondition: Option[Column] = None
  /** Decode the collected aggregate cell into (value, additional). */
  def decode(raw: Any): (Double, Option[String]) = raw match {
    case null => (Double.NaN, None)
    case n: java.lang.Number => (n.doubleValue(), None)
    case other => (other.toString.toDouble, None)
  }
}

/** A metric that needs a shuffle: per-group aggregate, then an aggregate over
  * groups (reference: .../metrics/df/GroupingDFMetricCalculator.scala:25-139).
  * Metrics sharing the same `columns` are batched into one shuffle.
  */
trait GroupingMetric extends Serializable {
  def id: String
  def name: String
  /** Grouping columns. */
  def columns: Seq[String]
  /** Aggregate computed per group (stage 1, after the shuffle). */
  def groupResult: Column
  /** Aggregate over the per-group rows (stage 2) producing the metric value. */
  def finalResult: Column
  /** Per-group failure predicate evaluated on stage-1 output. */
  def errorCondition: Option[Column] = None
  def decode(raw: Any): (Double, Option[String]) = raw match {
    case null => (Double.NaN, None)
    case n: java.lang.Number => (n.doubleValue(), None)
    case other => (other.toString.toDouble, None)
  }
}

object MetricDecode {
  /** Decode an `array<struct<value:string,frequency:double>>` cell (TopN). */
  def topN(raw: Any): Seq[(String, Double)] = raw match {
    case null => Nil
    case a: ArrayData =>
      (0 until a.numElements()).map { i =>
        val r = a.getStruct(i, 2)
        (r.getUTF8String(0).toString, r.getDouble(1))
      }
    case s: scala.collection.Seq[_] =>
      s.map { case r: org.apache.spark.sql.Row =>
        (r.getString(0), r.getDouble(1))
      }.toSeq
    case other => sys.error(s"unexpected TopN payload: $other")
  }
}
