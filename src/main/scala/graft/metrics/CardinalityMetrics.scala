package graft.metrics

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.api.top_n_sketch

/** APPROXIMATE_DISTINCT_VALUES — HLL cardinality estimate, single pass.
  * The reference ports Algebird HLL as a custom aggregate
  * (ApproxCardinalityDFMetrics.scala:24-68, HLLCountDistinct.scala:39-151);
  * here it is the DataSketches HLL sketch built into Spark
  * (`hll_sketch_agg`), mergeable and sized by relative standard error through
  * [[HllSketch.lgConfigK]]. The sketch takes only int, long, string and
  * binary input, so every column type goes in as its null-guarded
  * `xxhash64`, which keeps Spark's equality (`-0.0 = 0.0`, one NaN). */
final case class ApproxDistinctMetric(id: String, column: String,
    accuracyError: Double = 0.01) extends RowMetric {
  private val lgK = HllSketch.lgConfigK(accuracyError)
  val name = "APPROXIMATE_DISTINCT_VALUES"
  val columns = Seq(column)
  def result: Column = {
    val c = col(column)
    HllSketch.estimate(when(c.isNotNull, xxhash64(c)), lgK).as(id)
  }
  override def errorCondition: Option[Column] = Some(col(column).isNull)
}

/** APPROXIMATE_SEQUENCE_COMPLETENESS — approx #distinct / expected sequence
  * size ((max-min)/increment + 1), all in ONE fused pass
  * (ref: ApproxCardinalityDFMetrics.scala:81-128). The #distinct is the same
  * HLL sketch as [[ApproxDistinctMetric]], fed the try-cast long directly. */
final case class ApproxSeqCompletenessMetric(id: String, column: String,
    increment: Long = 1L, accuracyError: Double = 0.01) extends RowMetric {
  private val lgK = HllSketch.lgConfigK(accuracyError)
  val name = "APPROXIMATE_SEQUENCE_COMPLETENESS"
  val columns = Seq(column)
  def result: Column = {
    val c = col(column).try_cast("long")
    try_divide(
      HllSketch.estimate(c, lgK),
      (max(c) - min(c)).cast("double") / lit(increment.toDouble) + lit(1.0)).as(id)
  }
}

/** The one distinct-count sketch of the approximate metrics: DataSketches
  * HLL with 2^lgConfigK registers. */
private[metrics] object HllSketch {
  /** lgConfigK = ⌈2·log2(1.04/accuracyError)⌉ clamped to the sketch's 4–21:
    * HLL's standard error is 1.04/√registers, so 0.01 gives 14, the same
    * 2^14 registers HyperLogLog++ picks for that error. Both metrics call it
    * when built, so a config with an error outside (0, 1) fails there. */
  def lgConfigK(accuracyError: Double): Int = {
    require(accuracyError > 0 && accuracyError < 1,
      s"accuracyError must be in (0, 1), got $accuracyError")
    math.ceil(2 * math.log(1.04 / accuracyError) / math.log(2)).toInt.max(4).min(21)
  }

  /** Estimated #distinct non-null values of `c` (int, long, string or
    * binary), as a double; 0 on no rows. */
  def estimate(c: Column, lgK: Int): Column =
    hll_sketch_estimate(hll_sketch_agg(c, lgK)).cast("double")
}

/** TOP_N — approximate top-N most frequent values, single pass over a
  * mergeable frequent-items sketch (ref: ApproxCardinalityDFMetrics.scala:
  * 131-188, SpaceSavingTopN.scala:39-151 → rebuilt on DataSketches in
  * [[graft.functions.TopNSketch]]). Value is the top-1 frequency; the full
  * ranking is serialized into `additional` as `value:freq` pairs. */
final case class TopNMetric(id: String, column: String, n: Int = 10,
    maxCapacity: Int = 1024) extends RowMetric {
  val name = "TOP_N"
  val columns = Seq(column)
  def result: Column = top_n_sketch(col(column).cast("string"), n, maxCapacity).as(id)
  override def decode(raw: Any): (Double, Option[String]) = {
    val items = MetricDecode.topN(raw)
    val top = items.headOption.map(_._2).getOrElse(Double.NaN)
    (top, Some(items.map { case (v, f) => s"$v:$f" }.mkString(",")))
  }
}

/** DISTINCT_VALUES — exact distinct count of the column tuple. Requires a
  * shuffle on the tuple (ref: GroupingDFMetrics.scala:31-100). At 100 TB this
  * is the operator the reference's own benchmark OOMs on with naive state —
  * here it is a plain partial-aggregated groupBy; prefer
  * [[ApproxDistinctMetric]] when an estimate suffices. */
final case class DistinctValuesMetric(id: String, columns: Seq[String]) extends GroupingMetric {
  val name = "DISTINCT_VALUES"
  def groupResult: Column = lit(1L).as(s"${id}_grp")
  /** The all-null tuple is excluded, matching the reference
    * (GroupingDFMetrics.scala:31-100). */
  def finalResult: Column =
    coalesce(sum(when(columns.map(c => col(c).isNotNull).reduce(_ || _),
      col(s"${id}_grp")).otherwise(lit(0L))), lit(0L)).cast("double").as(id)
}

/** DUPLICATE_VALUES — Σ per-group (count − 1)
  * (ref: GroupingDFMetrics.scala:109-170). */
final case class DuplicateValuesMetric(id: String, columns: Seq[String]) extends GroupingMetric {
  val name = "DUPLICATE_VALUES"
  def groupResult: Column = (count(lit(1)) - lit(1L)).as(s"${id}_grp")
  def finalResult: Column = sum(col(s"${id}_grp")).cast("double").as(id)
  override def errorCondition: Option[Column] = Some(col(s"${id}_grp") > 0L)
}

/** SEQUENCE_COMPLETENESS — exact #distinct / ((max-min)/increment + 1)
  * (ref: GroupingDFMetrics.scala:184-269). */
final case class SeqCompletenessMetric(id: String, column: String,
    increment: Long = 1L) extends GroupingMetric {
  val name = "SEQUENCE_COMPLETENESS"
  val columns = Seq(column)
  def groupResult: Column = lit(1L).as(s"${id}_grp")
  def finalResult: Column = {
    val c = col(column).try_cast("long")
    try_divide(
      sum(col(s"${id}_grp")).cast("double"),
      (max(c) - min(c)).cast("double") / lit(increment.toDouble) + lit(1.0)).as(id)
  }
}
