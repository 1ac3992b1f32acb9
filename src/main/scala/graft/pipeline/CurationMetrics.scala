package graft.pipeline

import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.metrics.MetricResult
import graft.storage.DqStorage

/** Bridges the curation pipeline into the Checkita DQ-storage model: a
  * curation run publishes its health numbers (keep rate, per-reason drop
  * counts, per-group corpus stats) as ordinary [[MetricResult]] rows, so
  * EVERYTHING the DQ half of this library already does — storage history,
  * trend checks (AVERAGE_BOUND over past runs), alert targets, the REST
  * history API — applies to corpus-curation monitoring with zero new
  * machinery. A keep-rate collapse on today's crawl fails the same
  * AVERAGE_BOUND check that would catch a row-count collapse in a DQ job
  * (the reference's own anomaly-detection model, SURVEY §2.5/§2.7).
  */
object CurationMetrics {

  /** One fused aggregate over a verdict frame (QualityFilter.verdicts
    * schema) → files / kept / keep_rate / per-reason drop counts. All
    * sums are conditional counts in ONE pass — no explode, no extra
    * shuffle beyond the single final aggregate. */
  def verdictResults(verdicts: DataFrame, sourceId: String): Seq[MetricResult] = {
    // coalesce: sum over an EMPTY frame is null, and a curation run over
    // zero files must publish zeros, not NPE
    val reasonCols = QualityFilter.dropReasonNames.map(r =>
      coalesce(sum(when(array_contains(col("drop_reasons"), r), 1L)
        .otherwise(0L)), lit(0L)).as(s"drop_$r"))
    val aggs = Seq(
      count(lit(1)).as("files"),
      coalesce(sum(when(col("keep"), 1L).otherwise(0L)), lit(0L))
        .as("kept")) ++ reasonCols
    val row = verdicts.agg(aggs.head, aggs.tail: _*).head
    val files = row.getLong(0)
    val kept = row.getLong(1)
    val base = Seq(
      MetricResult("curation_files", "ROW_COUNT", sourceId, Nil, files.toDouble),
      MetricResult("curation_kept", "ROW_COUNT", sourceId, Nil, kept.toDouble),
      MetricResult("curation_keep_rate", "KEEP_RATE", sourceId, Nil,
        if (files == 0) 0.0 else kept.toDouble / files))
    val reasons = QualityFilter.dropReasonNames.zipWithIndex.map {
      case (r, i) =>
        MetricResult(s"curation_drop_$r", "DROP_COUNT", sourceId, Nil,
          row.getLong(2 + i).toDouble)
    }
    base ++ reasons
  }

  /** Publishes a run's metrics through any [[DqStorage]] backend. */
  def publish(storage: DqStorage, jobId: String, referenceTs: Instant,
      results: Seq[MetricResult]): Unit =
    storage.saveMetrics(jobId, referenceTs, results)
}
