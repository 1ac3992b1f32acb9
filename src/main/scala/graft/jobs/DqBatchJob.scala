package graft.jobs

import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.checks._
import graft.metrics._
import graft.sources.Source
import graft.storage.DqStorage
import graft.util.Concurrently

/** Check-failure tolerance — how check failures affect the job's final
  * status (reference: config enum + dispatch at context/DQJob.scala:279-330,
  * storage/Models.scala:238-245). */
sealed trait Tolerance
object Tolerance {
  /** failures never fail the job. */
  case object None extends Tolerance
  /** only checks marked critical fail the job. */
  case object Critical extends Tolerance
  /** any failed check fails the job. */
  case object All extends Tolerance
}

final case class CheckSpec(check: Check, critical: Boolean = false)

final case class JobResult(
    jobId: String,
    passed: Boolean,
    loadChecks: Seq[CheckResult],
    metrics: Seq[MetricResult],
    checks: Seq[(CheckResult, Boolean)]) // (result, critical)

/** Batch DQ job lifecycle — the reference's processAll pipeline
  * (context/DQJob.scala:590-643) re-expressed: load checks → fused regular
  * metrics per source → trend metrics (storage history) → composed metrics
  * (driver formula) → checks → persist. Only the metric and persist steps
  * touch executors; everything else is driver-side on 1-row results.
  * `checks` holds every [[graft.checks.Check]], snapshot and expression
  * alike; they run in the order given, and so do their results.
  *
  * Concurrency: sources are processed one after another, but within a
  * source the fused row pass and every grouping set's job run at once
  * ([[MetricProcessor.process]]), and the persist step runs `saveMetrics`,
  * `saveMetricErrors`, `saveChecks` and `saveJobState` at once. Both go
  * through [[graft.util.Concurrently]]: at most `defaultParallelism` jobs
  * at a time, each carrying the caller's job group and description, the
  * first failure rethrown once the others have finished. Results keep the
  * sequential order. A [[graft.storage.DqStorage]] must therefore accept
  * concurrent saves.
  *
  * Every run goes through `storage.withinRun`, failed runs included: a
  * storage built from config closes its connection when the last run
  * using it ends, and one the caller passed in stays open.
  *
  * A failed persist is not atomic across the four writes: `run` throws the
  * first failure, but any of the other writes that ran (job state and
  * check rows included, even when `saveMetrics` failed) stay committed, so
  * a retry at the same `referenceTs` appends them a second time.
  */
final class DqBatchJob(
    spark: SparkSession,
    jobId: String,
    sources: Seq[Source],
    loadChecks: Seq[Source => CheckResult] = Nil,
    rowMetrics: Map[String, Seq[RowMetric]] = Map.empty,
    groupingMetrics: Map[String, Seq[GroupingMetric]] = Map.empty,
    composedMetrics: Seq[ComposedMetric] = Nil,
    trendMetrics: Seq[(String, TrendMetrics.Model, TrendMetrics.WindowRule)] = Nil,
    checks: Seq[CheckSpec] = Nil,
    storage: Option[DqStorage] = None,
    tolerance: Tolerance = Tolerance.Critical,
    errorDumpSize: Int = 100,
    caseSensitive: Boolean = false,
    /** config document to persist per run (reference job_state table);
      * sensitive fields pre-encrypted by the config layer. */
    jobState: Option[String] = None,
    /** per-id (description, metadata) annotations stamped onto metric and
      * check results (ref V1.2__add_metadata_column). */
    annotations: Map[String, (Option[String], Option[String])] = Map.empty) {

  def run(referenceTs: Instant = Instant.now()): JobResult = {
    def go = runSteps(referenceTs)
    storage.fold(go)(_.withinRun(go))
  }

  private def runSteps(referenceTs: Instant): JobResult = {
    val srcById = sources.map(s => s.id -> s).toMap

    // 1. load checks (schema-only)
    val loadResults = for (s <- sources; lc <- loadChecks) yield lc(s)

    // 2. regular metrics: ONE fused pass per source + batched grouping jobs
    val regular = srcById.toSeq.sortBy(_._1).flatMap { case (id, src) =>
      val cfg = MetricProcessor.Config(id, src.keyFields, errorDumpSize,
        caseSensitive)
      MetricProcessor.process(src.df,
        rowMetrics.getOrElse(id, Nil), groupingMetrics.getOrElse(id, Nil), cfg)
    }

    // 3. trend metrics from storage history (driver-side)
    val trend = trendMetrics.flatMap { case (metricId, model, rule) =>
      storage.map { st =>
        val hist = st.metricHistory(jobId, metricId, referenceTs)
        TrendMetrics.compute(s"trend_$metricId", model, hist, rule, referenceTs)
      }
    }

    // 4. composed metrics (formula over results; driver-side)
    val base = regular ++ trend
    val composed = composedMetrics.map(_.compute(base).fold(
      err => MetricResult("composed_error", "COMPOSED", "", Nil, Double.NaN, Some(err)),
      identity))
    val allMetrics = (base ++ composed).map { m =>
      annotations.get(m.metricId).fold(m) { case (d, md) =>
        m.copy(description = d, metadata = md) }
    }

    // 5. checks
    val checkResults: Seq[(CheckResult, Boolean)] =
      checks.map { cs =>
        val r = cs.check.run(allMetrics)
        (annotations.get(r.checkId).fold(r) { case (d, md) =>
          r.copy(description = d, metadata = md) }, cs.critical)
      }

    // 6. persist — check results carry their criticality (ref V1.7),
    // capped error dumps become queryable history (ref V1.4)
    // — four independent writes, run at once
    storage.foreach { st =>
      Concurrently(spark)(Seq(
        () => st.saveMetrics(jobId, referenceTs, allMetrics),
        () => st.saveMetricErrors(jobId, referenceTs, allMetrics),
        () => st.saveChecks(jobId, referenceTs,
          loadResults ++ checkResults.map { case (r, crit) =>
            r.copy(critical = crit) })) ++
        jobState.map(cfg => () => st.saveJobState(jobId, referenceTs, cfg)))
    }

    val failedLoad = loadResults.exists(!_.status)
    val passed = !failedLoad && (tolerance match {
      case Tolerance.None => true
      case Tolerance.Critical => !checkResults.exists { case (r, crit) => crit && !r.status }
      case Tolerance.All => checkResults.forall(_._1.status)
    })
    JobResult(jobId, passed, loadResults, allMetrics, checkResults)
  }
}
