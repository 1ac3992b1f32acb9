package graft.storage

import java.time.Instant

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.checks.CheckResult
import graft.metrics.{HistoryPoint, MetricResult}

/** DQ-results storage: append-only result tables keyed by
  * (job_id, metric_id/check_id, reference_ts) + history read-back for trend
  * metrics/checks (reference model: core/storage/Models.scala:57-165,
  * history fetch: storage/Managers.scala:105-128).
  *
  * Backed here by parquet tables (production target: any catalog table —
  * the schema mirrors the reference's Slick model). History reads filter on
  * (metric_id, reference_ts) which partition pruning and predicate pushdown
  * keep cheap regardless of total history size.
  *
  * Thread safety: implementations must accept concurrent calls from
  * different threads. [[graft.jobs.DqBatchJob]] runs `saveMetrics`,
  * `saveMetricErrors`, `saveChecks` and `saveJobState` of one run at once.
  */
trait DqStorage {
  def saveMetrics(jobId: String, referenceTs: Instant, results: Seq[MetricResult]): Unit
  def saveChecks(jobId: String, referenceTs: Instant, checks: Seq[CheckResult]): Unit
  /** Historical values of one metric, oldest→newest, strictly before `before`. */
  def metricHistory(jobId: String, metricId: String, before: Instant): Seq[HistoryPoint]
  /** Persist the capped per-metric error dumps (ref results_metric_error
    * table, V1.4__add_metric_errors: failing-row payloads become queryable
    * history, deduped by row hash). Bounded by errorDumpSize per metric, so
    * O(#metrics × dumpSize) rows per run. */
  def saveMetricErrors(jobId: String, referenceTs: Instant,
      results: Seq[MetricResult]): Unit
  /** Stored error row-payloads of one metric, strictly before `before`. */
  def metricErrors(jobId: String, metricId: String, before: Instant): Seq[String]
  /** Persist the run's job configuration (the reference's job_state table,
    * db/specific/&lt;vendor&gt;/V1.1__create_job_state.sql; sensitive fields
    * already encrypted by the caller when an encryption secret is
    * configured). */
  def saveJobState(jobId: String, referenceTs: Instant, config: String): Unit
  /** The most recent stored config at-or-before `at`, if any. */
  def latestJobState(jobId: String, at: Instant): Option[String]
  /** Runs `body`, one job run's use of this storage. A storage the caller
    * built and passed in stays open (this default); one built from config
    * ([[RunScopedStorage]]) closes what it opened when the last run that
    * uses it ends. */
  def withinRun[T](body: => T): T = body
}

/** A storage built from config: `open` builds the real one at once, so a
  * bad location fails when the job is built, and again on the first call
  * after the runs ended. When the last of the runs in [[withinRun]] ends it
  * is closed, so a long-lived host (the API server, a driver running many
  * jobs) holds no JDBC connection between runs, and two runs of one job at
  * once share one connection. */
private[graft] final class RunScopedStorage(open: () => DqStorage) extends DqStorage {
  private var current: Option[DqStorage] = Some(open())
  private var runs = 0

  private def st: DqStorage = synchronized {
    current.getOrElse { val s = open(); current = Some(s); s }
  }

  private[graft] def isOpen: Boolean = synchronized(current.isDefined)

  override def withinRun[T](body: => T): T = {
    synchronized(runs += 1)
    try body
    finally synchronized {
      runs -= 1
      if (runs == 0) {
        current.foreach { case c: AutoCloseable => c.close(); case _ => }
        current = None
      }
    }
  }

  def saveMetrics(jobId: String, referenceTs: Instant, results: Seq[MetricResult]): Unit =
    st.saveMetrics(jobId, referenceTs, results)
  def saveChecks(jobId: String, referenceTs: Instant, checks: Seq[CheckResult]): Unit =
    st.saveChecks(jobId, referenceTs, checks)
  def metricHistory(jobId: String, metricId: String, before: Instant): Seq[HistoryPoint] =
    st.metricHistory(jobId, metricId, before)
  def saveMetricErrors(jobId: String, referenceTs: Instant, results: Seq[MetricResult]): Unit =
    st.saveMetricErrors(jobId, referenceTs, results)
  def metricErrors(jobId: String, metricId: String, before: Instant): Seq[String] =
    st.metricErrors(jobId, metricId, before)
  def saveJobState(jobId: String, referenceTs: Instant, config: String): Unit =
    st.saveJobState(jobId, referenceTs, config)
  def latestJobState(jobId: String, at: Instant): Option[String] =
    st.latestJobState(jobId, at)
}

/** Each save writes its rows as ONE parquet file (`coalesce(1)`): the rows
  * of a run are few (O(#metrics × errorDumpSize) at most), and a local
  * relation split `defaultParallelism` ways would leave that many files
  * per table per run for every later history read to list. */
final class ParquetDqStorage(spark: SparkSession, baseDir: String) extends DqStorage {
  import spark.implicits._

  private val metricsDir = s"$baseDir/results_metrics"
  private val checksDir = s"$baseDir/results_checks"
  private val jobStateDir = s"$baseDir/job_state"
  private val errorsDir = s"$baseDir/results_metric_errors"

  /** nothing-written-yet probe through the Hadoop filesystem of the path's
    * OWN scheme — `java.io.File` is always false for hdfs://, s3a:// etc.,
    * which would make every stored row silently invisible to reads on the
    * normal production locations for a parquet backend. */
  private def pathExists(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  override def saveMetrics(jobId: String, referenceTs: Instant,
      results: Seq[MetricResult]): Unit =
    results.map(r => (jobId, r.metricId, r.metricName, r.sourceId,
      r.columns.mkString(","), r.value, r.additional.getOrElse(""),
      java.sql.Timestamp.from(referenceTs), r.description, r.metadata))
      .toDF("job_id", "metric_id", "metric_name", "source_id", "columns",
        "result", "additional_result", "reference_ts", "description",
        "metadata")
      .coalesce(1).write.mode(SaveMode.Append).parquet(metricsDir)

  override def saveChecks(jobId: String, referenceTs: Instant,
      checks: Seq[CheckResult]): Unit =
    checks.map(c => (jobId, c.checkId, c.checkName, c.baseMetric,
      if (c.status) "Success" else "Failure", c.message, c.critical,
      java.sql.Timestamp.from(referenceTs), c.description, c.metadata))
      .toDF("job_id", "check_id", "check_name", "base_metric", "status",
        "message", "is_critical", "reference_ts", "description", "metadata")
      .coalesce(1).write.mode(SaveMode.Append).parquet(checksDir)

  override def metricHistory(jobId: String, metricId: String,
      before: Instant): Seq[HistoryPoint] =
    if (!pathExists(metricsDir)) Nil
    else spark.read.parquet(metricsDir)
      .filter(col("job_id") === jobId && col("metric_id") === metricId &&
        col("reference_ts") < lit(java.sql.Timestamp.from(before)))
      .select(col("reference_ts"), col("result"))
      .orderBy(col("reference_ts"))
      .collect()
      .map(r => HistoryPoint(r.getTimestamp(0).toInstant, r.getDouble(1)))
      .toSeq

  override def saveMetricErrors(jobId: String, referenceTs: Instant,
      results: Seq[MetricResult]): Unit = {
    val rows = results.flatMap(r => r.errors.distinct.map(row =>
      (jobId, r.metricId, row.mkString("[", ",", "]"),
        (row.hashCode.toLong & 0xffffffffL).toString,
        java.sql.Timestamp.from(referenceTs))))
    if (rows.nonEmpty)
      rows.toDF("job_id", "metric_id", "row_data", "error_hash", "reference_ts")
        .coalesce(1).write.mode(SaveMode.Append).parquet(errorsDir)
  }

  override def metricErrors(jobId: String, metricId: String,
      before: Instant): Seq[String] =
    if (!pathExists(errorsDir)) Nil
    else spark.read.parquet(errorsDir)
      .filter(col("job_id") === jobId && col("metric_id") === metricId &&
        col("reference_ts") < lit(java.sql.Timestamp.from(before)))
      .orderBy(col("reference_ts"), col("row_data"))
      .select(col("row_data"))
      .collect().map(_.getString(0)).toSeq

  override def saveJobState(jobId: String, referenceTs: Instant,
      config: String): Unit =
    Seq((jobId, config, java.sql.Timestamp.from(referenceTs),
      java.sql.Timestamp.from(Instant.now())))
      .toDF("job_id", "config", "reference_ts", "execution_ts")
      .coalesce(1).write.mode(SaveMode.Append).parquet(jobStateDir)

  override def latestJobState(jobId: String, at: Instant): Option[String] =
    if (!pathExists(jobStateDir)) None
    else spark.read.parquet(jobStateDir)
      .filter(col("job_id") === jobId &&
        col("reference_ts") <= lit(java.sql.Timestamp.from(at)))
      .orderBy(col("reference_ts").desc, col("execution_ts").desc)
      .select(col("config"))
      .limit(1).collect().headOption.map(_.getString(0))
}
