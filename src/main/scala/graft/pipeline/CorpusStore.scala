package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage behind the pipeline: verdicts + lineage tables, resume bookkeeping.
  *
  * Abstracted as a trait (SURVEY §7.4): production target is an Iceberg
  * catalog (`PARTITIONED BY bucket(N, repo)` with atomic append); this
  * sandbox ships a parquet implementation with the same layout —
  * `partition_id=`-partitioned verdict files + an append-only lineage table.
  * Idempotence at partition granularity comes from dynamic partition
  * overwrite: re-processing a partition replaces exactly its directory.
  */
trait CorpusStore {
  def writeVerdicts(v: DataFrame): Unit
  def appendLineage(l: DataFrame): Unit
  def completedPartitions(spark: SparkSession, jobId: String): Set[Int]
  def readVerdicts(spark: SparkSession): DataFrame
  def readLineage(spark: SparkSession): DataFrame
}

final class ParquetCorpusStore(baseDir: String, saltBuckets: Int = 16)
  extends CorpusStore {

  private val verdictsDir = s"$baseDir/verdicts"
  private val lineageDir = s"$baseDir/lineage"

  override def writeVerdicts(v: DataFrame): Unit = {
    // spread any mega-repo partition over salt buckets so one skewed repo
    // never pins a single write task (SURVEY §7.2 step 8)
    v.repartition(col("partition_id"),
        pmod(xxhash64(col("path")), lit(saltBuckets.toLong)))
      .write
      .partitionBy("partition_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(verdictsDir)
  }

  override def appendLineage(l: DataFrame): Unit =
    l.write.mode(SaveMode.Append).parquet(lineageDir)

  /** no-lineage-yet probe through the Hadoop filesystem of the path's own
    * scheme: `java.io.File` is always false for hdfs://, s3a:// — on the
    * production store that would make EVERY restart read "nothing done"
    * and re-run the full corpus, silently defeating resume. */
  private def lineageExists(spark: SparkSession): Boolean = {
    val p = new org.apache.hadoop.fs.Path(lineageDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  override def completedPartitions(spark: SparkSession, jobId: String): Set[Int] =
    if (!lineageExists(spark)) Set.empty
    else readLineage(spark)
      .filter(col("job_id") === jobId && col("stage") === "verdict")
      .select("partition_id").distinct().collect()
      .map(_.getInt(0)).toSet

  override def readVerdicts(spark: SparkSession): DataFrame =
    spark.read.parquet(verdictsDir)

  override def readLineage(spark: SparkSession): DataFrame =
    spark.read.parquet(lineageDir)
}

final case class RunReport(
    jobId: String,
    partitionsSkipped: Int,
    partitionsProcessed: Long,
    rowsIn: Long,
    rowsKept: Long)

/** Checkpoint-resumable batch job (north_rule "resumable from checkpoint with
  * per-partition lineage + metrics"; replaces the reference's streaming
  * buffer checkpoints, core/streaming/Checkpoints.scala:25-47, with
  * batch-native bookkeeping). */
object ResumableRun {

  def run(
      spark: SparkSession,
      input: DataFrame,
      cfg: FilterConfig,
      store: CorpusStore,
      jobId: String): RunReport = {

    val done = store.completedPartitions(spark, jobId)
    val withPid = input.withColumn("partition_id",
      QualityFilter.partitionId(cfg.numPartitions))
    // completed set is bounded by numPartitions → always a literal pushdown
    // filter (partition pruning when the input is bucket-partitioned)
    val pending =
      if (done.isEmpty) withPid
      else withPid.filter(!col("partition_id").isInCollection(done.map(Integer.valueOf)))

    writeAndReport(spark, store, jobId, partitionsSkipped = done.size)(
      QualityFilter.verdicts(pending.drop("partition_id"), cfg))
  }

  /** Full pipeline INCLUDING corpus-level near-dup removal. Near-dup
    * clusters span hash partitions by construction, so this stage is
    * corpus-global and does NOT resume partition-wise (re-run it whole;
    * the per-file stage above is the partition-resumable one). */
  def runWithDedup(
      spark: SparkSession,
      input: DataFrame,
      cfg: FilterConfig,
      store: CorpusStore,
      jobId: String): RunReport =
    writeAndReport(spark, store, jobId, partitionsSkipped = 0)(
      QualityFilter.verdictsWithDedup(input, cfg))

  /** Builds `verdicts`, writes them and their lineage, and reports. Every
    * cache the build creates internally — the scoring projection, dedup
    * shingle frames, CC iteration snapshots — and the verdict cache itself
    * are released after the store write ([[graft.util.CacheScope]]), so a
    * long-running job's executor storage stays bounded by the run, not the
    * session. */
  private def writeAndReport(spark: SparkSession, store: CorpusStore,
      jobId: String, partitionsSkipped: Int)(verdicts: => DataFrame): RunReport =
    graft.util.CacheScope.withScope(spark) {
      val v = graft.util.CacheScope.persist(verdicts)
      store.writeVerdicts(v)
      store.appendLineage(QualityFilter.partitionLineage(v, jobId)
        .withColumn("execution_ts", current_timestamp()))
      val stats = v.agg(
        count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L)),
        countDistinct(col("partition_id"))).collect().head
      RunReport(jobId, partitionsSkipped,
        if (stats.isNullAt(2)) 0L else stats.getLong(2),
        stats.getLong(0),
        if (stats.isNullAt(1)) 0L else stats.getLong(1))
    }
}
