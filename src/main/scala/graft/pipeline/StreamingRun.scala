package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming twin of [[ResumableRun]]: the same fused per-row
  * scoring plan (stateless, so it lifts onto a streaming frame unchanged —
  * spec-asserted bit-identical to batch), driven by micro-batches over an
  * arriving file corpus. Where the batch job resumes at PARTITION
  * granularity from its own lineage table, the streaming job resumes at
  * SOURCE granularity from the Structured Streaming checkpoint (processed
  * files are never re-read after a restart — the reference's streaming
  * buffer-checkpoint idea, core/streaming/Checkpoints.scala:25-47, mapped
  * onto the engine's native offset log).
  *
  * Exactly-once store semantics under batch REPLAY (a crash after the
  * checkpoint commit of batch N-1 but before/during the write of batch N
  * re-runs batch N): every batch writes to its own `batch_id=N` directory
  * with overwrite — a replayed batch rewrites the same directory with the
  * same deterministic rows, so the union over directories is idempotent.
  * The salted repartition before the write is the same mega-repo skew
  * guard as the batch store ([[ParquetCorpusStore.writeVerdicts]]).
  *
  * Lineage mirrors the batch model per micro-batch: one bounded row per
  * (batch_id, partition_id) with the full drop-reason counts — so a
  * monitoring query over `lineage/` sees the stream as a sequence of small
  * resumable batch jobs, which is exactly what it is.
  */
object StreamingRun {

  /** Starts the streaming pipeline. Caller owns the returned query
    * (`processAllAvailable`/`awaitTermination`/`stop`).
    *
    * @param maxFilesPerTrigger bound on source files per micro-batch — the
    *   knob that keeps a backlogged restart from one giant catch-up batch. */
  def start(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      cfg: FilterConfig,
      storeDir: String,
      jobId: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      saltBuckets: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val verdicts = QualityFilter.verdicts(reader.parquet(inputDir), cfg)
    verdicts.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, storeDir, jobId, saltBuckets)
      }
      .start()
  }

  /** Idempotent per-batch store write (exposed for the replay spec). */
  def writeBatch(batch: DataFrame, batchId: Long, storeDir: String,
      jobId: String, saltBuckets: Int = 16): Unit =
    graft.util.CacheScope.withScope(batch.sparkSession) {
      val v = graft.util.CacheScope.persist(batch)
      v.repartition(col("partition_id"),
          pmod(xxhash64(col("path")), lit(saltBuckets.toLong)))
        .write
        .partitionBy("partition_id")
        .mode(SaveMode.Overwrite)
        .parquet(s"$storeDir/verdicts/batch_id=$batchId")
      // batch_id lives in the directory name (recovered by the basePath
      // read), not in the file — a data column shadowing the partition
      // column would make the partitioned read ambiguous
      QualityFilter.partitionLineage(v, jobId)
        .withColumn("execution_ts", current_timestamp())
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$storeDir/lineage/batch_id=$batchId")
    }

  /** Union of all batch directories (batch_id recovered from the path). */
  def readVerdicts(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.option("basePath", s"$storeDir/verdicts")
      .parquet(s"$storeDir/verdicts/batch_id=*")

  def readLineage(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.option("basePath", s"$storeDir/lineage")
      .parquet(s"$storeDir/lineage/batch_id=*")
}
