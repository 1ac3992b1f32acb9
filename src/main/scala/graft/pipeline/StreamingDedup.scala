package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.IncrementalDedup

/** Online near-duplicate GATING: a continuous ingestion stream where each
  * micro-batch dedups against the accepted-corpus signature index AND
  * itself, then the survivors join the index — the streaming composition
  * of [[graft.operators.IncrementalDedup]] (batch-delta dedup) and
  * [[StreamingRun]] (replay-idempotent micro-batch stores).
  *
  * Admission policy (standard dedup-on-ingest semantics): a document is
  * REJECTED iff it near-dups an already-ACCEPTED document — an index
  * member, or a smaller-id peer of its own batch. Rejected documents do
  * not recruit (a doc similar only to a rejected doc is admitted); this
  * is deliberately the online policy, not connected-components over
  * all-time arrivals — the gate never has to revisit rejected content,
  * which is what makes it O(batch) per batch instead of O(corpus).
  * Decisions are pure functions of (index state, batch content), so a
  * crash-replayed batch reproduces them exactly, and both its store
  * partition and its index partition are `batch=<id>`-scoped overwrites —
  * idempotent end to end.
  *
  * Scale shape per batch: one map-only signature pass over the batch, ONE
  * candidate shuffle against the (id, band) index scan, exact
  * verification, and two partition-scoped writes. Corpus content is never
  * re-read; corpus CPU is never re-spent (IncrementalDedup's contract).
  */
object StreamingDedup {

  /** Starts the gate. The index at `indexDir` must exist in streaming
    * layout ([[IncrementalDedup.initIndex]]). */
  def start(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      indexDir: String,
      storeDir: String,
      checkpointDir: String,
      tau: Double = 0.7,
      maxFilesPerTrigger: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(inputDir).writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, indexDir, storeDir, tau)
      }
      .start()
  }

  /** One gate decision + write cycle (exposed for the replay spec). */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexDir: String, storeDir: String,
      tau: Double): Unit =
    graft.util.CacheScope.withScope(batch.sparkSession) {
      val b = graft.util.CacheScope.persist(batch)
      val pairs = IncrementalDedup.pairsAgainstIndex(b, idCol, textCol,
        indexDir, tau)
      // (doc, partner) in both directions, restricted to batch docs
      val touching = pairs.select(col("a").as("doc"), col("b").as("partner"))
        .unionByName(pairs.select(col("b").as("doc"), col("a").as("partner")))
      val bids = b.select(col(idCol).as("doc")).withColumn("inb", lit(true))
      val rejected = touching
        .join(bids, Seq("doc"))
        .join(bids.select(col("doc").as("partner"), col("inb").as("pinb")),
          Seq("partner"), "left")
        // partner already accepted: an index member (not in this batch),
        // or a smaller-id batch peer
        .filter(col("pinb").isNull || col("partner") < col("doc"))
        .select(col("doc"), col("partner"))
      val rejectedIds = rejected.select(col("doc").as(idCol)).distinct()
      val accepted = b.join(rejectedIds, Seq(idCol), "left_anti")

      accepted.write.mode(SaveMode.Overwrite)
        .parquet(s"$storeDir/accepted/batch=$batchId")
      rejected.select(col("doc").as(idCol), col("partner"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$storeDir/rejected/batch=$batchId")
      IncrementalDedup.appendBatchToIndex(accepted, idCol, textCol,
        indexDir, batchId.toString)
    }

  def readAccepted(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.option("basePath", s"$storeDir/accepted")
      .parquet(s"$storeDir/accepted/batch=*")

  def readRejected(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.option("basePath", s"$storeDir/rejected")
      .parquet(s"$storeDir/rejected/batch=*")
}
