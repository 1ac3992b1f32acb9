package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorTextExprs.{min_hash_bands, shingle_hashes}

/** Incremental (delta-vs-index) near-duplicate detection.
  *
  * The corpus-global dedup stage is the one part of the pipeline that does
  * NOT resume partition-wise ([[graft.pipeline.ResumableRun.runWithDedup]]):
  * near-dup clusters span hash partitions, so round 1..3 re-ran it over the
  * whole corpus whenever anything changed. At 10^12 files the realistic
  * operating mode is a standing corpus plus daily delta batches — re-shingling
  * and re-banding the full corpus per batch multiplies the dominant scan cost
  * by the batch count.
  *
  * This operator persists a MinHash **signature index** of the accepted
  * corpus and dedups each delta batch against corpus+self WITHOUT touching
  * corpus content again:
  *
  *  - `docs/`  — one row per indexed doc: `(id, sz, sh, sig)` — the sorted
  *    distinct shingle hashes (exact-verification evidence), their count and
  *    the 64-hash estimate signature. Byte-wise this is the same order as
  *    the content the reference's dedup would rescan, but it is read only by
  *    the verify join (candidate ids), never re-shingled — the CPU-heavy
  *    tokenize+hash pass runs exactly once per document per corpus lifetime.
  *  - `bands/` — exploded `(id, band)` LSH band keys, 16 bytes a row. This
  *    is the only index side the candidate stage reads; at 100 TB it is
  *    ~0.1% of corpus bytes.
  *  - `meta/`  — 1-row parquet pinning (n, bands, rows) so a delta batch can
  *    never be banded with parameters different from the index it joins
  *    (mixed-parameter joins silently find nothing).
  *
  * Candidate generation is ONE shuffle: delta band keys (map-only from the
  * delta scan) union the index band scan, group by band with the same
  * capped-collect explosion backstop as [[Dedup.minHashLshPairsCounted]],
  * and pairs must include >= 1 delta member. Because the grouped band set is
  * exactly the full corpus∪delta band set, the candidate set — and after
  * exact verification the result — EQUALS the full-corpus run's pairs
  * restricted to pairs touching the delta (spec-asserted), while reading
  * zero corpus content and spending zero corpus CPU.
  *
  * Production layout note: store `docs/` bucketed by id and `bands/` by band
  * (Iceberg `bucket(N, …)` partition transform) and the index side of both
  * joins pre-shuffles once at write time instead of per batch; the parquet
  * dirs here keep the same layout minus the metastore (the shuffle-free
  * bucketed-join plan shape is gated in BucketedJoinSpec on real tables).
  *
  * Reference behavior grafted: Checkita's RESUMABLE DQ-storage model
  * (checkita-core storage/Managers.scala — append-only result tables keyed
  * by job) re-expressed for dedup state instead of metric results.
  */
object IncrementalDedup {

  private def docsDir(dir: String) = s"$dir/docs"
  private def bandsDir(dir: String) = s"$dir/bands"
  private def metaDir(dir: String) = s"$dir/meta"

  /** One map-only pass over `df`: shingle set + size + estimate signature
    * (same seeds/columns as [[Dedup.shingled]], so index rows verify
    * identically to an in-corpus run) + LSH band keys. */
  private def signatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rows: Int): DataFrame =
    df.select(col(idCol).as("id"), shingle_hashes(col(textCol), n).as("sh"))
      .withColumn("sz", size(col("sh")))
      .withColumn("sig", min_hash_bands(col("sh"), 64, 1, seed = 77L))
      .withColumn("bands", min_hash_bands(col("sh"), bands, rows))

  /** Build (overwrite) the signature index for `df` at `dir`. */
  def writeIndex(df: DataFrame, idCol: String, textCol: String, dir: String,
      n: Int = 3, bands: Int = 32, rows: Int = 5): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, bands, rows)).toDF("n", "bands", "rows")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(metaDir(dir))
    writeSignatures(df, idCol, textCol, dir, n, bands, rows, SaveMode.Overwrite)
  }

  /** Append a (deduplicated, accepted) batch to an existing index so the
    * NEXT batch also dedups against it. Banding parameters come from the
    * index's own metadata — an appended batch can never drift. */
  def appendToIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val (n, bands, rows) = readMeta(df.sparkSession, dir)
    writeSignatures(df, idCol, textCol, dir, n, bands, rows, SaveMode.Append)
  }

  /** Streaming-friendly index init: metadata + EMPTY seed partitions under
    * `batch=init`, so [[pairsAgainstIndex]] reads a well-formed (if empty)
    * index before the first batch lands. A streaming index uses ONLY the
    * batch-scoped writes below (never [[appendToIndex]]'s flat appends —
    * parquet partition discovery rejects mixed layouts). */
  def initIndex(spark: SparkSession, dir: String, idType: org.apache.spark.sql.types.DataType,
      n: Int = 3, bands: Int = 32, rows: Int = 5): Unit = {
    import spark.implicits._
    Seq((n, bands, rows)).toDF("n", "bands", "rows")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(metaDir(dir))
    // repartition(1): an empty 0-partition frame writes no part file at
    // all (just _SUCCESS), leaving the seed dir schema-less and unreadable
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("id", idType, nullable = false)
        .add("text", org.apache.spark.sql.types.StringType))
      .repartition(1)
    writeSignatures(empty, "id", "text", dir, n, bands, rows,
      SaveMode.Overwrite, subdir = Some("init"))
  }

  /** Append a batch to a streaming-layout index IDEMPOTENTLY: the batch's
    * signatures land under `batch=<tag>` with overwrite, so a crash-replay
    * of the same micro-batch rewrites its own partition instead of
    * double-appending (the [[graft.pipeline.StreamingRun]] store
    * contract, applied to dedup state). */
  def appendBatchToIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, batchTag: String): Unit = {
    val (n, bands, rows) = readMeta(df.sparkSession, dir)
    writeSignatures(df, idCol, textCol, dir, n, bands, rows,
      SaveMode.Overwrite, subdir = Some(batchTag))
  }

  private def writeSignatures(df: DataFrame, idCol: String, textCol: String,
      dir: String, n: Int, bands: Int, rows: Int, mode: SaveMode,
      subdir: Option[String] = None): Unit =
    graft.util.CacheScope.withScope(df.sparkSession) {
      // persist: the signature pass feeds two writes (docs + bands); without
      // it the shingle+minhash CPU — the expensive part — would run twice
      val sigs = graft.util.CacheScope.persist(
        signatures(df, idCol, textCol, n, bands, rows))
      val suffix = subdir.map(t => s"/batch=$t").getOrElse("")
      sigs.select("id", "sz", "sh", "sig")
        .write.mode(mode).parquet(docsDir(dir) + suffix)
      sigs.select(col("id"), explode(col("bands")).as("band"))
        .write.mode(mode).parquet(bandsDir(dir) + suffix)
    }

  private def readMeta(spark: SparkSession, dir: String): (Int, Int, Int) = {
    val r = spark.read.parquet(metaDir(dir)).select("n", "bands", "rows")
      .collect().headOption.getOrElse(throw new IllegalStateException(
        s"no signature-index metadata at ${metaDir(dir)} — writeIndex first"))
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** All near-dup pairs (a < b, n-gram Jaccard >= tau) involving at least
    * one document of `delta` — against the delta itself AND the indexed
    * corpus — as one job chain with a single candidate shuffle. Corpus
    * content is never read; corpus shingling is never recomputed.
    *
    * A delta doc re-submitted under an id already present in the index
    * supersedes the indexed row for verification (the delta's text is the
    * current one) and never pairs with itself.
    *
    * Same exactness envelope as [[Dedup.minHashLshPairs]]: banding recall
    * 1-(1-s^r)^b, `maxBucket` boilerplate backstop, optional estimate
    * pre-filter, exact shingle-intersection verification. */
  def pairsAgainstIndex(delta: DataFrame, idCol: String, textCol: String,
      dir: String, tau: Double = 0.7, maxBucket: Int = 500,
      estimateFilter: Boolean = true): DataFrame = {
    val spark = delta.sparkSession
    val (n, bands, rows) = readMeta(spark, dir)

    val dsh = Dedup.shingled(delta, idCol, textCol, n)
    val dBands = dsh.select(col("id"),
      explode(min_hash_bands(col("sh"), bands, rows)).as("band"))
      .withColumn("d", lit(true))
    // the only thing the candidate stage reads from the index: (id, band)
    val iBands = spark.read.parquet(bandsDir(dir)).select("id", "band")
      .withColumn("d", lit(false))

    // ONE shuffle of all (id, band, side) rows — the union's grouped band
    // multiset equals the full corpus∪delta run's, so candidates match it
    // exactly (minus corpus-corpus pairs, pruned inside the bucket explode
    // before they ever become rows)
    val ids = col("ids")
    val pairsOfBucket = filter(
      flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + lit(2), size(ids)), y =>
          struct(
            least(x.getField("id"), y.getField("id")).as("a"),
            greatest(x.getField("id"), y.getField("id")).as("b"),
            (x.getField("d") || y.getField("d")).as("hasDelta"))))),
      p => p.getField("hasDelta"))
    val candidates = dBands.unionByName(iBands)
      .groupBy(col("band"))
      .agg(graft.functions.api.collect_list_limit(
        struct(col("id"), col("d")), maxBucket + 1).as("ids"))
      .filter(size(ids).between(2, maxBucket))
      .select(explode(pairsOfBucket).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

    // verification evidence: delta shingles from the cached pass, corpus
    // shingles from the index — minus ids the delta re-submitted (delta text
    // wins; also kills the duplicate-lookup row that would double pairs)
    val iDocs = spark.read.parquet(docsDir(dir)).select("id", "sz", "sh", "sig")
      .join(dsh.select("id"), Seq("id"), "left_anti")
    val lookup = dsh.select("id", "sz", "sh", "sig").unionByName(iDocs)

    Dedup.materializeAndRelease(
      Dedup.verify(candidates, lookup, tau, estimateFilter), dsh)._1
  }
}
