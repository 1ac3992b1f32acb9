package graftbench

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.apps.GraftDqBatchApp
import graft.checks._
import graft.config.JobConfig
import graft.corpus.{CorpusSpec, FileRow, ReferenceOracle}
import graft.metrics.{ComposedMetric, GroupingMetric, MetricProcessor, MetricResult, RowMetric}
import graft.operators.Dedup
import graft.pipeline.{FilterConfig, ParquetCorpusStore, QualityFilter, ResumableRun, Scrub}
import graft.sources.SourceReaders
import graft.storage.ParquetDqStorage
import graft.textmodel.DocAnalyzer
import graft.util.CacheScope

/** One benchmark workload: a pass is one whole call into the program's
  * public entry point, writing into a fresh directory. */
trait Workload {
  /** input items one pass finishes (files or source rows). */
  def items: Long
  def pass(outDir: String): Unit
  /** the first, cold pass of a run. */
  def coldPass(outDir: String): Unit = pass(outDir)
  /** correctness checks over the output of the cold and the last timed pass. */
  def check(coldDir: String, lastDir: String): Seq[Checks.Outcome]
  /** One pass taken apart into per-layer calls, each wrapped in a span;
    * returns the per-layer metrics that are not span durations. */
  def traced(tr: Tracer, freshDir: () => String): Map[String, Double]
}

object Workloads {
  val jobId = "graftbench"

  def corpusSpec(seed: Long, size: Long): CorpusSpec = CorpusSpec(seed = seed, nFiles = size)
}

/** `dedup`: the flagship quality filter with corpus-level near-dup removal,
  * `ResumableRun.runWithDedup` into a fresh `ParquetCorpusStore`. It runs
  * the whole per-file filter (langid, KN perplexity, text stats, scrub,
  * partitioned store and lineage write) and then the dedup operators
  * (MinHash-LSH banding, exact verify, connected components). */
final class DedupWorkload(spark: SparkSession, inputDir: String, seed: Long, size: Long)
  extends Workload {
  val cfg = FilterConfig()
  val spec: CorpusSpec = Workloads.corpusSpec(seed, size)
  def input: DataFrame = spark.read.parquet(inputDir)
  def items: Long = size

  def pass(outDir: String): Unit = {
    val store = new ParquetCorpusStore(outDir, cfg.saltBuckets)
    val r = ResumableRun.runWithDedup(spark, input, cfg, store, Workloads.jobId)
    require(r.rowsIn == size, s"run report rowsIn ${r.rowsIn} != $size")
  }

  def check(coldDir: String, lastDir: String): Seq[Checks.Outcome] =
    Checks.corpusStore(spark, inputDir, lastDir, spec, cfg,
      sampleEvery = math.max(1, (size / 2000).toInt), keptSample = 400)

  /** fixed single-thread sample for the textmodel/scrub kernels. */
  private lazy val sample: Array[FileRow] = {
    import spark.implicits._
    input.orderBy("path").limit(2000).as[FileRow].collect()
  }

  def traced(tr: Tracer, freshDir: () => String): Map[String, Double] = {
    // the per-file filter, one layer at a time, then whole (ResumableRun.run)
    tr.span("sources.scan")(input.write.format("noop").mode("overwrite").save())
    val t0 = System.nanoTime()
    tr.span("textmodel.analyze")(sample.foreach(r => DocAnalyzer.analyze(r.content)))
    val analyzeUs = (System.nanoTime() - t0) / 1e3 / sample.length
    val kept = sample.filter(r => ReferenceOracle.label(r, cfg).keep)
    val t1 = System.nanoTime()
    tr.span("pipeline.scrub")(kept.foreach(r => Scrub.scrubString(r.content)))
    val scrubUs = (System.nanoTime() - t1) / 1e3 / math.max(1, kept.length)
    val store = new ParquetCorpusStore(freshDir(), cfg.saltBuckets)
    tr.span("pipeline.phases") {
      val v = QualityFilter.verdicts(input, cfg).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        tr.span("pipeline.score")(v.write.format("noop").mode("overwrite").save())
        tr.span("pipeline.store_write")(store.writeVerdicts(v))
        tr.span("pipeline.lineage") {
          store.appendLineage(QualityFilter.partitionLineage(v, Workloads.jobId)
            .withColumn("execution_ts", current_timestamp()))
          v.agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L)),
            countDistinct(col("partition_id"))).collect()
        }
      } finally v.unpersist()
    }
    tr.span("pipeline.run") {
      ResumableRun.run(spark, input, cfg, new ParquetCorpusStore(freshDir(), cfg.saltBuckets), Workloads.jobId)
    }

    // the near-dup stage, one operator at a time, then whole (runWithDedup)
    var pairCount = 0L
    tr.span("pipeline.dedup_phases") {
      CacheScope.withScope(spark) {
        val m = tr.span("pipeline.with_metrics") {
          val m = QualityFilter.withMetrics(input, cfg)
            .withColumn("key", concat_ws("|", col("repo"), col("path")))
            .persist(StorageLevel.MEMORY_AND_DISK)
          m.count()
          m
        }
        val keptDocs = m.filter(col("keep")).select(col("key"), col("content"))
        val (pairs, n) = tr.span("operators.lsh_pairs")(Dedup.minHashLshPairsCounted(
          keptDocs, "key", "content", n = 3, tau = cfg.dedupTau,
          bands = cfg.dedupBands, rows = cfg.dedupRows))
        pairCount = n
        def hid(c: org.apache.spark.sql.Column) =
          struct(xxhash64(c).as("h1"), xxhash64(c, lit(1L)).as("h2"))
        tr.span("operators.cc") {
          Dedup.connectedComponentsAuto(
            pairs.select(hid(col("a")).as("a"), hid(col("b")).as("b")),
            knownEdgeCount = Some(n)).count()
        }
        m.unpersist()
      }
    }
    tr.span("pipeline.dedup_run")(pass(freshDir()))
    val filterPhases = Seq("pipeline.score", "pipeline.store_write", "pipeline.lineage").map(tr.seconds).sum
    val dedupPhases = Seq("pipeline.with_metrics", "operators.lsh_pairs", "operators.cc").map(tr.seconds).sum
    Map(
      "textmodel.analyze_us_per_file" -> analyzeUs,
      "pipeline.scrub_us_per_file" -> scrubUs,
      "pipeline.run_self_s" -> math.max(0.0, tr.seconds("pipeline.run") - filterPhases),
      "operators.near_dup_pairs" -> pairCount.toDouble,
      "pipeline.dedup_run_self_s" -> math.max(0.0, tr.seconds("pipeline.dedup_run") - dedupPhases))
  }
}

/** `dq`: a HOCON DQ batch job through `GraftDqBatchApp.run` on the
  * benchmark's own session (`--shared`, fixed `-d`). */
final class DqWorkload(spark: SparkSession, inputDir: String, confPath: String, size: Long)
  extends Workload {
  val refDate = "2026-01-01"
  val refTs: Instant = Instant.parse(s"${refDate}T00:00:00Z")
  def items: Long = size
  private def vars(store: String) = Map("data" -> inputDir, "store" -> store)

  def pass(outDir: String): Unit = {
    val rc = GraftDqBatchApp.run(Array("-j", confPath, "-s", "-d", refDate,
      "-e", vars(outDir).map { case (k, v) => s"$k=$v" }.mkString(",")))
    require(rc == 0, s"GraftDqBatchApp.run exited $rc")
  }

  private var coldResult: Option[graft.jobs.JobResult] = None

  /** The cold pass runs the same job through `JobConfig.fromFiles` and
    * `DqBatchJob.run` directly (what the app wraps), so that its returned
    * results can be checked against the rows its storage holds. */
  override def coldPass(outDir: String): Unit =
    coldResult = Some(JobConfig.fromFiles(spark, Seq(confPath), vars(outDir)).run(refTs))

  /** The cold pass's returned results against the rows its storage holds.
    * (Stored metric values of the last timed pass against DuckDB are
    * checked by `run.py`.) */
  def check(coldDir: String, lastDir: String): Seq[Checks.Outcome] = {
    val res = coldResult.get
    val stored = spark.read.parquet(s"$coldDir/results_metrics")
      .select("metric_id", "result").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val same = (a: Double, b: Double) => a == b || (a.isNaN && b.isNaN)
    val metricDiffs = res.metrics.flatMap { m =>
      stored.get(m.metricId) match {
        case None => Some(s"metric ${m.metricId} not in storage")
        case Some(v) if !same(v, m.value) => Some(s"metric ${m.metricId}: stored $v != returned ${m.value}")
        case _ => None
      }
    } ++ Option.when(stored.size != res.metrics.size)(
      s"storage holds ${stored.size} metrics, job returned ${res.metrics.size}")
    val storedChecks = spark.read.parquet(s"$coldDir/results_checks")
      .select("check_id", "status").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val returnedChecks = res.loadChecks ++ res.checks.map(_._1)
    val checkDiffs = returnedChecks.flatMap { c =>
      val want = if (c.status) "Success" else "Failure"
      storedChecks.get(c.checkId) match {
        case Some(s) if s == want => None
        case other => Some(s"check ${c.checkId}: stored $other != returned $want")
      }
    } ++ Option.when(storedChecks.size != returnedChecks.size)(
      s"storage holds ${storedChecks.size} checks, job returned ${returnedChecks.size}")
    val dumped = res.metrics.map(_.errors.distinct.size).sum
    val storedErrors = spark.read.parquet(s"$coldDir/results_metric_errors").count()
    Seq(
      Checks.Outcome("dq_storage_metrics", metricDiffs),
      Checks.Outcome("dq_storage_checks", checkDiffs),
      Checks.Outcome("dq_storage_errors", Seq(
        Option.when(storedErrors != dumped)(s"stored error rows $storedErrors != returned $dumped"),
        Option.when(dumped == 0)("no error-dump rows returned")).flatten))
  }

  private def snapshotCheck(c: JobConfig.CheckConf): Either[SnapshotCheck, ExpressionCheck] =
    c.kind.toUpperCase match {
      case "EQUAL_TO" => Left(EqualToCheck(c.id, c.base, c.compareMetric, c.threshold))
      case "LESS_THAN" => Left(LessThanCheck(c.id, c.base, c.compareMetric, c.threshold))
      case "GREATER_THAN" => Left(GreaterThanCheck(c.id, c.base, c.compareMetric, c.threshold))
      case "DIFFER_BY_LT" => Left(DifferByLtCheck(c.id, c.base, c.compareMetric.get, c.threshold.get))
      case "EXPRESSION" => Right(ExpressionCheck(c.id, c.formula.get))
      case other => throw new IllegalArgumentException(s"check kind $other")
    }

  def traced(tr: Tracer, freshDir: () => String): Map[String, Double] = {
    val store = freshDir()
    val v = vars(store)
    tr.span("config.parse")(JobConfig.fromFiles(spark, Seq(confPath), v))
    val text = v.foldLeft(java.nio.file.Files.readString(java.nio.file.Paths.get(confPath))) {
      case (t, (k, x)) => t.replace("${" + k + "}", x) }
    val conf = JobConfig.parseHocon(text)
    val src = conf.sources.head
    val df = SourceReaders.parquet(spark, src.id, src.path).df
    val built = conf.metrics.map(JobConfig.metric)
    val rowMetrics: Seq[RowMetric] = built.collect { case Left(m) => m }
    val groupMetrics: Seq[GroupingMetric] = built.collect { case Right(m) => m }
    val mp = MetricProcessor.Config(src.id, src.keyFields, conf.errorDumpSize, conf.caseSensitive)
    var errorRows = 0L
    tr.span("jobs.phases") {
      val fused = tr.span("metrics.fused_pass")(MetricProcessor.processRowMetrics(df, rowMetrics, mp))
      val grouped = tr.span("metrics.grouping")(MetricProcessor.processGroupingMetrics(df, groupMetrics, mp))
      val base = fused ++ grouped
      errorRows = base.map(_.errors.size.toLong).sum
      val all: Seq[MetricResult] = base ++ conf.composed.flatMap(c =>
        ComposedMetric(c.id, c.formula).compute(base).toOption)
      val checks = tr.span("checks.eval")(conf.checks.map(snapshotCheck).map(_.fold(_.run(all), _.run(all))))
      tr.span("storage.save") {
        val st = new ParquetDqStorage(spark, store)
        st.saveMetrics(Workloads.jobId, refTs, all)
        st.saveMetricErrors(Workloads.jobId, refTs, all)
        st.saveChecks(Workloads.jobId, refTs, checks)
        conf.rawJson.foreach(st.saveJobState(Workloads.jobId, refTs, _))
      }
    }
    tr.span("jobs.run")(JobConfig.fromFiles(spark, Seq(confPath), vars(freshDir())).run(refTs))
    val phases = Seq("metrics.fused_pass", "metrics.grouping", "checks.eval", "storage.save")
      .map(tr.seconds).sum
    Map(
      "metrics.error_rows" -> errorRows.toDouble,
      "checks.eval_ms" -> tr.seconds("checks.eval") * 1e3,
      "jobs.run_self_s" -> math.max(0.0, tr.seconds("jobs.run") - phases))
  }
}
