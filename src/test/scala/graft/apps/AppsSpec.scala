package graft.apps

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions._

import graft.TestSpark

/** E2E for the spark-submit entry points: launch the app mains (via their
  * testable `run`) with real .conf paths, assert storage rows and exit
  * codes — the round-4 verdict's "done =" bar for the apps item. `-s`
  * (shared session) everywhere so the apps reuse (and do not stop) the
  * suite's SparkSession. */
class AppsSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeConf(dir: String, name: String, text: String): String = {
    val p = java.nio.file.Paths.get(dir, name)
    Files.writeString(p, text)
    p.toString
  }

  test("CLI parser: reference option surface, date forms, error paths") {
    val ok = CliOptions.parse(Array(
      "-a", "app.conf", "--job-config", "a.conf,b.json", "-d", "2026-08-18",
      "-l", "-s", "-m", "-e", "env=prod,region=eu", "-v", "debug")).toOption.get
    ok.appConf shouldBe Some("app.conf")
    ok.jobConf shouldBe Seq("a.conf", "b.json")
    ok.configPaths shouldBe Seq("app.conf", "a.conf", "b.json")
    ok.refDate shouldBe Some(java.time.Instant.parse("2026-08-18T00:00:00Z"))
    ok.local shouldBe true; ok.shared shouldBe true; ok.migrate shouldBe true
    ok.extraVars shouldBe Map("env" -> "prod", "region" -> "eu")
    ok.verbosity shouldBe "DEBUG"
    CliOptions.parse(Array(
      "-j", "a.conf", "-d", "2026-08-18T12:30:00Z")).toOption.get
      .refDate shouldBe Some(java.time.Instant.parse("2026-08-18T12:30:00Z"))
    CliOptions.parse(Array.empty[String]).isLeft shouldBe true // -j required
    CliOptions.parse(Array("-j", "a.conf", "-d", "not-a-date")).isLeft shouldBe true
    CliOptions.parse(Array("-j", "a.conf", "--nope")).isLeft shouldBe true
    CliOptions.parse(Array("-j", "a.conf", "-e", "malformed")).isLeft shouldBe true
    // report-line escaping: jobIds are free text, the one-line JSON must
    // stay machine-readable
    CliOptions.jsonEscape("""qf "aug" \ tab	end""") shouldBe
      """qf \"aug\" \\ tab\tend"""
  }

  test("batch app E2E: passing job exits 0 and persists results; failing check exits 1; bad config exits 2") {
    val dir = tmp("batch_app")
    Seq((1L, "x"), (2L, "y"), (3L, null.asInstanceOf[String]))
      .toDF("id", "s").write.mode("overwrite").parquet(s"$dir/src.parquet")
    // extra-vars exercise the ${data_dir} substitution path end-to-end
    val jobConf = writeConf(dir, "job.conf",
      s"""jobId = app_e2e
         |sources = [{id = s1, kind = parquet, path = "$${data_dir}/src.parquet"}]
         |metrics = [
         |  {id = rc, name = ROW_COUNT, source = s1, columns = []},
         |  {id = nulls, name = NULL_VALUES, source = s1, columns = [s]}
         |]
         |checks = [{id = c1, kind = EQUAL_TO, base = rc, threshold = 3.0, critical = true}]
         |storage = {kind = parquet, location = "$dir/dq_storage"}
         |""".stripMargin)
    val rc = GraftDqBatchApp.run(Array(
      "-j", jobConf, "-s", "-e", s"data_dir=$dir", "-d", "2026-08-18"))
    rc shouldBe 0
    // results persisted through the real storage
    val stored = spark.read.parquet(s"$dir/dq_storage/results_metrics")
    stored.filter(col("job_id") === "app_e2e").count() shouldBe 2L
    // same job, impossible threshold -> tolerance violation -> exit 1
    val failConf = writeConf(dir, "fail.conf",
      """checks = [{id = c1, kind = EQUAL_TO, base = rc, threshold = 99.0, critical = true}]""")
    GraftDqBatchApp.run(Array(
      "-j", s"$jobConf,$failConf", "-s", "-e", s"data_dir=$dir")) shouldBe 1
    // config referencing an unknown source -> validation error -> exit 2
    val badConf = writeConf(dir, "bad.conf",
      """metrics = [{id = m2, name = ROW_COUNT, source = ghost, columns = []}]""")
    GraftDqBatchApp.run(Array(
      "-j", s"$jobConf,$badConf", "-s", "-e", s"data_dir=$dir")) shouldBe 2
    // bad CLI -> exit 2 before any Spark work
    GraftDqBatchApp.run(Array("-d", "2026-08-18")) shouldBe 2
    // a MISSING config file is exit 2 (bad input), never a stack-trace
    // crash the CI wrapper would read as exit 1 = tolerance violation
    GraftDqBatchApp.run(Array("-j", "/no/such/file.conf", "-s")) shouldBe 2
    GraftDqStreamApp.run(Array("-j", "/no/such/file.conf", "-s")) shouldBe 2
    GraftFilterApp.run(Array("-j", "/no/such/file.conf", "-s")) shouldBe 2
    // a recognized option missing its value says so
    CliOptions.parse(Array("-s", "-j")) shouldBe
      Left("option '-j' requires a value")
    // --shared with a live host session shares it even when --local is
    // also set; a missing config is still exit 2, never an uncaught
    // 'A master URL must be set' crash (ADVICE r5)
    GraftDqBatchApp.run(Array("-j", "/no/such.conf", "-s", "-l")) shouldBe 2
  }

  test("filter app E2E: flagship pipeline via spark-submit shape, partition-resumable") {
    import graft.corpus.{CorpusGen, CorpusSpec}
    val dir = tmp("filter_app")
    CorpusGen.corpus(spark, CorpusSpec(nFiles = 2000)).toDF()
      .write.mode("overwrite").parquet(s"$dir/corpus")
    val conf = writeConf(dir, "filter.conf",
      s"""jobId = qf_e2e
         |input = {kind = parquet, path = "$dir/corpus"}
         |store = "$dir/store"
         |filter = {numPartitions = 8, maxPpl = 25.0}
         |""".stripMargin)
    GraftFilterApp.run(Array("-j", conf, "-s")) shouldBe 0
    val v = spark.read.parquet(s"$dir/store/verdicts")
    v.count() shouldBe 2000L
    v.filter(col("keep")).count() should be > 0L
    // lineage: one row per (job, partition) with full drop-reason counts
    val lin = spark.read.parquet(s"$dir/store/lineage")
    lin.select("partition_id").distinct().count() shouldBe 8L
    // RESUME: the same command again skips every completed partition and
    // duplicates nothing — crash recovery is "run it again"
    GraftFilterApp.run(Array("-j", conf, "-s")) shouldBe 0
    spark.read.parquet(s"$dir/store/verdicts").count() shouldBe 2000L
    // bad input kind -> config error, exit 2
    val bad = writeConf(dir, "bad_filter.conf", """input = {kind = csvish, path = "x"}""")
    GraftFilterApp.run(Array("-j", s"$conf,$bad", "-s")) shouldBe 2
  }

  test("stream app E2E: availableNow config drains the backlog, writes windowed metrics, exits 0") {
    val dir = tmp("stream_app")
    val rows = (0 until 60).map { i =>
      (java.sql.Timestamp.from(
        java.time.Instant.parse("2026-08-18T00:00:00Z").plusSeconds(i * 60L)),
        if (i % 5 == 0) null.asInstanceOf[String] else s"v$i")
    }
    rows.toDF("ts", "s").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val conf = writeConf(dir, "stream.conf",
      s"""jobId = stream_e2e
         |source = {kind = parquet, path = "$dir/events.parquet"}
         |window = {tsCol = ts, duration = "10 minutes", watermark = "0 seconds"}
         |metrics = [
         |  {id = rc, name = ROW_COUNT, columns = []},
         |  {id = nulls, name = NULL_VALUES, columns = [s]}
         |]
         |sink = {path = "$dir/out"}
         |checkpoint = "$dir/ckpt"
         |trigger = availableNow
         |""".stripMargin)
    GraftDqStreamApp.run(Array("-j", conf, "-s")) shouldBe 0
    val out = spark.read.parquet(s"$dir/out")
    out.columns.toSet shouldBe Set("window_start", "rc", "nulls")
    // 60 minutes of data on 10-minute tumbling windows; append mode holds
    // back the final (un-watermarked) window -> at least 5 complete ones
    out.count() should be >= 5L
    out.agg(sum(col("rc"))).collect().head.getDouble(0) should be >= 50.0
    // grouping metrics are rejected with a config error (exit 2)
    val bad = writeConf(dir, "bad_stream.conf",
      """metrics = [{id = d, name = DISTINCT_VALUES, columns = [s]}]""")
    GraftDqStreamApp.run(Array("-j", s"$conf,$bad", "-s")) shouldBe 2
    // custom time mode: window on an epoch-millis expression instead of a
    // timestamp column (ref windowing kind "custom", Enums.scala:76-92)
    val custom = writeConf(dir, "custom_stream.conf",
      s"""window = {timeMode = custom,
         |          tsExpr = "timestamp_millis(CAST(unix_millis(ts) AS BIGINT))",
         |          duration = "10 minutes", watermark = "0 seconds"}
         |sink = {path = "$dir/out_custom"}
         |checkpoint = "$dir/ckpt_custom"
         |""".stripMargin)
    GraftDqStreamApp.run(Array("-j", s"$conf,$custom", "-s")) shouldBe 0
    // same windows as the event-time run over the same data
    val evt = spark.read.parquet(s"$dir/out").count()
    spark.read.parquet(s"$dir/out_custom").count() shouldBe evt

    // the reference stream shape: per finalized window, run checks and
    // persist metrics+checks to DQ storage (DQStreamWindowJob pipeline)
    val stored = writeConf(dir, "stored_stream.conf",
      s"""sink = null
         |storage = {kind = parquet, location = "$dir/dq"}
         |checks = [
         |  {id = c_rows, kind = GREATER_THAN, base = rc, threshold = 0.0},
         |  {id = c_nulls, kind = LESS_THAN, base = nulls, threshold = 1.0}
         |]
         |checkpoint = "$dir/ckpt_stored"
         |""".stripMargin)
    GraftDqStreamApp.run(Array("-j", s"$conf,$stored", "-s")) shouldBe 0
    val ms = spark.read.parquet(s"$dir/dq/results_metrics")
    // one metric row per (finalized window, metric); >= 5 complete windows
    ms.filter(col("metric_id") === "rc").count() should be >= 5L
    ms.groupBy("reference_ts").count().collect().foreach(_.getLong(1) shouldBe 2L)
    val cs = spark.read.parquet(s"$dir/dq/results_checks")
    cs.filter(col("check_id") === "c_rows")
      .select("status").collect().foreach(_.getString(0) shouldBe "Success")
    // c_nulls: every 10-min window holds 2 nulls (one per 5 minutes) -> Failure
    cs.filter(col("check_id") === "c_nulls")
      .select("status").collect().foreach(_.getString(0) shouldBe "Failure")

    // a typo'd check base is a CONFIG error (exit 2, before the query
    // starts) — not a per-window Failure row for a metric that can never
    // exist
    val typo = writeConf(dir, "typo_stream.conf",
      s"""sink = null
         |storage = {kind = parquet, location = "$dir/dq_typo"}
         |checks = [{id = c_bad, kind = GREATER_THAN, base = rcnt, threshold = 0.0}]
         |checkpoint = "$dir/ckpt_typo"
         |""".stripMargin)
    GraftDqStreamApp.run(Array("-j", s"$conf,$typo", "-s")) shouldBe 2
    new java.io.File(s"$dir/dq_typo").exists() shouldBe false
  }

  test("csv stream source: user header=false wins over the csv default") {
    val dir = tmp("stream_csv")
    // headerless files: epoch-seconds, value — a forced header=true would
    // eat the first DATA row of every file and name columns after it
    val base = java.time.Instant.parse("2026-08-18T00:00:00Z").getEpochSecond
    (0 until 3).foreach { f =>
      val lines = (0 until 20).map(i => s"${base + (f * 20 + i) * 60L},v$i")
      Files.writeString(
        java.nio.file.Paths.get(dir, s"part$f.csv"),
        lines.mkString("", "\n", "\n"))
    }
    val conf = writeConf(dir, "csv_stream.conf",
      s"""jobId = csv_stream
         |source = {kind = csv, path = "$dir/part*.csv",
         |          options = {header = "false", inferSchema = "true"}}
         |window = {timeMode = custom,
         |          tsExpr = "timestamp_seconds(CAST(_c0 AS BIGINT))",
         |          duration = "10 minutes", watermark = "0 seconds"}
         |metrics = [{id = rc, name = ROW_COUNT, columns = []}]
         |sink = {path = "$dir/out"}
         |checkpoint = "$dir/ckpt"
         |trigger = availableNow
         |""".stripMargin)
    GraftDqStreamApp.run(Array("-j", conf, "-s")) shouldBe 0
    val out = spark.read.parquet(s"$dir/out")
    // 60 rows over 10-min tumbling windows; append holds back the last
    // window -> exactly the first 5 windows × 10 rows. 50 EXACTLY proves no
    // first-line-per-file loss (a forced header would leave ≤ 47).
    out.count() shouldBe 5L
    out.agg(sum(col("rc"))).collect().head.getDouble(0) shouldBe 50.0
  }

  test("--shared reuses the host session untouched (no conf re-pointing)") {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val opts = CliOptions.parse(Array("-j", "x.conf", "-s")).toOption.get
      val (s, owned) = GraftDqBatchApp.buildSession(opts, "graft-test")
      (s should be).theSameInstanceAs(spark)
      owned shouldBe false // the app never stops a host's session
      // the standalone defaults (UTC, AQE on) must NOT leak onto the host:
      // getOrCreate applies .config(...) values to an existing session
      s.conf.get("spark.sql.session.timeZone") shouldBe "America/New_York"
      s.conf.get("spark.sql.adaptive.enabled") shouldBe "false"
    } finally {
      spark.conf.set("spark.sql.session.timeZone", prevTz)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("the app stops a session it built and never a shared host's") {
    // host session shared: it survives the run
    GraftDqBatchApp.run(Array("-j", "/no/such.conf", "-s")) shouldBe 2
    spark.sparkContext.isStopped shouldBe false
    // no host session: the app builds one and must stop it. A JVM runs one
    // SparkContext, so this case runs in a child JVM.
    val out = Files.createTempFile("graft-owned", ".out").toFile
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a => a.startsWith("-Xm") ||
        a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      jvmArgs ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        "graft.apps.OwnedSessionMain")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(out).start()
    val finished = p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    val lines = scala.io.Source.fromFile(out).getLines().toSeq
    withClue(lines.takeRight(20).mkString("\n")) {
      finished shouldBe true
      lines.filter(_.startsWith("rc=")) shouldBe Seq("rc=2 live=false")
    }
  }
}

/** Child-JVM half of the session-ownership spec: `--shared` with no host
  * session, so the app builds its own; afterwards no live session may be
  * left behind. */
object OwnedSessionMain {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.SparkSession
    val rc = GraftDqBatchApp.run(Array("-j", "/no/such.conf", "-s", "-l"))
    val live = Seq(SparkSession.getActiveSession, SparkSession.getDefaultSession)
      .flatten.exists(!_.sparkContext.isStopped)
    println(s"rc=$rc live=$live")
    sys.exit(0)
  }
}
