package graft.jobs

import java.nio.file.Files
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.checks._
import graft.metrics._
import graft.sources.{Source, SourceReaders}
import graft.storage.ParquetDqStorage

class DqBatchJobSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private def src: Source = SourceReaders.parquet(spark, "lineitem",
    "/root/testdata/sf0.001/lineitem.parquet")

  test("full lifecycle: load checks -> metrics -> composed -> checks -> storage -> trend") {
    val dir = Files.createTempDirectory("graft-dq").toString
    val storage = new ParquetDqStorage(spark, dir)
    val t0 = Instant.parse("2026-08-01T00:00:00Z")

    def job(critFails: Boolean, at: Instant, withTrend: Boolean) = new DqBatchJob(
      spark, "dq1", Seq(src),
      loadChecks = Seq(s => LoadChecks.minColumnNum("lc", s.df, 5)),
      rowMetrics = Map("lineitem" -> Seq(
        RowCountMetric("rows"), AvgNumberMetric("avg_qty", "l_quantity"))),
      groupingMetrics = Map("lineitem" -> Seq(
        DistinctValuesMetric("flags", Seq("l_returnflag")))),
      composedMetrics = Seq(ComposedMetric("qty_x2", "{{ avg_qty }} * 2")),
      trendMetrics = if (withTrend)
        Seq(("rows", TrendMetrics.Descriptive(TrendMetrics.Descriptive.Stat.Avg),
          TrendMetrics.ByRecords(5))) else Nil,
      checks = Seq(
        CheckSpec(GreaterThanCheck("ck_rows", "rows", threshold = Some(100.0)), critical = true),
        CheckSpec(LessThanCheck("ck_fail", "rows",
          threshold = Some(if (critFails) 1.0 else 1e9)), critical = critFails),
        CheckSpec(ExpressionCheck("ck_expr", "{{ qty_x2 }} > {{ avg_qty }}"))),
      storage = Some(storage))

    // run 1: all pass
    val r1 = job(critFails = false, t0, withTrend = false).run(t0)
    r1.passed shouldBe true
    r1.metrics.map(_.metricId) should contain allOf("rows", "avg_qty", "flags", "qty_x2")
    r1.checks.map(_._1.checkId) should contain("ck_expr")

    // run 2 (next day): trend metric sees run-1 history
    val t1 = t0.plusSeconds(86400)
    val r2 = job(critFails = false, t1, withTrend = true).run(t1)
    r2.passed shouldBe true
    val trend = r2.metrics.find(_.metricId == "trend_rows").get
    trend.value shouldBe r1.metrics.find(_.metricId == "rows").get.value +- 1e-9

    // run 3: critical failure fails the job under Critical tolerance
    val r3 = job(critFails = true, t1.plusSeconds(86400), withTrend = false)
      .run(t1.plusSeconds(86400))
    r3.passed shouldBe false

    // storage accumulated all runs
    storage.metricHistory("dq1", "rows", t1.plusSeconds(2 * 86400))
      .map(_.value) shouldBe Seq(6000.0, 6000.0, 6000.0)
  }

  test("ARIMA forecasts a linear trend and a noisy AR series sanely") {
    val linear = (1 to 30).map(_.toDouble)
    ArimaModel(1, 1, 0).forecast(linear) shouldBe 31.0 +- 0.2
    ArimaModel(2, 1, 1).forecast(linear) shouldBe 31.0 +- 0.5
    // AR(1): x_t = 0.6 x_{t-1} + e, deterministic pseudo-noise
    val r = graft.corpus.Rng(3L, 0L)
    val ar = Iterator.iterate((10.0, 0L)) { case (x, i) =>
      (0.6 * x + (r.double(i) - 0.5), i + 1)
    }.map(_._1).take(60).toSeq
    val pred = ArimaModel(1, 0, 0).forecast(ar)
    pred shouldBe (0.6 * ar.last) +- 1.0
    // trend-metric adapter
    val pts = linear.zipWithIndex.map { case (v, i) =>
      HistoryPoint(Instant.ofEpochSecond(i * 3600L), v) }
    TrendMetrics.compute("m", ArimaTrend(1, 1, 0), pts,
      TrendMetrics.ByRecords(30), Instant.now()).value shouldBe 31.0 +- 0.2
  }

  test("JDBC storage backend (embedded Derby) mirrors the parquet lifecycle") {
    System.setProperty("derby.system.home",
      Files.createTempDirectory("derby-home").toString)
    val storage = new graft.storage.JdbcDqStorage(
      "jdbc:derby:memory:graftdq;create=true")
    try {
      val t0 = Instant.parse("2026-08-01T00:00:00Z")
      val job = new DqBatchJob(spark, "dqj", Seq(src),
        rowMetrics = Map("lineitem" -> Seq(RowCountMetric("rows"))),
        checks = Seq(CheckSpec(GreaterThanCheck("ck", "rows", threshold = Some(1.0)))),
        storage = Some(storage))
      job.run(t0).passed shouldBe true
      job.run(t0.plusSeconds(86400)).passed shouldBe true
      // history read-back: strictly-before filter, chronological order
      storage.metricHistory("dqj", "rows", t0.plusSeconds(2 * 86400))
        .map(_.value) shouldBe Seq(6000.0, 6000.0)
      storage.metricHistory("dqj", "rows", t0.plusSeconds(1))
        .map(_.value) shouldBe Seq(6000.0)
      // migration is idempotent: a second storage on the same DB reuses tables
      val again = new graft.storage.JdbcDqStorage("jdbc:derby:memory:graftdq")
      again.metricHistory("dqj", "rows", t0.plusSeconds(2 * 86400)) should have size 2
      again.close()
    } finally storage.close()
  }

  test("tolerance modes") {
    val base = new DqBatchJob(spark, "t", Seq(src),
      rowMetrics = Map("lineitem" -> Seq(RowCountMetric("rows"))),
      checks = Seq(CheckSpec(LessThanCheck("bad", "rows", threshold = Some(1.0)))),
      tolerance = Tolerance.All)
    base.run().passed shouldBe false
    new DqBatchJob(spark, "t", Seq(src),
      rowMetrics = Map("lineitem" -> Seq(RowCountMetric("rows"))),
      checks = Seq(CheckSpec(LessThanCheck("bad", "rows", threshold = Some(1.0)))),
      tolerance = Tolerance.None).run().passed shouldBe true
  }

  // ── concurrent metric jobs and storage writes ──────────────────────────

  private val concRows: Seq[RowMetric] = Seq(
    RowCountMetric("rows"), AvgNumberMetric("avg_qty", "l_quantity"),
    CastedNumberMetric("flag_num", Seq("l_returnflag")))
  private val concGroups: Seq[GroupingMetric] = Seq(
    DistinctValuesMetric("flags", Seq("l_returnflag")),
    DuplicateValuesMetric("dup_orders", Seq("l_orderkey")),
    DistinctValuesMetric("flag_status", Seq("l_returnflag", "l_linestatus")),
    DuplicateValuesMetric("dup_flags", Seq("l_returnflag")))

  private def concJob(id: String, storage: Option[graft.storage.DqStorage],
      groups: Seq[GroupingMetric] = concGroups,
      rows: Seq[RowMetric] = concRows) = new DqBatchJob(
    spark, id, Seq(src),
    rowMetrics = Map("lineitem" -> rows),
    groupingMetrics = Map("lineitem" -> groups),
    checks = Seq(CheckSpec(GreaterThanCheck("ck_rows", "rows", threshold = Some(1.0)))),
    storage = storage, errorDumpSize = 10000, jobState = Some("{}"))

  /** The sequential calls the job's metric step replaces. */
  private lazy val sequential: Seq[MetricResult] = {
    val cfg = MetricProcessor.Config("lineitem", Nil, 10000)
    MetricProcessor.processRowMetrics(src.df, concRows, cfg) ++
      MetricProcessor.processGroupingMetrics(src.df, concGroups, cfg)
  }

  /** ids, values and order exactly; error dumps as multisets (a dump holds
    * every failing row here, but Spark does not fix the order it merges
    * partial aggregates in). */
  private def sameResults(got: Seq[MetricResult], want: Seq[MetricResult]): Unit = {
    got.map(_.metricId) shouldBe want.map(_.metricId)
    got.map(_.value) shouldBe want.map(_.value)
    got.map(_.errors.map(_.mkString("|")).sorted) shouldBe
      want.map(_.errors.map(_.mkString("|")).sorted)
    got.map(_.errors.size).sum should be > 0
  }

  test("concurrent metric jobs return what the sequential calls return, in order") {
    val r = concJob("conc", None).run(Instant.parse("2026-08-01T00:00:00Z"))
    sameResults(r.metrics, sequential)
    r.passed shouldBe true
  }

  test("every job of a run carries the caller's job group and description") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("sql.streaming.queryId") == null)
          seen.add(e.properties)
    }
    val dir = Files.createTempDirectory("graft-dq-group").toString
    // listener events arrive in order, so the jobs between two marker
    // jobs are exactly the run's, and all of them are delivered once the
    // second marker is seen
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      try sc.parallelize(1 to 2, 1).count() finally sc.clearJobGroup()
    }
    def group(p: java.util.Properties) = p.getProperty("spark.jobGroup.id")
    sc.addSparkListener(listener)
    try {
      marker("before")
      sc.setJobGroup("dq-group", "dq run under test")
      try concJob("grp", Some(new ParquetDqStorage(spark, dir))).run()
      finally sc.clearJobGroup()
      marker("after")
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.asScala.exists(group(_) == "after") &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      val run = seen.asScala.toSeq.dropWhile(group(_) != "before").drop(1)
        .takeWhile(group(_) != "after")
      // fused pass + 4 grouping sets + 4 storage writes, at least
      run.size should be >= 9
      run.map(group).distinct shouldBe Seq("dq-group")
      run.map(_.getProperty("spark.job.description")).distinct shouldBe
        Seq("dq run under test")
    } finally sc.removeSparkListener(listener)
  }

  test("a failing grouping job fails the run and leaves no helper thread") {
    val bad = concGroups :+ DistinctValuesMetric("ghost", Seq("no_such_column"))
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      concJob("bad", None, bad).run()
    Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-concurrently")) shouldBe empty
  }

  test("two runs on one session from two threads both return correct results") {
    val dirs = Seq.fill(2)(Files.createTempDirectory("graft-dq-two").toString)
    val results = new Array[JobResult](2)
    val threads = dirs.zipWithIndex.map { case (d, i) =>
      new Thread(() => results(i) =
        concJob(s"two$i", Some(new ParquetDqStorage(spark, d))).run())
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    results.foreach(r => sameResults(r.metrics, sequential))
    dirs.zipWithIndex.foreach { case (d, i) =>
      spark.read.parquet(s"$d/results_metrics")
        .filter(s"job_id = 'two$i'").count() shouldBe sequential.size
    }
  }

  test("JDBC storage takes the four concurrent saves and reads every row back") {
    System.setProperty("derby.system.home",
      Files.createTempDirectory("derby-home").toString)
    val url = "jdbc:derby:memory:graftdqconc;create=true"
    val storage = new graft.storage.JdbcDqStorage(url)
    try {
      val t0 = Instant.parse("2026-08-01T00:00:00Z")
      val runs = (0 until 3).map { d =>
        val at = t0.plusSeconds(86400L * d)
        concJob("jconc", Some(storage)).run(at)
      }
      val end = t0.plusSeconds(86400L * 3)
      sequential.foreach { m =>
        storage.metricHistory("jconc", m.metricId, end).map(_.value) shouldBe
          Seq.fill(3)(m.value)
        storage.metricErrors("jconc", m.metricId, end).size shouldBe
          3 * m.errors.distinct.size
      }
      storage.latestJobState("jconc", end) shouldBe Some("{}")
      val conn = java.sql.DriverManager.getConnection("jdbc:derby:memory:graftdqconc")
      try {
        def count(table: String): Int = {
          val rs = conn.createStatement().executeQuery(
            s"SELECT COUNT(*) FROM $table WHERE job_id = 'jconc'")
          rs.next(); rs.getInt(1)
        }
        count("results_checks") shouldBe runs.map(_.checks.size).sum
        count("job_state") shouldBe 3
        count("results_metrics") shouldBe 3 * sequential.size
      } finally conn.close()
    } finally storage.close()
  }

  test("a JDBC save that fails among the concurrent ones stores none of its rows") {
    System.setProperty("derby.system.home",
      Files.createTempDirectory("derby-home").toString)
    val url = "jdbc:derby:memory:graftdqfail;create=true"
    val storage = new graft.storage.JdbcDqStorage(url)
    try {
      val t0 = Instant.parse("2026-08-01T00:00:00Z")
      // metric_id is VARCHAR(256): the batch fails after the rows before it
      val tooWide = concRows :+ RowCountMetric("x" * 300)
      a[java.sql.SQLException] should be thrownBy
        concJob("jfail", Some(storage), rows = tooWide).run(t0)
      val later = t0.plusSeconds(86400L)
      concJob("jfail", Some(storage)).run(later)
      val end = later.plusSeconds(1)
      // only the good run's metric rows, none of the failed batch's
      sequential.foreach { m =>
        storage.metricHistory("jfail", m.metricId, end) shouldBe
          Seq(HistoryPoint(later, m.value))
      }
      val conn = java.sql.DriverManager.getConnection("jdbc:derby:memory:graftdqfail")
      try {
        val rs = conn.createStatement().executeQuery(
          "SELECT COUNT(*) FROM results_metrics WHERE job_id = 'jfail'")
        rs.next(); rs.getInt(1) shouldBe sequential.size
      } finally conn.close()
    } finally storage.close()
  }
}
