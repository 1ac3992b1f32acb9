package graft.metrics

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Per-metric unit tests with inline expected values on deterministic tiny
  * frames — the reference's own test pattern
  * (test/core/metrics/df/regular/DFMetricsTestUtils.scala:38-81). */
class MetricProcessorSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val eps = 1e-6

  lazy val strDf = Seq(
    ("foo", "a@b.co", "2024-01-01"),
    ("", "nope", "2024-01-03"),
    (null, "x@y.io", "not-a-date"),
    ("foobar", "", "2024-02-01")
  ).toDF("s1", "s2", "d1")

  lazy val numDf = Seq(
    (1.0, 2.0, "1"),
    (2.0, 4.0, "2"),
    (3.0, 6.0, "x"),
    (4.0, 8.0, "4.5")
  ).toDF("n1", "n2", "raw")

  private def run(m: RowMetric, df: org.apache.spark.sql.DataFrame = strDf): MetricResult =
    MetricProcessor.processRowMetrics(df, Seq(m)).head

  test("ROW_COUNT") { run(RowCountMetric("m")).value shouldBe 4.0 }

  test("NULL_VALUES + error dump") {
    val r = run(NullValuesMetric("m", Seq("s1", "s2")))
    r.value shouldBe 1.0
    r.errors should have size 1
  }

  test("EMPTY_VALUES") { run(EmptyValuesMetric("m", Seq("s1", "s2"))).value shouldBe 2.0 }

  test("COMPLETENESS: only nulls incomplete by default; empties too when flagged") {
    // reference semantics (BasicStringDFMetrics.scala:114-166):
    // default -> s1: 3 non-null, s2: 4 non-null => 7/8
    run(CompletenessMetric("m", Seq("s1", "s2"))).value shouldBe (7.0 / 8.0) +- eps
    // includeEmptyStrings=true -> s1: foo,foobar = 2; s2: 3 non-empty => 5/8
    run(CompletenessMetric("m", Seq("s1", "s2"), includeEmptyStrings = true))
      .value shouldBe (5.0 / 8.0) +- eps
  }

  test("EMPTINESS counts nulls only by default") {
    run(EmptinessMetric("m", Seq("s1", "s2"))).value shouldBe (1.0 / 8.0) +- eps
  }

  test("REGEX_MATCH email") {
    run(RegexMatchMetric("m", Seq("s2"), "^[\\w.]+@[\\w.]+$")).value shouldBe 2.0
  }

  test("REGEX_MISMATCH email") {
    run(RegexMatchMetric("m", Seq("s2"), "^[\\w.]+@[\\w.]+$", mismatch = true)).value shouldBe 2.0
  }

  test("MIN/MAX/AVG_STRING") {
    run(StringLenExtremeMetric("m", Seq("s1"), isMax = false)).value shouldBe 0.0
    run(StringLenExtremeMetric("m", Seq("s1"), isMax = true)).value shouldBe 6.0
    // lengths of non-null s1: 3, 0, 6 -> avg 3
    run(AvgStringLenMetric("m", Seq("s1"))).value shouldBe 3.0 +- eps
  }

  test("FORMATTED_DATE") {
    run(FormattedDateMetric("m", Seq("d1"), "yyyy-MM-dd")).value shouldBe 3.0
  }

  test("STRING_LENGTH gte 3") {
    run(StringLengthMetric("m", Seq("s1"), 3, CompareRule.Gte)).value shouldBe 2.0
  }

  test("STRING_IN/OUT_DOMAIN") {
    run(StringDomainMetric("m", Seq("s1"), Set("foo", "bar"))).value shouldBe 1.0
    run(StringDomainMetric("m", Seq("s1"), Set("foo", "bar"), outbound = true)).value shouldBe 2.0
  }

  test("STRING_VALUES") { run(StringValuesMetric("m", Seq("s1"), "foo")).value shouldBe 1.0 }

  test("MIN/MAX/SUM/AVG/STD_NUMBER") {
    run(NumberExtremeMetric("m", Seq("n1"), isMax = false), numDf).value shouldBe 1.0
    run(NumberExtremeMetric("m", Seq("n1", "n2"), isMax = true), numDf).value shouldBe 8.0
    run(SumNumberMetric("m", Seq("n1")), numDf).value shouldBe 10.0
    run(AvgNumberMetric("m", "n1"), numDf).value shouldBe 2.5 +- eps
    run(StdNumberMetric("m", "n1"), numDf).value shouldBe math.sqrt(1.25) +- eps
  }

  test("CASTED_NUMBER") { run(CastedNumberMetric("m", Seq("raw")), numDf).value shouldBe 3.0 }

  test("FORMATTED_NUMBER decimal(2,1)") {
    // values castable: 1, 2, 4.5 ; all fit |x|<10 and scale<=1 => 3
    run(FormattedNumberMetric("m", Seq("raw"), 2, 1), numDf).value shouldBe 3.0
    // outbound of decimal(1,0): 4.5 doesn't fit scale -> 1
    run(FormattedNumberMetric("m", Seq("raw"), 1, 0, outbound = true), numDf).value shouldBe 1.0
  }

  test("NUMBER_IN_DOMAIN / VALUES / COMPARE / BETWEEN") {
    run(NumberDomainMetric("m", Seq("n1"), Set(1.0, 3.0)), numDf).value shouldBe 2.0
    run(NumberValuesMetric("m", Seq("n1"), 2.0), numDf).value shouldBe 1.0
    run(NumberCompareMetric("m", Seq("n1"), 2.0, greater = true), numDf).value shouldBe 2.0
    run(NumberCompareMetric("m", Seq("n1"), 2.0, greater = true, includeBound = true), numDf).value shouldBe 3.0
    run(NumberBetweenMetric("m", Seq("n1"), 2.0, 3.0), numDf).value shouldBe 2.0
    run(NumberBetweenMetric("m", Seq("n1"), 2.0, 3.0, negate = true), numDf).value shouldBe 2.0
  }

  test("quantiles (exact at small cardinality)") {
    run(QuantileMetric("m", "n1", 0.5), numDf).value shouldBe 2.0 +- eps
    run(PercentileAtValueMetric("m", "n1", 2.0), numDf).value shouldBe 0.5 +- eps
  }

  test("covariance family") {
    // n2 = 2*n1 exactly: covar_pop = 2*var_pop(n1) = 2.5
    run(CovarianceMetric("m", "n1", "n2", CovarianceMetric.Kind.Population), numDf)
      .value shouldBe 2.5 +- eps
    run(CovarianceMetric("m", "n1", "n2", CovarianceMetric.Kind.Sample), numDf)
      .value shouldBe (10.0 / 3.0) +- eps
    run(CovarianceMetric("m", "n1", "n2", CovarianceMetric.Kind.CoMoment), numDf)
      .value shouldBe 10.0 +- eps
  }

  test("COLUMN_EQ") {
    val df = Seq(("a", "a"), ("a", "b"), ("c", "c")).toDF("x", "y")
    run(ColumnEqMetric("m", Seq("x", "y")), df).value shouldBe 2.0
  }

  test("DAY_DISTANCE") {
    val df = Seq(("2024-01-01", "2024-01-02"), ("2024-01-01", "2024-03-01")).toDF("a", "b")
    run(DayDistanceMetric("m", "a", "b", 3), df).value shouldBe 1.0
  }

  test("LEVENSHTEIN_DISTANCE") {
    val df = Seq(("kitten", "sitting"), ("abc", "abc")).toDF("a", "b")
    run(LevenshteinMetric("m", "a", "b", 3.0), df).value shouldBe 1.0
    run(LevenshteinMetric("m", "a", "b", 0.5, normalized = true), df).value shouldBe 2.0
  }

  test("APPROXIMATE_DISTINCT_VALUES near-exact at tiny cardinality") {
    run(ApproxDistinctMetric("m", "s1")).value shouldBe 3.0 +- 0.5
  }

  /** Both approximate-cardinality metrics over column `v`: (#distinct,
    * sequence completeness). */
  private def approx(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
    val rs = MetricProcessor.processRowMetrics(df, Seq(
      ApproxDistinctMetric("d", "v"), ApproxSeqCompletenessMetric("sc", "v")))
    (rs.find(_.metricId == "d").get.value, rs.find(_.metricId == "sc").get.value)
  }

  test("approximate cardinality is exact on empty, null, one-row and constant inputs") {
    // no value: 0 distinct, and the expected sequence size is undefined
    for (df <- Seq(spark.range(0).toDF("v"),
        spark.range(1000).selectExpr("cast(null as long) as v"))) {
      val (d, sc) = approx(df)
      d shouldBe 0.0
      sc.isNaN shouldBe true
    }
    // three values among 997 nulls
    approx(spark.range(1000).selectExpr("if(id < 3, id + 7, null) as v")) shouldBe ((3.0, 1.0))
    approx(Seq(42L).toDF("v")) shouldBe ((1.0, 1.0))
    approx(spark.range(5000).selectExpr("5L as v")) shouldBe ((1.0, 1.0))
  }

  test("approximate cardinality of 200k distinct values is within 4 standard errors") {
    val bound = 4 * 1.04 / math.sqrt(1 << HllSketch.lgConfigK(0.01))
    val (d, sc) = approx(spark.range(200000).selectExpr("id + 1000003 as v"))
    d / 200000 shouldBe 1.0 +- bound
    sc shouldBe 1.0 +- bound
  }

  test("APPROXIMATE_DISTINCT_VALUES keeps Spark's equality on double, date and decimal") {
    val df = spark.sql("""SELECT * FROM VALUES
      (0.0D, DATE'2024-01-01', 1.10BD), (-0.0D, DATE'2024-01-01', 1.1BD),
      (double('NaN'), DATE'2024-01-02', 1.10BD), (double('NaN'), null, null)
      AS t(x, d, dec)""")
    val cols = Seq("x", "d", "dec")
    val exact = cols.map(c =>
      df.agg(org.apache.spark.sql.functions.countDistinct(c)).head.getLong(0).toDouble)
    exact shouldBe Seq(2.0, 2.0, 1.0)
    cols.map(c => run(ApproxDistinctMetric("m", c), df).value) shouldBe exact
  }

  test("sketch size follows accuracyError; a bad accuracyError fails at construction") {
    HllSketch.lgConfigK(0.01) shouldBe 14
    HllSketch.lgConfigK(0.05) shouldBe 9
    HllSketch.lgConfigK(0.9) shouldBe 4
    HllSketch.lgConfigK(1e-5) shouldBe 21
    for (e <- Seq(0.0, -0.01, 1.0, 2.0, Double.NaN)) {
      an[IllegalArgumentException] should be thrownBy ApproxDistinctMetric("m", "v", e)
      an[IllegalArgumentException] should be thrownBy
        ApproxSeqCompletenessMetric("m", "v", accuracyError = e)
    }
  }

  test("one distinct-count sketch: no approx_count_distinct in main code") {
    graft.MainSources.offenders("""(?i)\bapprox_?count_?distinct\b""".r, Set.empty) shouldBe empty
  }

  test("TOP_N exact when capacity >= cardinality") {
    val df = Seq("a", "a", "a", "b", "b", "c").toDF("v")
    val r = run(TopNMetric("m", "v", n = 2), df)
    r.value shouldBe 0.5 +- eps
    r.additional.get should startWith("a:0.5")
  }

  test("grouping metrics: DISTINCT / DUPLICATE / SEQ_COMPLETENESS") {
    val df = Seq(1L, 2L, 2L, 3L, 5L).toDF("k")
    val rs = MetricProcessor.processGroupingMetrics(df, Seq(
      DistinctValuesMetric("d", Seq("k")),
      DuplicateValuesMetric("dup", Seq("k"))))
    rs.find(_.metricId == "d").get.value shouldBe 4.0
    rs.find(_.metricId == "dup").get.value shouldBe 1.0
    val sc = MetricProcessor.processGroupingMetrics(df,
      Seq(SeqCompletenessMetric("sc", "k"))).head
    sc.value shouldBe (4.0 / 5.0) +- eps
  }

  test("DISTINCT_VALUES excludes the all-null tuple (ref GroupingDFMetrics:31-100)") {
    val df = Seq[(Option[String], Option[String])](
      (Some("a"), Some("x")), (Some("a"), None), (None, None), (None, None))
      .toDF("u", "v")
    MetricProcessor.processGroupingMetrics(df,
      Seq(DistinctValuesMetric("d", Seq("u", "v")))).head.value shouldBe 2.0
    // 1-row frame API agrees with the collect API
    val frame = MetricProcessor.groupingMetricsFrame(df,
      Seq(DistinctValuesMetric("d", Seq("u", "v"))))
    frame.collect().head.getDouble(0) shouldBe 2.0
  }

  test("grouping error dumps carry per-row payloads (two-stage capped merge)") {
    // ref semantics (GroupingDFMetrics.scala:167-168): DUPLICATE_VALUES
    // errors are the rows of duplicated groups, with keyFields prepended to
    // the metric columns
    val df = Seq(("r1", "a"), ("r2", "a"), ("r3", "b"), ("r4", "c"), ("r5", "c"))
      .toDF("rowkey", "v")
    val r = MetricProcessor.processGroupingMetrics(df,
      Seq(DuplicateValuesMetric("dup", Seq("v"))),
      MetricProcessor.Config(keyFields = Seq("rowkey"))).head
    r.value shouldBe 2.0
    // payloads: both rows of group a and both of group c
    r.errors.map(_.toList).toSet shouldBe Set(
      List("r1", "a"), List("r2", "a"), List("r4", "c"), List("r5", "c"))
    // cap applies across the flattened payloads
    val capped = MetricProcessor.processGroupingMetrics(df,
      Seq(DuplicateValuesMetric("dup", Seq("v"))),
      MetricProcessor.Config(keyFields = Seq("rowkey"), errorDumpSize = 3)).head
    capped.errors should have size 3
  }

  test("grouping error dumps find groups keyed by null, -0.0 and NaN") {
    // DUPLICATE_VALUES over (a, b): the duplicated groups are (null, 1.0),
    // (x, 0.0 = -0.0) and (y, NaN); a fetch that compared keys with `=`
    // would drop the null group's rows without a trace
    val df = Seq[(String, Option[String], Double)](
      ("r1", None, 1.0), ("r2", None, 1.0),
      ("r3", Some("x"), 0.0), ("r4", Some("x"), -0.0),
      ("r5", Some("y"), Double.NaN), ("r6", Some("y"), Double.NaN),
      ("r7", None, 2.0), ("r8", Some("x"), 1.0), ("r9", Some("y"), 0.0))
      .toDF("rowkey", "a", "b")
    val r = MetricProcessor.processGroupingMetrics(df,
      Seq(DuplicateValuesMetric("dup", Seq("a", "b"))),
      MetricProcessor.Config(keyFields = Seq("rowkey"))).head
    r.value shouldBe 3.0
    r.errors.map(_.toList).sortBy(_.head) shouldBe Seq(
      List("r1", "<null>", "1.0"), List("r2", "<null>", "1.0"),
      List("r3", "x", "0.0"), List("r4", "x", "-0.0"),
      List("r5", "y", "NaN"), List("r6", "y", "NaN"))
  }

  /** Jobs started on this thread while `body` runs, counted by a listener. */
  private def jobCount(body: => Unit): Int = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup(group)(body)
      // events arrive in order: once the marker job is seen, every job of
      // `body` has been delivered
      inGroup(s"$group-end")(sc.parallelize(1 to 2, 1).count())
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.contains(s"$group-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      seen.contains(s"$group-end") shouldBe true
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("a dumping grouping set keys a HashAggregate and fetches only for failing groups") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.functions.CollectListLimit
    val ms = Seq(DuplicateValuesMetric("dup", Seq("k")), DistinctValuesMetric("d", Seq("k")))
    val cfg = MetricProcessor.Config(keyFields = Seq("id"), errorDumpSize = 50)
    val clean = spark.range(2000).selectExpr("id", "id * 7 AS k")
    val dirty = spark.range(2000).selectExpr("id", "id % 1500 AS k")

    val frame = MetricProcessor.groupingSetFrame(dirty, ms, cfg)
    frame.collect()
    val keyed = new AdaptiveSparkPlanHelper {}.collect(frame.queryExecution.executedPlan) {
      case a: BaseAggregateExec if a.groupingExpressions.nonEmpty => a
    }
    keyed should not be empty
    keyed.map(_.nodeName).distinct shouldBe Seq("HashAggregate")
    keyed.flatMap(_.aggregateExpressions).map(_.aggregateFunction)
      .collect { case c: CollectListLimit => c } shouldBe empty

    // no failing group: the set runs exactly the jobs of its own frame
    val cleanOwn = jobCount(MetricProcessor.groupingSetFrame(clean, ms, cfg).collect())
    var cleanResult: Seq[MetricResult] = Nil
    jobCount { cleanResult = MetricProcessor.processGroupingMetrics(clean, ms, cfg) } shouldBe
      cleanOwn
    cleanResult.find(_.metricId == "dup").get.errors shouldBe empty
    // failing groups: the bounded fetch adds jobs
    val dirtyOwn = jobCount(MetricProcessor.groupingSetFrame(dirty, ms, cfg).collect())
    var dirtyResult: Seq[MetricResult] = Nil
    jobCount { dirtyResult = MetricProcessor.processGroupingMetrics(dirty, ms, cfg) } should be >
      dirtyOwn
    dirtyResult.find(_.metricId == "dup").get.errors should have size 50
  }

  test("a 10,000-row grouping dump holds only rows of duplicated groups") {
    // 12,000 duplicated keys (two rows each) among 16,000 unique ones
    val df = spark.range(40000).selectExpr("id", "IF(id < 24000, id DIV 2, id) AS k")
    val r = MetricProcessor.processGroupingMetrics(df,
      Seq(DuplicateValuesMetric("dup", Seq("k"))),
      MetricProcessor.Config(keyFields = Seq("id"), errorDumpSize = 10000)).head
    r.value shouldBe 12000.0
    r.errors should have size 10000
    r.errors.distinct should have size 10000
    r.errors.count { e =>
      val id = e.head.toLong
      !(id < 24000 && id / 2 == e(1).toLong)
    } shouldBe 0
  }

  test("error dump is capped") {
    val df = spark.range(1000).selectExpr("cast(null as string) as s")
    val r = MetricProcessor.processRowMetrics(df,
      Seq(NullValuesMetric("m", Seq("s"))),
      MetricProcessor.Config(errorDumpSize = 7)).head
    r.value shouldBe 1000.0
    r.errors should have size 7
  }

  test("ANSI mode: dirty strings through the numeric/date surface never throw") {
    // Spark 4 ANSI casts THROW on malformed input — every metric that
    // touches user data must ride try_cast/try_* paths. One fused pass over
    // garbage-laden columns must complete and count the dirt, not crash.
    val dirty = Seq(
      ("12.5", "2024-01-01", "AKIA"),
      ("not-a-number", "99/99/9999", "x"),
      ("1e309", "", "y"),        // overflows to Infinity (still castable) + empty
      (null, null, null),
      ("  7 ", "2024-13-45", "z")
    ).toDF("raw", "d", "s")
    val ms: Seq[RowMetric] = Seq(
      CastedNumberMetric("casted", Seq("raw")),
      FormattedDateMetric("fdate", Seq("d"), "yyyy-MM-dd"),
      FormattedNumberMetric("fnum", Seq("raw"), 8, 2),
      NumberCompareMetric("ncmp", Seq("raw"), 10.0, greater = false),
      RegexMatchMetric("re", Seq("s"), "^[a-z]$"))
    val rs = MetricProcessor.processRowMetrics(dirty, ms)
    rs.find(_.metricId == "casted").get.value shouldBe 3.0  // 12.5, 1e309→Inf, "  7 "
    rs.find(_.metricId == "fdate").get.value shouldBe 1.0
    rs.find(_.metricId == "re").get.value shouldBe 3.0      // x, y, z
  }

  test("fused plan has a single aggregate over one scan") {
    val metrics: Seq[RowMetric] = Seq(
      RowCountMetric("a"), NullValuesMetric("b", Seq("s1")),
      AvgStringLenMetric("c", Seq("s1")), RegexMatchMetric("d", Seq("s2"), "@"))
    val plan = MetricProcessor.rowMetricsFrame(strDf, metrics)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    plan.collect { case a: Aggregate => a } should have size 1
  }

  test("numeric metrics read strings exactly as try_cast does") {
    import org.apache.spark.sql.functions.col
    import graft.functions.{MayCastToDouble, TryCastDouble}
    val raw = Seq("1d", " 1 ", "0x1p3", "1e5", "+Infinity", "-inf", "NaN", "",
      "n/a", "A", "\u0661", null, "  nan\t", "INF", "-Infinity ", "N", "none",
      "1e309", "7.25", "-0", "\u00a0inf")
    val df = raw.toDF("raw")
    // value by value
    df.select(TryCastDouble(col("raw")), col("raw").try_cast("double"))
      .collect().foreach { r =>
        withClue(r) { String.valueOf(r.get(0)) shouldBe String.valueOf(r.get(1)) }
      }
    // metric by metric, against the same metrics over try_cast values
    val ms: Seq[RowMetric] = Seq(
      CastedNumberMetric("casted", Seq("raw")),
      FormattedNumberMetric("fmt", Seq("raw"), 8, 2),
      FormattedNumberMetric("fmt_out", Seq("raw"), 8, 2, outbound = true),
      NumberDomainMetric("dom", Seq("raw"), Set(1.0, 8.0, 1e5)),
      NumberDomainMetric("dom_out", Seq("raw"), Set(1.0), outbound = true),
      NumberValuesMetric("vals", Seq("raw"), 1.0),
      NumberCompareMetric("lt", Seq("raw"), 5.0, greater = false),
      NumberCompareMetric("ge", Seq("raw"), 1.0, greater = true, includeBound = true),
      NumberBetweenMetric("btw", Seq("raw"), 0.0, 10.0),
      NumberBetweenMetric("nbtw", Seq("raw"), 0.0, 10.0, negate = true),
      NumberExtremeMetric("min", Seq("raw"), isMax = false),
      NumberExtremeMetric("max", Seq("raw"), isMax = true),
      SumNumberMetric("sum", Seq("raw")),
      PercentileAtValueMetric("pct", "raw", 1.0))
    val got = MetricProcessor.processRowMetrics(df, ms)
    val want = MetricProcessor.processRowMetrics(
      df.select(col("raw").try_cast("double").as("raw")), ms)
    got.map(r => (r.metricId, r.value.toString)) shouldBe
      want.map(r => (r.metricId, r.value.toString))
    // non-string inputs keep the plain cast: no string test in the plan
    numDf.select(TryCastDouble(col("n1"))).queryExecution.optimizedPlan
      .expressions.exists(_.exists(_.isInstanceOf[MayCastToDouble])) shouldBe false
  }

  test("date metrics dump the rows the try_to_timestamp metrics dumped") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{abs, coalesce, col, datediff, lit, sum, try_to_timestamp, when}
    // the metrics as they were before the byte kernel, parse for parse
    final case class ParseFormattedDate(id: String, columns: Seq[String], format: String)
        extends ConditionalMetric {
      val name = "FORMATTED_DATE"
      protected def cond(c: Column): Column =
        try_to_timestamp(c.cast("string"), lit(format)).isNotNull
    }
    final case class ParseDayDistance(id: String, a: String, b: String, threshold: Int,
        format: String) extends RowMetric {
      val name = "DAY_DISTANCE"
      val columns = Seq(a, b)
      private def within: Column = abs(datediff(
        try_to_timestamp(col(a).cast("string"), lit(format)),
        try_to_timestamp(col(b).cast("string"), lit(format)))) < threshold
      def result: Column = sum(when(within, 1L).otherwise(0L)).cast("double").as(id)
      override def errorCondition: Option[Column] = Some(!coalesce(within, lit(false)))
    }
    val malformed = Seq("1995-13-45", "1995-02-29", "0000-01-01", " 1995-01-01",
      "1995-1-01", "", null)
    val df = (malformed ++ Seq("1995-01-01", "1995-03-01", "2000-02-29"))
      .zipWithIndex.map { case (d, i) => (i.toLong, d, if (i % 2 == 0) "1995-01-10" else d) }
      .toDF("k", "d", "e")
    val cfg = MetricProcessor.Config(keyFields = Seq("k"))
    val got = MetricProcessor.processRowMetrics(df, Seq(
      FormattedDateMetric("fd", Seq("d"), "yyyy-MM-dd"),
      DayDistanceMetric("dd", "d", "e", 20)), cfg)
    val want = MetricProcessor.processRowMetrics(df, Seq(
      ParseFormattedDate("fd", Seq("d"), "yyyy-MM-dd"),
      ParseDayDistance("dd", "d", "e", 20, "yyyy-MM-dd")), cfg)
    got.map(r => (r.metricId, r.value, r.errors.toSet)) shouldBe
      want.map(r => (r.metricId, r.value, r.errors.toSet))
    // year 0000 parses (Spark reads yyyy as a proleptic year); the other
    // six malformed values are dumped
    got.head.errors.map(_.head).toSet shouldBe Set("0", "1", "3", "4", "5", "6")
  }

  test("the quartile metrics of one column share one percentile_approx") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.functions.{col, lit, percentile_approx}
    val df = spark.range(0, 200000).select(((col("id") * 7919) % 100003).cast("double").as("x"))
    val ms: Seq[RowMetric] = Seq(QuantileMetric("med", "x", 0.5),
      QuantileMetric("q3", "x", 0.75), QuantileMetric("p90", "x", 0.9))
    val frame = MetricProcessor.rowMetricsFrame(df, ms)
    val aggs = frame.queryExecution.sparkPlan.collect { case a: BaseAggregateExec => a }
    aggs should not be empty
    // quartiles: one sketch; GET_QUANTILE 0.9 asks for its own array
    aggs.foreach(_.aggregateExpressions
      .count(_.aggregateFunction.isInstanceOf[ApproximatePercentile]) shouldBe 2)
    val row = frame.head()
    val scalar = df.select(Seq(0.5, 0.75, 0.9).map(q =>
      percentile_approx(col("x"), lit(q), lit(10000)).cast("double")): _*).head()
    (0 until 3).map(row.getDouble) shouldBe (0 until 3).map(scalar.getDouble)
  }

  test("no date parse call in the metrics outside the date kernel") {
    graft.MainSources.offenders(
      """\b(?:try_)?to_(?:timestamp|date)\b|\bParseTo(?:Timestamp|Date)\b""".r, Set.empty)
      .filter(_.startsWith("graft/metrics/")) shouldBe empty
  }
}
