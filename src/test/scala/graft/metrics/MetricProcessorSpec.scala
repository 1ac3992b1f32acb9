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
    // ref semantics (GroupingDFMetrics.scala:167-168 + MergeListWithLimit):
    // DUPLICATE_VALUES errors are the rows of duplicated groups, with
    // keyFields prepended to the metric columns
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
}
