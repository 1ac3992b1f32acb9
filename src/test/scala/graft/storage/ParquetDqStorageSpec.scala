package graft.storage

import java.nio.file.Files
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.checks.CheckResult
import graft.metrics.MetricResult

class ParquetDqStorageSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))

  test("each save adds exactly one parquet file to its table") {
    val base = Files.createTempDirectory("graft-dq-files").toString
    val storage = new ParquetDqStorage(spark, base)
    val ts = Instant.parse("2026-03-01T00:00:00Z")
    // more rows than the session's default parallelism in every table
    val results = (1 to 9).map(i => MetricResult(s"m$i", "ROW_COUNT", "src",
      Seq("c"), i.toDouble, errors = Seq(Seq(s"r$i", "x"), Seq(s"r$i", "y"))))
    val checks = (1 to 9).map(i => CheckResult(s"c$i", "GREATER_THAN", i % 2 == 0,
      s"check $i", baseMetric = s"m$i"))
    for (run <- 1 to 2) {
      val at = ts.plusSeconds(run)
      storage.saveMetrics("job", at, results)
      storage.saveMetricErrors("job", at, results)
      storage.saveChecks("job", at, checks)
      storage.saveJobState("job", at, s"{run = $run}")
      Seq("results_metrics", "results_metric_errors", "results_checks", "job_state")
        .foreach(t => withClue(t)(parquetFiles(s"$base/$t") shouldBe run))
    }
    val after = ts.plusSeconds(10)
    storage.metricHistory("job", "m3", after).map(_.value) shouldBe Seq(3.0, 3.0)
    storage.metricErrors("job", "m3", after) should have size 4
    storage.latestJobState("job", after) shouldBe Some("{run = 2}")
  }
}
