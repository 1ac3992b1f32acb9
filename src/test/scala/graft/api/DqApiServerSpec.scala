package graft.api

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.metrics.MetricResult
import graft.storage.ParquetDqStorage

/** API module: validation + storage-query routes against a live local
  * server, exercising the same JobConfig/DqStorage code paths as the batch
  * job. */
class DqApiServerSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private def get(url: String): (Int, String) = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    (code, try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close())
  }

  private def post(url: String, body: String): (Int, String) = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    val out = c.getOutputStream
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    (code, try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close())
  }

  test("validate + history + health routes work end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api").toString
    val storage = new ParquetDqStorage(spark, dir)
    val t0 = java.time.Instant.parse("2026-08-01T00:00:00Z")
    storage.saveMetrics("job1", t0,
      Seq(MetricResult("m1", "ROW_COUNT", "s1", Nil, 100.0)))
    storage.saveMetrics("job1", t0.plusSeconds(3600),
      Seq(MetricResult("m1", "ROW_COUNT", "s1", Nil, 120.0)))

    val srv = new DqApiServer(Some(storage)).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      get(s"$base/api/health")._2 should include("ok")

      val good =
        """{"jobId":"j","sources":[{"id":"s1","kind":"parquet",
          |"path":"/root/testdata/sf0.001/lineitem.parquet"}],
          |"metrics":[{"id":"m1","name":"ROW_COUNT","source":"s1"}],
          |"checks":[{"id":"c1","kind":"GREATER_THAN","base":"m1","threshold":1}]}"""
          .stripMargin
      val (okCode, okBody) = post(s"$base/api/jobs/validate", good)
      okCode shouldBe 200
      okBody should include(""""valid":true""")

      val bad = """{"jobId":"j","metrics":[{"id":"m1","name":"ROW_COUNT","source":"ghost"}]}"""
      val (_, badBody) = post(s"$base/api/jobs/validate", bad)
      badBody should include(""""valid":false""")
      badBody should include("unknown source")

      val (_, notJson) = post(s"$base/api/jobs/validate", "{nope")
      notJson should include(""""valid":false""")

      // curation twin: a good spec validates, a broken rule is reported
      val curGood =
        """{"jobId":"cj","source":{"kind":"parquet","path":"/tmp/x"},
          |"rules":[{"name":"r1","sql":"n_tokens >= 1"}]}""".stripMargin
      val (ccode, cbody) = post(s"$base/api/curation/validate", curGood)
      ccode shouldBe 200
      cbody should include(""""valid":true""")
      val curBad =
        """{"jobId":"cj","source":{"kind":"parquet","path":"/tmp/x"},
          |"rules":[{"name":"r1","sql":"n_tokens >="}]}""".stripMargin
      val (_, cbadBody) = post(s"$base/api/curation/validate", curBad)
      cbadBody should include(""""valid":false""")
      cbadBody should include("does not parse")

      // a storage kind no builder knows fails validation on both routes
      val (_, fooJob) = post(s"$base/api/jobs/validate",
        good.dropRight(1) + ""","storage":{"kind":"foo","location":"/tmp/x"}}""")
      fooJob should include(""""valid":false""")
      fooJob should include("unknown storage kind 'foo'")
      val (_, fooCur) = post(s"$base/api/curation/validate",
        curGood.dropRight(1) + ""","metricsStorage":{"kind":"foo","location":"/tmp/x"}}""")
      fooCur should include(""""valid":false""")
      fooCur should include("unknown storage kind 'foo'")

      val (hCode, hBody) = get(
        s"$base/api/storage/metrics/history?jobId=job1&metricId=m1")
      hCode shouldBe 200
      hBody should include("100.0")
      hBody should include("120.0")
      // `before` filters history like the trend engine does
      val (_, hBefore) = get(s"$base/api/storage/metrics/history" +
        "?jobId=job1&metricId=m1&before=2026-08-01T00:30:00Z")
      hBefore should include("100.0")
      hBefore should not include "120.0"

      get(s"$base/api/storage/metrics/history?jobId=job1")._1 shouldBe 400

      // malformed `before` must get the JSON error contract (a 400), not a
      // dropped connection from an exception escaping the handler
      val (badTsCode, badTsBody) = get(s"$base/api/storage/metrics/history" +
        "?jobId=job1&metricId=m1&before=garbage")
      badTsCode shouldBe 400
      badTsBody should include("invalid 'before' timestamp")

      // job-state route: stored config document comes back verbatim
      storage.saveJobState("job1", t0, """{"jobId":"job1","x":1}""")
      val (jsCode, jsBody) = get(s"$base/api/storage/jobstate?jobId=job1")
      jsCode shouldBe 200
      jsBody should include(""""config":{"jobId":"job1","x":1}""")
      get(s"$base/api/storage/jobstate?jobId=ghost")._1 shouldBe 404
      get(s"$base/api/storage/jobstate")._1 shouldBe 400
      get(s"$base/api/storage/jobstate?jobId=job1&at=garbage")._1 shouldBe 400
    } finally srv.stop()
  }

  test("template endpoint generates a config that validates AND runs") {
    val srv = new DqApiServer(None).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      val req =
        """{"jobId":"gen_job",
          |"source":{"id":"lineitem","kind":"parquet",
          |          "path":"/root/testdata/sf0.001/lineitem.parquet"},
          |"columns":[{"name":"l_quantity","type":"double"},
          |           {"name":"l_returnflag","type":"string"},
          |           {"name":"l_shipdate","type":"date"}]}""".stripMargin
      val (code, template) = post(s"$base/api/jobs/template", req)
      code shouldBe 200
      template should include("MIN_NUMBER")
      template should include("l_returnflag_completeness")
      template should include("FORMATTED_DATE")

      // round-trip: generated config -> validate route -> valid
      val (vCode, vBody) = post(s"$base/api/jobs/validate", template)
      vCode shouldBe 200
      vBody should include(""""valid":true""")

      // and it is genuinely runnable, not just well-formed
      val result = graft.config.JobConfig
        .build(spark, graft.config.JobConfig.parse(template))
        .run(java.time.Instant.parse("2026-08-01T00:00:00Z"))
      result.passed shouldBe true
      result.metrics.find(_.metricId == "row_count").get.value shouldBe 6000.0

      val (badCode, badBody) = post(s"$base/api/jobs/template", """{"nope":1}""")
      badCode shouldBe 400
      badBody should include("missing field")
    } finally srv.stop()
  }
}
