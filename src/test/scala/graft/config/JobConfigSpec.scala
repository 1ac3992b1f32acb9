package graft.config

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Declarative-job config: parse → validate (all errors at once) → build →
  * run end-to-end on real parquet (the reference's jobconf UX,
  * config/validation/PostValidation.scala cross-reference rules). */
class JobConfigSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private val goodJson =
    """{
      "jobId": "cfg_job",
      "sources": [
        {"id": "lineitem", "kind": "parquet",
         "path": "/root/testdata/sf0.001/lineitem.parquet",
         "keyFields": ["l_orderkey", "l_linenumber"]}
      ],
      "loadChecks": [
        {"id": "lc_cols", "kind": "MIN_COLUMN_NUM", "count": 5},
        {"id": "lc_exist", "kind": "COLUMNS_EXIST", "columns": ["l_quantity"]}
      ],
      "metrics": [
        {"id": "rows", "name": "ROW_COUNT", "source": "lineitem"},
        {"id": "avg_qty", "name": "AVG_NUMBER", "source": "lineitem",
         "columns": ["l_quantity"]},
        {"id": "qty_p50", "name": "MEDIAN_VALUE", "source": "lineitem",
         "columns": ["l_quantity"]},
        {"id": "flag_re", "name": "REGEX_MATCH", "source": "lineitem",
         "columns": ["l_returnflag"], "params": {"regex": "^[ANR]$"}},
        {"id": "flags", "name": "DISTINCT_VALUES", "source": "lineitem",
         "columns": ["l_returnflag"]}
      ],
      "composedMetrics": [
        {"id": "qty_x2", "formula": "{{ avg_qty }} * 2"}
      ],
      "checks": [
        {"id": "ck_rows", "kind": "GREATER_THAN", "base": "rows",
         "threshold": 100, "critical": true},
        {"id": "ck_flags", "kind": "EQUAL_TO", "base": "flags", "threshold": 3},
        {"id": "ck_expr", "kind": "EXPRESSION",
         "formula": "{{ qty_x2 }} > {{ avg_qty }} && {{ flag_re }} == {{ rows }}"}
      ],
      "tolerance": "critical",
      "errorDumpSize": 50
    }"""

  test("config-declared job parses, validates, builds and passes end-to-end") {
    val conf = JobConfig.parse(goodJson)
    JobConfig.validate(conf) shouldBe empty
    val result = JobConfig.build(spark, conf)
      .run(java.time.Instant.parse("2026-08-01T00:00:00Z"))
    result.passed shouldBe true
    result.metrics.map(_.metricId) should contain allOf
      ("rows", "avg_qty", "qty_p50", "flag_re", "flags", "qty_x2")
    result.metrics.find(_.metricId == "rows").get.value shouldBe 6000.0
    result.metrics.find(_.metricId == "flags").get.value shouldBe 3.0
    result.checks.map(_._1.checkId).toSet shouldBe Set("ck_rows", "ck_flags", "ck_expr")
    result.checks.foreach { case (r, _) => r.status shouldBe true }
  }

  /** The same job as [[goodJson]], written as an idiomatic HOCON jobconf
    * (the reference's primary config UX): comments, unquoted strings,
    * `key { }` objects, newline-separated entries, a substitution for the
    * shared base path. */
  private val goodHocon =
    """// graft DQ job — HOCON front-end
      |basePath = "/root/testdata/sf0.001"
      |jobId = cfg_job
      |sources = [
      |  {id = lineitem, kind = parquet,
      |   path = ${basePath}"/lineitem.parquet"  // quoted concat, the idiomatic form
      |   keyFields = [l_orderkey, l_linenumber]}
      |]
      |loadChecks = [
      |  {id = lc_cols, kind = MIN_COLUMN_NUM, count = 5}
      |  {id = lc_exist, kind = COLUMNS_EXIST, columns = [l_quantity]}
      |]
      |metrics = [
      |  {id = rows, name = ROW_COUNT, source = lineitem}
      |  {id = avg_qty, name = AVG_NUMBER, source = lineitem, columns = [l_quantity]}
      |  {id = qty_p50, name = MEDIAN_VALUE, source = lineitem, columns = [l_quantity]}
      |  {id = flag_re, name = REGEX_MATCH, source = lineitem,
      |   columns = [l_returnflag], params { regex = "^[ANR]$" }}
      |  {id = flags, name = DISTINCT_VALUES, source = lineitem, columns = [l_returnflag]}
      |]
      |composedMetrics = [
      |  {id = qty_x2, formula = "{{ avg_qty }} * 2"}
      |]
      |checks = [
      |  {id = ck_rows, kind = GREATER_THAN, base = rows, threshold = 100, critical = true}
      |  {id = ck_flags, kind = EQUAL_TO, base = flags, threshold = 3}
      |  {id = ck_expr, kind = EXPRESSION,
      |   formula = "{{ qty_x2 }} > {{ avg_qty }} && {{ flag_re }} == {{ rows }}"}
      |]
      |tolerance = critical # same enum as JSON
      |errorDumpSize = 50
      |""".stripMargin

  test("HOCON jobconf parses to the IDENTICAL Conf as its JSON twin and runs E2E") {
    // rawJson is the VERBATIM parsed document (stored as job state), so
    // the two front-ends legitimately differ there; every logical field
    // must be identical
    JobConfig.parseHocon(goodHocon).copy(rawJson = None) shouldBe
      JobConfig.parse(goodJson).copy(rawJson = None)

    // fromFile dispatches .conf through the HOCON front-end
    val f = java.nio.file.Files.createTempFile("graft-job", ".conf")
    java.nio.file.Files.writeString(f, goodHocon)
    val result = JobConfig.fromFile(spark, f.toString)
      .run(java.time.Instant.parse("2026-08-01T00:00:00Z"))
    result.passed shouldBe true
    result.metrics.find(_.metricId == "rows").get.value shouldBe 6000.0
  }

  test("multi-file config merge: base .conf + override file, later wins") {
    // the reference's buildBatchJob(jobConfigPaths) idiom: a shared base
    // config plus a small per-job override
    val base = java.nio.file.Files.createTempFile("graft-base", ".conf")
    java.nio.file.Files.writeString(base, goodHocon)
    val over = java.nio.file.Files.createTempFile("graft-override", ".conf")
    java.nio.file.Files.writeString(over,
      "jobId = overridden_job\nerrorDumpSize = 7\n")
    val result = JobConfig.fromFiles(spark, Seq(base.toString, over.toString))
      .run(java.time.Instant.parse("2026-08-01T00:00:00Z"))
    result.passed shouldBe true
    result.metrics.find(_.metricId == "rows").get.value shouldBe 6000.0
    // the override file replaced exactly the keys it named
    val merged = graft.config.Hocon.merge(
      graft.config.Hocon.parse(goodHocon),
      graft.config.Hocon.parse("jobId = overridden_job\nerrorDumpSize = 7\n"))
    merged.at("/jobId").asText shouldBe "overridden_job"
    merged.at("/errorDumpSize").asInt shouldBe 7
    merged.at("/tolerance").asText shouldBe "critical" // untouched keys survive
  }

  test("HOCON subset semantics: dotted keys, object merge, substitutions, multiline") {
    val n = graft.config.Hocon.parse(
      "a.b.c = 1\n" +
      "a { b { d = two } }\n" +
      "a.b.c = 3 // later wins\n" +
      "list = [1, 2.5, three, \"fo ur\"]\n" +
      "ref = ${a.b.d}\n" +
      "inline = prefix-${a.b.c}-suffix\n" +
      "gone = ${?missing}\n" +
      "text = \"\"\"multi\nline\"\"\"\n")
    n.at("/a/b/c").asInt shouldBe 3
    n.at("/a/b/d").asText shouldBe "two"
    n.at("/list/0").asInt shouldBe 1
    n.at("/list/1").asDouble shouldBe 2.5
    n.at("/list/2").asText shouldBe "three"
    n.at("/list/3").asText shouldBe "fo ur"
    n.at("/ref").asText shouldBe "two" // substitution preserves the target
    n.at("/inline").asText shouldBe "prefix-3-suffix"
    n.has("gone") shouldBe false // missing OPTIONAL substitution drops the field
    n.at("/text").asText shouldBe "multi\nline"

    // value concatenation: quoted + substitution + unquoted segments
    val cc = graft.config.Hocon.parse(
      "base = \"/data\"\n" +
      "p1 = ${base}\"/file.parquet\"\n" +
      "p2 = \"pre-\"${base}\n" +
      "p3 = \"a\" \"b\"\n")
    cc.at("/p1").asText shouldBe "/data/file.parquet"
    cc.at("/p2").asText shouldBe "pre-/data"
    cc.at("/p3").asText shouldBe "ab" // documented subset: inter-segment ws collapsed

    // HOCON spec: ${...} inside QUOTED strings is literal text, never a
    // substitution (and never an unresolved-substitution error)
    val lit = graft.config.Hocon.parse(
      "amount = 3\n" +
      "msg = \"cost is ${amount} dollars\"\n" +
      "tmpl = \"\"\"raw ${not.a.key} body\"\"\"\n" +
      "mixed = ${amount}\" then ${literal}\"\n")
    lit.at("/msg").asText shouldBe "cost is ${amount} dollars"
    lit.at("/tmpl").asText shouldBe "raw ${not.a.key} body"
    lit.at("/mixed").asText shouldBe "3 then ${literal}"
    // out-of-Long-range integers degrade to double, not NumberFormatException
    graft.config.Hocon.parse("big = 99999999999999999999999\n")
      .at("/big").asDouble shouldBe 1e23 +- 1e9

    // an active substitution can NEVER be synthesized from quoted pieces —
    // neither across concatenated segment boundaries nor by re-scanning a
    // spliced value (typesafe-config semantics)
    val synth = graft.config.Hocon.parse(
      "x = 1\n" +
      "a = \"$\" \"{x}\"\n" +          // quoted "$" ++ quoted "{x}"
      "pre = \"$\"\n" +
      "b = ${pre}\"{x}\"\n")           // spliced "$" ++ quoted "{x}"
    synth.at("/a").asText shouldBe "${x}"
    synth.at("/b").asText shouldBe "${x}"

    // fail-fast on the documented non-features / real errors
    an[IllegalArgumentException] should be thrownBy
      graft.config.Hocon.parse("x = ${nowhere}\n")
    an[IllegalArgumentException] should be thrownBy
      graft.config.Hocon.parse("include \"other.conf\"\ny = 1\n")
  }

  test("cross-reference validation collects every violation at once") {
    val bad =
      """{
        "jobId": "bad",
        "sources": [
          {"id": "s1", "kind": "parquet", "path": "/x"},
          {"id": "s1", "kind": "parquet", "path": "/y"}
        ],
        "metrics": [
          {"id": "m1", "name": "ROW_COUNT", "source": "nope"}
        ],
        "composedMetrics": [
          {"id": "c1", "formula": "{{ ghost }} + 1"}
        ],
        "checks": [
          {"id": "k1", "kind": "GREATER_THAN", "base": "missing"},
          {"id": "k2", "kind": "EXPRESSION"}
        ]
      }"""
    val errs = JobConfig.validate(JobConfig.parse(bad))
    errs.exists(_.contains("duplicate source id 's1'")) shouldBe true
    errs.exists(_.contains("unknown source 'nope'")) shouldBe true
    errs.exists(_.contains("unknown metric 'missing'")) shouldBe true
    errs.exists(_.contains("needs compareMetric or threshold")) shouldBe true
    errs.exists(_.contains("needs a formula")) shouldBe true
    errs.exists(_.contains("unknown metric 'ghost'")) shouldBe true
    errs.size should be >= 6
    an[IllegalArgumentException] should be thrownBy
      JobConfig.build(spark, JobConfig.parse(bad))
  }

  test("DIFFER_BY_LT with threshold but no compareMetric is a VALIDATION error, not a crash") {
    val bad =
      """{
        "jobId": "dbl",
        "sources": [{"id": "s1", "kind": "parquet",
                     "path": "/root/testdata/sf0.001/lineitem.parquet"}],
        "metrics": [{"id": "m1", "name": "ROW_COUNT", "source": "s1"}],
        "checks": [
          {"id": "k1", "kind": "DIFFER_BY_LT", "base": "m1", "threshold": 0.1}
        ]
      }"""
    val errs = JobConfig.validate(JobConfig.parse(bad))
    errs.exists(_.contains("DIFFER_BY_LT check 'k1' needs BOTH")) shouldBe true
    // build surfaces the collected message, never a bare NoSuchElementException
    val ex = intercept[IllegalArgumentException] {
      JobConfig.build(spark, JobConfig.parse(bad))
    }
    ex.getMessage should include("DIFFER_BY_LT check 'k1'")
  }

  test("metric factory covers the MetricName surface incl. params") {
    def m(name: String, cols: Seq[String] = Seq("c"),
        params: Map[String, String] = Map.empty) =
      JobConfig.metric(JobConfig.MetricConf("id", name, "s", cols, params))
    m("STRING_LENGTH", params = Map("length" -> "5", "rule" -> "gte"))
      .isLeft shouldBe true
    m("NUMBER_BETWEEN", params = Map("lower" -> "1", "upper" -> "2")).isLeft shouldBe true
    m("TOP_N", params = Map("targetNumber" -> "3")).isLeft shouldBe true
    m("DUPLICATE_VALUES").isRight shouldBe true
    m("SEQUENCE_COMPLETENESS").isRight shouldBe true
    an[IllegalArgumentException] should be thrownBy m("NO_SUCH_METRIC")
    an[IllegalArgumentException] should be thrownBy m("REGEX_MATCH") // missing regex param
  }

  test("accuracyError reaches both approximate-cardinality metrics; a bad one fails the build") {
    def m(name: String, err: String) = JobConfig.metric(JobConfig.MetricConf(
      "id", name, "s", Seq("c"), Map("accuracyError" -> err)))
    m("APPROXIMATE_DISTINCT_VALUES", "0.05") shouldBe
      Left(graft.metrics.ApproxDistinctMetric("id", "c", 0.05))
    m("APPROXIMATE_SEQUENCE_COMPLETENESS", "0.05") shouldBe
      Left(graft.metrics.ApproxSeqCompletenessMetric("id", "c", 1L, 0.05))
    for (name <- Seq("APPROXIMATE_DISTINCT_VALUES", "APPROXIMATE_SEQUENCE_COMPLETENESS");
         err <- Seq("0", "-0.5", "1.5"))
      an[IllegalArgumentException] should be thrownBy m(name, err)
  }

  test("job state persists per run; encryption section encrypts sensitive fields at rest") {
    val dir = java.nio.file.Files.createTempDirectory("jobstate").toString
    val json =
      s"""{
         |  "jobId": "js1",
         |  "encryption": {"secret": "top-secret-key-9", "keyFields": ["password"]},
         |  "sources": [{"id": "li", "kind": "parquet",
         |               "path": "/root/testdata/sf0.001/lineitem.parquet",
         |               "options": {"dbPassword": "hunter2"}}],
         |  "metrics": [{"id": "rows", "name": "ROW_COUNT", "source": "li", "columns": []}],
         |  "checks": [],
         |  "storage": {"kind": "parquet", "location": "$dir"}
         |}""".stripMargin
    val t0 = java.time.Instant.parse("2026-08-18T00:00:00Z")
    JobConfig.build(spark, JobConfig.parse(json)).run(t0).passed shouldBe true
    val storage = new graft.storage.ParquetDqStorage(spark, dir)
    val stored = storage.latestJobState("js1", t0).get
    // the stored document is the real config with the password ENCRYPTED
    stored should include("\"jobId\":\"js1\"")
    (stored should not).include("hunter2")
    // ...and the encryption section is STRIPPED: storing the secret next
    // to the ciphertexts it protects would void the scheme
    (stored should not).include("top-secret-key-9")
    (stored should not).include("\"encryption\"")
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(stored)
    val dec = new ConfigEncryptor("top-secret-key-9", Seq("password"))
    dec.decryptString(
      tree.at("/sources/0/options/dbPassword").asText) shouldBe "hunter2"
    // without an encryption section the config is stored as parsed
    val plainJson = json.replaceFirst(
      """"encryption": \{"secret": "top-secret-key-9", "keyFields": \["password"\]\},""", "")
      .replace("\"js1\"", "\"js2\"")
    JobConfig.build(spark, JobConfig.parse(plainJson)).run(t0).passed shouldBe true
    storage.latestJobState("js2", t0).get should include("hunter2")
  }

  test("metric/check description+metadata annotations land on results and in storage") {
    val dir = java.nio.file.Files.createTempDirectory("annots").toString
    val json =
      s"""{
         |  "jobId": "ann1",
         |  "sources": [{"id": "li", "kind": "parquet",
         |               "path": "/root/testdata/sf0.001/lineitem.parquet"}],
         |  "metrics": [
         |    {"id": "rows", "name": "ROW_COUNT", "source": "li", "columns": [],
         |     "description": "total rows", "metadata": "team=dq;tier=1"},
         |    {"id": "plain", "name": "ROW_COUNT", "source": "li", "columns": []}
         |  ],
         |  "checks": [{"id": "c1", "kind": "GREATER_THAN", "base": "rows",
         |              "threshold": 1.0, "description": "rows sanity"}],
         |  "storage": {"kind": "parquet", "location": "$dir"}
         |}""".stripMargin
    val t0 = java.time.Instant.parse("2026-08-18T00:00:00Z")
    val res = JobConfig.build(spark, JobConfig.parse(json)).run(t0)
    res.passed shouldBe true
    val rows = res.metrics.find(_.metricId == "rows").get
    rows.description shouldBe Some("total rows")
    rows.metadata shouldBe Some("team=dq;tier=1")
    res.metrics.find(_.metricId == "plain").get.description shouldBe None
    res.checks.head._1.description shouldBe Some("rows sanity")
    // stored columns round-trip
    val m = spark.read.parquet(s"$dir/results_metrics")
      .filter(org.apache.spark.sql.functions.col("metric_id") === "rows")
      .select("description", "metadata").collect().head
    (m.getString(0), m.getString(1)) shouldBe ("total rows", "team=dq;tier=1")
    spark.read.parquet(s"$dir/results_checks")
      .select("description").collect().head.getString(0) shouldBe "rows sanity"
  }

  test("stream validate collects DIFFER_BY_LT and EXPRESSION violations (batch parity, ADVICE r5)") {
    // these two rules were batch-only: a bad stream config passed
    // validation and died later with ONE exception from inside start(),
    // after the schema-bootstrap read, defeating collect-ALL-errors
    val checks = Seq(
      JobConfig.CheckConf("k1", "DIFFER_BY_LT", "m1", None, Some(0.1), None, false),
      JobConfig.CheckConf("k2", "EXPRESSION", "", None, None, None, false))
    val conf = StreamJobConfig.Conf("j", "parquet", "/p", Map.empty, "event",
      "ts", None, "10 minutes", "5 minutes", None,
      Seq(JobConfig.MetricConf("m1", "ROW_COUNT", "stream", Nil, Map.empty)),
      Some("/sink"), None, checks, "/cp", "availableNow")
    val errs = StreamJobConfig.validate(conf)
    errs.exists(_.contains("DIFFER_BY_LT check 'k1' needs BOTH")) shouldBe true
    errs.exists(_.contains("expression check 'k2' needs a formula")) shouldBe true
  }

  test("a check whose compareMetric names no metric is a validation error") {
    // the failed lookup would fall back to the threshold and pass the check
    val bad =
      """{
        "jobId": "cm",
        "sources": [{"id": "s1", "kind": "parquet", "path": "/data/t.parquet"}],
        "metrics": [{"id": "rows", "name": "ROW_COUNT", "source": "s1"}],
        "checks": [{"id": "k1", "kind": "LESS_THAN", "base": "rows",
                    "compareMetric": "rowz", "threshold": 1e9}]
      }"""
    JobConfig.validate(JobConfig.parse(bad)) shouldBe
      Seq("check 'k1' compareMetric references unknown metric 'rowz'")
    val ex = intercept[IllegalArgumentException] {
      JobConfig.build(spark, JobConfig.parse(bad))
    }
    ex.getMessage should include("unknown metric 'rowz'")
  }

  test("metric and check nodes parse alike through the batch and stream readers") {
    val metric =
      """{"id": "rows", "name": "ROW_COUNT", "source": "stream", "columns": [],
         "params": {"k": "v"}, "description": "total rows", "metadata": "team=dq"}"""
    val check =
      """{"id": "c1", "kind": "GREATER_THAN", "base": "rows", "threshold": 1.0,
         "critical": true, "description": "rows sanity", "metadata": "tier=1"}"""
    val batch = JobConfig.parse(
      s"""{"jobId": "j", "metrics": [$metric], "checks": [$check]}""")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val stream = StreamJobConfig.parseTree(mapper.readTree(
      s"""{"jobId": "j", "source": {"kind": "parquet", "path": "/p"},
         "window": {"tsCol": "ts", "duration": "10 minutes", "watermark": "5 minutes"},
         "metrics": [$metric], "checks": [$check],
         "storage": {"kind": "parquet", "location": "/dq"}, "checkpoint": "/cp"}"""))
    stream.metrics shouldBe batch.metrics
    stream.checks shouldBe batch.checks
    stream.metrics.head.description shouldBe Some("total rows")
    stream.checks.head.metadata shouldBe Some("tier=1")
  }

  test("DQ storage and JSON field readers have one home: JobConfig") {
    val home = Set("graft/config/JobConfig.scala")
    val storage = """new\s+(?:graft\.storage\.)?(?:Parquet|Jdbc)DqStorage\b""".r
    val copies = graft.MainSources.offenders(storage, home)
      .filter(o => o.startsWith("graft/config/") || o.startsWith("graft/apps/")) ++
      graft.MainSources.offenders("""\bdef\s+str\s*\(""".r, home)
    copies shouldBe empty
  }
}
