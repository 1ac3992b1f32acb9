package graft.config

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Config-driven curation jobs (CurationJobConfig): JSON and HOCON specs
  * drive the tagger/mixer engine end-to-end with identical results, and
  * validation collects ALL errors. */
class CurationJobConfigSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private val srcPath = "/root/testdata/sf0.001/documents.parquet"

  private def jsonConf(kept: String, metrics: String): String =
    s"""{
       |  "jobId": "curate_docs",
       |  "source": {"kind": "parquet", "path": "$srcPath"},
       |  "idCols": ["doc_id"],
       |  "textCol": "text",
       |  "rules": [
       |    {"name": "alnum", "sql": "alnum_ratio >= 0.80"},
       |    {"name": "tokens", "sql": "n_tokens >= 12"}
       |  ],
       |  "keptPath": "$kept",
       |  "metricsStorage": {"kind": "parquet", "location": "$metrics"}
       |}""".stripMargin

  test("JSON job: run counts match direct computation; kept rows written; metrics stored") {
    val tmp = Files.createTempDirectory("graft-curjob").toString
    val conf = CurationJobConfig.parse(jsonConf(s"$tmp/kept", s"$tmp/dq"))
    CurationJobConfig.validate(conf) shouldBe empty
    val result = CurationJobConfig.run(spark, conf)

    // direct recomputation through the library API
    import org.apache.spark.sql.functions._
    import graft.curation.TaggerMixer
    val docs = spark.read.parquet(srcPath)
    val direct = TaggerMixer.curate(docs, Seq("doc_id"),
      TaggerMixer.builtinTaggers(col("text")),
      Seq(TaggerMixer.MixRule("alnum", "alnum_ratio >= 0.80"),
        TaggerMixer.MixRule("tokens", "n_tokens >= 12")))
    result.files shouldBe docs.count()
    result.kept shouldBe direct.filter("keep").count()
    result.kept should be > 0L
    result.kept should be < result.files
    result.perRuleFails("alnum") shouldBe direct.filter("NOT pass_alnum").count()

    // kept corpus preserves the ORIGINAL schema and exactly the kept rows
    val kept = spark.read.parquet(s"$tmp/kept")
    kept.columns.sorted shouldBe docs.columns.sorted
    kept.count() shouldBe result.kept

    // metrics landed in the standard DQ storage
    val storage = new graft.storage.ParquetDqStorage(spark, s"$tmp/dq")
    val hist = storage.metricHistory("curate_docs", "curate_docs_keep_rate",
      java.time.Instant.parse("2100-01-01T00:00:00Z"))
    hist should have size 1
    hist.head.value shouldBe (result.kept.toDouble / result.files)
  }

  test("a kept-rows write that throws leaves no cache behind") {
    val tmp = Files.createTempDirectory("graft-curjob-fail").toString
    // the tagger throws in the write's tasks, after the curated cache is
    // built (a bad output path fails at job setup, before anything is cached)
    val conf = CurationJobConfig.Conf("j", "parquet", srcPath, Seq("doc_id"),
      "text",
      Seq(CurationJobConfig.TaggerConf("len",
        "if(length(text) >= 0, raise_error('bad row'), 0)")),
      Seq(CurationJobConfig.RuleConf("short", "len <= 100")),
      Some(s"$tmp/kept"), None)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    an[Exception] should be thrownBy CurationJobConfig.run(spark, conf)
    spark.sparkContext.getPersistentRDDs.keySet shouldBe before
  }

  test("HOCON spec parses to the same job and the same results") {
    val tmp = Files.createTempDirectory("graft-curjob-h").toString
    val hocon =
      s"""jobId = curate_docs
         |source { kind = parquet, path = "$srcPath" }
         |idCols = [doc_id]
         |textCol = text
         |rules = [
         |  { name = alnum, sql = "alnum_ratio >= 0.80" }
         |  { name = tokens, sql = "n_tokens >= 12" }
         |]
         |""".stripMargin
    val hc = CurationJobConfig.parseHocon(hocon)
    val jc = CurationJobConfig.parse(jsonConf(s"$tmp/k", s"$tmp/m"))
      .copy(keptPath = None, metricsStorage = None)
    hc shouldBe jc
    CurationJobConfig.run(spark, hc) shouldBe CurationJobConfig.run(spark, jc)
  }

  test("validation collects ALL errors, not just the first") {
    val bad = CurationJobConfig.Conf("", "avro", "", Nil, "text",
      Seq(CurationJobConfig.TaggerConf("t", "n_tokens +"),
        CurationJobConfig.TaggerConf("t", "1")),
      Nil, None, None)
    val errs = CurationJobConfig.validate(bad)
    errs.exists(_.contains("jobId")) shouldBe true
    errs.exists(_.contains("source kind")) shouldBe true
    errs.exists(_.contains("source.path")) shouldBe true
    errs.exists(_.contains("idCols")) shouldBe true
    errs.exists(_.contains("mix rule")) shouldBe true
    errs.exists(_.contains("duplicate tagger")) shouldBe true
    errs.exists(_.contains("does not parse")) shouldBe true
    errs.size should be >= 7
  }

  test("csv source honors user reader options (header=false over the default)") {
    val dir = java.nio.file.Files.createTempDirectory("curation_csv")
    // headerless file: doc_id,text — the default header=true would eat the
    // first data row and name the columns after its values
    java.nio.file.Files.writeString(dir.resolve("docs.csv"),
      "d1,plain text one\nd2,plain text two\nd3,x\n")
    val conf = CurationJobConfig.parse(
      s"""{
         |  "jobId": "curate_csv",
         |  "source": {"kind": "csv", "path": "$dir/docs.csv",
         |             "options": {"header": "false"}},
         |  "idCols": ["_c0"],
         |  "textCol": "_c1",
         |  "taggers": [{"name": "len", "expr": "length(_c1)"}],
         |  "rules": [{"name": "long_enough", "sql": "len >= 5"}]
         |}""".stripMargin)
    conf.sourceOptions shouldBe Map("header" -> "false")
    val r = CurationJobConfig.run(spark, conf)
    r.files shouldBe 3   // all three rows read — none lost to a forced header
    r.kept shouldBe 2    // d3's text "x" fails len >= 5
  }

  test("custom SQL taggers replace the builtin set") {
    val conf = CurationJobConfig.Conf("j", "parquet", srcPath, Seq("doc_id"),
      "text",
      Seq(CurationJobConfig.TaggerConf("len", "length(text)")),
      Seq(CurationJobConfig.RuleConf("short", "len <= 100")), None, None)
    val r = CurationJobConfig.run(spark, conf)
    val want = spark.read.parquet(srcPath).filter("length(text) <= 100").count()
    r.kept shouldBe want
  }

  test("config taggers can call the compiled signal functions (code_stats, secret_stats)") {
    // run() registers GraftFunctions, so a pure-config job can gate on the
    // compiled per-row signals with no host-side setup
    val conf = CurationJobConfig.Conf("j2", "parquet", srcPath, Seq("doc_id"),
      "text",
      Seq(
        CurationJobConfig.TaggerConf("n_secrets",
          "secret_stats(text).n_flagged"),
        CurationJobConfig.TaggerConf("xmlish",
          "code_stats('c', text).is_xml")),
      Seq(
        CurationJobConfig.RuleConf("no_secrets", "n_secrets = 0"),
        CurationJobConfig.RuleConf("not_xml", "NOT xmlish")), None, None)
    val r = CurationJobConfig.run(spark, conf)
    graft.functions.GraftFunctions.register(spark)
    val want = spark.read.parquet(srcPath)
      .filter("secret_stats(text).n_flagged = 0 AND NOT code_stats('c', text).is_xml")
      .count()
    r.kept shouldBe want
    r.files shouldBe spark.read.parquet(srcPath).count()
  }

  test("jdbc metrics storage (embedded Derby) stores the keep-rate metrics") {
    System.setProperty("derby.system.home",
      Files.createTempDirectory("derby-home").toString)
    val url = "jdbc:derby:memory:graftcuration"
    val tmp = Files.createTempDirectory("graft-curjob-jdbc").toString
    val conf = CurationJobConfig.parse(jsonConf(s"$tmp/kept", s"$url;create=true")
      .replace(""""kind": "parquet", "location"""", """"kind": "jdbc", "location""""))
    conf.metricsStorage.map(_.kind) shouldBe Some("jdbc")
    val result = CurationJobConfig.run(spark, conf)
    val storage = new graft.storage.JdbcDqStorage(url)
    try {
      storage.metricHistory("curate_docs", "curate_docs_keep_rate",
        java.time.Instant.parse("2100-01-01T00:00:00Z"))
        .map(_.value) shouldBe Seq(result.kept.toDouble / result.files)
    } finally storage.close()
  }

  test("an unknown metrics storage kind is a validation error") {
    val conf = CurationJobConfig.parse(jsonConf("/tmp/kept", "/tmp/dq")
      .replace(""""kind": "parquet", "location"""", """"kind": "foo", "location""""))
    CurationJobConfig.validate(conf) shouldBe
      Seq("unknown storage kind 'foo' (jdbc|parquet)")
  }
}
