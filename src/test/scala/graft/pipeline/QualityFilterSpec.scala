package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.corpus.{CorpusGen, CorpusSpec, ReferenceOracle}

/** The north-rule contract: the distributed pipeline must agree with the
  * straight-line reference oracle — keep/drop F1, byte-identical scrubbed
  * text, sha256(content) per-row invariant — and be deterministic across
  * parallelism and resumable at partition granularity. */
class QualityFilterSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val spec = CorpusSpec(nFiles = 600)
  val cfg = FilterConfig(numPartitions = 16)

  lazy val corpus = CorpusGen.corpus(spark, spec).toDF.cache()
  lazy val oracleLabels = (0L until spec.nFiles)
    .map(i => ReferenceOracle.label(CorpusGen.fileAt(spec, i), cfg))
  lazy val pipelineRows = QualityFilter.verdicts(corpus, cfg)
    .collect().map(r => (r.getAs[String]("repo"), r.getAs[String]("path")) -> r).toMap

  test("corpus generation is deterministic and parallelism-independent") {
    val a = CorpusGen.corpus(spark, spec).collect().sortBy(r => (r.repo, r.path))
    val b = CorpusGen.corpus(spark, spec).repartition(13).collect()
      .sortBy(r => (r.repo, r.path))
    a should contain theSameElementsInOrderAs b
  }

  test("keep/drop F1 vs reference oracle is 1.0 (target >= 0.99)") {
    var tp = 0; var fp = 0; var fn = 0
    oracleLabels.foreach { l =>
      val got = pipelineRows((l.repo, l.path)).getAs[Boolean]("keep")
      if (l.keep && got) tp += 1
      else if (!l.keep && got) fp += 1
      else if (l.keep && !got) fn += 1
    }
    val precision = tp.toDouble / (tp + fp)
    val recall = tp.toDouble / (tp + fn)
    val f1 = 2 * precision * recall / (precision + recall)
    withClue(s"tp=$tp fp=$fp fn=$fn") { f1 shouldBe 1.0 }
  }

  test("drop reasons match the oracle exactly") {
    oracleLabels.foreach { l =>
      val got = pipelineRows((l.repo, l.path))
        .getAs[scala.collection.Seq[String]]("drop_reasons")
      withClue(s"${l.repo}/${l.path}") { got.toSeq shouldBe l.dropReasons }
    }
  }

  test("scrubbed content is byte-identical to the oracle golden") {
    var scrubbedSomething = false
    oracleLabels.filter(_.keep).foreach { l =>
      val got = pipelineRows((l.repo, l.path)).getAs[String]("scrubbed_content")
      withClue(s"${l.repo}/${l.path}") { got shouldBe l.scrubbed.get }
      if (!l.scrubbed.contains(got) || got.contains("<EMAIL>")) scrubbedSomething = true
    }
    scrubbedSomething shouldBe true // PII fixtures must actually exercise the scrubber
  }

  test("per-row invariant: sha256(content) matches oracle") {
    oracleLabels.foreach { l =>
      pipelineRows((l.repo, l.path)).getAs[String]("content_sha256") shouldBe l.contentSha256
    }
  }

  test("verdicts are identical at different parallelism (1 vs 13 partitions)") {
    val v1 = QualityFilter.verdicts(corpus.coalesce(1), cfg)
      .orderBy("repo", "path").collect()
    val v13 = QualityFilter.verdicts(corpus.repartition(13), cfg)
      .orderBy("repo", "path").collect()
    v1 should contain theSameElementsInOrderAs v13
  }

  test("resumable run: second run skips completed partitions; verdicts complete") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val store = new ParquetCorpusStore(dir, saltBuckets = 4)
    val withPid = corpus.withColumn("pid", QualityFilter.partitionId(cfg.numPartitions))
    val half = withPid.filter(col("pid") < 8).drop("pid")
    val r1 = ResumableRun.run(spark, half, cfg, store, "job1")
    r1.partitionsSkipped shouldBe 0
    val r2 = ResumableRun.run(spark, corpus, cfg, store, "job1")
    r2.partitionsSkipped shouldBe r1.partitionsProcessed
    (r1.rowsIn + r2.rowsIn) shouldBe spec.nFiles
    store.readVerdicts(spark).count() shouldBe spec.nFiles
    // lineage has one verdict row per processed partition per run
    val lin = store.readLineage(spark)
    lin.filter(col("job_id") === "job1").count() shouldBe
      (r1.partitionsProcessed + r2.partitionsProcessed)
    // re-running a third time is a no-op
    val r3 = ResumableRun.run(spark, corpus, cfg, store, "job1")
    r3.rowsIn shouldBe 0
  }

  test("corpus-level near-dup dedup matches the straight-line oracle exactly") {
    val allRows = (0L until spec.nFiles).map(i => CorpusGen.fileAt(spec, i))
    val labels = ReferenceOracle.labelCorpus(allRows, cfg)
    val dupLabeled = labels.filter(_.dropReasons.contains("near_dup"))
    dupLabeled.size should be > 0 // planted clusters exist
    val got = QualityFilter.verdictsWithDedup(corpus, cfg)
      .collect().map(r => (r.getAs[String]("repo"), r.getAs[String]("path")) -> r).toMap
    labels.foreach { l =>
      val row = got((l.repo, l.path))
      withClue(s"${l.repo}/${l.path}") {
        row.getAs[Boolean]("keep") shouldBe l.keep
        row.getAs[scala.collection.Seq[String]]("drop_reasons").toSeq shouldBe l.dropReasons
        Option(row.getAs[String]("scrubbed_content")) shouldBe l.scrubbed
      }
    }
  }

  test("multi-MB documents through runWithDedup: verdicts equal the oracle, the big near-dup is dropped") {
    import graft.corpus.{FileRow, Rng}
    val size = 8 << 20
    def grown(head: String)(piece: Long => String): String = {
      val sb = new StringBuilder(head)
      var k = 0L
      while (sb.length < size) { sb ++= piece(k); k += 1 }
      sb.result()
    }
    // many-line clean code of one language: generated files joined to 8 MB
    def manyLine(seed: Long): String =
      grown("")(k => CorpusGen.cleanContent("scala", Rng(seed, k), 200) + "\n")
    val big = manyLine(1L)
    // every 40th line replaced: word-3gram Jaccard far above dedupTau
    val twin = big.split("\n", -1).zipWithIndex
      .map { case (l, i) => if (i % 40 == 0) s"  val twin$i = $i" else l }
      .mkString("\n")
    val minified = grown("(function(){")(i => s"f$i(x${i % 97});") + "})();"
    val commit = "0" * 40
    val rows = (0L until 200L).map(i => CorpusGen.fileAt(spec.copy(nFiles = 200), i)) ++ Seq(
      FileRow("big/a", "src/Big.scala", commit, "scala", big),
      FileRow("big/b", "src/Big.scala", commit, "scala", twin),
      FileRow("big/c", "src/Other.scala", commit, "scala", manyLine(2L)),
      FileRow("big/d", "dist/app.min.js", commit, "javascript", minified))
    val labels = ReferenceOracle.labelCorpus(rows, cfg)
      .map(l => (l.repo, l.path) -> l).toMap
    labels(("big/a", "src/Big.scala")).keep shouldBe true
    labels(("big/b", "src/Big.scala")).dropReasons shouldBe Seq("near_dup")
    labels(("big/d", "dist/app.min.js")).dropReasons should contain("line_len")

    val dir = java.nio.file.Files.createTempDirectory("graft-multimb").toString
    val store = new ParquetCorpusStore(dir, saltBuckets = 4)
    val report = ResumableRun.runWithDedup(spark, rows.toDF().repartition(8), cfg,
      store, "multimb")
    report.rowsIn shouldBe rows.size
    val got = store.readVerdicts(spark).collect()
      .map(r => (r.getAs[String]("repo"), r.getAs[String]("path")) -> r).toMap
    got.keySet shouldBe labels.keySet
    labels.foreach { case (key, l) =>
      withClue(key) {
        val row = got(key)
        row.getAs[Boolean]("keep") shouldBe l.keep
        row.getAs[scala.collection.Seq[String]]("drop_reasons").toSeq shouldBe l.dropReasons
        Option(row.getAs[String]("scrubbed_content")) shouldBe l.scrubbed
      }
    }
  }

  test("scoring plan is shuffle-free (no Exchange before the write)") {
    val plan = QualityFilter.verdicts(corpus, cfg).queryExecution.executedPlan
    import org.apache.spark.sql.execution.exchange.Exchange
    plan.collect { case e: Exchange => e } shouldBe empty
  }

  test("mega-repo rows exist and share one partition id (skew fixture)") {
    val mega = QualityFilter.verdicts(corpus, cfg).filter(col("repo") === "org0/mega")
    mega.select(countDistinct(col("partition_id"))).collect().head.getLong(0) shouldBe 1
    mega.count() shouldBe (spec.nFiles * spec.megaShare).toLong
  }
}
