package graft.textmodel

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.corpus.{CorpusGen, CorpusSpec}
import graft.operators.TextAnalysis
import graft.pipeline.QualityFilter

/** Distributed logistic quality-head training (QualityHead scaladoc):
  * fixed-point gradient quantization must make the distributed fit
  * BIT-IDENTICAL to the straight-line mirror at any parallelism, and the
  * learned head must actually separate keep from drop. */
class QualityHeadSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private lazy val labeled = {
    val corpus = CorpusGen.corpus(spark, CorpusSpec(nFiles = 400)).toDF
    QualityFilter.withMetrics(corpus).select("path", "content", "keep")
  }

  test("distributed fit is bit-identical to the straight-line mirror, at any partitioning") {
    val docs = labeled.select("keep", "content").collect()
      .map(r => (r.getBoolean(0), r.getString(1))).toSeq
    val local = QualityHead.fitLocal(docs, iters = 5, lr = 4.0)
    for (parts <- Seq(1, 7)) {
      // driverFitLimit = 0 pins the DISTRIBUTED iteration (the r6
      // size-adaptive gate would otherwise take the driver loop here)
      val dist = TextAnalysis.trainQualityHead(
        labeled.repartition(parts), "keep", "content", iters = 5, lr = 4.0,
        driverFitLimit = 0L)
      dist.bias shouldBe local.bias // exact — no tolerance
      dist.w should contain theSameElementsInOrderAs local.w
      // and the default (gated, driver-loop) path is the same fit again
      val gated = TextAnalysis.trainQualityHead(
        labeled.repartition(parts), "keep", "content", iters = 5, lr = 4.0)
      gated.bias shouldBe dist.bias
      gated.w should contain theSameElementsInOrderAs dist.w
    }
  }

  test("under the row limit but over the driver text budget: distributed fit, driver-path model") {
    // 1 MiB documents, generated per row, just enough of them to pass the
    // driver's text budget while staying far under driverFitLimit
    val reps = 150000
    val docChars = 7L * reps // "w<k> tok " is 7 chars
    val budgetChars = TextAnalysis.QualityHeadDriverHeapShare *
      Runtime.getRuntime.maxMemory / 2 // 2 bytes a char
    val nDocs = (budgetChars / docChars).toInt + 2
    nDocs should be < 20000
    val docs = spark.range(nDocs).select((col("id") % 2 === 0).as("keep"),
      repeat(concat(lit("w"), (col("id") % 4).cast("string"), lit(" tok ")), reps)
        .as("content"))
    val iters = 8
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(jobs.add)
    }
    sc.addSparkListener(listener)
    val model =
      try {
        sc.setJobGroup("qh-gate", "quality head over the text budget")
        val m = try TextAnalysis.trainQualityHead(docs, "keep", "content", iters = iters)
          finally sc.clearJobGroup()
        // events arrive in order: once the marker job is seen, all are in
        sc.setJobGroup("qh-marker", "marker")
        try sc.parallelize(1 to 2, 1).count() finally sc.clearJobGroup()
        val deadline = System.currentTimeMillis() + 10000
        while (!jobs.contains("qh-marker") && System.currentTimeMillis() < deadline)
          Thread.sleep(10)
        m
      } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.count(_ == "qh-gate") should be >= iters
    val texts = (0 until 4).map(k => s"w$k tok " * reps)
    val driver = QualityHead.fitLocal(
      (0 until nDocs).map(i => (i % 2 == 0, texts(i % 4))), iters, 4.0)
    model.bias shouldBe driver.bias
    model.w should contain theSameElementsInOrderAs driver.w
  }

  test("learned head separates keep from drop on a held-out quarter") {
    val isEval = pmod(xxhash64(col("path")), lit(4L)) === 0
    val model = TextAnalysis.trainQualityHead(
      labeled.filter(!isEval), "keep", "content")
    val conf = labeled.filter(isEval)
      .select(col("keep"), (TextAnalysis.scoreWith(col("content"), model) >= 0.5).as("p"))
      .groupBy("keep", "p").count().collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
      .withDefaultValue(0L)
    val (tp, fp, fn) = (conf((true, true)), conf((false, true)), conf((true, false)))
    val f1 = 2.0 * tp / (2.0 * tp + fp + fn)
    withClue(s"confusion=$conf f1=$f1: ") { f1 should be >= 0.9 }
  }

  test("empty and sub-trigram texts train on the bias alone") {
    val m = QualityHead.fitLocal(Seq((true, ""), (true, "ab"), (false, "")),
      iters = 50, lr = 5.0)
    m.w.forall(_ == 0.0) shouldBe true
    m.bias should be > 0.0 // 2/3 positive labels pull the intercept up
    QualityHead.sigmoid(m.bias) shouldBe (2.0 / 3.0 +- 0.05)
  }

  test("gradient quantization error is bounded per doc") {
    // a single doc's quantized contribution matches the real gradient to
    // within 2^-21 per bucket
    val model = QualityHead.empty
    val bs = QualityHead.featurize("some text with trigrams")
    val buf = new Array[Long](QualityHead.Dim + 1)
    QualityHead.accumulate(buf, bs, y = true, model)
    val want = QualityHead.sigmoid(0.0) - 1.0
    bs.foreach { b =>
      buf(b).toDouble / QualityHead.Scale shouldBe (want +- math.pow(2, -21))
    }
  }

  test("score expression is map-only over the corpus") {
    val model = QualityHead.fitLocal(Seq((true, "good doc here"), (false, "@#!$")), 3, 4.0)
    val plan = labeled
      .select(TextAnalysis.scoreWith(col("content"), model).as("s"))
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }
}
