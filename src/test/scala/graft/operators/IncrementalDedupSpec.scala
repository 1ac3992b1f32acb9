package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions._

import graft.TestSpark

class IncrementalDedupSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def freshDir(tag: String): String = {
    val d = new java.io.File(s"target/test-incidx-$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getAbsolutePath
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  test("delta-vs-index pairs equal the full-corpus run restricted to delta-involving pairs") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val dir = freshDir("parity")
    // r=2/b=32: per-pair band miss <= (1-0.7^2)^32 ~ 4e-10 at tau 0.7, so
    // incremental == exact restriction deterministically
    IncrementalDedup.writeIndex(corpus, "doc_id", "text", dir,
      n = 3, bands = 32, rows = 2)

    val inc = pairsOf(IncrementalDedup.pairsAgainstIndex(
      delta, "doc_id", "text", dir, tau = 0.7))
    val full = pairsOf(Dedup.minHashLshPairs(docs, "doc_id", "text",
        n = 3, tau = 0.7, bands = 32, rows = 2)
      .filter(col("a") % 5 === 0 || col("b") % 5 === 0))

    full.length should be > 0 // the restriction is non-trivial on this SF
    inc shouldBe full
    // and it found genuine delta-vs-CORPUS pairs, not just delta-delta ones
    inc.exists { case (a, b, _) => a % 5 != 0 || b % 5 != 0 } shouldBe true
  }

  test("re-submitted id pairs with neighbors via its NEW text and never with itself") {
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val other = (0 until 60).map(i => s"zzz$i").mkString(" ")
    val dir = freshDir("resubmit")
    IncrementalDedup.writeIndex(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"),
      "doc_id", "text", dir, n = 3, bands = 32, rows = 2)
    // id 1 re-submitted with text now near-identical to indexed doc 2
    val delta = Seq((1L, other + " tailtok")).toDF("doc_id", "text")
    val out = pairsOf(IncrementalDedup.pairsAgainstIndex(
      delta, "doc_id", "text", dir, tau = 0.7))
    out.map(p => (p._1, p._2)) shouldBe Array((1L, 2L)) // no (1,1); new text wins
  }

  test("appendToIndex makes earlier batches visible to later ones with pinned parameters") {
    val corpus = docs.filter(col("doc_id") % 5 === 1)
    val batch1 = docs.filter(col("doc_id") % 5 === 2)
    val batch2 = docs.filter(col("doc_id") % 5 === 0)
    val dir = freshDir("append")
    IncrementalDedup.writeIndex(corpus, "doc_id", "text", dir,
      n = 3, bands = 32, rows = 2)
    IncrementalDedup.appendToIndex(batch1, "doc_id", "text", dir)

    val viaAppend = pairsOf(IncrementalDedup.pairsAgainstIndex(
      batch2, "doc_id", "text", dir, tau = 0.7))

    val rebuilt = freshDir("append-rebuilt")
    IncrementalDedup.writeIndex(corpus.unionByName(batch1), "doc_id", "text",
      rebuilt, n = 3, bands = 32, rows = 2)
    val viaRebuild = pairsOf(IncrementalDedup.pairsAgainstIndex(
      batch2, "doc_id", "text", rebuilt, tau = 0.7))

    viaAppend shouldBe viaRebuild
  }

  test("candidate stage reads only (id, band) from the index — never shingles or content") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val dir = freshDir("pruning")
    IncrementalDedup.writeIndex(corpus, "doc_id", "text", dir,
      n = 3, bands = 32, rows = 2)
    // pairsAgainstIndex returns a materialized frame (CacheScope), so the
    // RETURNED frame's plan is a scan of its cached rows — capture the
    // executed plans of the jobs it runs instead (same pattern as
    // PlanQualitySpec)
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      IncrementalDedup.pairsAgainstIndex(delta, "doc_id", "text", dir, tau = 0.7)
      // listener events are delivered asynchronously: wait until the
      // captured set is non-empty and stable (same as PlanQualitySpec)
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        val now = plans.synchronized(plans.size)
        if (now == last && now > 0) stable += 1 else stable = 0
        last = now
        Thread.sleep(100)
      }
    } finally spark.listenerManager.unregister(listener)
    val all = plans.synchronized(plans.mkString("\n"))
    // the bands scan must be column-pruned to exactly (id, band)
    val bandScans = all.linesIterator.filter(l =>
      l.contains("Parquet") && l.contains("/bands")).toSeq
    bandScans should not be empty
    bandScans.foreach(_ should include("ReadSchema: struct<id:bigint,band:bigint>"))
    // the index docs scan feeds verification only: no re-shingling of index
    // content anywhere (ShingleHashes appears only above the DELTA scan)
    val docScanLines = all.linesIterator.filter(l =>
      l.contains("Parquet") && l.contains("/docs")).toSeq
    docScanLines should not be empty
    docScanLines.foreach(_ should not include "text")
  }
}
