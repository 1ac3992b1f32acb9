package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.graft.BlockLoss
import org.apache.spark.sql.{DataFrame, Row}

import graft.TestSpark

/** Lost cached blocks lead to a recompute, never a failed job: each
  * operator's returned (materialized) frame loses every block of its
  * cached rows, and reading it again gives the unchanged result. */
class BlockLossSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** Reads `df`, drops its cached blocks, reads it again. */
  private def afterLoss(df: DataFrame): (Seq[Row], Seq[Row]) = {
    val before = rows(df)
    BlockLoss.dropBlocks(df) should be > 0
    (before, rows(df))
  }

  test("minHashLshPairsCounted: pairs survive the loss of their blocks") {
    val base = (0 until 60).map(i => s"tok$i")
    val docs = (Seq((1L, base), (2L, base.updated(30, "x")), (3L, base.updated(50, "y")),
        (4L, (0 until 60).map(i => s"other$i"))) ++
      (10L until 30L).map(i => (i, (0 until 40).map(j => s"d$i-$j"))))
      .map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text")
      .repartition(4)
    val (pairs, n) = Dedup.minHashLshPairsCounted(docs, "doc_id", "text", n = 3, tau = 0.7)
    val (before, after) = afterLoss(pairs)
    before.map(r => (r.getLong(0), r.getLong(1))) shouldBe Seq((1L, 2L), (1L, 3L), (2L, 3L))
    n shouldBe 3L
    after shouldBe before
  }

  test("distributed connectedComponents: labels survive the loss of their blocks") {
    // a 12-edge chain (12 rounds of propagation) plus 40 two-node clusters
    val chain = (0L until 12L).map(i => (i + 1, i))
    val pairs = (0L until 40L).map(i => (1000L + 2 * i, 1001L + 2 * i))
    val edges = (chain ++ pairs).toDF("a", "b").repartition(4)
    val labels = Dedup.connectedComponents(edges)
    val (before, after) = afterLoss(labels)
    val unionFind = rows(Dedup.connectedComponentsAuto(edges))
    before shouldBe unionFind
    after shouldBe unionFind
  }

  test("cosineLshPairs: pairs survive the loss of their blocks") {
    val base = (0 until 50).map { i =>
      val r = graft.corpus.Rng(5L, i)
      (i.toLong, Array.tabulate(16)(d => (r.double(d) * 2 - 1).toFloat))
    }
    val planted = base.take(5).map { case (i, v) =>
      (100 + i, v.zipWithIndex.map { case (x, d) => x + (if (d == 0) 0.01f else 0f) })
    }
    val df = (base ++ planted).toDF("vec_id", "embedding").repartition(4)
    val found = Similarity.cosineLshPairs(df, "vec_id", "embedding",
      dims = 16, tau = 0.99, planes = 8, tables = 8)
    val (before, after) = afterLoss(found)
    before.map(r => (r.getLong(0), r.getLong(1))) should contain allElementsOf
      (0L until 5L).map(i => (i, 100 + i))
    after shouldBe before
  }

  test("forkPairs: repo pairs survive the loss of their blocks") {
    val files = (Seq("a" -> (1 to 5), "b" -> (3 to 7), "c" -> (1 to 5), "d" -> (20 to 24))
      .flatMap { case (repo, ids) => ids.map(i => (repo, s"file-$i")) })
      .toDF("repo", "content").repartition(4)
    val forks = RepoDedup.forkPairs(files, "repo", "content", tau = 0.4)
    val (before, after) = afterLoss(forks)
    before.map(r => (r.getString(0), r.getString(1))) shouldBe
      Seq(("a", "b"), ("a", "c"), ("b", "c"))
    after shouldBe before
  }
}
