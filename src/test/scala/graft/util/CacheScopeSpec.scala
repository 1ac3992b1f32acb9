package graft.util

import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.graft.BlockLoss
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.TestSpark

class CacheScopeSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private def frame(n: Long): DataFrame = spark.range(n).toDF("v").repartition(4)

  /** Partitions of `df`'s materialized rows now held in executor storage. */
  private def cachedPartitions(df: DataFrame): Int = {
    val ids = BlockLoss.leafRdds(df).toSet
    ids should have size 1
    spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
      .map(_.numCachedPartitions).sum
  }

  private def isPersisted(df: DataFrame): Boolean =
    BlockLoss.leafRdds(df).forall(spark.sparkContext.getPersistentRDDs.contains)

  private def sumOf(df: DataFrame): Long = df.groupBy().sum("v").head.getLong(0)

  test("materialize cuts the plan and caches the rows on first read") {
    val m = CacheScope.materialize(frame(1000).filter("v % 2 = 0"))
    m.queryExecution.analyzed.children shouldBe empty
    cachedPartitions(m) shouldBe 0
    m.count() shouldBe 500L
    cachedPartitions(m) shouldBe 4
    sumOf(m) shouldBe (0L until 1000L by 2).sum
  }

  test("withScope releases what was registered in it, and nothing else") {
    val outsideM = CacheScope.materialize(frame(100))
    outsideM.count()
    val outsideP = CacheScope.persist(frame(101))
    outsideP.count()
    val (insideM, insideP) = CacheScope.withScope(spark) {
      val m = CacheScope.materialize(frame(102))
      val p = CacheScope.persist(frame(103))
      m.count() + p.count() shouldBe 205L
      isPersisted(m) shouldBe true
      p.storageLevel shouldBe StorageLevel.MEMORY_AND_DISK
      (m, p)
    }
    isPersisted(insideM) shouldBe false
    insideP.storageLevel shouldBe StorageLevel.NONE
    cachedPartitions(outsideM) shouldBe 4
    outsideP.storageLevel shouldBe StorageLevel.MEMORY_AND_DISK
    // a released frame still reads right: it recomputes from its lineage
    sumOf(insideM) shouldBe (0L until 102L).sum
    outsideP.unpersist()
  }

  test("release frees a materialized or persisted frame before its scope closes") {
    CacheScope.withScope(spark) {
      val m = CacheScope.materialize(frame(110))
      val p = CacheScope.persist(frame(111))
      m.count() + p.count() shouldBe 221L
      CacheScope.release(m)
      CacheScope.release(p)
      isPersisted(m) shouldBe false
      p.storageLevel shouldBe StorageLevel.NONE
      sumOf(m) shouldBe (0L until 110L).sum
    }
  }

  test("nested scopes release their own; Concurrently workers register with the caller's") {
    CacheScope.withScope(spark) {
      val outer = CacheScope.materialize(frame(105))
      outer.count()
      val fromWorkers = CacheScope.withScope(spark) {
        val fs = Concurrently(spark)(Seq(106L, 107L).map(n => () => {
          val f = CacheScope.materialize(frame(n))
          f.count()
          f
        }))
        fs.foreach(isPersisted(_) shouldBe true)
        fs
      }
      fromWorkers.foreach(isPersisted(_) shouldBe false)
      isPersisted(outer) shouldBe true
    }
  }

  test("closing a scope on one thread leaves another thread's cache alone") {
    val scopeOpen = new CountDownLatch(1)
    val materialized = new CountDownLatch(1)
    @volatile var failure: Throwable = null
    def guarded(body: => Unit): Thread = new Thread(() =>
      try body catch { case e: Throwable => failure = e; materialized.countDown() })
    val a = guarded(CacheScope.withScope(spark) {
      scopeOpen.countDown()
      materialized.await()
    })
    @volatile var bFrame: DataFrame = null
    val b = guarded {
      scopeOpen.await()
      val f = CacheScope.materialize(frame(2000))
      f.count()
      bFrame = f
      materialized.countDown()
    }
    a.start(); b.start(); a.join(); b.join()
    Option(failure).foreach(throw _)
    sumOf(bFrame) shouldBe (0L until 2000L).sum
    cachedPartitions(bFrame) shouldBe 4
  }

  test("no raw persist, cache or checkpoint call outside CacheScope") {
    // Bench is frozen; a source's configured `persist` level is user-facing
    val allowed = Set(
      "graft/util/CacheScope.scala", "org/apache/spark/sql/graft/bridge.scala",
      "graft/Bench.scala",
      "graft/sources/SourceReaders.scala", "graft/sources/VirtualSources.scala")
    val call =
      """localCheckpoint\b|\.checkpoint\s*\(|(?<!CacheScope)\.persist\s*\(|\.cache\s*\(\s*\)""".r
    graft.MainSources.offenders(call, allowed) shouldBe empty
  }
}
