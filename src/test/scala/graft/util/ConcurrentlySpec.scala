package graft.util

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

class ConcurrentlySpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private def helperThreads =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-concurrently"))

  test("results in input order, at most defaultParallelism at a time") {
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val n = 3 * spark.sparkContext.defaultParallelism
    val out = Concurrently(spark)((0 until n).map { i => () =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(20 + (n - i) % 5 * 10)
      running.decrementAndGet()
      i * i
    })
    out shouldBe (0 until n).map(i => i * i)
    peak.get should (be > 1 and be <= spark.sparkContext.defaultParallelism)
    helperThreads shouldBe empty
    Concurrently(spark)(Seq.empty[() => Int]) shouldBe empty
  }

  test("first failure rethrown after the running thunks finish; no thread left") {
    val finished = new AtomicInteger(0)
    val boom = new IllegalStateException("boom")
    val e = the[IllegalStateException] thrownBy Concurrently(spark)(Seq(
      () => { Thread.sleep(300); finished.incrementAndGet() },
      () => { Thread.sleep(50); throw boom },
      () => { Thread.sleep(300); finished.incrementAndGet() }))
    (e should be).theSameInstanceAs(boom)
    finished.get shouldBe 2
    helperThreads shouldBe empty
  }

  test("workers carry the caller's local properties but not its SQL execution id") {
    val sc = spark.sparkContext
    sc.setJobGroup("cg", "cd")
    sc.setLocalProperty("spark.sql.execution.id", "42")
    try {
      // a single thunk takes the same worker path as several
      Seq(1, 2).foreach { n =>
        val props = Concurrently(spark)(Seq.fill(n)(() =>
          (sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("spark.job.description"),
            sc.getLocalProperty("spark.sql.execution.id"),
            Thread.currentThread().getName.startsWith("graft-concurrently"))))
        props shouldBe Seq.fill(n)(("cg", "cd", null, true))
      }
    } finally {
      sc.setLocalProperty("spark.sql.execution.id", null)
      sc.clearJobGroup()
    }
  }
}
