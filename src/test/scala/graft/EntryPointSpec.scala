package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The program's entry points are the benchmark, the oracle dump, the three
  * spark-submit apps and three demos. Measurement belongs in `perfbench/`
  * and `graft.Bench`, not in one-off mains beside them. */
class EntryPointSpec extends AnyFunSuite with Matchers {

  test("no main outside the apps, Bench, Verify and the three demos") {
    val allowed = Set(
      "graft/Bench.scala", "graft/Verify.scala",
      "graft/apps/GraftDqBatchApp.scala", "graft/apps/GraftDqStreamApp.scala",
      "graft/apps/GraftFilterApp.scala",
      "graft/examples/DqJobDemo.scala", "graft/examples/EndToEndDemo.scala",
      "graft/examples/MetricSuiteDemo.scala")
    MainSources.offenders("""\bdef\s+main\s*\(|\bextends\s+App\b""".r, allowed) shouldBe empty
  }
}
