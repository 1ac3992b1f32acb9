package graft.checks

import graft.metrics.{FormulaParser, MetricResult}

/** Result of one check (ref model: storage/Models.scala:238-245; the
  * `critical` flag is stored with the result — ref
  * V1.7__add_is_critical_column). */
final case class CheckResult(
    checkId: String,
    checkName: String,
    status: Boolean,
    message: String,
    baseMetric: String = "",
    comparedValue: Option[Double] = None,
    critical: Boolean = false,
    /** user-supplied annotation stored with the result (ref
      * V1.2__add_metadata_column). */
    description: Option[String] = None,
    metadata: Option[String] = None)

/** A check over one run's metric results — what a batch job and each
  * finalized stream window evaluate. */
sealed trait Check {
  def id: String
  def name: String
  def run(results: Seq[MetricResult]): CheckResult
}

/** Snapshot checks — driver-side comparisons of metric results against a
  * threshold or another metric (ref: core/checks/snapshot/
  * CompareCheckCalculator.scala:14-155). */
sealed trait SnapshotCheck extends Check {
  def baseMetric: String

  protected def lookup(results: Seq[MetricResult], metricId: String): Option[Double] =
    results.find(_.metricId == metricId).map(_.value)

  protected def resolve(results: Seq[MetricResult],
      compareMetric: Option[String], threshold: Option[Double]): Option[Double] =
    compareMetric.flatMap(lookup(results, _)).orElse(threshold)

  protected def make(ok: Option[Boolean], cmp: Option[Double], rel: String): CheckResult =
    ok match {
      case Some(s) => CheckResult(id, name, s,
        s"$baseMetric $rel ${cmp.getOrElse("?")}: ${if (s) "PASS" else "FAIL"}",
        baseMetric, cmp)
      case None => CheckResult(id, name, status = false,
        s"missing metric '$baseMetric' or comparison value", baseMetric, cmp)
    }
}

/** EQUAL_TO (ref: EqualToCheckCalculator.scala:27). */
final case class EqualToCheck(id: String, baseMetric: String,
    compareMetric: Option[String] = None, threshold: Option[Double] = None)
  extends SnapshotCheck {
  val name = "EQUAL_TO"
  def run(results: Seq[MetricResult]): CheckResult = {
    val cmp = resolve(results, compareMetric, threshold)
    make(for (b <- lookup(results, baseMetric); c <- cmp) yield b == c, cmp, "==")
  }
}

/** LESS_THAN (ref: LessThanCheckCalculator.scala:27). */
final case class LessThanCheck(id: String, baseMetric: String,
    compareMetric: Option[String] = None, threshold: Option[Double] = None)
  extends SnapshotCheck {
  val name = "LESS_THAN"
  def run(results: Seq[MetricResult]): CheckResult = {
    val cmp = resolve(results, compareMetric, threshold)
    make(for (b <- lookup(results, baseMetric); c <- cmp) yield b < c, cmp, "<")
  }
}

/** GREATER_THAN (ref: GreaterThanCheckCalculator.scala:28). */
final case class GreaterThanCheck(id: String, baseMetric: String,
    compareMetric: Option[String] = None, threshold: Option[Double] = None)
  extends SnapshotCheck {
  val name = "GREATER_THAN"
  def run(results: Seq[MetricResult]): CheckResult = {
    val cmp = resolve(results, compareMetric, threshold)
    make(for (b <- lookup(results, baseMetric); c <- cmp) yield b > c, cmp, ">")
  }
}

/** DIFFER_BY_LT — relative difference < threshold, with the reference's
  * exact edge cases: base=compare=0 → diff 0 (pass); compare=0 → diff 1;
  * otherwise |base−compare| divided by the SIGNED compare value
  * (ref: DifferByLTCheckCalculator.scala:73-76). */
final case class DifferByLtCheck(id: String, baseMetric: String,
    compareMetric: String, threshold: Double) extends SnapshotCheck {
  val name = "DIFFER_BY_LT"
  def run(results: Seq[MetricResult]): CheckResult = {
    val cmp = lookup(results, compareMetric)
    make(for (b <- lookup(results, baseMetric); c <- cmp) yield {
      val diff =
        if (c == 0.0 && b == 0.0) 0.0
        else if (c == 0.0) 1.0
        else math.abs(b - c) / c
      diff < threshold
    }, cmp, s"differBy<$threshold vs")
  }
}

/** Expression check: boolean formula over any metric results, same DSL as
  * composed metrics (ref: ExpressionCheckCalculator.scala:33-194). */
final case class ExpressionCheck(id: String, formula: String) extends Check {
  val name = "EXPRESSION"
  def run(results: Seq[MetricResult]): CheckResult = {
    val values = results.map(r => r.metricId -> r.value).toMap
    FormulaParser.evaluate(formula, values) match {
      case Right(v) => CheckResult(id, name, v != 0.0, s"'$formula' = $v", formula)
      case Left(err) => CheckResult(id, name, status = false, err, formula)
    }
  }
}
