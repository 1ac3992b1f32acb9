package graft.metrics

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.api.collect_list_limit

/** Executes metric suites against a DataFrame.
  *
  * Execution model (reference: .../metrics/df/DFMetricProcessor.scala:41-79,
  * re-expressed Spark-first):
  *
  *  - ALL single-pass metrics for a source are fused into ONE
  *    `df.select(agg₁, err₁, agg₂, err₂, …)` — logically one `Aggregate` node
  *    with 2N aggregate expressions, physically one scan + partial/final
  *    HashAggregate. Adding a metric never adds a scan. This is the property
  *    that makes a 40-metric suite run at ~1 scan's cost at 100 TB.
  *  - Grouping metrics are batched by grouping-column set: one shuffle per
  *    distinct column set, shared by every metric that groups on it.
  *  - [[process]] runs the fused pass and every grouping set's job at once
  *    (bounded by `defaultParallelism`), so single-task final stages and
  *    driver-side planning of one job overlap the others; result order is
  *    the same as running them one after another.
  *  - Error dumps are bounded by `errorDumpSize` via `collect_list_limit`
  *    (never an unbounded collect_list), so executor memory stays constant.
  *
  * Only the final 1-row aggregate ever reaches the driver.
  */
object MetricProcessor {

  final case class Config(
      sourceId: String = "",
      keyFields: Seq[String] = Nil,
      errorDumpSize: Int = 100,
      caseSensitive: Boolean = false)

  private def errName(id: String) = s"__err_$id"

  /** Global case-insensitivity (reference: DFMetricProcessor.scala:187-188 —
    * when the app-level flag is OFF, every source column is lowercased before
    * metric processing, so a config that says `Customer_ID` matches a source
    * with `customer_id` and vice versa). The rename is a pure alias Project
    * directly over the scan — filters and column pruning push straight
    * through it, zero runtime cost. */
  private def normalized(df: DataFrame, cfg: Config): DataFrame =
    if (cfg.caseSensitive || df.columns.forall(c => c == c.toLowerCase)) df
    else {
      // case-only duplicates (`ID` + `id`, legal under
      // spark.sql.caseSensitive=true) would alias to the SAME lowercase
      // name — every later reference becomes ambiguous. Fail with the
      // actual collision instead of an AMBIGUOUS_REFERENCE downstream.
      val collisions = df.columns.groupBy(_.toLowerCase)
        .filter(_._2.length > 1).values.map(_.mkString("/"))
      require(collisions.isEmpty,
        s"case-insensitive mode cannot normalize case-colliding columns: " +
          collisions.mkString(", ") + " — set caseSensitive = true")
      df.select(df.columns.map(c => col(c).as(c.toLowerCase)): _*)
    }

  private def normName(cfg: Config)(c: String): String =
    if (cfg.caseSensitive) c else c.toLowerCase

  /** Rewrite unresolved column references inside a metric expression to
    * lowercase, so metrics built with any-cased `col("...")` resolve against
    * the normalized frame even when the host session runs with
    * `spark.sql.caseSensitive=true` (where the analyzer would otherwise
    * reject the mismatch). */
  private def normExpr(cfg: Config)(c: Column): Column = {
    if (cfg.caseSensitive) c
    else {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.graft.Bridge
      Bridge.column(Bridge.eagerExpression(c).transform {
        case a: UnresolvedAttribute =>
          UnresolvedAttribute(a.nameParts.map(_.toLowerCase))
      })
    }
  }

  /** Row-data payload collected for failing rows: key fields + metric columns
    * as strings (ref: DFMetricCalculator.scala:92-98). */
  private def rowData(cfg: Config, metricColumns: Seq[String]): Column = {
    val cols = (cfg.keyFields ++ metricColumns).map(normName(cfg)).distinct
    array(cols.map(c => coalesce(col(c).cast("string"), lit("<null>"))): _*)
  }

  private def decodeErrors(raw: Any): Seq[Seq[String]] = raw match {
    case null => Nil
    case s: scala.collection.Seq[_] =>
      s.map {
        case inner: scala.collection.Seq[_] => inner.map(String.valueOf).toSeq
        case other => Seq(String.valueOf(other))
      }.toSeq
    case other => Seq(Seq(String.valueOf(other)))
  }

  /** One fused pass computing every single-pass metric (+ bounded error
    * dumps) in a single Spark job. */
  def processRowMetrics(
      df: DataFrame,
      metrics: Seq[RowMetric],
      cfg: Config = Config()): Seq[MetricResult] = {
    if (metrics.isEmpty) return Nil
    val norm = normExpr(cfg) _
    val aggCols: Seq[Column] = metrics.flatMap { m =>
      val res = norm(m.result).as(m.id)
      val err = m.errorCondition.map { cond =>
        collect_list_limit(
          when(norm(cond), rowData(cfg, m.columns)),
          cfg.errorDumpSize).as(errName(m.id))
      }
      res +: err.toSeq
    }
    val row: Row = normalized(df, cfg).select(aggCols: _*).collect().head
    metrics.map { m =>
      val (value, additional) = m.decode(row.getAs[Any](m.id))
      val errors = m.errorCondition
        .map(_ => decodeErrors(row.getAs[Any](errName(m.id))))
        .getOrElse(Nil)
      MetricResult(m.id, m.name, cfg.sourceId, m.columns, value, additional, errors)
    }
  }

  /** Grouping metrics: one shuffle per distinct grouping-column set
    * (ref: DFMetricProcessor.scala:61-79).
    *
    * Error dumps use the reference's TWO-STAGE capped merge
    * (GroupingDFMetricCalculator.scala:25-139 + MergeListWithLimit.scala:
    * 29-84): the per-group stage `collect_list_limit`s full per-row payloads
    * (key fields + metric columns) inside each group, the final stage
    * `merge_list_limit`-flattens the payloads of groups whose error
    * condition holds — so the dump carries actual failing rows, not just
    * group keys, while both stages stay memory-bounded. */
  def processGroupingMetrics(
      df: DataFrame,
      metrics: Seq[GroupingMetric],
      cfg: Config = Config()): Seq[MetricResult] =
    byColumnSet(metrics).flatMap(processGroupingSet(df, _, cfg))

  /** Grouping metrics batched by grouping-column set, in the order
    * [[processGroupingMetrics]] reports them. */
  private def byColumnSet(metrics: Seq[GroupingMetric]): Seq[Seq[GroupingMetric]] =
    metrics.groupBy(_.columns).values.toSeq

  /** One job for grouping metrics that share one grouping-column set. */
  private def processGroupingSet(
      df: DataFrame,
      ms: Seq[GroupingMetric],
      cfg: Config): Seq[MetricResult] = {
    val gcols = ms.head.columns
    val norm = normExpr(cfg) _
    val anyErrors = ms.exists(_.errorCondition.nonEmpty)
    // re-alias the per-group aggregate to the NORMALIZED "<id>_grp" name:
    // norm() lowercases the UnresolvedAttribute references inside
    // finalResult/errorCondition but not Alias nodes, so a mixed-case
    // metric id under a caseSensitive=true host session would otherwise
    // leave the alias "MyId_grp" unresolvable from the lowered "myid_grp"
    val groupAggs = ms.map(m =>
      norm(m.groupResult).as(normName(cfg)(m.id) + "_grp")) ++
      (if (anyErrors)
        Seq(graft.functions.api.collect_list_limit(
          rowData(cfg, gcols), cfg.errorDumpSize).as("__grp_rows"))
      else Nil)
    val grouped = normalized(df, cfg)
      .groupBy(gcols.map(c => col(normName(cfg)(c))): _*)
      .agg(groupAggs.head, groupAggs.tail: _*)
    val finals: Seq[Column] = ms.flatMap { m =>
      val res = norm(m.finalResult).as(m.id)
      val err = m.errorCondition.map { cond =>
        graft.functions.api.merge_list_limit(
          when(norm(cond), col("__grp_rows")),
          cfg.errorDumpSize).as(errName(m.id))
      }
      res +: err.toSeq
    }
    val row: Row = grouped.select(finals: _*).collect().head
    ms.map { m =>
      val (value, additional) = m.decode(row.getAs[Any](m.id))
      val errors = m.errorCondition
        .map(_ => decodeErrors(row.getAs[Any](errName(m.id))))
        .getOrElse(Nil)
      MetricResult(m.id, m.name, cfg.sourceId, m.columns, value, additional, errors)
    }
  }

  /** Full suite: fused single-pass job + one job per grouping-column set.
    *
    * The jobs are independent, so they run at once through
    * [[graft.util.Concurrently]] (at most `defaultParallelism` at a time,
    * each carrying the caller's job group and description). The fused pass
    * is submitted first, as it is the longest. Results come back in the
    * same order as [[processRowMetrics]] followed by
    * [[processGroupingMetrics]]: row metrics in input order, then grouping
    * metrics by column set. */
  def process(
      df: DataFrame,
      rowMetrics: Seq[RowMetric],
      groupingMetrics: Seq[GroupingMetric] = Nil,
      cfg: Config = Config()): Seq[MetricResult] =
    graft.util.Concurrently(df.sparkSession)(
      (() => processRowMetrics(df, rowMetrics, cfg)) +:
        byColumnSet(groupingMetrics).map(ms => () => processGroupingSet(df, ms, cfg))
    ).flatten

  /** The fused single-pass plan as a 1-row DataFrame (no collect) — for
    * plan inspection, `Verify` dumps and pipelines that keep results
    * distributed. */
  def rowMetricsFrame(df: DataFrame, metrics: Seq[RowMetric]): DataFrame =
    df.select(metrics.map(m => m.result.as(m.id)): _*)

  /** [[rowMetricsFrame]] honoring the config's case-sensitivity flag: with
    * the flag off (the reference default) the fused pass runs over
    * lowercase-normalized columns and any-cased metric column references
    * resolve against them. */
  def rowMetricsFrame(df: DataFrame, metrics: Seq[RowMetric],
      cfg: Config): DataFrame =
    normalized(df, cfg)
      .select(metrics.map(m => normExpr(cfg)(m.result).as(m.id)): _*)

  /** Grouping metrics sharing ONE column set as a 1-row DataFrame (no
    * collect) — the distributed twin of [[processGroupingMetrics]]: per-group
    * aggregate (one shuffle) then final aggregate over groups
    * (ref: DFMetricProcessor.scala:61-79). */
  def groupingMetricsFrame(df: DataFrame, metrics: Seq[GroupingMetric]): DataFrame = {
    require(metrics.nonEmpty && metrics.map(_.columns).distinct.size == 1,
      "groupingMetricsFrame requires metrics sharing one grouping-column set")
    val gcols = metrics.head.columns
    df.groupBy(gcols.map(col): _*)
      .agg(metrics.head.groupResult, metrics.tail.map(_.groupResult): _*)
      .select(metrics.map(m => m.finalResult.as(m.id)): _*)
  }
}
