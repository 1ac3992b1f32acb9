package graft.config

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.curation.TaggerMixer
import graft.curation.TaggerMixer.{MixRule, Tagger}

/** Declarative CURATION job spec — the tagger/mixer pass behind the same
  * config-driven UX as the DQ job ([[JobConfig]]): one JSON/HOCON document
  * names the source, the taggers (SQL expressions over the corpus
  * columns, or the builtin set), the mix rules, and where to write kept
  * rows and run metrics. Everything compiles to the SAME code paths the
  * library exposes programmatically (`TaggerMixer.curate`,
  * `CurationMetrics`-style fused counting) — the config layer adds zero
  * new semantics, only reach (reference pattern: config/jobconf drives
  * checkita-core's engine; here it drives the curation engine).
  *
  * Validation is two-phase collect-all-errors like [[JobConfig.validate]].
  */
object CurationJobConfig {

  final case class TaggerConf(name: String, expr: String)
  final case class RuleConf(name: String, sql: String)
  final case class Conf(
      jobId: String,
      sourceKind: String,     // parquet | csv
      sourcePath: String,
      idCols: Seq[String],
      textCol: String,
      taggers: Seq[TaggerConf],   // empty → builtin set over textCol
      rules: Seq[RuleConf],
      keptPath: Option[String],   // write kept corpus rows here
      metricsStorage: Option[JobConfig.StorageConf],
      /** reader options passed through (csv header defaults true but a
        * user-supplied header/sep/... wins — same contract as the stream
        * config's source.options). */
      sourceOptions: Map[String, String] = Map.empty)

  private val mapper = new ObjectMapper()

  def parse(json: String): Conf = parseTree(mapper.readTree(json))
  def parseHocon(text: String): Conf = parseTree(Hocon.parse(text))

  private def parseTree(root: JsonNode): Conf = {
    import JobConfig.{nodes, str, strMap, strSeq}
    val src = Option(root.get("source"))
      .getOrElse(throw new IllegalArgumentException("missing field: source"))
    Conf(
      jobId = str(root, "jobId"),
      sourceKind = str(src, "kind", Some("parquet")),
      sourcePath = str(src, "path"),
      sourceOptions = strMap(src, "options"),
      idCols = if (root.has("idCols")) strSeq(root, "idCols") else Seq("doc_id"),
      textCol = str(root, "textCol", Some("text")),
      taggers = nodes(root, "taggers").map(t => TaggerConf(str(t, "name"), str(t, "expr"))),
      rules = nodes(root, "rules").map(r => RuleConf(str(r, "name"), str(r, "sql"))),
      // filterNot(isNull): an explicit JSON `null` must mean absence —
      // NullNode.asText() is the string "null", which would silently
      // become a write to a relative path named 'null'
      keptPath = Option(root.get("keptPath")).filterNot(_.isNull).map(_.asText()),
      metricsStorage = Option(root.get("metricsStorage")).filterNot(_.isNull).map(s =>
        JobConfig.StorageConf(str(s, "kind", Some("parquet")), str(s, "location"))))
  }

  /** Collect-ALL-errors validation (JobConfig two-phase style). */
  def validate(c: Conf): Seq[String] = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    if (c.jobId.isEmpty) errs += "jobId must be non-empty"
    if (!Set("parquet", "csv").contains(c.sourceKind))
      errs += s"unknown source kind '${c.sourceKind}' (parquet|csv)"
    if (c.sourcePath.isEmpty) errs += "source.path must be non-empty"
    if (c.idCols.isEmpty) errs += "idCols must be non-empty"
    if (c.rules.isEmpty) errs += "at least one mix rule is required"
    errs ++= c.metricsStorage.toSeq.flatMap(JobConfig.storageErrors)
    val dupT = c.taggers.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    dupT.foreach(n => errs += s"duplicate tagger name '$n'")
    val dupR = c.rules.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    dupR.foreach(n => errs += s"duplicate rule name '$n'")
    // rule/tagger SQL must at least parse as Spark expressions — parse
    // EAGERLY via the catalyst parser (Spark 4's `expr()` defers parsing
    // to analysis, which would turn a config typo into a runtime failure)
    (c.taggers.map(t => s"tagger '${t.name}'" -> t.expr) ++
      c.rules.map(r => s"rule '${r.name}'" -> r.sql)).foreach { case (what, sql) =>
      try {
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
        ()
      } catch {
        case e: Exception => errs += s"$what does not parse: ${e.getMessage}"
      }
    }
    errs.toSeq
  }

  final case class CurationRunResult(
      files: Long, kept: Long, perRuleFails: Map[String, Long])

  /** Runs the job: read → fused tag+mix → optional kept-rows write →
    * one fused conditional-count aggregate (files / kept / per-rule
    * fails) → optional metrics publish. Returns the counts. */
  def run(spark: SparkSession, c: Conf,
      referenceTs: java.time.Instant = java.time.Instant.EPOCH): CurationRunResult = {
    val errs = validate(c)
    require(errs.isEmpty, s"invalid curation config: ${errs.mkString("; ")}")
    // built before the pass, so an unreachable storage fails up front;
    // closed when the run ends
    val storage = c.metricsStorage.map(JobConfig.storage(spark, _))
    def go = runWith(spark, c, storage, referenceTs)
    storage.fold(go)(_.withinRun(go))
  }

  private def runWith(spark: SparkSession, c: Conf, storage: Option[graft.storage.DqStorage],
      referenceTs: java.time.Instant): CurationRunResult = {
    // make the compiled signal functions available to config tagger SQL
    // (e.g. "code_stats(lang, content).comment_line_frac",
    // "secret_stats(content).n_flagged") without host-side setup — but
    // never clobber a host-registered function of the same name
    graft.functions.GraftFunctions.registerIfAbsent(spark)
    val corpus: DataFrame = c.sourceKind match {
      case "parquet" => spark.read.options(c.sourceOptions).parquet(c.sourcePath)
      case "csv" => spark.read
        .options(Map("header" -> "true") ++ c.sourceOptions).csv(c.sourcePath)
    }
    val taggers: Seq[Tagger] =
      if (c.taggers.isEmpty) TaggerMixer.builtinTaggers(col(c.textCol))
      else c.taggers.map(t => Tagger(t.name, expr(t.expr)))
    val curated0 = TaggerMixer.curate(
      corpus.withColumn("__row", struct(corpus.columns.map(col): _*)),
      c.idCols :+ "__row", taggers, c.rules.map(r => MixRule(r.name, r.sql)))
    val failCols = c.rules.map(r =>
      coalesce(sum(when(!col(s"pass_${r.name}"), 1L).otherwise(0L)), lit(0L))
        .as(s"fail_${r.name}"))
    val aggs = Seq(count(lit(1)).as("files"),
      coalesce(sum(when(col("keep"), 1L).otherwise(0L)), lit(0L)).as("kept")) ++
      failCols
    val row = graft.util.CacheScope.withScope(spark) {
      // persisted iff BOTH the kept-rows write and the counts aggregate
      // consume it — without the cache the whole read+tag+mix pipeline runs
      // twice (the dominant cost of the job at corpus scale)
      val curated =
        if (c.keptPath.isDefined) graft.util.CacheScope.persist(curated0)
        else curated0
      c.keptPath.foreach { p =>
        curated.filter(col("keep")).select(col("__row.*"))
          .write.mode("overwrite").parquet(p)
      }
      curated.agg(aggs.head, aggs.tail: _*).head
    }
    val result = CurationRunResult(row.getLong(0), row.getLong(1),
      c.rules.zipWithIndex.map { case (r, i) => r.name -> row.getLong(2 + i) }.toMap)

    storage.foreach { storage =>
      val metrics = Seq(
        graft.metrics.MetricResult(s"${c.jobId}_files", "ROW_COUNT",
          c.sourcePath, Nil, result.files.toDouble),
        graft.metrics.MetricResult(s"${c.jobId}_kept", "ROW_COUNT",
          c.sourcePath, Nil, result.kept.toDouble),
        graft.metrics.MetricResult(s"${c.jobId}_keep_rate", "KEEP_RATE",
          c.sourcePath, Nil,
          if (result.files == 0) 0.0 else result.kept.toDouble / result.files)) ++
        result.perRuleFails.toSeq.sortBy(_._1).map { case (r, n) =>
          graft.metrics.MetricResult(s"${c.jobId}_fail_$r", "DROP_COUNT",
            c.sourcePath, Nil, n.toDouble)
        }
      storage.saveMetrics(c.jobId, referenceTs, metrics)
    }
    result
  }
}
