package graft.config

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.SparkSession

import graft.checks._
import graft.jobs._
import graft.metrics._
import graft.sources.{Source, SourceReaders}
import graft.storage.{DqStorage, JdbcDqStorage, ParquetDqStorage}

/** Declarative job configuration — the reference's primary UX is a config
  * file describing sources, metrics, checks, storage and targets (HOCON
  * jobconf model under config/jobconf, parsed+validated by
  * config/validation/PreValidation.scala / PostValidation.scala, 801 LoC of
  * cross-reference rules). Re-expressed here as a JSON job spec (Jackson is
  * already on the Spark classpath) with the same two-phase model:
  * parse (shape errors) then validate (cross-reference errors, ALL collected,
  * not fail-fast) then build a [[graft.jobs.DqBatchJob]].
  */
object JobConfig {

  final case class SourceConf(id: String, kind: String, path: String,
      keyFields: Seq[String], options: Map[String, String])
  final case class MetricConf(id: String, name: String, source: String,
      columns: Seq[String], params: Map[String, String],
      description: Option[String] = None, metadata: Option[String] = None)
  final case class ComposedConf(id: String, formula: String)
  final case class CheckConf(id: String, kind: String, base: String,
      compareMetric: Option[String], threshold: Option[Double],
      formula: Option[String], critical: Boolean,
      description: Option[String] = None, metadata: Option[String] = None)
  final case class LoadCheckConf(id: String, kind: String, count: Int,
      columns: Seq[String])
  final case class StorageConf(kind: String, location: String)
  final case class Conf(
      jobId: String,
      sources: Seq[SourceConf],
      loadChecks: Seq[LoadCheckConf],
      metrics: Seq[MetricConf],
      composed: Seq[ComposedConf],
      checks: Seq[CheckConf],
      storage: Option[StorageConf],
      tolerance: Tolerance,
      errorDumpSize: Int,
      caseSensitive: Boolean = false,
      /** the parsed config document itself, persisted per run to the
        * storage's job_state table (reference: job_state DDL +
        * Models.scala:140). */
      rawJson: Option[String] = None,
      /** optional sensitive-field encryption for the stored config:
        * (secret, name-fragments to encrypt). */
      encryption: Option[(String, Seq[String])] = None)

  private val mapper = new ObjectMapper()

  /** The JSON node readers every job config (batch, stream, curation,
    * filter) parses with, so one field is read, defaulted and reported
    * missing the same way everywhere. */
  private[graft] def str(n: JsonNode, f: String, default: Option[String] = None): String =
    opt(n, f).orElse(default)
      .getOrElse(throw new IllegalArgumentException(s"missing field '$f' in ${n.toString.take(80)}"))

  private[graft] def opt(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).map(_.asText)

  private[graft] def strSeq(n: JsonNode, f: String): Seq[String] =
    nodes(n, f).map(_.asText)

  private[graft] def strMap(n: JsonNode, f: String): Map[String, String] =
    Option(n.get(f)).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty)

  private[graft] def nodes(n: JsonNode, f: String): Seq[JsonNode] =
    Option(n.get(f)).map(_.elements().asScala.toSeq).getOrElse(Nil)

  /** A metric node; `source` is the id of the source it is computed on. */
  private[graft] def metricNode(m: JsonNode, source: String): MetricConf =
    MetricConf(str(m, "id"), str(m, "name"), source, strSeq(m, "columns"),
      strMap(m, "params"), description = opt(m, "description"),
      metadata = opt(m, "metadata"))

  private[graft] def checkNode(c: JsonNode): CheckConf =
    CheckConf(str(c, "id"), str(c, "kind"), str(c, "base", Some("")),
      opt(c, "compareMetric"), Option(c.get("threshold")).map(_.asDouble),
      opt(c, "formula"), Option(c.get("critical")).exists(_.asBoolean),
      description = opt(c, "description"), metadata = opt(c, "metadata"))

  private[graft] def storageNode(s: JsonNode): StorageConf =
    StorageConf(str(s, "kind"), str(s, "location"))

  /** The one place DQ storage is built from config. */
  private[graft] def storage(spark: SparkSession, s: StorageConf): DqStorage =
    s.kind.toLowerCase match {
      case "parquet" => new ParquetDqStorage(spark, s.location)
      case "jdbc" => new JdbcDqStorage(s.location)
      case other => throw new IllegalArgumentException(s"unknown storage kind '$other'")
    }

  /** Phase 1: parse the JSON shape. Throws IllegalArgumentException with a
    * precise message on malformed input (ref: PreValidation). */
  def parse(json: String): Conf = parseTree(mapper.readTree(json))

  /** HOCON front-end — the reference's primary config UX (HOCON jobconfs,
    * config/IO.scala + config/jobconf/). The [[Hocon]] subset parser
    * produces the same Jackson tree, so HOCON and JSON configs hit ONE
    * model, one validator, one builder and can never drift. */
  def parseHocon(text: String): Conf = parseTree(Hocon.parse(text))

  private def parseTree(root: JsonNode): Conf =
    Conf(
      jobId = str(root, "jobId"),
      sources = nodes(root, "sources").map(s => SourceConf(
        str(s, "id"), str(s, "kind"), str(s, "path"), strSeq(s, "keyFields"),
        strMap(s, "options"))),
      loadChecks = nodes(root, "loadChecks").map(c => LoadCheckConf(
        str(c, "id"), str(c, "kind"),
        Option(c.get("count")).map(_.asInt).getOrElse(0), strSeq(c, "columns"))),
      metrics = nodes(root, "metrics").map(m => metricNode(m, str(m, "source"))),
      composed = nodes(root, "composedMetrics").map(c =>
        ComposedConf(str(c, "id"), str(c, "formula"))),
      checks = nodes(root, "checks").map(checkNode),
      storage = Option(root.get("storage")).map(storageNode),
      tolerance = opt(root, "tolerance").map(_.toLowerCase) match {
        case Some("none") => Tolerance.None
        case Some("all") => Tolerance.All
        case _ => Tolerance.Critical
      },
      errorDumpSize = Option(root.get("errorDumpSize")).map(_.asInt).getOrElse(100),
      // reference parity: app-level enableCaseSensitivity defaults OFF
      // (columns are lowercase-normalized; reference/checkita-core
      // .../core/metrics/df/DFMetricProcessor.scala:187-188)
      caseSensitive = Option(root.get("caseSensitive")).exists(_.asBoolean),
      rawJson = Some(root.toString),
      encryption = Option(root.get("encryption")).map(e =>
        (str(e, "secret"),
          if (e.has("keyFields")) strSeq(e, "keyFields")
          else Seq("password", "secret"))))

  /** Phase 2: cross-reference validation — ALL violations reported at once
    * (the reference's PostValidation model). */
  def validate(c: Conf): Seq[String] = {
    val errs = Seq.newBuilder[String]
    errs ++= duplicates(c.sources.map(_.id), "source")
    errs ++= duplicates(c.metrics.map(_.id) ++ c.composed.map(_.id), "metric")
    val srcIds = c.sources.map(_.id).toSet
    c.metrics.filterNot(m => srcIds(m.source))
      .foreach(m => errs += s"metric '${m.id}' references unknown source '${m.source}'")
    val metricIds = (c.metrics.map(_.id) ++ c.composed.map(_.id)).toSet
    c.composed.foreach(cc => errs ++= unknownRefs(cc.id, cc.formula, metricIds))
    errs ++= checkErrors(c.checks, metricIds)
    errs.result()
  }

  private[config] def duplicates(ids: Seq[String], what: String): Seq[String] =
    ids.groupBy(identity).filter(_._2.size > 1).keys.toSeq
      .map(id => s"duplicate $what id '$id'")

  private val refRe = "\\{\\{\\s*([\\w.\\-]+)\\s*\\}\\}".r

  private def unknownRefs(id: String, formula: String, metricIds: Set[String]): Seq[String] =
    refRe.findAllMatchIn(formula).map(_.group(1)).filterNot(metricIds)
      .map(ref => s"formula of '$id' references unknown metric '$ref'").toSeq

  /** The rules on checks, shared by the batch and stream validators:
    * every metric a check names (base, compareMetric, formula reference)
    * must be one of `metricIds`, and each kind carries the fields it needs.
    * A compareMetric that names no metric must fail here: at run time the
    * failed lookup falls back to the threshold and the check passes on a
    * value nobody asked for. */
  private[config] def checkErrors(checks: Seq[CheckConf], metricIds: Set[String]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    errs ++= duplicates(checks.map(_.id), "check")
    checks.foreach { ch =>
      val kind = ch.kind.toUpperCase
      if (kind != "EXPRESSION") {
        if (!metricIds(ch.base))
          errs += s"check '${ch.id}' references unknown metric '${ch.base}'"
        if (ch.compareMetric.isEmpty && ch.threshold.isEmpty)
          errs += s"check '${ch.id}' needs compareMetric or threshold"
      }
      // DIFFER_BY_LT compares base vs compareMetric WITHIN a threshold —
      // both are required, or build would crash instead of this reporting
      if (kind == "DIFFER_BY_LT" && (ch.compareMetric.isEmpty || ch.threshold.isEmpty))
        errs += s"DIFFER_BY_LT check '${ch.id}' needs BOTH compareMetric and threshold"
      if (kind == "EXPRESSION" && ch.formula.isEmpty)
        errs += s"expression check '${ch.id}' needs a formula"
      ch.compareMetric.filterNot(metricIds).foreach(cm =>
        errs += s"check '${ch.id}' compareMetric references unknown metric '$cm'")
      ch.formula.foreach(f => errs ++= unknownRefs(ch.id, f, metricIds))
    }
    errs.result()
  }

  /** Metric factory: config name → calculator (names follow the reference's
    * MetricName enum, core/metrics/MetricName.scala:12-73). */
  def metric(m: MetricConf): Either[RowMetric, GroupingMetric] = {
    def p(key: String, default: String = null): String =
      m.params.getOrElse(key,
        Option(default).getOrElse(
          throw new IllegalArgumentException(s"metric '${m.id}' needs param '$key'")))
    def col1: String = m.columns.headOption.getOrElse(
      throw new IllegalArgumentException(s"metric '${m.id}' needs a column"))
    m.name.toUpperCase match {
      case "ROW_COUNT" => Left(RowCountMetric(m.id))
      case "NULL_VALUES" => Left(NullValuesMetric(m.id, m.columns))
      case "EMPTY_VALUES" => Left(EmptyValuesMetric(m.id, m.columns))
      case "COMPLETENESS" =>
        Left(CompletenessMetric(m.id, m.columns, p("includeEmptyStrings", "false").toBoolean))
      case "EMPTINESS" =>
        Left(EmptinessMetric(m.id, m.columns, p("includeEmptyStrings", "false").toBoolean))
      case "REGEX_MATCH" => Left(RegexMatchMetric(m.id, m.columns, p("regex")))
      case "REGEX_MISMATCH" => Left(RegexMatchMetric(m.id, m.columns, p("regex"), mismatch = true))
      case "MIN_STRING" => Left(StringLenExtremeMetric(m.id, m.columns, isMax = false))
      case "MAX_STRING" => Left(StringLenExtremeMetric(m.id, m.columns, isMax = true))
      case "AVG_STRING" => Left(AvgStringLenMetric(m.id, m.columns))
      case "FORMATTED_DATE" => Left(FormattedDateMetric(m.id, m.columns,
        p("format", "yyyy-MM-dd HH:mm:ss")))
      case "STRING_LENGTH" => Left(StringLengthMetric(m.id, m.columns,
        p("length").toInt, p("rule", "eq").toLowerCase match {
          case "lt" => CompareRule.Lt
          case "lte" => CompareRule.Lte
          case "gt" => CompareRule.Gt
          case "gte" => CompareRule.Gte
          case _ => CompareRule.Eq
        }))
      case "STRING_IN_DOMAIN" =>
        Left(StringDomainMetric(m.id, m.columns, p("domain").split(",").map(_.trim).toSet))
      case "STRING_OUT_DOMAIN" =>
        Left(StringDomainMetric(m.id, m.columns, p("domain").split(",").map(_.trim).toSet,
          outbound = true))
      case "STRING_VALUES" => Left(StringValuesMetric(m.id, m.columns, p("compareValue")))
      case "MIN_NUMBER" => Left(NumberExtremeMetric(m.id, m.columns, isMax = false))
      case "MAX_NUMBER" => Left(NumberExtremeMetric(m.id, m.columns, isMax = true))
      case "SUM_NUMBER" => Left(SumNumberMetric(m.id, m.columns))
      case "AVG_NUMBER" => Left(AvgNumberMetric(m.id, col1))
      case "STD_NUMBER" => Left(StdNumberMetric(m.id, col1))
      case "CASTED_NUMBER" => Left(CastedNumberMetric(m.id, m.columns))
      case "FORMATTED_NUMBER" => Left(FormattedNumberMetric(m.id, m.columns,
        p("precision").toInt, p("scale").toInt, p("outbound", "false").toBoolean))
      case "NUMBER_IN_DOMAIN" =>
        Left(NumberDomainMetric(m.id, m.columns, p("domain").split(",").map(_.trim.toDouble).toSet))
      case "NUMBER_OUT_DOMAIN" =>
        Left(NumberDomainMetric(m.id, m.columns, p("domain").split(",").map(_.trim.toDouble).toSet,
          outbound = true))
      case "NUMBER_VALUES" => Left(NumberValuesMetric(m.id, m.columns, p("compareValue").toDouble))
      case "NUMBER_LESS_THAN" => Left(NumberCompareMetric(m.id, m.columns,
        p("compareValue").toDouble, greater = false, p("includeBound", "false").toBoolean))
      case "NUMBER_GREATER_THAN" => Left(NumberCompareMetric(m.id, m.columns,
        p("compareValue").toDouble, greater = true, p("includeBound", "false").toBoolean))
      case "NUMBER_BETWEEN" => Left(NumberBetweenMetric(m.id, m.columns,
        p("lower").toDouble, p("upper").toDouble))
      case "NUMBER_NOT_BETWEEN" => Left(NumberBetweenMetric(m.id, m.columns,
        p("lower").toDouble, p("upper").toDouble, negate = true))
      case "MEDIAN_VALUE" => Left(QuantileMetric(m.id, col1, 0.5))
      case "FIRST_QUANTILE" => Left(QuantileMetric(m.id, col1, 0.25))
      case "THIRD_QUANTILE" => Left(QuantileMetric(m.id, col1, 0.75))
      case "GET_QUANTILE" => Left(QuantileMetric(m.id, col1, p("target").toDouble))
      case "GET_PERCENTILE" => Left(PercentileAtValueMetric(m.id, col1, p("target").toDouble))
      case "COVARIANCE" => Left(CovarianceMetric(m.id, m.columns(0), m.columns(1),
        CovarianceMetric.Kind.Population))
      case "COVARIANCE_BESSEL" => Left(CovarianceMetric(m.id, m.columns(0), m.columns(1),
        CovarianceMetric.Kind.Sample))
      case "CO_MOMENT" => Left(CovarianceMetric(m.id, m.columns(0), m.columns(1),
        CovarianceMetric.Kind.CoMoment))
      case "COLUMN_EQ" => Left(ColumnEqMetric(m.id, m.columns))
      case "DAY_DISTANCE" => Left(DayDistanceMetric(m.id, m.columns(0), m.columns(1),
        p("threshold").toInt, p("format", "yyyy-MM-dd")))
      case "LEVENSHTEIN_DISTANCE" => Left(LevenshteinMetric(m.id, m.columns(0), m.columns(1),
        p("threshold").toDouble, p("normalized", "false").toBoolean))
      case "APPROXIMATE_DISTINCT_VALUES" =>
        Left(ApproxDistinctMetric(m.id, col1, p("accuracyError", "0.01").toDouble))
      case "APPROXIMATE_SEQUENCE_COMPLETENESS" =>
        Left(ApproxSeqCompletenessMetric(m.id, col1, p("increment", "1").toLong,
          p("accuracyError", "0.01").toDouble))
      case "TOP_N" => Left(TopNMetric(m.id, col1, p("targetNumber", "10").toInt,
        p("maxCapacity", "1024").toInt))
      case "DISTINCT_VALUES" => Right(DistinctValuesMetric(m.id, m.columns))
      case "DUPLICATE_VALUES" => Right(DuplicateValuesMetric(m.id, m.columns))
      case "SEQUENCE_COMPLETENESS" =>
        Right(SeqCompletenessMetric(m.id, col1, p("increment", "1").toLong))
      case other => throw new IllegalArgumentException(s"unknown metric name '$other'")
    }
  }

  private def source(spark: SparkSession, s: SourceConf): Source = {
    val opts = SourceReaders.ReadOpts(options = s.options)
    s.kind.toLowerCase match {
      case "parquet" => SourceReaders.parquet(spark, s.id, s.path, opts).copy(keyFields = s.keyFields)
      case "orc" => SourceReaders.orc(spark, s.id, s.path, opts).copy(keyFields = s.keyFields)
      case "json" => SourceReaders.json(spark, s.id, s.path, opts).copy(keyFields = s.keyFields)
      case "csv" => SourceReaders.delimited(spark, s.id, s.path,
        header = true, opts = opts).copy(keyFields = s.keyFields)
      case "avro" => SourceReaders.avro(spark, s.id, s.path).copy(keyFields = s.keyFields)
      case "table" => SourceReaders.table(spark, s.id, s.path).copy(keyFields = s.keyFields)
      case other => throw new IllegalArgumentException(s"unknown source kind '$other'")
    }
  }

  private def loadCheck(lc: LoadCheckConf, caseSensitive: Boolean)
      : Source => CheckResult =
    lc.kind.toUpperCase match {
      case "EXACT_COLUMN_NUM" => s => LoadChecks.exactColumnNum(lc.id, s.df, lc.count)
      case "MIN_COLUMN_NUM" => s => LoadChecks.minColumnNum(lc.id, s.df, lc.count)
      case "COLUMNS_EXIST" =>
        s => LoadChecks.columnsExist(lc.id, s.df, lc.columns, caseSensitive)
      case other => throw new IllegalArgumentException(s"unknown load check '$other'")
    }

  private[config] def check(c: CheckConf): CheckSpec = {
    val check = c.kind.toUpperCase match {
      case "EQUAL_TO" => EqualToCheck(c.id, c.base, c.compareMetric, c.threshold)
      case "LESS_THAN" => LessThanCheck(c.id, c.base, c.compareMetric, c.threshold)
      case "GREATER_THAN" => GreaterThanCheck(c.id, c.base, c.compareMetric, c.threshold)
      case "DIFFER_BY_LT" =>
        val cm = c.compareMetric.getOrElse(throw new IllegalArgumentException(
          s"DIFFER_BY_LT check '${c.id}' needs a compareMetric"))
        val th = c.threshold.getOrElse(throw new IllegalArgumentException(
          s"DIFFER_BY_LT check '${c.id}' needs a threshold"))
        DifferByLtCheck(c.id, c.base, cm, th)
      case "EXPRESSION" =>
        ExpressionCheck(c.id, c.formula.getOrElse(throw new IllegalArgumentException(
          s"expression check '${c.id}' needs a formula")))
      case other => throw new IllegalArgumentException(s"unknown check kind '$other'")
    }
    CheckSpec(check, c.critical)
  }

  /** Build a runnable job from validated config. */
  def build(spark: SparkSession, c: Conf): DqBatchJob = {
    val errs = validate(c)
    require(errs.isEmpty, s"invalid job config:\n${errs.mkString("\n")}")
    val srcs = c.sources.map(source(spark, _))
    val byMetric = c.metrics.map(m => (m.source, metric(m)))
    // job-state document: the config as parsed, sensitive fields encrypted
    // when an encryption secret is configured (ref: ConfigEncryptor applied
    // before the job_state write). The 'encryption' section itself is
    // STRIPPED before persisting — storing the secret (whose field name
    // need not match any keyField) next to the ciphertexts it protects
    // would void the whole scheme.
    val jobState: Option[String] = c.rawJson.map { raw =>
      c.encryption match {
        case Some((secret, kf)) =>
          val tree = mapper.readTree(raw)
          tree match {
            case o: com.fasterxml.jackson.databind.node.ObjectNode =>
              o.remove("encryption")
            case _ =>
          }
          new ConfigEncryptor(secret, kf).encryptTree(tree).toString
        case None => raw
      }
    }
    new DqBatchJob(spark, c.jobId, srcs,
      loadChecks = c.loadChecks.map(loadCheck(_, c.caseSensitive)),
      rowMetrics = byMetric.collect { case (s, Left(rm)) => (s, rm) }
        .groupBy(_._1).map { case (s, ms) => s -> ms.map(_._2) },
      groupingMetrics = byMetric.collect { case (s, Right(gm)) => (s, gm) }
        .groupBy(_._1).map { case (s, ms) => s -> ms.map(_._2) },
      composedMetrics = c.composed.map(cc => ComposedMetric(cc.id, cc.formula)),
      checks = c.checks.map(check),
      storage = c.storage.map(storage(spark, _)),
      tolerance = c.tolerance,
      errorDumpSize = c.errorDumpSize,
      caseSensitive = c.caseSensitive,
      jobState = jobState,
      annotations =
        (c.metrics.map(m => m.id -> ((m.description, m.metadata))) ++
          c.checks.map(ch => ch.id -> ((ch.description, ch.metadata))))
          .filter { case (_, (d, md)) => d.nonEmpty || md.nonEmpty }.toMap)
  }

  /** One-call entry: config file path → job; see [[fromFiles]]. */
  def fromFile(spark: SparkSession, path: String): DqBatchJob =
    fromFiles(spark, Seq(path))

  /** Multi-file entry, reference parity with `buildBatchJob(jobConfigPaths)`
    * (DQContext.scala:594-596): every file parses to a tree (HOCON or JSON
    * by extension) and the trees deep-merge IN ORDER — later files override
    * scalars/arrays, objects merge recursively — before one validate+build.
    * The idiom: a shared base config plus a small per-job override file. */
  def fromFiles(spark: SparkSession, paths: Seq[String]): DqBatchJob =
    fromFiles(spark, paths, Map.empty)

  /** [[fromFiles]] with extra variables (the reference CLI's `-e k=v`
    * option, apps/cli/CommandLineOptions.scala): each `${k}` occurrence in
    * the raw config text is replaced with `v` BEFORE parsing — only the
    * provided keys are touched, so HOCON's own `${ref}` substitutions keep
    * working for everything else. */
  def fromFiles(spark: SparkSession, paths: Seq[String],
      extraVars: Map[String, String]): DqBatchJob =
    build(spark, parseTree(mergedTree(paths, extraVars)))

  /** Read + deep-merge config files IN ORDER (HOCON or JSON by extension)
    * to one Jackson tree — the shared front half of every config-driven
    * entry point (batch job, stream job, curation job). */
  def mergedTree(paths: Seq[String],
      extraVars: Map[String, String] = Map.empty): JsonNode = {
    require(paths.nonEmpty, "at least one config path is required")
    val trees = paths.map { path =>
      val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      val text = extraVars.foldLeft(raw) { case (t, (k, v)) =>
        t.replace("${" + k + "}", v)
      }
      if (path.endsWith(".conf") || path.endsWith(".hocon")) Hocon.parse(text)
      else mapper.readTree(text) match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode => o
        case other => throw new IllegalArgumentException(
          s"config root must be an object, got ${other.getNodeType} in $path")
      }
    }
    trees.reduce(Hocon.merge)
  }
}
