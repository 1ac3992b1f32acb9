package graft.config

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.metrics.RowMetric
import graft.sources.SourceReaders
import graft.streaming.StreamMetrics

/** Declarative STREAM job config — the config front-end for the reference's
  * streaming application (apps/stream/DataQualityStreamApp.scala: same job
  * config model as batch, restricted to streamable sources plus window
  * settings). Metric, check and storage nodes are read by [[JobConfig]]'s
  * node readers, checks are validated by the same rules
  * ([[JobConfig.checkErrors]]) and built by the same factory, and DQ
  * storage comes from [[JobConfig.storage]]; only the stream-specific
  * fields (source, window, sink, checkpoint, trigger) are read here.
  *
  * Shape:
  * {{{
  * {
  *   "jobId": "...",
  *   "source":  {"kind": "parquet|csv|json", "path": "...", "options": {...}},
  *   "window":  {"tsCol": "ts", "duration": "10 minutes",
  *               "watermark": "5 minutes", "slide": "5 minutes"?},
  *   "metrics": [ <same objects as batch metric configs, row metrics only> ],
  *   "sink":    {"path": "..."},
  *   "checkpoint": "...",
  *   "trigger": "availableNow" | "processingTime:10 seconds"
  * }
  * }}}
  */
object StreamJobConfig {

  final case class Conf(
      jobId: String,
      sourceKind: String,
      sourcePath: String,
      sourceOptions: Map[String, String],
      /** "event" (needs tsCol), "processing" (ingest clock), or "custom"
        * (needs tsExpr) — the reference's three windowing kinds
        * (config/Enums.scala:76-92). */
      timeMode: String,
      tsCol: String,
      tsExpr: Option[String],
      windowDuration: String,
      watermark: String,
      slide: Option[String],
      metrics: Seq[JobConfig.MetricConf],
      /** file sink (metric values per window). Optional when `storage`
        * drives the run instead. */
      sinkPath: Option[String],
      /** per-window checks + DQ-storage persistence — the reference
        * stream job's finalization pipeline (DQStreamWindowJob). */
      storage: Option[JobConfig.StorageConf],
      checks: Seq[JobConfig.CheckConf],
      checkpoint: String,
      trigger: String)

  import JobConfig.{checkNode, metricNode, nodes, opt, storageNode, str, strMap}

  def parseTree(root: JsonNode): Conf = {
    val source = Option(root.get("source")).getOrElse(
      throw new IllegalArgumentException("stream config needs a 'source' object"))
    val window = Option(root.get("window")).getOrElse(
      throw new IllegalArgumentException("stream config needs a 'window' object"))
    // filter(!_.isNull): a merged override `sink = null` DISABLES the file
    // sink (the HOCON null-override idiom), it is not a path-less sink
    val sink = Option(root.get("sink")).filter(!_.isNull)
    val storage = Option(root.get("storage")).filter(!_.isNull).map(storageNode)
    require(sink.nonEmpty ^ storage.nonEmpty,
      "stream config needs EXACTLY ONE of 'sink' (windowed metric files) " +
        "or 'storage' (per-window checks + DQ storage) — a job that wants " +
        "both runs two stream jobs over the same source; override the " +
        "unused one to null in the later config file")
    val metrics = nodes(root, "metrics").map(metricNode(_, "stream"))
    require(metrics.nonEmpty, "stream config needs at least one metric")
    val conf = Conf(
      jobId = str(root, "jobId"),
      sourceKind = str(source, "kind").toLowerCase,
      sourcePath = str(source, "path"),
      sourceOptions = strMap(source, "options"),
      timeMode = str(window, "timeMode", Some("event")).toLowerCase,
      tsCol = str(window, "tsCol", Some("")),
      tsExpr = opt(window, "tsExpr"),
      windowDuration = str(window, "duration"),
      watermark = str(window, "watermark"),
      slide = opt(window, "slide"),
      metrics = metrics,
      sinkPath = sink.map(s => str(s, "path")),
      storage = storage,
      checks = nodes(root, "checks").map(checkNode),
      checkpoint = str(root, "checkpoint"),
      trigger = str(root, "trigger", Some("availableNow")))
    val errs = validate(conf)
    if (errs.nonEmpty) throw new IllegalArgumentException(
      s"invalid stream job config:\n${errs.mkString("\n")}")
    conf
  }

  /** Cross-reference validation, ALL errors collected, with the batch
    * validator's check rules — without it a typo'd check `base` starts the
    * query fine and then persists a Failure row per finalized window for a
    * metric that can never exist, instead of failing the config phase
    * (exit 2). */
  private[config] def validate(c: Conf): Seq[String] =
    JobConfig.duplicates(c.metrics.map(_.id), "metric") ++
      JobConfig.checkErrors(c.checks, c.metrics.map(_.id).toSet) ++
      c.storage.toSeq.flatMap(JobConfig.storageErrors)

  private def trigger(c: Conf): Trigger = c.trigger.split(":", 2) match {
    case Array("availableNow") => Trigger.AvailableNow()
    case Array("processingTime", interval) => Trigger.ProcessingTime(interval)
    case other => throw new IllegalArgumentException(
      s"unknown trigger '${other.mkString(":")}' " +
        "(want availableNow or processingTime:<interval>)")
  }

  /** Build + start the streaming query. The parquet/csv/json streaming
    * source needs a declared schema (Structured Streaming requirement) —
    * inferred here from ONE batch read of the same path's footers/headers,
    * the standard bootstrap for file streams. Returns the started query;
    * the caller owns termination. */
  def start(spark: SparkSession, c: Conf)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // header defaults to true for csv but a user-supplied
    // source.options.header wins — forcing it would read headerless files
    // with the first DATA row as column names and drop one record per file
    val csvHeader = c.sourceOptions.get("header")
      .forall(_.equalsIgnoreCase("true"))
    val schema = c.sourceKind match {
      case "parquet" => spark.read.options(c.sourceOptions).parquet(c.sourcePath).schema
      case "csv" => spark.read
        .options(c.sourceOptions + ("header" -> csvHeader.toString))
        .csv(c.sourcePath).schema
      case "json" => spark.read.options(c.sourceOptions).json(c.sourcePath).schema
      case other => throw new IllegalArgumentException(
        s"unknown streaming source kind '$other'")
    }
    val opts = SourceReaders.ReadOpts(schema = Some(schema),
      options = c.sourceOptions, streaming = true)
    val src = c.sourceKind match {
      case "parquet" => SourceReaders.parquet(spark, c.jobId, c.sourcePath, opts)
      case "csv" => SourceReaders.delimited(spark, c.jobId, c.sourcePath,
        header = csvHeader, opts = opts)
      case "json" => SourceReaders.json(spark, c.jobId, c.sourcePath, opts)
    }
    val rowMetrics: Seq[RowMetric] = c.metrics.map { m =>
      JobConfig.metric(m) match {
        case Left(rm) => rm
        case Right(_) => throw new IllegalArgumentException(
          s"metric '${m.id}' (${m.name}) is a grouping metric — streaming " +
            "jobs support single-pass row metrics only")
      }
    }
    val timeMode = c.timeMode match {
      case "event" =>
        require(c.tsCol.nonEmpty, "timeMode=event needs window.tsCol")
        StreamMetrics.WindowTime.EventTime(c.tsCol)
      case "processing" => StreamMetrics.WindowTime.ProcessingTime
      case "custom" => StreamMetrics.WindowTime.CustomTime(
        org.apache.spark.sql.functions.expr(c.tsExpr.getOrElse(
          throw new IllegalArgumentException("timeMode=custom needs window.tsExpr"))))
      case other => throw new IllegalArgumentException(
        s"unknown timeMode '$other' (want event|processing|custom)")
    }
    val windowed = StreamMetrics.windowedMetricsBy(src.df, timeMode,
      c.windowDuration, c.watermark, rowMetrics, c.slide)
    c.storage match {
      case Some(st) =>
        // reference stream shape: per finalized window, run the checks and
        // persist metrics+checks to DQ storage (DQStreamWindowJob)
        StreamMetrics.runChecksSink(windowed, rowMetrics,
          c.checks.map(JobConfig.check), JobConfig.storage(spark, st),
          c.jobId, c.checkpoint, trigger = trigger(c), queryName = c.jobId).start()
      case None =>
        StreamMetrics.start(windowed, c.checkpoint,
          sinkPath = c.sinkPath, queryName = c.jobId,
          trigger = trigger(c)).start()
    }
  }
}
