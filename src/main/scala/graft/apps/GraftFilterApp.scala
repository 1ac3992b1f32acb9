package graft.apps

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.DataFrame

import graft.config.JobConfig
import graft.pipeline.{FilterConfig, ParquetCorpusStore, ResumableRun}

/** spark-submit entry point for the FLAGSHIP pipeline — the north rule's
  * "run via spark-submit on a multi-executor cluster" for the quality
  * filter itself (language-ID + KN perplexity + heuristic checks + PII
  * scrub + optional corpus-level near-dup), not just the DQ metric jobs.
  *
  * Same CLI as the other apps. Config shape (HOCON or JSON, deep-merged,
  * `${k}` extra-vars):
  * {{{
  * jobId = qf_2026_08
  * input = {kind = parquet, path = "/data/corpus"}   // or kind = table
  * store = "/data/qf_store"                          // verdicts + lineage
  * dedup = false                                      // near-dup stage
  * filter = { maxLineLen = 500, maxPpl = 25.0, numPartitions = 64, ... }
  * }}}
  *
  * The run is partition-resumable: re-launching the same jobId against the
  * same store skips completed partitions (per-partition lineage — crash
  * recovery is "run the same command again"). Prints the run report as one
  * JSON line. Exit codes: 0 = ran; 1 = the run failed; 2 = bad arguments
  * or config.
  */
object GraftFilterApp {

  def main(args: Array[String]): Unit = sys.exit(run(args))

  final case class FilterJobConf(
      jobId: String,
      inputKind: String,
      inputPath: String,
      store: String,
      dedup: Boolean,
      filter: FilterConfig)

  def parseTree(root: JsonNode): FilterJobConf = {
    import JobConfig.str
    val input = Option(root.get("input")).getOrElse(
      throw new IllegalArgumentException("filter config needs an 'input' object"))
    val f = Option(root.get("filter"))
    def fInt(name: String, dflt: Int): Int =
      f.flatMap(n => Option(n.get(name))).map(_.asInt).getOrElse(dflt)
    def fDouble(name: String, dflt: Double): Double =
      f.flatMap(n => Option(n.get(name))).map(_.asDouble).getOrElse(dflt)
    val d = FilterConfig()
    FilterJobConf(
      jobId = str(root, "jobId"),
      inputKind = str(input, "kind", Some("parquet")).toLowerCase,
      inputPath = str(input, "path"),
      store = str(root, "store"),
      dedup = Option(root.get("dedup")).exists(_.asBoolean),
      filter = FilterConfig(
        maxLineLen = fInt("maxLineLen", d.maxLineLen),
        maxAvgLineLen = fDouble("maxAvgLineLen", d.maxAvgLineLen),
        minAlnumRatio = fDouble("minAlnumRatio", d.minAlnumRatio),
        maxDupLineShare = fDouble("maxDupLineShare", d.maxDupLineShare),
        maxPpl = fDouble("maxPpl", d.maxPpl),
        numPartitions = fInt("numPartitions", d.numPartitions),
        saltBuckets = fInt("saltBuckets", d.saltBuckets),
        dedupTau = fDouble("dedupTau", d.dedupTau),
        dedupBands = fInt("dedupBands", d.dedupBands),
        dedupRows = fInt("dedupRows", d.dedupRows)))
  }

  def run(args: Array[String]): Int =
    GraftDqBatchApp.shell(args, "graft-quality-filter", "graft filter job") { (spark, opts) =>
      val c = parseTree(JobConfig.mergedTree(opts.configPaths, opts.extraVars))
      val in: DataFrame = c.inputKind match {
        case "parquet" => spark.read.parquet(c.inputPath)
        case "table" => spark.table(c.inputPath) // incl. Iceberg catalogs
        case other => throw new IllegalArgumentException(
          s"unknown input kind '$other' (want parquet|table)")
      }
      () => {
        val store = new ParquetCorpusStore(c.store, c.filter.saltBuckets)
        val report =
          if (c.dedup) ResumableRun.runWithDedup(spark, in, c.filter, store, c.jobId)
          else ResumableRun.run(spark, in, c.filter, store, c.jobId)
        println(
          s"""{"jobId":"${CliOptions.jsonEscape(report.jobId)}","partitionsSkipped":${report.partitionsSkipped},""" +
            s""""partitionsProcessed":${report.partitionsProcessed},""" +
            s""""rowsIn":${report.rowsIn},"rowsKept":${report.rowsKept}}""")
        0
      }
    }
}
