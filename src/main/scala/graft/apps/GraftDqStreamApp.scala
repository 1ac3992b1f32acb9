package graft.apps

import graft.config.{JobConfig, StreamJobConfig}

/** spark-submit streaming entry point — the reference's
  * DataQualityStreamApp (apps/stream/DataQualityStreamApp.scala): same CLI
  * as the batch app, a stream job config instead of a batch one. Runs the
  * windowed-metric query to termination (`availableNow` configs drain the
  * backlog and stop — the E2E-testable mode; `processingTime` configs run
  * until externally stopped).
  *
  * Exit codes: 0 = query terminated cleanly; 1 = query failed;
  * 2 = bad arguments or invalid config.
  */
object GraftDqStreamApp {

  def main(args: Array[String]): Unit = sys.exit(run(args))

  def run(args: Array[String]): Int =
    // the config phase covers the source-schema bootstrap and query start
    GraftDqBatchApp.shell(args, "graft-dq-stream", "graft DQ stream job") { (spark, opts) =>
      val c = StreamJobConfig.parseTree(
        JobConfig.mergedTree(opts.configPaths, opts.extraVars))
      val query = StreamJobConfig.start(spark, c)
      () => {
        query.awaitTermination()
        println(s"graft DQ stream job '${c.jobId}' terminated cleanly")
        0
      }
    }
}
