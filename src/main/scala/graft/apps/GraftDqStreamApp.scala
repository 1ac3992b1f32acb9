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
    CliOptions.parse(args) match {
      case Left(err) =>
        System.err.println(err); System.err.println(CliOptions.usage); 2
      case Right(opts) =>
        val (spark, owned) = try GraftDqBatchApp.buildSession(opts, "graft-dq-stream") catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"cannot build spark session: ${e.getMessage}")
            return 2
        }
        try {
          // config phase (parse + source-schema bootstrap + query start):
          // any failure is exit 2 — see GraftDqBatchApp on the contract
          val (conf, query) =
            try {
              val c = StreamJobConfig.parseTree(
                JobConfig.mergedTree(opts.configPaths, opts.extraVars))
              (c, StreamJobConfig.start(spark, c))
            } catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"invalid configuration: ${e.getMessage}")
              return 2
            }
          try {
            query.awaitTermination()
            println(s"graft DQ stream job '${conf.jobId}' terminated cleanly")
            0
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"graft DQ stream job '${conf.jobId}' FAILED: ${e.getMessage}")
              1
          }
        } finally {
          if (owned) spark.stop()
        }
    }
}
