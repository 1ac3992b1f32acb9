package graft.apps

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.config.JobConfig

/** spark-submit batch entry point — the reference's
  * DataQualityBatchApp.main (apps/batch/DataQualityBatchApp.scala:14-42):
  * parse CLI → build session → merge config files → build the DQ job →
  * run → persist → exit code.
  *
  * Exit codes: 0 = job ran and passed its failure tolerance; 1 = job ran
  * but checks violate the tolerance; 2 = bad arguments or invalid config.
  *
  * `main` is a thin `sys.exit` shell around [[run]], so the E2E spec (and
  * any host embedding the app) drives the full path without killing the
  * JVM.
  */
object GraftDqBatchApp {

  def main(args: Array[String]): Unit = sys.exit(run(args))

  def run(args: Array[String]): Int =
    shell(args, "graft-dq-batch", "graft DQ batch job") { (spark, opts) =>
      val job = JobConfig.fromFiles(spark, opts.configPaths, opts.extraVars)
      () => {
        val result = opts.refDate.map(job.run).getOrElse(job.run())
        val failed = result.checks.collect {
          case (r, _) if !r.status => r.checkId }
        if (result.passed) {
          println(s"graft DQ batch job '${result.jobId}' passed " +
            s"(${result.metrics.size} metrics, ${result.checks.size} checks)")
          0
        } else {
          System.err.println(s"graft DQ batch job '${result.jobId}' FAILED " +
            s"failure tolerance; failing checks: ${failed.mkString(", ")}")
          1
        }
      }
    }

  /** The sequence every app runs around its own two phases: parse the CLI
    * (usage on error, exit 2), build the session (exit 2 if that fails),
    * run the config phase `configure`, which returns the run phase (exit 2
    * on any failure — a missing file, malformed config, unreadable source
    * or validation error must never read as a DQ failure), run the run
    * phase (exit 1 if it throws; reference parity: DataQualityBatchApp
    * logs the errors and exits 1), and stop the session only if the app
    * built it. `job` names the app in the run-phase failure line. */
  private[apps] def shell(args: Array[String], appName: String, job: String)(
      configure: (SparkSession, CliOptions) => () => Int): Int =
    CliOptions.parse(args) match {
      case Left(err) =>
        System.err.println(err); System.err.println(CliOptions.usage); 2
      case Right(opts) =>
        // session-build failure (e.g. no master and no --local, no host
        // session to share) is a configuration error — exit 2, never an
        // uncaught crash (ADVICE r5)
        val (spark, owned) = try buildSession(opts, appName) catch {
          case NonFatal(e) =>
            System.err.println(s"cannot build spark session: ${e.getMessage}")
            return 2
        }
        try {
          val execute =
            try configure(spark, opts)
            catch { case NonFatal(e) =>
              System.err.println(s"invalid configuration: ${e.getMessage}")
              return 2
            }
          execute()
        } catch {
          case NonFatal(e) =>
            System.err.println(s"$job failed: ${e.getMessage}")
            1
        } finally {
          if (owned) spark.stop()
        }
    }

  /** `--shared` reuses the host session UNTOUCHED — a bare getOrCreate, no
    * `.config(...)`, because getOrCreate APPLIES modifiable SQL confs
    * (session timezone, AQE) to an already-existing session, silently
    * shifting the host's own timestamps. Standalone runs get the scale
    * defaults this engine assumes (UTC, AQE on).
    *
    * Returns the session and whether it is the app's own: true unless a
    * host session was shared. The app stops its own session when it ends
    * and never a host's. */
  private[apps] def buildSession(opts: CliOptions,
      appName: String): (SparkSession, Boolean) = {
    // --shared reuses the HOST's session when one exists; with no host
    // session there is nothing to share, so fall through to the standalone
    // build (where --local supplies the master, restoring the pre-r5
    // `--shared --local` behavior). A bare getOrCreate here would throw
    // 'A master URL must be set' BEFORE the config-phase try and escape
    // run() as an uncaught crash instead of a clean exit (ADVICE r5).
    if (opts.shared) {
      val host = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      host match {
        case Some(s) => return (s, false)
        case None => // no host session — build one below
      }
    }
    val b = SparkSession.builder().appName(appName)
    if (opts.local) b.master("local[*]")
    val spark = b.config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    // -v/--verbosity: the standalone session's log level (a --shared
    // session's logging is the host's to own)
    try spark.sparkContext.setLogLevel(opts.verbosity)
    catch { case _: IllegalArgumentException =>
      System.err.println(s"ignoring unknown log level '${opts.verbosity}'")
    }
    (spark, true)
  }
}
