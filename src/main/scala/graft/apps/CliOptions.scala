package graft.apps

import java.time.{Instant, LocalDate, ZoneOffset}

/** Command-line options for the spark-submit entry points — the reference's
  * CLI surface (apps/cli/CommandLineOptions.scala: -a/--app-config,
  * -j/--job-config, -d/--date, -l/--local, -s/--shared, -m/--migrate,
  * -e/--extra-vars, -v/--verbosity) re-expressed with a dependency-free
  * parser (scopt is not on the Spark classpath; zero-egress build).
  *
  * @param appConf   optional application-level config merged BEFORE the job
  *                  configs (the reference's application settings file —
  *                  here it is simply the base file of the deep merge).
  * @param jobConf   job config paths, merged in order (later wins).
  * @param refDate   reference instant for the run (`-d 2026-08-18` →
  *                  midnight UTC; full ISO instants accepted too).
  * @param local     force a `local[*]` master when the app builds the
  *                  session itself.
  * @param shared    the session is host-owned — never stop it on exit.
  * @param migrate   accepted for reference CLI parity; this engine's JDBC
  *                  storage migration is idempotent and always runs at
  *                  connect (storage/JdbcDqStorage.scala), so the flag has
  *                  nothing extra to do.
  * @param extraVars `${k}` substitutions applied to the raw config text.
  * @param verbosity log4j level name for the app logger.
  */
final case class CliOptions(
    appConf: Option[String] = None,
    jobConf: Seq[String] = Nil,
    refDate: Option[Instant] = None,
    local: Boolean = false,
    shared: Boolean = false,
    migrate: Boolean = false,
    extraVars: Map[String, String] = Map.empty,
    verbosity: String = "INFO") {
  /** app config first, then job configs — later files override. */
  def configPaths: Seq[String] = appConf.toSeq ++ jobConf
}

object CliOptions {

  val usage: String =
    """usage: GraftDq{Batch,Stream}App [options]
      |  -a, --app-config <file>        application config (merged first)
      |  -j, --job-config <f1>,<f2>...  job config files (required)
      |  -d, --date <yyyy-MM-dd|ISO>    reference date/instant (default now)
      |  -l, --local                    run with a local[*] master
      |  -s, --shared                   shared spark session - do not stop it
      |  -m, --migrate                  run storage migration (always-on here)
      |  -e, --extra-vars k1=v1,k2=v2   ${k} substitutions in config text
      |  -v, --verbosity <level>        log level (default INFO)
      |""".stripMargin

  private def parseInstant(s: String): Instant =
    try Instant.parse(s)
    catch {
      case _: java.time.format.DateTimeParseException =>
        LocalDate.parse(s).atStartOfDay(ZoneOffset.UTC).toInstant
    }

  /** Left(error message) on malformed input — mains print usage + exit 2,
    * tests assert the message. */
  def parse(args: Array[String]): Either[String, CliOptions] = {
    def kvMap(s: String): Either[String, Map[String, String]] = {
      val pairs = s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      val bad = pairs.filterNot(_.contains("="))
      if (bad.nonEmpty) Left(s"malformed extra-vars entries: ${bad.mkString(", ")}")
      else Right(pairs.map { p =>
        val i = p.indexOf('='); p.substring(0, i) -> p.substring(i + 1)
      }.toMap)
    }
    @annotation.tailrec
    def go(rest: List[String], acc: CliOptions): Either[String, CliOptions] =
      rest match {
        case Nil => Right(acc)
        case ("-a" | "--app-config") :: v :: t =>
          go(t, acc.copy(appConf = Some(v)))
        case ("-j" | "--job-config") :: v :: t =>
          go(t, acc.copy(jobConf = acc.jobConf ++
            v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)))
        case ("-d" | "--date") :: v :: t =>
          val parsed =
            try Right(parseInstant(v))
            catch { case _: java.time.format.DateTimeParseException =>
              Left(s"cannot parse date '$v' (want yyyy-MM-dd or ISO instant)") }
          parsed match {
            case Right(d) => go(t, acc.copy(refDate = Some(d)))
            case Left(e) => Left(e)
          }
        case ("-l" | "--local") :: t => go(t, acc.copy(local = true))
        case ("-s" | "--shared") :: t => go(t, acc.copy(shared = true))
        case ("-m" | "--migrate") :: t => go(t, acc.copy(migrate = true))
        case ("-e" | "--extra-vars") :: v :: t =>
          kvMap(v) match {
            case Right(m) => go(t, acc.copy(extraVars = acc.extraVars ++ m))
            case Left(e) => Left(e)
          }
        case ("-v" | "--verbosity") :: v :: t =>
          go(t, acc.copy(verbosity = v.toUpperCase))
        // a recognized value-taking option at end-of-args fell through the
        // `opt :: v :: t` patterns above — say "missing value", not "unknown"
        case (flag @ ("-a" | "--app-config" | "-j" | "--job-config" | "-d" |
            "--date" | "-e" | "--extra-vars" | "-v" | "--verbosity")) :: Nil =>
          Left(s"option '$flag' requires a value")
        case flag :: _ if flag.startsWith("-") => Left(s"unknown option '$flag'")
        case stray :: _ => Left(s"unexpected argument '$stray'")
      }
    go(args.toList, CliOptions()).flatMap { o =>
      if (o.jobConf.isEmpty) Left("at least one -j/--job-config is required")
      else Right(o)
    }
  }

  /** minimal JSON string escape for the apps' one-line machine-readable
    * reports and the API server's responses (jobIds and error messages are
    * config-author-controlled free text). */
  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
