package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.apps.CliOptions.jsonEscape
import graft.config.{CurationJobConfig, JobConfig}
import graft.storage.DqStorage

/** REST surface for config validation and storage queries — the
  * `checkita-api` module's capabilities (HTTP config validation endpoints +
  * DQ-storage reads; reference: checkita-api, ~1.4k LoC of http4s routes)
  * rebuilt on the JDK's built-in HTTP server: zero extra dependencies, no
  * compute of its own, and every route delegates to the SAME code paths the
  * batch job uses (JobConfig.parse/validate, DqStorage.metricHistory) — the
  * API can never drift from the engine.
  *
  * Routes:
  *  - `POST /api/jobs/validate`  body = job-config JSON →
  *    `{"valid":bool,"errors":[...]}` (parse errors are reported the same way)
  *  - `POST /api/jobs/template`  body = `{"jobId":..,"source":{id,kind,path},
  *    "columns":[{"name":..,"type":..},..]}` → a complete skeleton job
  *    config (per-column metrics by type, load checks, a row-count check),
  *    self-validated before it is returned — mirroring checkita-api's
  *    config-GENERATION capability alongside validation
  *  - `GET  /api/storage/metrics/history?jobId=..&metricId=..[&before=ISO]` →
  *    `{"points":[{"ts":"...","value":...},...]}`
  *  - `GET  /api/health` → `{"status":"ok"}`
  */
final class DqApiServer(storage: Option[DqStorage], port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  private val mapper = new ObjectMapper()

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap

  server.createContext("/api/health", (ex: HttpExchange) =>
    respond(ex, 200, """{"status":"ok"}"""))

  /** `POST` body → `{"valid":bool,"errors":[...]}`, parse errors
    * reported as errors. */
  private def validateRoute(path: String, validate: String => Seq[String]): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"POST only"}""")
      else {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val errors =
          try validate(body)
          catch { case e: Exception => Seq(s"parse error: ${e.getMessage}") }
        val errJson = errors.map(e => "\"" + jsonEscape(e) + "\"").mkString("[", ",", "]")
        respond(ex, 200, s"""{"valid":${errors.isEmpty},"errors":$errJson}""")
      }
    })

  validateRoute("/api/jobs/validate", b => JobConfig.validate(JobConfig.parse(b)))
  validateRoute("/api/curation/validate",
    b => CurationJobConfig.validate(CurationJobConfig.parse(b)))

  server.createContext("/api/jobs/template", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"POST only"}""")
    else {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      try {
        val req = mapper.readTree(body)
        val src = Option(req.get("source")).getOrElse(
          throw new IllegalArgumentException("missing field 'source'"))
        val cols = Option(req.get("columns")).map { a =>
          (0 until a.size()).map(i => (JobConfig.str(a.get(i), "name"),
            JobConfig.str(a.get(i), "type").toLowerCase))
        }.getOrElse(Seq.empty)

        val cfg = mapper.createObjectNode()
        cfg.put("jobId", JobConfig.str(req, "jobId"))
        val srcId = JobConfig.str(src, "id")
        val sources = cfg.putArray("sources")
        val s0 = sources.addObject()
        s0.put("id", srcId)
        s0.put("kind", JobConfig.str(src, "kind"))
        s0.put("path", JobConfig.str(src, "path"))

        val loadChecks = cfg.putArray("loadChecks")
        if (cols.nonEmpty) {
          val lc = loadChecks.addObject()
          lc.put("id", "lc_columns_exist"); lc.put("kind", "COLUMNS_EXIST")
          val lcCols = lc.putArray("columns"); cols.foreach(c => lcCols.add(c._1))
          val ln = loadChecks.addObject()
          ln.put("id", "lc_column_num"); ln.put("kind", "MIN_COLUMN_NUM")
          ln.put("count", cols.size)
        }

        val metrics = cfg.putArray("metrics")
        def metric(id: String, name: String, columns: Seq[String],
            params: Map[String, String] = Map.empty): Unit = {
          val m = metrics.addObject()
          m.put("id", id); m.put("name", name); m.put("source", srcId)
          if (columns.nonEmpty) {
            val mc = m.putArray("columns"); columns.foreach(mc.add)
          }
          if (params.nonEmpty) {
            val mp = m.putObject("params"); params.foreach { case (k, v) => mp.put(k, v) }
          }
        }
        metric("row_count", "ROW_COUNT", Nil)
        if (cols.nonEmpty)
          metric("null_values", "NULL_VALUES", cols.map(_._1))
        val numericTypes = Set("int", "integer", "bigint", "long", "float",
          "double", "decimal", "smallint", "tinyint")
        cols.foreach { case (name, tpe) =>
          if (numericTypes(tpe)) {
            metric(s"${name}_min", "MIN_NUMBER", Seq(name))
            metric(s"${name}_max", "MAX_NUMBER", Seq(name))
            metric(s"${name}_avg", "AVG_NUMBER", Seq(name))
          } else if (tpe == "date" || tpe == "timestamp") {
            metric(s"${name}_formatted", "FORMATTED_DATE", Seq(name))
          } else {
            metric(s"${name}_completeness", "COMPLETENESS", Seq(name))
          }
        }

        val checks = cfg.putArray("checks")
        val ck = checks.addObject()
        ck.put("id", "ck_not_empty"); ck.put("kind", "GREATER_THAN")
        ck.put("base", "row_count"); ck.put("threshold", 0); ck.put("critical", true)

        // self-check: a generated template must round-trip the validator —
        // template generation and validation share ONE model by construction
        val errs = JobConfig.validate(JobConfig.parse(cfg.toString))
        if (errs.nonEmpty)
          throw new IllegalStateException(
            s"generated template failed validation: ${errs.mkString("; ")}")
        respond(ex, 200, cfg.toString)
      } catch {
        // a failed self-validation is OUR generation bug, not the client's
        case e: IllegalStateException =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
          respond(ex, 500, s"""{"error":"${jsonEscape(msg)}"}""")
        case e: Exception =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
          respond(ex, 400, s"""{"error":"${jsonEscape(msg)}"}""")
      }
    }
  })

  server.createContext("/api/storage/metrics/history", (ex: HttpExchange) => {
    val p = queryParams(ex)
    (p.get("jobId"), p.get("metricId"), storage) match {
      case (_, _, None) =>
        respond(ex, 503, """{"error":"no storage configured"}""")
      case (Some(jobId), Some(metricId), Some(st)) =>
        // Instant.parse stays INSIDE the try: a malformed ?before= must get
        // the same JSON error contract as every other failure path — thrown
        // out of the handler the JDK server just drops the connection
        // (ADVICE r3). Malformed input is a 400, storage faults stay 500.
        try {
          val before = p.get("before").map(java.time.Instant.parse)
            .getOrElse(java.time.Instant.parse("9999-12-31T00:00:00Z"))
          val pts = st.metricHistory(jobId, metricId, before)
            .map(h => s"""{"ts":"${h.ts}","value":${h.value}}""")
            .mkString("[", ",", "]")
          respond(ex, 200, s"""{"points":$pts}""")
        } catch {
          case e: java.time.format.DateTimeParseException =>
            respond(ex, 400,
              s"""{"error":"invalid 'before' timestamp: ${jsonEscape(e.getMessage)}"}""")
          case e: Exception =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
            respond(ex, 500, s"""{"error":"${jsonEscape(msg)}"}""")
        }
      case _ =>
        respond(ex, 400, """{"error":"jobId and metricId are required"}""")
    }
  })

  server.createContext("/api/storage/jobstate", (ex: HttpExchange) => {
    val p = queryParams(ex)
    (p.get("jobId"), storage) match {
      case (_, None) =>
        respond(ex, 503, """{"error":"no storage configured"}""")
      case (Some(jobId), Some(st)) =>
        try {
          val at = p.get("at").map(java.time.Instant.parse)
            .getOrElse(java.time.Instant.parse("9999-12-31T00:00:00Z"))
          st.latestJobState(jobId, at) match {
            case Some(cfg) =>
              // cfg is a JSON document already (possibly with encrypted
              // leaf values) — embed verbatim
              respond(ex, 200, s"""{"jobId":"${jsonEscape(jobId)}","config":$cfg}""")
            case None => respond(ex, 404, """{"error":"no stored state"}""")
          }
        } catch {
          case e: java.time.format.DateTimeParseException =>
            respond(ex, 400,
              s"""{"error":"invalid 'at' timestamp: ${jsonEscape(e.getMessage)}"}""")
          case e: Exception =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
            respond(ex, 500, s"""{"error":"${jsonEscape(msg)}"}""")
        }
      case _ =>
        respond(ex, 400, """{"error":"jobId is required"}""")
    }
  })

  def start(): DqApiServer = { server.start(); this }
  def stop(): Unit = server.stop(0)
}
