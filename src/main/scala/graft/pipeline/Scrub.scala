package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.regexp_replace

/** PII scrub: ordered compiled-regex passes. The SAME (pattern, replacement)
  * list drives both the Spark pipeline (`regexp_replace` chain — Java regex
  * under the hood) and the straight-line reference oracle (java.util.regex),
  * so scrubbed text is byte-identical by construction.
  *
  * Capability parity with the reference's regex metric machinery
  * (BasicStringDFMetrics.scala:19-75) re-purposed as a scrubber per the
  * north rule. Order matters: JWTs before generic hex/base64 so a token is
  * not half-eaten by a later pass.
  */
object Scrub {

  final case class Pass(name: String, pattern: String, replacement: String)

  val passes: Seq[Pass] = Seq(
    // pem FIRST: the whole block collapses to one token before the hex/JWT
    // passes can eat 32-char runs out of the key body
    Pass("pem_key",
      "-----BEGIN [A-Z ]*PRIVATE KEY-----[\\s\\S]*?-----END [A-Z ]*PRIVATE KEY-----",
      "<PRIVATE_KEY>"),
    Pass("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    Pass("aws_key", "AKIA[0-9A-Z]{16}", "<AWS_KEY>"),
    Pass("jwt", "eyJ[A-Za-z0-9_-]{6,}\\.[A-Za-z0-9_-]{6,}\\.[A-Za-z0-9_-]{6,}", "<JWT>"),
    Pass("hex_secret", "\\b[0-9a-fA-F]{32,}\\b", "<HEX_SECRET>"))

  /** Cheap candidate pre-test: a strict superset of all pass matches (every
    * pass pattern requires one of these to occur). Most files carry no PII,
    * so the expensive replace chain runs on a small fraction of rows;
    * rows failing the gate pass through scrub-identical (scrub(x) == x). */
  val candidatePattern: String = "@|AKIA|eyJ|[0-9a-fA-F]{32}|-----BEGIN"

  /** The scrub chain as an ANSI SQL expression over `inner` — GENERATED
    * from [[passes]] so oracle SQL can never drift from the pipeline
    * (every pattern is already RE2-valid: that is a maintained property of
    * this list, spec-asserted by the DuckDB oracles that embed it). */
  def scrubSqlExpr(inner: String): String =
    passes.foldLeft(inner)((acc, p) =>
      s"regexp_replace($acc, '${p.pattern.replace("'", "''")}', " +
        s"'${p.replacement.replace("'", "''")}', 'g')")

  /** Spark-side scrub: gated, chained codegen'd regexp_replace. The gate is
    * the compiled [[graft.functions.PiiCandidate]] scan — same predicate as
    * `rlike(candidatePattern)` (spec-asserted), minus the alternation-NFA
    * walk over every PII-free document. */
  def scrubCol(c: Column): Column = {
    import org.apache.spark.sql.functions.when
    val full = passes.foldLeft(c)((acc, p) => regexp_replace(acc, p.pattern, p.replacement))
    val gate = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.PiiCandidate(org.apache.spark.sql.graft.Bridge.expression(c)))
    when(gate, full).otherwise(c)
  }

  /** Driver/oracle-side scrub: identical passes via java.util.regex. */
  def scrubString(s: String): String =
    passes.foldLeft(s)((acc, p) => acc.replaceAll(p.pattern, p.replacement))
}
