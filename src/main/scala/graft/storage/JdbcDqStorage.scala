package graft.storage

import java.sql.{Connection, DriverManager, Timestamp}
import java.time.Instant

import graft.checks.CheckResult
import graft.metrics.{HistoryPoint, MetricResult}

/** JDBC-backed DQ storage — the reference's primary backend (Slick models +
  * Flyway migrations, core/storage/Models.scala:57-165,
  * storage/MigrationRunner.scala + per-vendor DDL under
  * resources/db/specific/), re-expressed as plain JDBC: a VERSIONED,
  * ledger-tracked migration (Flyway-equivalent) whose DDL renders through
  * a per-vendor [[SqlDialect]] (postgres/mysql/h2/sqlite/oracle/mssql/
  * derby — inferred from the URL, overridable), inserts batched, history
  * read via an indexed (job_id, metric_id, reference_ts) predicate. Column
  * set mirrors `ResultMetricRegular` / `ResultCheck`. Specs run it on
  * embedded Derby (the one JDBC engine on the Spark classpath) and pin the
  * rendered DDL per vendor.
  *
  * Driver-side by design — results are O(#metrics) rows per run, exactly like
  * the reference's storage managers.
  *
  * Thread safety: one `Connection` with autocommit off carries every
  * call, and each call ends in its own commit, so interleaved calls would
  * commit or roll back each other's rows. Every public method therefore
  * holds the connection's lock for its whole transaction, and a method
  * that fails rolls its transaction back before releasing the lock.
  */
final class JdbcDqStorage(url: String,
    props: java.util.Properties = new java.util.Properties(),
    dialectOverride: Option[SqlDialect] = None)
  extends DqStorage with AutoCloseable {

  private val dialect: SqlDialect =
    dialectOverride.getOrElse(SqlDialect.forUrl(url))

  private val conn: Connection = DriverManager.getConnection(url, props)
  conn.setAutoCommit(false)
  migrate()

  /** Runs one public call's transaction under the connection's lock. A
    * call that throws rolls its own statements back before the lock is
    * released, so the next call's commit cannot commit them. */
  private def locked[T](body: => T): T = conn.synchronized {
    try body
    catch { case e: Throwable =>
      try conn.rollback() catch { case _: java.sql.SQLException => }
      throw e
    }
  }

  /** Applied-migration ledger, read back for tests/ops. */
  def appliedVersions: Seq[Int] = locked {
    val s = conn.createStatement()
    try {
      val rs = s.executeQuery(
        "SELECT version FROM graft_schema_version ORDER BY version")
      val out = Seq.newBuilder[Int]
      while (rs.next()) out += rs.getInt(1)
      rs.close(); conn.commit()
      out.result()
    } finally s.close()
  }

  /** true when `table` already exists in the CONNECTION'S OWN
    * catalog+schema (vendor-neutral: JDBC metadata, checked
    * case-insensitively since vendors fold unquoted identifiers
    * differently). Scoping matters: a catalog-wide `getTables(null, null)`
    * scan would let a same-named table in ANOTHER schema of a shared
    * database satisfy the pre-ledger baseline probe, recording step 1 as
    * applied without ever creating this schema's result tables. Drivers
    * predating JDBC 4.1 `getSchema` (AbstractMethodError) fall back to the
    * unscoped scan — the pre-4.1 behavior, no worse than before. */
  private def tableExists(table: String): Boolean = {
    val md = conn.getMetaData
    val cat = try Option(conn.getCatalog) catch { case _: Throwable => None }
    val sch = try Option(conn.getSchema) catch { case _: Throwable => None }
    val rs = md.getTables(cat.orNull, sch.orNull, "%", Array("TABLE"))
    try {
      var found = false
      while (!found && rs.next())
        found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
      found
    } finally rs.close()
  }

  /** Versioned migration: bootstrap the ledger table (the single
    * create-if-missing probe), BASELINE a pre-ledger database (created by
    * the old swallow-exception migrate(): results tables exist but the
    * ledger is empty — record step 1 as applied instead of failing its
    * CREATE TABLE), then apply exactly the steps the ledger has not
    * recorded — each step commits atomically with its ledger row, and
    * failures in an unapplied step SURFACE instead of being swallowed (a
    * permission error must not masquerade as already-migrated). */
  private def migrate(): Unit = {
    val bootstrap = conn.createStatement()
    try {
      bootstrap.execute(
        "CREATE TABLE graft_schema_version (version INT NOT NULL)")
      conn.commit()
    } catch { // ledger already exists
      case _: java.sql.SQLException => conn.rollback()
    } finally bootstrap.close()
    if (appliedVersions.isEmpty && tableExists("results_metrics")) {
      // pre-ledger schema == migration step 1 exactly (both tables + index)
      val s = conn.createStatement()
      try { s.execute("INSERT INTO graft_schema_version VALUES (1)"); conn.commit() }
      finally s.close()
    }
    val applied = appliedVersions.toSet
    JdbcDqStorage.migrations(dialect).foreach { case (version, stmts) =>
      if (!applied(version)) {
        val s = conn.createStatement()
        try {
          stmts.foreach(s.execute)
          s.execute(s"INSERT INTO graft_schema_version VALUES ($version)")
          conn.commit()
        } catch {
          case e: java.sql.SQLException => conn.rollback(); throw e
        } finally s.close()
      }
    }
  }

  override def saveMetrics(jobId: String, referenceTs: Instant,
      results: Seq[MetricResult]): Unit = locked {
    val ps = conn.prepareStatement(
      """INSERT INTO results_metrics
         (job_id, metric_id, metric_name, source_id, columns, result,
          additional_result, reference_ts, description, metadata)
         VALUES (?,?,?,?,?,?,?,?,?,?)""")
    try {
      results.foreach { r =>
        ps.setString(1, jobId)
        ps.setString(2, r.metricId)
        ps.setString(3, r.metricName)
        ps.setString(4, r.sourceId)
        ps.setString(5, r.columns.mkString(","))
        ps.setDouble(6, r.value)
        ps.setString(7, r.additional.getOrElse(""))
        ps.setTimestamp(8, Timestamp.from(referenceTs))
        ps.setString(9, r.description.map(dialect.clamp(_, 2048)).orNull)
        ps.setString(10, r.metadata.map(dialect.clamp(_, 2048)).orNull)
        ps.addBatch()
      }
      ps.executeBatch()
      conn.commit()
    } finally ps.close()
  }

  override def saveChecks(jobId: String, referenceTs: Instant,
      checks: Seq[CheckResult]): Unit = locked {
    // explicit column list: is_critical arrived in migration 3, so the
    // insert must not depend on physical column order
    val ps = conn.prepareStatement(
      """INSERT INTO results_checks
         (job_id, check_id, check_name, base_metric, status, message,
          reference_ts, is_critical, description, metadata)
         VALUES (?,?,?,?,?,?,?,?,?,?)""")
    try {
      checks.foreach { c =>
        ps.setString(1, jobId)
        ps.setString(2, c.checkId)
        ps.setString(3, c.checkName)
        ps.setString(4, c.baseMetric)
        ps.setString(5, if (c.status) "Success" else "Failure")
        // truncate to the width the DIALECT actually rendered (oracle: 4000)
        ps.setString(6, dialect.clamp(c.message, 4096))
        ps.setTimestamp(7, Timestamp.from(referenceTs))
        ps.setBoolean(8, c.critical)
        ps.setString(9, c.description.map(dialect.clamp(_, 2048)).orNull)
        ps.setString(10, c.metadata.map(dialect.clamp(_, 2048)).orNull)
        ps.addBatch()
      }
      ps.executeBatch()
      conn.commit()
    } finally ps.close()
  }

  override def saveMetricErrors(jobId: String, referenceTs: Instant,
      results: Seq[MetricResult]): Unit = locked {
    val ps = conn.prepareStatement(
      """INSERT INTO results_metric_errors
         (job_id, metric_id, row_data, error_hash, reference_ts)
         VALUES (?,?,?,?,?)""")
    try {
      for (r <- results; row <- r.errors.distinct) {
        ps.setString(1, jobId)
        ps.setString(2, r.metricId)
        ps.setString(3, dialect.clamp(row.mkString("[", ",", "]"), 4096))
        ps.setString(4, (row.hashCode.toLong & 0xffffffffL).toString)
        ps.setTimestamp(5, Timestamp.from(referenceTs))
        ps.addBatch()
      }
      ps.executeBatch()
      conn.commit()
    } finally ps.close()
  }

  override def metricErrors(jobId: String, metricId: String,
      before: Instant): Seq[String] = locked {
    val ps = conn.prepareStatement(
      """SELECT row_data FROM results_metric_errors
         WHERE job_id = ? AND metric_id = ? AND reference_ts < ?
         ORDER BY reference_ts, row_data""")
    try {
      ps.setString(1, jobId)
      ps.setString(2, metricId)
      ps.setTimestamp(3, Timestamp.from(before))
      val rs = ps.executeQuery()
      val out = Seq.newBuilder[String]
      while (rs.next()) out += rs.getString(1)
      rs.close(); conn.commit()
      out.result()
    } finally ps.close()
  }

  override def metricHistory(jobId: String, metricId: String,
      before: Instant): Seq[HistoryPoint] = locked {
    val ps = conn.prepareStatement(
      """SELECT reference_ts, result FROM results_metrics
         WHERE job_id = ? AND metric_id = ? AND reference_ts < ?
         ORDER BY reference_ts""")
    try {
      ps.setString(1, jobId)
      ps.setString(2, metricId)
      ps.setTimestamp(3, Timestamp.from(before))
      val rs = ps.executeQuery()
      val out = Seq.newBuilder[HistoryPoint]
      while (rs.next())
        out += HistoryPoint(rs.getTimestamp(1).toInstant, rs.getDouble(2))
      rs.close()
      conn.commit() // end the read transaction (Derby refuses close mid-txn)
      out.result()
    } finally ps.close()
  }

  override def saveJobState(jobId: String, referenceTs: Instant,
      config: String): Unit = locked {
    val ps = conn.prepareStatement(
      "INSERT INTO job_state VALUES (?,?,?,?)")
    try {
      ps.setString(1, jobId)
      ps.setString(2, config)
      ps.setTimestamp(3, Timestamp.from(referenceTs))
      ps.setTimestamp(4, Timestamp.from(Instant.now()))
      ps.executeUpdate()
      conn.commit()
    } finally ps.close()
  }

  override def latestJobState(jobId: String,
      at: Instant): Option[String] = locked {
    val ps = conn.prepareStatement(
      """SELECT config FROM job_state
         WHERE job_id = ? AND reference_ts <= ?
         ORDER BY reference_ts DESC, execution_ts DESC""")
    try {
      ps.setString(1, jobId)
      ps.setTimestamp(2, Timestamp.from(at))
      val rs = ps.executeQuery()
      val out = if (rs.next()) Some(rs.getString(1)) else None
      rs.close(); conn.commit()
      out
    } finally ps.close()
  }

  override def close(): Unit = locked {
    try conn.rollback() catch { case _: java.sql.SQLException => }
    conn.close()
  }
}

object JdbcDqStorage {

  /** The ordered migration history — version → DDL statements, rendered
    * for a vendor. APPEND-ONLY: new schema changes get the next version;
    * existing steps never change (the ledger records what ran). */
  def migrations(d: SqlDialect): Seq[(Int, Seq[String])] = Seq(
    1 -> Seq(
      s"""CREATE TABLE results_metrics (
            job_id ${d.varchar(256)} NOT NULL,
            metric_id ${d.varchar(256)} NOT NULL,
            metric_name ${d.varchar(128)} NOT NULL,
            source_id ${d.varchar(256)},
            columns ${d.varchar(2048)},
            result ${d.double} NOT NULL,
            additional_result ${d.varchar(2048)},
            reference_ts ${d.timestamp} NOT NULL)""",
      """CREATE INDEX idx_results_metrics
          ON results_metrics (job_id, metric_id, reference_ts)""",
      s"""CREATE TABLE results_checks (
            job_id ${d.varchar(256)} NOT NULL,
            check_id ${d.varchar(256)} NOT NULL,
            check_name ${d.varchar(128)} NOT NULL,
            base_metric ${d.varchar(256)},
            status ${d.varchar(16)} NOT NULL,
            message ${d.varchar(4096)},
            reference_ts ${d.timestamp} NOT NULL)"""),
    // reference parity: job_state stores the run's config document
    // (db/specific/*/V1.1__create_job_state.sql) — a real SECOND step, so
    // existing round-4 databases exercise the incremental-migration path
    2 -> Seq(
      s"""CREATE TABLE job_state (
            job_id ${d.varchar(256)} NOT NULL,
            config ${d.clob} NOT NULL,
            reference_ts ${d.timestamp} NOT NULL,
            execution_ts ${d.timestamp} NOT NULL)""",
      """CREATE INDEX idx_job_state ON job_state (job_id, reference_ts)"""),
    // ref V1.4__add_metric_errors + V1.7__add_is_critical_column: capped
    // metric-error dumps become queryable history; check results carry
    // their criticality
    3 -> Seq(
      s"""CREATE TABLE results_metric_errors (
            job_id ${d.varchar(256)} NOT NULL,
            metric_id ${d.varchar(256)} NOT NULL,
            row_data ${d.varchar(4096)} NOT NULL,
            error_hash ${d.varchar(64)} NOT NULL,
            reference_ts ${d.timestamp} NOT NULL)""",
      """CREATE INDEX idx_results_metric_errors
          ON results_metric_errors (job_id, metric_id, reference_ts)""",
      d.addColumn("results_checks", "is_critical", d.boolean,
        d.booleanLiteral(false))),
    // ref V1.2__add_metadata_column: user annotations stored with results
    4 -> Seq(
      d.addNullableColumn("results_metrics", "description", d.varchar(2048)),
      d.addNullableColumn("results_metrics", "metadata", d.varchar(2048)),
      d.addNullableColumn("results_checks", "description", d.varchar(2048)),
      d.addNullableColumn("results_checks", "metadata", d.varchar(2048))),
    // mysql timestamp-range/precision fix AS A LEDGER STEP (ADVICE r5):
    // mysql TIMESTAMP ranges 1970..2038-01-19 (pre-1970 backfills and
    // post-2038 reference dates fail strict-mode inserts) and precision 0
    // erases the sub-second execution_ts ordering latestJobState's
    // tie-break needs. Round 5 fixed this by overriding the rendering of
    // steps 1-3 in place, which violated the append-only contract above —
    // databases whose ledger already recorded those steps silently kept
    // TIMESTAMP(0). This step ALTERs the columns instead, so old and new
    // mysql databases both end on DATETIME(6); every other vendor records
    // the version with nothing to run.
    5 -> (if (d.name == "mysql") Seq(
      "ALTER TABLE results_metrics MODIFY reference_ts DATETIME(6) NOT NULL",
      "ALTER TABLE results_checks MODIFY reference_ts DATETIME(6) NOT NULL",
      "ALTER TABLE results_metric_errors MODIFY reference_ts DATETIME(6) NOT NULL",
      "ALTER TABLE job_state MODIFY reference_ts DATETIME(6) NOT NULL",
      "ALTER TABLE job_state MODIFY execution_ts DATETIME(6) NOT NULL")
    else Nil))
}
