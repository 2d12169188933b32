package graft.pipeline

import java.sql.{Connection, DriverManager, Timestamp}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** L1–L6 (Angelo_ETL_Task.py:276-374): the JDBC load bracket around
  * the pure transform. Orchestration, not dataflow — kept out of the
  * operator library so the query surface stays oracle-checkable
  * (SURVEY §7 risk 7).
  *
  * Flow mirrors the reference: probe table (L1) → create if missing,
  * else read MIN(IMPORT_DATE) and stamp it onto every new row (L2) →
  * batched append (L3, Spark's jdbc writer batches per partition, 1000
  * rows per batch by default) → verification count keyed on the run
  * timestamp (L4) → CSV export of the inserted rows (L5).
  *
  * Transactionality (L6): the reference holds ONE connection and
  * `rollback()`s everything on failure (Angelo_ETL_Task.py:366-374).
  * [[load]] is the one load path: Spark's jdbc write commits per
  * partition, so a failure leaves the already-committed partitions
  * behind, and a compensating `DELETE ... WHERE UPDATE_DATE = runTs`
  * (plus a `DROP TABLE` when this run created the table) restores the
  * reference's effective atomicity — the run timestamp uniquely keys
  * the run (that is exactly how L4 verifies), so the delete removes
  * precisely this run's partial rows and the original failure is
  * rethrown. A driver-collect single-transaction twin would only suit
  * dimension-sized frames written through one connection; no caller
  * needed it, so there is none.
  */
object LoadOrchestrator {

  /** Report of one load run (the reference prints these, :352-355). */
  case class LoadReport(
      createdTable: Boolean,
      firstImportDate: Option[Timestamp],
      rowsWritten: Long,
      verifiedCount: Long)

  /** i2b2 DDL (Angelo_ETL_Task.py:298-324): 25 columns, varchar caps,
    * NOT NULL constraints. ANSI types — runs on Postgres and Derby.
    */
  def i2b2Ddl(table: String): String = {
    val caps = I2b2Pipeline.varcharCaps.toMap
    val notNull = I2b2Pipeline.notNullCols.toSet
    val cols = I2b2Pipeline.outputCols.map { c =>
      val base = c match {
        case "C_HLEVEL" | "C_TOTALNUM" => "INT"
        case "UPDATE_DATE" | "DOWNLOAD_DATE" | "IMPORT_DATE" => "TIMESTAMP"
        case "C_METADATAXML" | "C_COMMENT" => "VARCHAR(4000)"
        case "C_NAME" => s"VARCHAR(${caps("C_NAME")})"
        case other => s"VARCHAR(${caps.getOrElse(other, 50)})"
      }
      s"$c $base" + (if (notNull(c)) " NOT NULL" else "")
    }
    s"CREATE TABLE $table (${cols.mkString(", ")})"
  }

  /** Engine rows carry run timestamps as
    * [[I2b2Config.RunTimestampFormat]] strings (F11 string parity); the
    * DB columns are TIMESTAMP — cast at the sink boundary only.
    */
  def castRunTimestamps(df: DataFrame): DataFrame =
    Seq("UPDATE_DATE", "DOWNLOAD_DATE", "IMPORT_DATE")
      .foldLeft(df)((d, c) =>
        d.withColumn(c,
          to_timestamp(col(c), I2b2Config.RunTimestampFormat)))

  private def withConnection[A](url: String, props: Properties)
                               (f: Connection => A): A = {
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  /** Rows stamped with this run timestamp — the run-key predicate the
    * collision probe, the L4 verify, and the L6 delete all share.
    */
  private def countRowsAt(conn: Connection, table: String,
                          ts: Timestamp): Long = {
    val ps = conn.prepareStatement(
      s"SELECT COUNT(*) FROM $table WHERE UPDATE_DATE = ?")
    try {
      ps.setTimestamp(1, ts)
      val rs = ps.executeQuery()
      rs.next(); rs.getLong(1)
    } finally ps.close()
  }

  /** L1: portable existence probe via JDBC metadata (the reference
    * queries INFORMATION_SCHEMA, :294 — DatabaseMetaData works on
    * engines without one). Unquoted identifiers fold differently per
    * engine (Postgres → lower, Derby/Oracle → upper), so probe every
    * folding.
    */
  def tableExists(conn: Connection, table: String): Boolean = {
    val meta = conn.getMetaData
    // getTables takes a PATTERN: '_'/'%' in a table name act as
    // wildcards (MY_TABLE would match MYXTABLE), so escape them with
    // the driver's escape string; scope to the connection's current
    // schema where the driver reports one (a null schemaPattern
    // searches every schema and can "find" another user's table)
    val esc = Option(meta.getSearchStringEscape).getOrElse("\\")
    def quote(t: String): String =
      t.replace(esc, esc + esc).replace("_", esc + "_")
        .replace("%", esc + "%")
    // only the two expected failure modes fall back to an unscoped
    // (every-schema) probe — and loudly, since the fallback re-opens
    // the cross-schema false positive the scoping exists to close;
    // anything else (connection death, auth) must surface
    val schemaPattern =
      try Option(conn.getSchema).map(quote).orNull
      catch {
        case e @ (_: java.sql.SQLException | _: AbstractMethodError) =>
          System.err.println(
            s"[load] could not determine connection schema " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
              "table-existence probe searches every schema")
          null
      }
    Seq(table, table.toLowerCase, table.toUpperCase).distinct.exists { t =>
      val rs = meta.getTables(null, schemaPattern, quote(t), Array("TABLE"))
      try rs.next() finally rs.close()
    }
  }

  /** L2: first-ever import date, if the table already has rows. */
  def firstImportDate(conn: Connection, table: String): Option[Timestamp] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT MIN(IMPORT_DATE) FROM $table")
      if (rs.next()) Option(rs.getTimestamp(1)) else None
    } finally st.close()
  }

  /** Run the full load bracket.
    *
    * @param df     25-column transform output (string run timestamps)
    * @param runTs  the run's shared timestamp string (F11)
    * @param csvOut optional L5 export path (written with header,
    *               mirroring the reference's COPY ... WITH CSV HEADER)
    */
  def load(df: DataFrame, url: String, table: String, props: Properties,
           runTs: String, csvOut: Option[String] = None): LoadReport = {
    val runInstant = runInstantOf(df, runTs)
    val typed = castRunTimestamps(df)
    // One driver connection serves L1, L2, the collision probe and the
    // L4 verify; every DB check that can refuse the run runs before
    // the first Spark job.
    withConnection(url, props) { conn =>
      val created = !tableExists(conn, table)
      val importDate =
        if (created) {
          val st = conn.createStatement()
          try st.executeUpdate(i2b2Ddl(table)) finally st.close()
          None
        } else firstImportDate(conn, table)
      // runTs uniquely keys the run — a hard caller contract, because
      // both L4's verify and L6's compensating delete select on it. The
      // timestamp has 1-second resolution, so a RETRIED load could
      // silently share it and a failure would then delete the earlier
      // run's committed rows — fail fast instead of writing. NOTE this
      // check-then-act probe only guards sequential retries: two loads
      // racing the probe both read 0 and both write. Concurrent loads
      // need an external mutex or a unique-constrained marker row —
      // out of scope here, matching the reference's single-process
      // assumption (Angelo_ETL_Task.py runs one load at a time).
      if (!created) {
        val preExisting = countRowsAt(conn, table, runInstant)
        if (preExisting > 0)
          throw new IllegalStateException(
            s"run timestamp collision: $preExisting rows with " +
              s"UPDATE_DATE = $runTs already exist in $table — " +
              "refusing to write (a failure rollback could not be " +
              "scoped to this run)")
      }
      val toWrite = importDate
        .fold(typed)(ts => typed.withColumn("IMPORT_DATE", lit(ts)))
      // L3–L6 in ONE compensation bracket: toWrite.count() runs the
      // whole ETL transform, per-partition commits mean a mid-write
      // failure leaves committed partitions behind, and the
      // reference's single-connection transaction rolls back on ANY
      // failure of the load step — so a failed transform, append, L4
      // verify or L5 export all trigger the compensating delete (a run
      // whose CSV could not be written is a failed run, not a committed
      // one). Before any insert the delete matches nothing: the
      // collision probe above showed no row carries this instant.
      try {
        val rows = toWrite.cache().count()
        toWrite.write.mode(SaveMode.Append).jdbc(url, table, props)

        // L4: verify against the DB, keyed on this run's UPDATE_DATE.
        val verified = countRowsAt(conn, table, runInstant)

        // L5: CSV export of the inserted rows (same content by
        // construction — no DB round-trip needed).
        csvOut.foreach(p =>
          toWrite.coalesce(1).write.option("header", "true")
            .mode(SaveMode.Overwrite).csv(p))

        LoadReport(created, importDate, rows, verified)
      } catch {
        case e: Throwable =>
          // a fresh connection: cleanup must still run when the
          // bracket's own connection is what failed
          try withConnection(url, props) { c =>
            val ps = c.prepareStatement(
              s"DELETE FROM $table WHERE UPDATE_DATE = ?")
            try { ps.setTimestamp(1, runInstant); ps.executeUpdate() }
            finally ps.close()
            // a table THIS run created is also this run's effect: the
            // reference's single-transaction rollback undoes its
            // CREATE TABLE too (transactional DDL), so a failed first
            // load must leave zero trace — not an empty table that a
            // retry or an existence-probing monitor then misreads
            if (created) {
              val st = c.createStatement()
              try st.executeUpdate(s"DROP TABLE $table") finally st.close()
            }
          } catch { case c: Throwable => e.addSuppressed(c) }
          throw e
      } finally toWrite.unpersist()
    }
  }

  /** to_timestamp parsed runTs in the SESSION timezone; binding
    * Timestamp.valueOf (JVM-default wall clock) would shift the probe
    * whenever the two zones differ — convert through the session zone
    * to the same instant Spark wrote. Used by the collision probe, the
    * L4 verify and the L6 compensating delete.
    */
  private def runInstantOf(df: DataFrame, runTs: String): Timestamp = {
    val sessionZone = java.time.ZoneId.of(
      df.sparkSession.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID))
    Timestamp.from(
      java.time.LocalDateTime.parse(runTs,
        java.time.format.DateTimeFormatter
          .ofPattern(I2b2Config.RunTimestampFormat))
        .atZone(sessionZone).toInstant)
  }
}
