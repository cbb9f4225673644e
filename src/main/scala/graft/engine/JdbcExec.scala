package graft.engine

import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.Properties

import org.apache.spark.sql.DataFrame

/** The reference's RDBMS writer task loop, Spark-shaped: one connection per
  * PARTITION (the analog of one task connection, `oracle_writer.go:344-420`),
  * session statements executed one-by-one on open (`executeSessionSql`),
  * the dialect's writeMode statement prepared ONCE, rows bound and executed
  * inside a per-batch transaction with commit at batch end and bounded
  * retry after rollback (`writeBatch` tx begin/exec/commit,
  * `mysql_writer.go:382-390` writeMode routing).
  *
  * Scale shape: no driver collects — every partition streams straight into
  * its own connection; `batchSize` bounds both memory and transaction size.
  * Primary keys for the upsert forms come from the conflict-column config
  * when given, else from `DatabaseMetaData.getPrimaryKeys` (the reference
  * reads PK info from the target's metadata, `common.go:556-616`).
  */
object JdbcExec {

  /** Driver-side statement runner for preSql/postSql phases
    * (`common.go:51-76,206-231`): one connection, statements in order.
    */
  def execStatements(url: String, props: Map[String, String], sqls: Seq[String]): Unit = {
    if (sqls.isEmpty) return
    val conn = connect(url, props)
    try {
      val st = conn.createStatement()
      try sqls.foreach(st.execute)
      finally st.close()
    } finally conn.close()
  }

  /** PK columns from target metadata. A `schema.table` qualifier splits
    * into getPrimaryKeys' schema argument (the pattern argument matches the
    * BARE name only), and unquoted identifiers retry in the case the engine
    * stores them (Oracle/Derby fold to upper, postgres to lower) — a miss
    * here silently degrades writeMode=update to plain INSERT.
    */
  def primaryKeys(conn: Connection, table: String): Seq[String] = {
    val (schema, bare) = table.lastIndexOf('.') match {
      case -1 => (null: String, table)
      case i => (table.substring(0, i), table.substring(i + 1))
    }
    def lookup(s: String, t: String): Seq[String] = {
      val rs = conn.getMetaData.getPrimaryKeys(null, s, t)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Short, String)]
      try {
        while (rs.next()) buf += ((rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME")))
      } finally rs.close()
      buf.sortBy(_._1).map(_._2).toSeq
    }
    val md = conn.getMetaData
    lazy val folded =
      if (md.storesUpperCaseIdentifiers())
        lookup(if (schema == null) null else schema.toUpperCase, bare.toUpperCase)
      else if (md.storesLowerCaseIdentifiers())
        lookup(if (schema == null) null else schema.toLowerCase, bare.toLowerCase)
      else Nil
    val exact = lookup(schema, bare)
    if (exact.nonEmpty) exact else folded
  }

  /** Outcome of the runtime split probe ([[probeSplit]]). */
  sealed trait SplitPlan
  object SplitPlan {
    /** Sargable per-task predicates probed from live source data. */
    final case class Probed(predicates: Seq[String]) extends SplitPlan
    /** Empty or all-NULL splitPk — read as one task (`mysql_reader.go:112-121`). */
    case object SingleTask extends SplitPlan
    /** Probe inconclusive (unsampleable type / too few distinct values) —
      * keep the dialect's static hash predicates (`mysql_reader.go:432-444`).
      */
    case object UseHash extends SplitPlan
  }

  /** Runtime split probe — the reference's Split phase (`mysql_reader.go:
    * 97-136`, `calculateSplitRanges:138-163`): connect to the source, detect
    * the splitPk's type from the MIN/MAX result metadata, and emit SARGABLE
    * per-task predicates (N disjoint index range scans) in place of the
    * static hash fallback's N full table scans. Numeric → equal-width
    * inclusive ranges (`calculateNumericSplitRanges:214-255`); text →
    * `DISTINCT ... ORDER BY` boundary sample of 10·n values
    * (`calculateTextDictionarySplitRanges:279-383`; bounded portably via
    * `Statement.setMaxRows` instead of per-dialect LIMIT syntax);
    * insufficient sample or a non-splittable type (dates, blobs) → hash;
    * empty/all-NULL table → a single task. The reference's intermediate
    * OFFSET/LIMIT fallback (`calculateOffsetSplitRanges:386-429`) is
    * deliberately not probed: per-task `ORDER BY pk LIMIT l OFFSET o`
    * clauses cannot ride Spark's predicate array, and OFFSET is itself a
    * scan-and-discard on most engines — the hash cover reads the same
    * bytes without the N sorts.
    *
    * Two graft deviations, both row-completeness fixes: the first predicate
    * catches NULL pks (the reference's ranges drop them), and text ranges
    * are HALF-OPEN (`>= lo AND < hi`) — the reference's
    * `buildTextDictionaryCondition` (`mysql_reader.go:707-723`) emits
    * `<= end`, reading each boundary row twice.
    *
    * `tableExpr` is the translated dbtable expression — a bare table or the
    * `(SELECT ... WHERE ...) graft_q` pushdown subquery, so the probe sees
    * exactly the rows the scan will (the reference folds `where` into its
    * probe queries the same way, `:215-218`).
    */
  def probeSplit(url: String, props: Map[String, String], dialect: Dialect,
      tableExpr: String, splitPk: String, n: Int): SplitPlan = {
    import java.sql.Types._
    require(n > 1, s"probeSplit needs n > 1 (got $n)")
    val qpk = dialect.quote(splitPk)
    val conn = connect(url, props)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT MIN($qpk), MAX($qpk) FROM $tableExpr")
        try {
          val sqlType = rs.getMetaData.getColumnType(1)
          if (!rs.next()) return SplitPlan.SingleTask
          sqlType match {
            case TINYINT | SMALLINT | INTEGER | BIGINT | NUMERIC | DECIMAL |
                FLOAT | REAL | DOUBLE =>
              val mn = rs.getBigDecimal(1)
              val mx = rs.getBigDecimal(2)
              if (mn == null || mx == null) SplitPlan.SingleTask
              else SplitPlan.Probed(Jdbc.rangePredicates(
                qpk, BigDecimal(mn), BigDecimal(mx), n).toSeq)
            case CHAR | VARCHAR | LONGVARCHAR | NCHAR | NVARCHAR | LONGNVARCHAR =>
              if (rs.getString(1) == null) SplitPlan.SingleTask
              else textBoundaries(conn, qpk, tableExpr, n) match {
                case Some(bounds) =>
                  val preds = Jdbc.dictionaryPredicates(qpk, bounds)
                  preds(0) = s"(${preds(0)}) OR $qpk IS NULL"
                  SplitPlan.Probed(preds.toSeq)
                case None => SplitPlan.UseHash
              }
            case _ => SplitPlan.UseHash
          }
        } finally rs.close()
      } finally st.close()
    } finally conn.close()
  }

  /** Sorted-distinct boundary sample for the text dictionary split: the
    * 10·n smallest distinct values, boundaries at every (size/n)-th — the
    * reference's sampling rule (`mysql_reader.go:304-345`). Fewer distinct
    * values than tasks ⇒ None (hash fallback, `:335-337`).
    */
  private def textBoundaries(conn: Connection, qpk: String, tableExpr: String,
      n: Int): Option[Seq[String]] = {
    val st = conn.createStatement()
    try {
      st.setMaxRows(n * 10)
      val rs = st.executeQuery(s"SELECT DISTINCT $qpk FROM $tableExpr ORDER BY $qpk")
      val values = scala.collection.mutable.ArrayBuffer.empty[String]
      try {
        while (rs.next()) {
          val v = rs.getString(1)
          if (v != null) values += v
        }
      } finally rs.close()
      if (values.length < n) None
      else {
        val step = values.length / n
        Some((1 until n).map(i => values(i * step)).toSeq)
      }
    } finally st.close()
  }

  /** Create the CDC epoch-ledger table on the target if absent (unquoted
    * identifiers for portability; the PK makes [[recordEpoch]] race-safe).
    * Connection failures propagate; only the CREATE's already-exists error
    * is swallowed.
    */
  def ensureLedger(url: String, props: Map[String, String], ledger: String): Unit = {
    val conn = connect(url, props)
    try {
      val st = conn.createStatement()
      try st.execute(s"CREATE TABLE $ledger (WRITER_ID VARCHAR(128) NOT NULL, " +
        "EPOCH BIGINT NOT NULL, PRIMARY KEY (WRITER_ID, EPOCH))")
      catch { case _: java.sql.SQLException => () } // exists already
      finally st.close()
    } finally conn.close()
  }

  /** Whether `(writerId, epoch)` is already recorded in the ledger. */
  def epochApplied(url: String, props: Map[String, String], ledger: String,
      writerId: String, epoch: Long): Boolean = {
    val conn = connect(url, props)
    try {
      val st = conn.prepareStatement(
        s"SELECT COUNT(*) FROM $ledger WHERE WRITER_ID = ? AND EPOCH = ?")
      try {
        st.setString(1, writerId)
        st.setLong(2, epoch)
        val rs = st.executeQuery()
        try { rs.next(); rs.getLong(1) > 0 } finally rs.close()
      } finally st.close()
    } finally conn.close()
  }

  /** Highest recorded epoch for `writerId` (-1 when none) — the catch-up
    * watermark for [[graft.engine.cdc.JdbcApply.sync]]. Propagates
    * SQLExceptions (e.g. the ledger table not existing yet) so the caller
    * can create it and start from -1.
    */
  def maxEpoch(url: String, props: Map[String, String], ledger: String,
      writerId: String): Long = {
    val conn = connect(url, props)
    try {
      val st = conn.prepareStatement(
        s"SELECT MAX(EPOCH) FROM $ledger WHERE WRITER_ID = ?")
      try {
        st.setString(1, writerId)
        val rs = st.executeQuery()
        try {
          if (rs.next() && rs.getObject(1) != null) rs.getLong(1) else -1L
        } finally rs.close()
      } finally st.close()
    } finally conn.close()
  }

  /** Record `(writerId, epoch)` as applied. A duplicate (two racing replays
    * past the [[epochApplied]] check) hits the ledger PK — harmless, both
    * applied the same idempotent batch.
    */
  def recordEpoch(url: String, props: Map[String, String], ledger: String,
      writerId: String, epoch: Long): Unit = {
    val conn = connect(url, props)
    try {
      val st = conn.prepareStatement(s"INSERT INTO $ledger VALUES (?, ?)")
      try {
        st.setString(1, writerId)
        st.setLong(2, epoch)
        try st.executeUpdate()
        catch { case _: java.sql.SQLIntegrityConstraintViolationException => () }
      } finally st.close()
    } finally conn.close()
  }

  /** Apply a LWW-deduped change batch — rows shaped `(op, lsn, payload...)`,
    * at most one row per key — to a live table: tombstones (`op = D`) become
    * key-ranged DELETEs; everything else upserts through the dialect's
    * native conflict form when it has one ([[Dialect.nativeUpsert]]) or a
    * DELETE + INSERT pair inside the same transaction otherwise (the
    * portable upsert — Derby, SQLite, SQL Server et al.). Both statements
    * ride the JDBC batch protocol per [[Dialect.defaultBatchSize]]-row
    * transaction, deletes flushed before inserts, with the same bounded
    * rollback-retry as [[write]]. Returns (upserted rows, deleted keys).
    *
    * `columns` names the TARGET columns positionally against the payload
    * columns (reference bind-by-position semantics); `keyCols` are target
    * names and must appear in `columns`.
    */
  def applyChanges(
      df: DataFrame,
      dialect: Dialect,
      url: String,
      table: String,
      columns: Seq[String],
      keyCols: Seq[String],
      batchSize: Int = 0,
      session: Seq[String] = Nil,
      props: Map[String, String] = Map.empty,
      retry: BatchedExec.RetryPolicy = BatchedExec.RetryPolicy()): (Long, Long) = {
    val payloadCols = df.columns.filterNot(c => c == "op" || c == "lsn").toSeq
    val cols =
      if (columns.isEmpty || columns == Seq("*")) payloadCols
      else columns
    require(payloadCols.length >= cols.length,
      s"change events carry ${payloadCols.length} payload columns for " +
        s"${cols.length} target columns")
    val keyIdx = keyCols.map { k =>
      val i = cols.indexOf(k)
      require(i >= 0, s"key column '$k' is not among the target columns " +
        s"(${cols.mkString(", ")})")
      i
    }
    val projected = df.selectExpr("`op`" +: payloadCols.take(cols.length).map(c => s"`$c`"): _*)
    val upserts = projected.sparkSession.sparkContext.longAccumulator("cdcJdbcUpserts")
    val deletes = projected.sparkSession.sparkContext.longAccumulator("cdcJdbcDeletes")
    val bs = if (batchSize > 0) batchSize else dialect.defaultBatchSize
    val retries = retry.retryTimes
    val sleep = retry.retrySleepMillis
    val dialectName = dialect.name
    projected.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      if (it.hasNext) {
        val d = Dialect.byName(dialectName)
        val conn = connect(url, props)
        try {
          if (session.nonEmpty) {
            val st = conn.createStatement()
            try session.foreach(st.execute)
            finally st.close()
          }
          val deleteSql = s"DELETE FROM ${d.quote(table)} WHERE " +
            keyCols.map(k => s"${d.quote(k)} = ?").mkString(" AND ")
          val upsertSql =
            if (d.nativeUpsert) d.upsertSql(table, cols, keyCols)
            else d.upsertSql(table, cols, Nil) // plain INSERT after the delete
          val delStmt = conn.prepareStatement(deleteSql)
          val upStmt = conn.prepareStatement(upsertSql)
          try {
            val paramTypes: Array[Int] =
              try {
                val md = upStmt.getParameterMetaData
                Array.tabulate(cols.length)(i => md.getParameterType(i + 1))
              } catch {
                case _: Exception => Array.fill(cols.length)(java.sql.Types.NULL)
              }
            conn.setAutoCommit(false)
            it.grouped(bs).foreach { batch =>
              var attempt = 0
              var done = false
              var last: Throwable = null
              while (!done && attempt <= retries) {
                if (attempt > 0 && sleep > 0) Thread.sleep(sleep)
                try {
                  delStmt.clearBatch()
                  upStmt.clearBatch()
                  var nDel = 0
                  var nUp = 0
                  batch.foreach { row =>
                    val isDelete = row.getString(0) == "D"
                    // keys deduped upstream: a tombstone clears the key; a
                    // non-native upsert clears then re-inserts it
                    if (isDelete || !d.nativeUpsert) {
                      var j = 0
                      while (j < keyIdx.length) {
                        val v = row.get(keyIdx(j) + 1) // +1: op leads the row
                        if (v == null) delStmt.setNull(j + 1, java.sql.Types.NULL)
                        else delStmt.setObject(j + 1, v)
                        j += 1
                      }
                      delStmt.addBatch()
                      if (isDelete) nDel += 1
                    }
                    if (!isDelete) {
                      var i = 0
                      while (i < cols.length) {
                        val v = row.get(i + 1)
                        if (v == null) upStmt.setNull(i + 1, paramTypes(i))
                        else upStmt.setObject(i + 1, v)
                        i += 1
                      }
                      upStmt.addBatch()
                      nUp += 1
                    }
                  }
                  delStmt.executeBatch() // clear keys before re-insert
                  upStmt.executeBatch()
                  conn.commit()
                  deletes.add(nDel)
                  upserts.add(nUp)
                  done = true
                } catch {
                  case e: Throwable =>
                    try conn.rollback() catch { case _: Throwable => () }
                    last = e; attempt += 1
                }
              }
              if (!done) throw new BatchedExec.BatchFailed(retries + 1, last)
            }
          } finally { delStmt.close(); upStmt.close() }
        } finally conn.close()
      }
    }
    (upserts.value, deletes.value)
  }

  /** A connection with the `user`/`password` of `props` (others ignored). */
  def connect(url: String, props: Map[String, String]): Connection = {
    val p = new Properties()
    props.filter { case (k, v) => (k == "user" || k == "password") && v.nonEmpty }
      .foreach { case (k, v) => p.setProperty(k, v) }
    DriverManager.getConnection(url, p)
  }

  /** Write `df` through the dialect's writeMode statement. Returns rows
    * written. `columns` empty or `["*"]` ⇒ all DataFrame columns in order.
    */
  def write(
      df: DataFrame,
      dialect: Dialect,
      url: String,
      table: String,
      columns: Seq[String] = Nil,
      writeMode: String = "insert",
      batchSize: Int = 0,
      session: Seq[String] = Nil,
      props: Map[String, String] = Map.empty,
      conflictColumns: Seq[String] = Nil,
      retry: BatchedExec.RetryPolicy = BatchedExec.RetryPolicy()): Long = {
    dialect.validateWriteMode(writeMode)
    // `columns` names the TARGET's columns; record columns bind by POSITION
    // (the reference's `values[i] = record.GetColumn(i)`,
    // `oracle_writer.go:400-408`)
    val cols =
      if (columns.isEmpty || columns == Seq("*")) df.columns.toSeq
      else columns
    require(df.columns.length >= cols.length,
      s"input has ${df.columns.length} columns for ${cols.length} target columns")
    val bs = if (batchSize > 0) batchSize else dialect.defaultBatchSize
    val projected =
      if (df.columns.length == cols.length) df
      else df.selectExpr(df.columns.take(cols.length).map(c => s"`$c`").toSeq: _*)
    val written = projected.sparkSession.sparkContext.longAccumulator("jdbcRowsWritten")
    val retries = retry.retryTimes
    val sleep = retry.retrySleepMillis
    val dialectName = dialect.name
    projected.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      if (it.hasNext) {
        val d = Dialect.byName(dialectName)
        val conn = connect(url, props)
        try {
          // session conf, one statement per execute like the reference loop
          if (session.nonEmpty) {
            val st = conn.createStatement()
            try session.foreach(st.execute)
            finally st.close()
          }
          val pks =
            if (writeMode == "insert") Nil
            else if (conflictColumns.nonEmpty) conflictColumns
            else primaryKeys(conn, table)
          val sql = writeMode match {
            case "replace" => d.replaceSql(table, cols, pks)
            case "update" => d.upsertSql(table, cols, pks)
            case _ => d.upsertSql(table, cols, Nil) // plain INSERT
          }
          val stmt = conn.prepareStatement(sql)
          try {
            // null binding: setObject(i, null) is rejected by some drivers
            // (older Oracle thin needs setNull with a type code) — resolve
            // parameter types once per statement, degrade to Types.NULL when
            // the driver can't describe its parameters
            val paramTypes: Array[Int] =
              try {
                val md = stmt.getParameterMetaData
                Array.tabulate(cols.length)(i => md.getParameterType(i + 1))
              } catch {
                case _: Exception => Array.fill(cols.length)(java.sql.Types.NULL)
              }
            conn.setAutoCommit(false)
            it.grouped(bs).foreach { batch =>
              var attempt = 0
              var done = false
              var last: Throwable = null
              while (!done && attempt <= retries) {
                if (attempt > 0 && sleep > 0) Thread.sleep(sleep)
                try {
                  // JDBC batch protocol: one driver round trip per batch,
                  // not per row (the reference's batched StartWrite shape)
                  stmt.clearBatch()
                  batch.foreach { row =>
                    var i = 0
                    while (i < cols.length) {
                      val v = row.get(i)
                      if (v == null) stmt.setNull(i + 1, paramTypes(i))
                      else stmt.setObject(i + 1, v)
                      i += 1
                    }
                    stmt.addBatch()
                  }
                  stmt.executeBatch()
                  conn.commit()
                  written.add(batch.length)
                  done = true
                } catch {
                  case e: Throwable =>
                    try conn.rollback() catch { case _: Throwable => () }
                    last = e; attempt += 1
                }
              }
              if (!done) throw new BatchedExec.BatchFailed(retries + 1, last)
            }
          } finally stmt.close()
        } finally conn.close()
      }
    }
    written.value
  }
}
