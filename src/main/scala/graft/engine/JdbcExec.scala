package graft.engine

import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, Row}

/** The reference's RDBMS writer, Spark-shaped. One live-database target
  * ([[Target]]) serves the batch writer ([[write]]: one writeMode
  * statement) and the CDC apply ([[applyChanges]]: a delete + upsert
  * pair), and both run through ONE per-partition runner
  * ([[runPartitions]]): one connection per partition, session statements
  * one by one, statements prepared once, per-batch transactions committed
  * at batch end, and failed batches rolled back and retried by
  * [[BatchedExec.retrying]] (`writeBatch` tx begin/exec/commit,
  * `mysql_writer.go:382-390` writeMode routing).
  *
  * Conflict keys resolve once, on the driver ([[resolveKeys]]): the
  * configured `onConflictColumn`, else `DatabaseMetaData.getPrimaryKeys`
  * (the reference reads PK info from the target's metadata at init,
  * `common.go:556-616`).
  */
object JdbcExec {

  /** A live-database table to write into. `columns` names the target's
    * columns, bound positionally against the input (empty or `["*"]` ⇒ the
    * input's own names); `keys` are the conflict columns (`onConflictColumn`;
    * empty ⇒ [[resolveKeys]] reads the target's PK); `batchSize` rows per
    * transaction (0 ⇒ the dialect default); `session` statements run one by
    * one on every connection; `props` carry `user`/`password`.
    */
  final case class Target(
      dialect: Dialect,
      url: String,
      table: String,
      columns: Seq[String] = Nil,
      keys: Seq[String] = Nil,
      batchSize: Int = 0,
      session: Seq[String] = Nil,
      props: Map[String, String] = Map.empty) {
    /** The target columns for an input whose columns are `input`. */
    def columnsOr(input: Seq[String]): Seq[String] =
      if (columns.isEmpty || columns == Seq("*")) input else columns
  }

  /** `t` with its conflict keys resolved: the configured ones, else the
    * target's PK metadata read over one driver connection (after the
    * session statements, as the writer's own connections see the table).
    * Empty when neither names a key.
    */
  def resolveKeys(t: Target): Target =
    if (t.keys.nonEmpty) t
    else withConnection(t.url, t.props, t.session)(conn =>
      t.copy(keys = primaryKeys(conn, t.table)))

  /** [[resolveKeys]] for a per-key apply (the CDC tail, the mirror): fails
    * fast when the target names no key.
    */
  def requireKeys(what: String, t: Target): Target = {
    val k = resolveKeys(t)
    require(k.keys.nonEmpty, s"$what: no conflict columns - configure them " +
      "(onConflictColumn, or mirror's k1,k2) or declare a primary key on the target")
    k
  }

  /** Driver-side statement runner for preSql/postSql phases
    * (`common.go:51-76,206-231`): one connection, statements in order.
    */
  def execStatements(url: String, props: Map[String, String], sqls: Seq[String]): Unit =
    if (sqls.nonEmpty) open(url, props, sqls).close()

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
    withConnection(url, props) { conn =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT MIN($qpk), MAX($qpk) FROM $tableExpr")
        try {
          val sqlType = rs.getMetaData.getColumnType(1)
          if (!rs.next()) SplitPlan.SingleTask
          else sqlType match {
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
    }
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
  def ensureLedger(url: String, props: Map[String, String], ledger: String): Unit =
    withConnection(url, props) { conn =>
      val st = conn.createStatement()
      try st.execute(s"CREATE TABLE $ledger (WRITER_ID VARCHAR(128) NOT NULL, " +
        "EPOCH BIGINT NOT NULL, PRIMARY KEY (WRITER_ID, EPOCH))")
      catch { case _: java.sql.SQLException => () } // exists already
      finally st.close()
    }

  /** Whether `(writerId, epoch)` is already recorded in the ledger. */
  def epochApplied(url: String, props: Map[String, String], ledger: String,
      writerId: String, epoch: Long): Boolean =
    withConnection(url, props) { conn =>
      val st = conn.prepareStatement(
        s"SELECT COUNT(*) FROM $ledger WHERE WRITER_ID = ? AND EPOCH = ?")
      try {
        st.setString(1, writerId)
        st.setLong(2, epoch)
        val rs = st.executeQuery()
        try { rs.next(); rs.getLong(1) > 0 } finally rs.close()
      } finally st.close()
    }

  /** Highest recorded epoch for `writerId` (-1 when none) — the catch-up
    * watermark for [[graft.engine.cdc.JdbcApply.sync]]. Propagates
    * SQLExceptions (e.g. the ledger table not existing yet) so the caller
    * can create it and start from -1.
    */
  def maxEpoch(url: String, props: Map[String, String], ledger: String,
      writerId: String): Long =
    withConnection(url, props) { conn =>
      val st = conn.prepareStatement(
        s"SELECT MAX(EPOCH) FROM $ledger WHERE WRITER_ID = ?")
      try {
        st.setString(1, writerId)
        val rs = st.executeQuery()
        try {
          if (rs.next() && rs.getObject(1) != null) rs.getLong(1) else -1L
        } finally rs.close()
      } finally st.close()
    }

  /** Record `(writerId, epoch)` as applied. A duplicate (two racing replays
    * past the [[epochApplied]] check) hits the ledger PK — harmless, both
    * applied the same idempotent batch.
    */
  def recordEpoch(url: String, props: Map[String, String], ledger: String,
      writerId: String, epoch: Long): Unit =
    withConnection(url, props) { conn =>
      val st = conn.prepareStatement(s"INSERT INTO $ledger VALUES (?, ?)")
      try {
        st.setString(1, writerId)
        st.setLong(2, epoch)
        try st.executeUpdate()
        catch { case _: java.sql.SQLIntegrityConstraintViolationException => () }
      } finally st.close()
    }

  /** Apply a LWW-deduped change batch — rows shaped `(op, lsn, payload...)`,
    * at most one row per key — to a live table: tombstones (`op = D`) become
    * key-ranged DELETEs; everything else upserts through the dialect's
    * native conflict form when it has one ([[Dialect.nativeUpsert]]) or a
    * DELETE + INSERT pair inside the same transaction otherwise (the
    * portable upsert — Derby, SQLite, SQL Server et al.). Both statements
    * run through [[runPartitions]], deletes flushed before inserts. Returns
    * (upserted rows, deleted keys).
    *
    * `t.columns` names the TARGET columns positionally against the payload
    * columns (reference bind-by-position semantics); `t.keys` are target
    * names, resolved by the caller ([[resolveKeys]]), and must appear in
    * the columns.
    */
  def applyChanges(df: DataFrame, t: Target,
      retry: BatchedExec.RetryPolicy = BatchedExec.RetryPolicy()): (Long, Long) = {
    val payloadCols = df.columns.filterNot(c => c == "op" || c == "lsn").toSeq
    val cols = t.columnsOr(payloadCols)
    require(payloadCols.length >= cols.length,
      s"change events carry ${payloadCols.length} payload columns for " +
        s"${cols.length} target columns")
    val keyIdx = t.keys.map { k =>
      val i = cols.indexOf(k)
      require(i >= 0, s"key column '$k' is not among the target columns " +
        s"(${cols.mkString(", ")})")
      i + 1 // op leads the row
    }.toArray
    val d = t.dialect
    val deleteSql = s"DELETE FROM ${d.quote(t.table)} WHERE " +
      t.keys.map(k => s"${d.quote(k)} = ?").mkString(" AND ")
    val native = d.nativeUpsert
    // a non-native upsert is a plain INSERT after the delete
    val upsertSql = d.upsertSql(t.table, cols, if (native) t.keys else Nil)
    val projected = df.selectExpr("`op`" +: payloadCols.take(cols.length).map(c => s"`$c`"): _*)
    val Seq(up, del) = runPartitions(projected, t,
      Seq(deleteSql -> keyIdx, upsertSql -> Array.range(1, cols.length + 1)),
      Seq("cdcJdbcUpserts", "cdcJdbcDeletes"), retry) { (stmts, batch) =>
      var nUp = 0L
      var nDel = 0L
      batch.foreach { row =>
        val isDelete = row.getString(0) == "D"
        // keys deduped upstream: a tombstone clears the key; a non-native
        // upsert clears then re-inserts it
        if (isDelete || !native) stmts(0).add(row)
        if (isDelete) nDel += 1
        else { stmts(1).add(row); nUp += 1 }
      }
      Seq(nUp, nDel)
    }
    (up, del)
  }

  /** `f` over one driver connection ([[open]]), closed afterwards. */
  private def withConnection[A](url: String, props: Map[String, String],
      session: Seq[String] = Nil)(f: Connection => A): A = {
    val conn = open(url, props, session)
    try f(conn) finally conn.close()
  }

  /** A connection with the `user`/`password` of `props` (others ignored)
    * and the `session` statements executed on it one by one, like the
    * reference's loop (`executeSessionSql`).
    */
  private def open(url: String, props: Map[String, String], session: Seq[String]): Connection = {
    val p = new Properties()
    props.filter { case (k, v) => (k == "user" || k == "password") && v.nonEmpty }
      .foreach { case (k, v) => p.setProperty(k, v) }
    val conn = DriverManager.getConnection(url, p)
    try {
      if (session.nonEmpty) {
        val st = conn.createStatement()
        try session.foreach(st.execute)
        finally st.close()
      }
      conn
    } catch { case e: Throwable => conn.close(); throw e }
  }

  /** Write `df` through the dialect's writeMode statement. Returns rows
    * written. `t.columns` empty or `["*"]` ⇒ all DataFrame columns in
    * order. update/replace resolve their conflict keys once, here on the
    * driver ([[resolveKeys]]); a target with none gets the plain INSERT
    * (the reference's scenario 4).
    */
  def write(df: DataFrame, t: Target, writeMode: String = "insert",
      retry: BatchedExec.RetryPolicy = BatchedExec.RetryPolicy()): Long = {
    val d = t.dialect
    d.validateWriteMode(writeMode)
    // `columns` names the TARGET's columns; record columns bind by POSITION
    // (the reference's `values[i] = record.GetColumn(i)`,
    // `oracle_writer.go:400-408`)
    val cols = t.columnsOr(df.columns.toSeq)
    require(df.columns.length >= cols.length,
      s"input has ${df.columns.length} columns for ${cols.length} target columns")
    val sql = writeMode match {
      case "replace" => d.replaceSql(t.table, cols, resolveKeys(t).keys)
      case "update" => d.upsertSql(t.table, cols, resolveKeys(t).keys)
      case _ => d.upsertSql(t.table, cols, Nil) // plain INSERT
    }
    val projected =
      if (df.columns.length == cols.length) df
      else df.selectExpr(df.columns.take(cols.length).map(c => s"`$c`").toSeq: _*)
    runPartitions(projected, t, Seq(sql -> Array.range(0, cols.length)),
      Seq("jdbcRowsWritten"), retry) { (stmts, batch) =>
      batch.foreach(stmts(0).add)
      Seq(batch.length.toLong)
    }.head
  }

  /** One prepared statement of [[runPartitions]]: `add` binds the row
    * fields at `fields` to the parameters in order and adds the batch.
    * NULLs bind through setNull: setObject(i, null) is rejected by some
    * drivers (older Oracle thin needs a type code), so parameter types are
    * probed once per statement, Types.NULL when the driver can't describe
    * its parameters.
    */
  private final class Stmt(val ps: PreparedStatement, fields: Array[Int]) {
    private val types: Array[Int] =
      try {
        val md = ps.getParameterMetaData
        Array.tabulate(fields.length)(i => md.getParameterType(i + 1))
      } catch {
        case _: Exception => Array.fill(fields.length)(java.sql.Types.NULL)
      }

    def add(row: Row): Unit = {
      var i = 0
      while (i < fields.length) {
        val v = row.get(fields(i))
        if (v == null) ps.setNull(i + 1, types(i))
        else ps.setObject(i + 1, v)
        i += 1
      }
      ps.addBatch()
    }
  }

  /** The one per-partition runner of the batch writer and the CDC apply —
    * the reference's RDBMS writer task loop (`oracle_writer.go:344-420`):
    * one connection per PARTITION, the session statements executed one by
    * one on open (`executeSessionSql`), every statement of `sqls` prepared
    * ONCE, autocommit off, and each `batchSize`-row batch bound by `bind`,
    * flushed statement by statement in order (the JDBC batch protocol: one
    * round trip per statement per batch) and committed — or rolled back and
    * retried whole through [[BatchedExec.retrying]]. `sqls` pairs each
    * statement with the row fields its parameters bind. `bind` returns one
    * count per name in `counters`; the counts of a committed batch add up
    * into the returned totals.
    *
    * Scale shape: no driver collect — every partition streams straight
    * into its own connection, one `foreachPartition` job per call;
    * `batchSize` bounds both memory and transaction size.
    */
  private def runPartitions(df: DataFrame, t: Target, sqls: Seq[(String, Array[Int])],
      counters: Seq[String], retry: BatchedExec.RetryPolicy)(
      bind: (IndexedSeq[Stmt], Seq[Row]) => Seq[Long]): Seq[Long] = {
    val accs = counters.map(n => df.sparkSession.sparkContext.longAccumulator(n))
    val (url, props, session) = (t.url, t.props, t.session)
    val batchSize = if (t.batchSize > 0) t.batchSize else t.dialect.defaultBatchSize
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val conn = open(url, props, session)
        try {
          val stmts = sqls.map { case (sql, fields) =>
            new Stmt(conn.prepareStatement(sql), fields)
          }.toIndexedSeq
          try {
            conn.setAutoCommit(false)
            it.grouped(batchSize).foreach { batch =>
              BatchedExec.retrying(retry) {
                try {
                  stmts.foreach(_.ps.clearBatch())
                  val counts = bind(stmts, batch)
                  stmts.foreach(_.ps.executeBatch())
                  conn.commit()
                  accs.zip(counts).foreach { case (a, n) => a.add(n) }
                } catch {
                  case e: Throwable =>
                    try conn.rollback() catch { case _: Throwable => () }
                    throw e
                }
              }
            }
          } finally stmts.foreach(_.ps.close())
        } finally conn.close()
      }
    }
    accs.map(_.sum)
  }
}
