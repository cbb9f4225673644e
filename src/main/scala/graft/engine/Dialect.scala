package graft.engine

/** Per-dialect RDBMS quirks, mirroring the reference's plugin matrix where
  * behavior actually differs (everything else rides one Spark JDBC source):
  *
  *  - identifier quoting: backticks (mysql family), double quotes (ANSI /
  *    postgres / oracle), brackets (sqlserver/sybase) — as each plugin's
  *    generated SQL (`mysql_writer.go:470-518`, `postgresql` via
  *    `common.go:560-585`)
  *  - reader fetchSize / writer batchSize defaults of 1024
  *    (`mysql_reader.go:20-22`, `common/database/rdbms/writer/common.go:17-19`)
  *  - splitPk hash fallback function (`CRC32` on mysql family, `HASHTEXT`
  *    on postgres family — `mysql_reader.go:432-444`,
  *    `postgresql_reader.go:858-864`)
  *  - writer upsert statement, 4 scenarios (`common.go:556-616`): no PK ⇒
  *    plain INSERT; all columns are PKs ⇒ skip-duplicates form (INSERT
  *    IGNORE / ON CONFLICT DO NOTHING); PK + payload ⇒ true upsert (ON
  *    DUPLICATE KEY UPDATE / ON CONFLICT DO UPDATE); any other dialect ⇒
  *    plain INSERT. MySQL `replace` writeMode ⇒ `REPLACE INTO`
  *    (`mysql_writer.go:470`).
  *
  * The reader options feed Spark's JDBC source; the statement builders
  * feed [[JdbcExec]]'s one per-partition runner, the engine's only JDBC
  * write path (the reference's batched flush).
  */
sealed abstract class Dialect(
    val name: String,
    quoteL: String,
    quoteR: String,
    val defaultFetchSize: Int = 1024,
    val defaultBatchSize: Int = 1024) {

  def quote(ident: String): String = s"$quoteL$ident$quoteR"

  /** Hash-split predicates for a text/unordered splitPk; generic dialects
    * fall back to range/offset splits (no portable hash function).
    */
  def hashSplitPredicates(splitPk: String, n: Int): Option[Array[String]] = None

  private def placeholders(cols: Seq[String], rows: Int): String =
    Seq.fill(rows)(cols.map(_ => "?").mkString("(", ", ", ")")).mkString(", ")

  protected def insertSql(table: String, cols: Seq[String], rows: Int): String =
    s"INSERT INTO ${quote(table)} (${cols.map(quote).mkString(", ")}) " +
      s"VALUES ${placeholders(cols, rows)}"

  /** The 4-scenario upsert of `common.go:556-616`. */
  def upsertSql(table: String, cols: Seq[String], primaryKeys: Seq[String],
      rows: Int = 1): String = {
    val updateCols = cols.filterNot(primaryKeys.contains)
    if (primaryKeys.isEmpty) insertSql(table, cols, rows)
    else if (updateCols.isEmpty) allPkSql(table, cols, primaryKeys, rows)
    else upsertWithUpdate(table, cols, primaryKeys, updateCols, rows)
  }

  protected def allPkSql(table: String, cols: Seq[String],
      pks: Seq[String], rows: Int): String = insertSql(table, cols, rows)

  protected def upsertWithUpdate(table: String, cols: Seq[String],
      pks: Seq[String], updateCols: Seq[String], rows: Int): String =
    insertSql(table, cols, rows)

  /** writeMode=replace (`mysql_writer.go:470`); non-MySQL dialects fall back
    * to the upsert form, which has replace semantics per key.
    */
  def replaceSql(table: String, cols: Seq[String], primaryKeys: Seq[String],
      rows: Int = 1): String = upsertSql(table, cols, primaryKeys, rows)

  /** Whether [[upsertSql]] with primary keys compiles to a REAL conflict
    * form (ON DUPLICATE KEY / ON CONFLICT / MERGE) rather than degrading to
    * a plain INSERT (the scenario-4 dialects). The CDC live-apply path
    * ([[JdbcExec.applyChanges]]) uses the native form where this is true and
    * a portable same-transaction DELETE+INSERT pair everywhere else.
    */
  def nativeUpsert: Boolean = false

  /** writeModes this dialect's plugin accepts (`insert` everywhere; mysql
    * family adds `replace`/`update`; gaussdb REJECTS everything but insert,
    * `gaussdb_writer.go:43-46`).
    */
  def supportedWriteModes: Set[String] = Set("insert", "replace", "update")

  def validateWriteMode(mode: String): Unit =
    require(supportedWriteModes.contains(mode),
      s"dialect $name does not support writeMode '$mode' " +
        s"(supported: ${supportedWriteModes.toSeq.sorted.mkString(", ")})")

  /** Per-connection session statements executed after each reader
    * connection opens and before any read on it — the reference's
    * mysqlreader/writer `session` conf (`mysql_writer.go` session list, e.g.
    * `SET SESSION sql_mode='ANSI'`). Spark's JDBC source has the exact
    * analog: `sessionInitStatement`, applied per executor connection. (The
    * writer runs its list one statement per execute, [[JdbcExec]].)
    *
    * Spark executes the init string as ONE `Statement.execute`, while the
    * reference loops statements one by one — so joining with `;` only
    * works on drivers that accept multi-statement strings. MySQL-family
    * drivers reject them unless the URL carries `allowMultiQueries=true`;
    * [[sessionUrl]] adds it for multi-statement session lists on those
    * dialects (postgres executes multi-statement simple queries natively).
    */
  private def sessionOption(session: Seq[String]): Map[String, String] =
    if (session.isEmpty) Map.empty
    else if (session.length > 1 && !multiStatementSessionOk)
      throw new IllegalArgumentException(
        s"dialect $name has no multi-statement execution path for its JDBC " +
          s"driver, but the session list has ${session.length} statements — " +
          "Spark's sessionInitStatement executes ONE string per connection; " +
          "use a single statement (or a driver-side procedure)")
    else Map("sessionInitStatement" -> session.mkString("; "))

  /** Whether this dialect's driver can execute a ';'-joined multi-statement
    * string as one `Statement.execute` (mysql family: with the URL opt-in
    * [[sessionUrl]] adds; postgres: native simple-query protocol). Oracle,
    * Sybase jConnect, SQL Server etc. reject multi-statement strings at
    * runtime on every executor connection — fail fast at plan time instead.
    */
  protected def multiStatementSessionOk: Boolean = false

  /** Dialect hook: adjust the JDBC URL so a multi-statement session init
    * can actually execute (see [[sessionOption]]). Default: unchanged.
    */
  protected def sessionUrl(url: String, session: Seq[String]): String = url

  /** Spark JDBC reader options with the dialect's defaults applied. */
  def readerOptions(url: String, table: String,
      session: Seq[String] = Nil): Map[String, String] = Map(
    "url" -> sessionUrl(url, session), "dbtable" -> table,
    "fetchsize" -> defaultFetchSize.toString) ++ sessionOption(session)
}

object Dialect {

  /** Backtick family: mysql + the mysql-protocol lakes/OLAP engines the
    * reference ships separate plugins for (doris/starrocks/oceanbase read
    * the mysql wire protocol).
    */
  sealed class MysqlFamily(name: String) extends Dialect(name, "`", "`") {
    override def nativeUpsert: Boolean = true
    override protected def multiStatementSessionOk: Boolean = true
    // Connector/J rejects multi-statement strings unless the URL opts in;
    // a single session statement needs no URL change. An EXPLICIT
    // allowMultiQueries=false conflicts with a multi-statement session
    // list — fail fast instead of letting every executor connection die
    // with a driver syntax error at runtime.
    override protected def sessionUrl(url: String, session: Seq[String]): String =
      if (session.length <= 1) url
      else if (url.contains("allowMultiQueries=false"))
        throw new IllegalArgumentException(
          s"$name URL sets allowMultiQueries=false but the session list has " +
            s"${session.length} statements, which Spark's sessionInitStatement " +
            "executes as ONE multi-statement string — drop the URL parameter or " +
            "use a single session statement")
      else if (url.contains("allowMultiQueries=")) url
      else url + (if (url.contains("?")) "&" else "?") + "allowMultiQueries=true"
    override def hashSplitPredicates(splitPk: String, n: Int): Option[Array[String]] =
      Some(Jdbc.hashPredicatesMysql(splitPk, n))
    override protected def allPkSql(table: String, cols: Seq[String],
        pks: Seq[String], rows: Int): String =
      insertSql(table, cols, rows).replaceFirst("^INSERT INTO", "INSERT IGNORE INTO")
    override protected def upsertWithUpdate(table: String, cols: Seq[String],
        pks: Seq[String], updateCols: Seq[String], rows: Int): String =
      insertSql(table, cols, rows) + " ON DUPLICATE KEY UPDATE " +
        updateCols.map(c => s"${quote(c)} = VALUES(${quote(c)})").mkString(", ")
    override def replaceSql(table: String, cols: Seq[String],
        primaryKeys: Seq[String], rows: Int): String =
      insertSql(table, cols, rows).replaceFirst("^INSERT INTO", "REPLACE INTO")
  }

  /** ANSI double-quote family with ON CONFLICT upsert (postgres, gaussdb). */
  sealed class PostgresFamily(name: String) extends Dialect(name, "\"", "\"") {
    override def nativeUpsert: Boolean = true
    // pgjdbc executes multi-statement simple queries natively
    override protected def multiStatementSessionOk: Boolean = true
    override def hashSplitPredicates(splitPk: String, n: Int): Option[Array[String]] =
      Some(Jdbc.hashPredicatesPostgres(splitPk, n))
    override protected def allPkSql(table: String, cols: Seq[String],
        pks: Seq[String], rows: Int): String =
      insertSql(table, cols, rows) +
        s" ON CONFLICT (${pks.map(quote).mkString(", ")}) DO NOTHING"
    override protected def upsertWithUpdate(table: String, cols: Seq[String],
        pks: Seq[String], updateCols: Seq[String], rows: Int): String =
      insertSql(table, cols, rows) +
        s" ON CONFLICT (${pks.map(quote).mkString(", ")}) DO UPDATE SET " +
        updateCols.map(c => s"${quote(c)} = EXCLUDED.${quote(c)}").mkString(", ")
  }

  /** Scenario-4 dialects: plain INSERT regardless of keys (`common.go:611-616`). */
  sealed class AnsiQuoted(name: String) extends Dialect(name, "\"", "\"")
  sealed class Bracketed(name: String) extends Dialect(name, "[", "]")

  case object Mysql extends MysqlFamily("mysql")
  case object Doris extends MysqlFamily("doris")
  case object StarRocks extends MysqlFamily("starrocks")
  case object OceanBase extends MysqlFamily("oceanbase")
  case object Postgres extends PostgresFamily("postgresql")
  case object GaussDb extends PostgresFamily("gaussdb") {
    override def supportedWriteModes: Set[String] = Set("insert")
  }
  /** Oracle: the reference's dedicated oraclewriter accepts
    * INSERT/UPDATE/REPLACE (`oracle_writer.go:101-103` validates; its write
    * path preps a per-row INSERT, `:301-307`) — graft goes further and
    * generates the real `MERGE INTO ... USING (... FROM dual)` upsert the
    * validation promises, so writeMode=update actually updates instead of
    * duplicate-key-erroring. REPLACE maps to the same MERGE (per-key replace
    * semantics); all-PK inputs get the WHEN-NOT-MATCHED-only skip form.
    */
  case object Oracle extends AnsiQuoted("oracle") {
    override def nativeUpsert: Boolean = true
    private def mergeSql(table: String, cols: Seq[String], pks: Seq[String],
        updateCols: Seq[String], rows: Int): String = {
      val srcRows = Seq.fill(rows)(
        cols.map(c => s"? AS ${quote(c)}").mkString("SELECT ", ", ", " FROM dual"))
        .mkString(" UNION ALL ")
      val on = pks.map(k => s"t.${quote(k)} = s.${quote(k)}").mkString(" AND ")
      val matched =
        if (updateCols.isEmpty) ""
        else " WHEN MATCHED THEN UPDATE SET " +
          updateCols.map(c => s"t.${quote(c)} = s.${quote(c)}").mkString(", ")
      s"MERGE INTO ${quote(table)} t USING ($srcRows) s ON ($on)$matched" +
        s" WHEN NOT MATCHED THEN INSERT (${cols.map(quote).mkString(", ")})" +
        s" VALUES (${cols.map(c => s"s.${quote(c)}").mkString(", ")})"
    }
    override protected def allPkSql(table: String, cols: Seq[String],
        pks: Seq[String], rows: Int): String = mergeSql(table, cols, pks, Nil, rows)
    override protected def upsertWithUpdate(table: String, cols: Seq[String],
        pks: Seq[String], updateCols: Seq[String], rows: Int): String =
      mergeSql(table, cols, pks, updateCols, rows)
  }
  case object Sqlite extends AnsiQuoted("sqlite")
  /** Databend (`databend_writer.go:94-103,396-430`): mysql-compatible
    * quoting; writeMode insert|replace where replace compiles to the
    * dedicated `REPLACE INTO t (cols) ON (conflictCols) VALUES (...)` form
    * and REQUIRES the conflict column list (validated at plan time like the
    * reference's validateWriteMode).
    */
  case object Databend extends Dialect("databend", "`", "`") {
    override def supportedWriteModes: Set[String] = Set("insert", "replace")
    override def replaceSql(table: String, cols: Seq[String],
        primaryKeys: Seq[String], rows: Int): String = {
      require(primaryKeys.nonEmpty, "replace mode must has onConflictColumn config")
      val ph = Seq.fill(rows)(cols.map(_ => "?").mkString("(", ", ", ")")).mkString(", ")
      s"REPLACE INTO ${quote(table)} (${cols.map(quote).mkString(", ")}) " +
        s"ON (${primaryKeys.map(quote).mkString(", ")}) VALUES $ph"
    }
  }
  case object ClickHouse extends MysqlFamily("clickhouse") {
    // no conflict clause (dedup is engine-side ReplacingMergeTree) — the
    // CDC apply's delete path is likewise engine-specific; route CDC fan-out
    // to clickhouse through a lake follower instead
    override def nativeUpsert: Boolean = false
    // clickhouse-jdbc has no multi-statement path and no allowMultiQueries
    override protected def multiStatementSessionOk: Boolean = false
    override protected def sessionUrl(url: String, session: Seq[String]): String = url
    // clickhouse quotes with backticks but has no conflict clause: its
    // plugin buffers and plain-INSERTs (dedup is engine-side ReplacingMergeTree)
    override protected def allPkSql(t: String, c: Seq[String], p: Seq[String], r: Int): String =
      insertSql(t, c, r)
    override protected def upsertWithUpdate(t: String, c: Seq[String], p: Seq[String],
        u: Seq[String], r: Int): String = insertSql(t, c, r)
    override def replaceSql(t: String, c: Seq[String], p: Seq[String], r: Int): String =
      insertSql(t, c, r)
  }
  case object SqlServer extends Bracketed("sqlserver")
  case object Sybase extends Bracketed("sybase")

  // lazy: forcing the nested modules from the companion constructor would
  // race their own lazy initialization (observed as nulls in the Seq)
  lazy val all: Seq[Dialect] = Seq(Mysql, Doris, StarRocks, OceanBase, Postgres,
    GaussDb, Oracle, Sqlite, ClickHouse, SqlServer, Sybase, Databend)

  def byName(name: String): Dialect =
    all.find(_.name == name.toLowerCase)
      .getOrElse(throw new IllegalArgumentException(s"unknown dialect '$name'"))
}
