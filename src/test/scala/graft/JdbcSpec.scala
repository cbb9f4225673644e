package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Dialect, Jdbc}

/** Split-predicate generation for the JDBC source shapes (pure functions —
  * no database in the sandbox; the scan itself is Spark's native JDBC
  * source fed by these options/predicates).
  */
class JdbcSpec extends AnyFunSuite {

  test("range scan options carry the 4 partitioning keys") {
    val o = Jdbc.rangeScanOptions("jdbc:mysql://h/db", "t", "id", 1L, 100L, 8)
    assert(o("partitionColumn") === "id" && o("numPartitions") === "8")
    assert(o("lowerBound") === "1" && o("upperBound") === "100")
  }

  test("hash predicates partition the whole domain disjointly") {
    val my = Jdbc.hashPredicatesMysql("id", 4)
    assert(my.length === 4)
    assert(my(2) === "CRC32(`id`) % 4 = 2")
    val pg = Jdbc.hashPredicatesPostgres("id", 3)
    assert(pg(0) === "MOD(ABS(HASHTEXT(\"id\")), 3) = 0")
  }

  test("dictionary predicates: open ends, half-open middles, quote escaping") {
    val p = Jdbc.dictionaryPredicates("name", Seq("b", "m", "o'hara"))
    assert(p.head === "name < 'b'")
    assert(p(1) === "name >= 'b' AND name < 'm'")
    assert(p(2) === "name >= 'm' AND name < 'o''hara'")
    assert(p.last === "name >= 'o''hara'")
  }

  test("offset/limit slices cover exactly `total` rows, remainder first") {
    val c = Jdbc.offsetLimitClauses("id", 10L, 3)
    assert(c(0) === "ORDER BY id LIMIT 4 OFFSET 0")
    assert(c(1) === "ORDER BY id LIMIT 3 OFFSET 4")
    assert(c(2) === "ORDER BY id LIMIT 3 OFFSET 7")
  }

  test("dialect quoting, defaults, and hash-split routing") {
    assert(Dialect.Mysql.quote("a b") === "`a b`")
    assert(Dialect.Postgres.quote("a") === "\"a\"")
    assert(Dialect.SqlServer.quote("a") === "[a]")
    assert(Dialect.byName("STARROCKS").quote("x") === "`x`")
    // reference defaults: fetchSize/batchSize 1024
    assert(Dialect.Mysql.readerOptions("u", "t")("fetchsize") === "1024")
    assert(Dialect.Postgres.defaultBatchSize === 1024)
    // hash fallback routes to the dialect's function; ANSI dialects have none
    assert(Dialect.Doris.hashSplitPredicates("id", 4).get(1).startsWith("CRC32"))
    assert(Dialect.GaussDb.hashSplitPredicates("id", 4).get(0).contains("HASHTEXT"))
    assert(Dialect.Oracle.hashSplitPredicates("id", 4).isEmpty)
  }

  test("per-connection session statements map to sessionInitStatement") {
    // mysqlreader `session` conf: statements run on each connection before
    // the read — Spark JDBC's sessionInitStatement is the exact analog
    val sess = Seq("SET SESSION sql_mode='ANSI'", "SET NAMES utf8mb4")
    val w = Dialect.Mysql.readerOptions("jdbc:mysql://h/db", "t", session = sess)
    assert(w("sessionInitStatement") === "SET SESSION sql_mode='ANSI'; SET NAMES utf8mb4")
    // Connector/J executes the init as ONE statement: a multi-statement
    // session list needs allowMultiQueries on the URL (the reference loops
    // statements one by one — mysql_writer.go session conf)
    assert(w("url") === "jdbc:mysql://h/db?allowMultiQueries=true")
    // existing query params are appended to, not clobbered; single
    // statements leave the URL alone; postgres never needs the flag
    assert(Dialect.Mysql.readerOptions("jdbc:mysql://h/db?useSSL=false", "t",
      session = sess)("url").endsWith("useSSL=false&allowMultiQueries=true"))
    assert(Dialect.Mysql.readerOptions("jdbc:mysql://h/db", "t",
      session = sess.take(1))("url") === "jdbc:mysql://h/db")
    val r = Dialect.Postgres.readerOptions("jdbc:postgresql://h/db", "t",
      session = Seq("SET search_path TO s", "SET statement_timeout=0"))
    assert(r("sessionInitStatement") === "SET search_path TO s; SET statement_timeout=0")
    assert(r("url") === "jdbc:postgresql://h/db")
    // absent by default — an empty option would still run a round trip
    assert(!Dialect.Mysql.readerOptions("u", "t").contains("sessionInitStatement"))
    // an explicit allowMultiQueries=false conflicts with a multi-statement
    // session list: fail fast, don't let every connection die at runtime
    intercept[IllegalArgumentException] {
      Dialect.Mysql.readerOptions("jdbc:mysql://h/db?allowMultiQueries=false", "t",
        session = sess)
    }
  }

  test("dialect upsert SQL: the 4 scenarios of common.go:556-616") {
    val cols = Seq("id", "name", "age")
    // scenario 1: no PK -> plain INSERT (both dialects)
    assert(Dialect.Mysql.upsertSql("t", cols, Nil) ===
      "INSERT INTO `t` (`id`, `name`, `age`) VALUES (?, ?, ?)")
    assert(Dialect.Postgres.upsertSql("t", cols, Nil) ===
      "INSERT INTO \"t\" (\"id\", \"name\", \"age\") VALUES (?, ?, ?)")
    // scenario 2: all columns are PKs -> skip-duplicates form
    assert(Dialect.Mysql.upsertSql("t", Seq("id", "code"), Seq("id", "code")) ===
      "INSERT IGNORE INTO `t` (`id`, `code`) VALUES (?, ?)")
    assert(Dialect.Postgres.upsertSql("t", Seq("id", "code"), Seq("id", "code")) ===
      "INSERT INTO \"t\" (\"id\", \"code\") VALUES (?, ?) ON CONFLICT (\"id\", \"code\") DO NOTHING")
    // scenario 3: PK + payload -> true upsert
    assert(Dialect.Mysql.upsertSql("t", cols, Seq("id")) ===
      "INSERT INTO `t` (`id`, `name`, `age`) VALUES (?, ?, ?) " +
        "ON DUPLICATE KEY UPDATE `name` = VALUES(`name`), `age` = VALUES(`age`)")
    assert(Dialect.Postgres.upsertSql("t", cols, Seq("id")) ===
      "INSERT INTO \"t\" (\"id\", \"name\", \"age\") VALUES (?, ?, ?) " +
        "ON CONFLICT (\"id\") DO UPDATE SET \"name\" = EXCLUDED.\"name\", \"age\" = EXCLUDED.\"age\"")
    // scenario 4: remaining generic dialects -> plain INSERT regardless of keys
    assert(Dialect.Sqlite.upsertSql("t", cols, Seq("id")) ===
      "INSERT INTO \"t\" (\"id\", \"name\", \"age\") VALUES (?, ?, ?)")
    assert(Dialect.ClickHouse.upsertSql("t", cols, Seq("id")) ===
      "INSERT INTO `t` (`id`, `name`, `age`) VALUES (?, ?, ?)")
    // replace mode: REPLACE INTO on mysql, upsert elsewhere
    assert(Dialect.Mysql.replaceSql("t", cols, Seq("id")) ===
      "REPLACE INTO `t` (`id`, `name`, `age`) VALUES (?, ?, ?)")
    assert(Dialect.Postgres.replaceSql("t", cols, Seq("id")) ===
      Dialect.Postgres.upsertSql("t", cols, Seq("id")))
    // multi-row batch placeholders (the batched flush shape)
    assert(Dialect.Mysql.upsertSql("t", Seq("id"), Nil, rows = 3) ===
      "INSERT INTO `t` (`id`) VALUES (?), (?), (?)")
  }

  test("oracle MERGE upsert: update, replace, all-PK skip form") {
    // the reference's oraclewriter VALIDATES INSERT/UPDATE/REPLACE
    // (oracle_writer.go:101-103) but preps only INSERT (:301-307); graft
    // generates the MERGE the validation promises
    val cols = Seq("id", "name")
    assert(Dialect.Oracle.upsertSql("t", cols, Seq("id")) ===
      "MERGE INTO \"t\" t USING (SELECT ? AS \"id\", ? AS \"name\" FROM dual) s " +
        "ON (t.\"id\" = s.\"id\") " +
        "WHEN MATCHED THEN UPDATE SET t.\"name\" = s.\"name\" " +
        "WHEN NOT MATCHED THEN INSERT (\"id\", \"name\") VALUES (s.\"id\", s.\"name\")")
    // replace == upsert on oracle (per-key replace semantics)
    assert(Dialect.Oracle.replaceSql("t", cols, Seq("id")) ===
      Dialect.Oracle.upsertSql("t", cols, Seq("id")))
    // all columns are PKs: skip-duplicates form, no WHEN MATCHED clause
    val allPk = Dialect.Oracle.upsertSql("t", Seq("id", "code"), Seq("id", "code"))
    assert(!allPk.contains("WHEN MATCHED"))
    assert(allPk.contains("WHEN NOT MATCHED THEN INSERT"))
    // no PKs: plain INSERT (scenario 1)
    assert(Dialect.Oracle.upsertSql("t", cols, Nil) ===
      "INSERT INTO \"t\" (\"id\", \"name\") VALUES (?, ?)")
    // multi-row batch: one UNION ALL branch per row
    val multi = Dialect.Oracle.upsertSql("t", cols, Seq("id"), rows = 3)
    assert(multi.split("UNION ALL").length === 3)
  }

  test("databend dialect: replace form and writeMode validation") {
    // databend_writer.go:396-430: REPLACE INTO t (cols) ON (conflict) VALUES
    assert(Dialect.Databend.replaceSql("t", Seq("a", "b"), Seq("a")) ===
      "REPLACE INTO `t` (`a`, `b`) ON (`a`) VALUES (?, ?)")
    assert(Dialect.Databend.upsertSql("t", Seq("a", "b"), Nil) ===
      "INSERT INTO `t` (`a`, `b`) VALUES (?, ?)")
    // replace without conflict columns: the reference's validateWriteMode error
    val ex = intercept[IllegalArgumentException] {
      Dialect.Databend.replaceSql("t", Seq("a", "b"), Nil)
    }
    assert(ex.getMessage.contains("onConflictColumn"))
    // writeMode matrix: insert|replace only (databend_writer.go:88)
    intercept[IllegalArgumentException] { Dialect.Databend.validateWriteMode("update") }
    Dialect.Databend.validateWriteMode("insert")
    assert(Dialect.byName("databend") === Dialect.Databend)
    assert(Dialect.all.length === 12)
  }

  test("multi-statement session lists fail fast on drivers without a path") {
    val sess = Seq("ALTER SESSION SET a=1", "ALTER SESSION SET b=2")
    // oracle / sybase / sqlserver drivers reject multi-statement strings —
    // plan-time failure instead of per-connection runtime death
    for (d <- Seq(Dialect.Oracle, Dialect.Sybase, Dialect.SqlServer, Dialect.ClickHouse)) {
      intercept[IllegalArgumentException] { d.readerOptions("u", "t", session = sess) }
      // single statements stay fine everywhere
      assert(d.readerOptions("u", "t", session = sess.take(1))
        .contains("sessionInitStatement"))
    }
    // clickhouse never gets the mysql allowMultiQueries URL rewrite
    assert(Dialect.ClickHouse.readerOptions("jdbc:clickhouse://h/db", "t",
      session = sess.take(1))("url") === "jdbc:clickhouse://h/db")
  }

  test("partition predicates") {
    assert(Jdbc.partitionPredicates(Seq("p0", "p1")).toSeq ===
      Seq("PARTITION(p0)", "PARTITION(p1)"))
  }

  test("token ranges cover the whole signed 64-bit space without gaps") {
    val p = Jdbc.tokenRangePredicates("token(id)", 4)
    assert(p.length === 4)
    assert(p.head.startsWith("token(id) < "))
    assert(p.last.startsWith("token(id) >= "))
    // interior ranges chain: each lower bound equals the previous upper
    val bounds = p.flatMap("-?\\d+".r.findAllIn(_)).map(_.toLong)
    assert(bounds(0) === bounds(1)) // first upper == second lower
    assert(Jdbc.tokenRangePredicates("token(id)", 1).head === s"token(id) >= ${Long.MinValue}")
  }

  test("nativeUpsert flags route the CDC apply: real conflict forms vs the portable pair") {
    // true exactly where upsertSql(pks) compiles to a REAL conflict form —
    // the CDC apply (JdbcExec.applyChanges) uses it there and the portable
    // same-transaction DELETE+INSERT everywhere else
    val native = Dialect.all.filter(_.nativeUpsert).map(_.name).toSet
    assert(native === Set("mysql", "doris", "starrocks", "oceanbase",
      "postgresql", "gaussdb", "oracle"))
    // clickhouse EXTENDS the mysql family but has no conflict clause
    // (ReplacingMergeTree dedups engine-side) — must stay portable-path
    assert(!Dialect.ClickHouse.nativeUpsert)
    // the flag is consistent with the generated SQL: native dialects emit a
    // conflict clause, scenario-4 dialects emit a bare INSERT
    Dialect.all.foreach { d =>
      val sql = d.upsertSql("t", Seq("id", "v"), Seq("id"))
      val hasConflict = sql.contains("ON DUPLICATE KEY") ||
        sql.contains("ON CONFLICT") || sql.startsWith("MERGE INTO")
      assert(hasConflict === d.nativeUpsert,
        s"${d.name}: nativeUpsert=${d.nativeUpsert} but sql=$sql")
    }
  }
}
