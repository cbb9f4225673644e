package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.core.{Gen, Model}
import graft.engine.{Dialect, JdbcExec, JobConfig, SyncJob}
import graft.engine.cdc.CdcPipeline
import graft.lake.LakeTable
import graft.sources.CdcEnvelope
import graft.tools.RunJob

/** The JSON job-spec entry point (`datax -job config.json` analog):
  * conformance sweep over the reference's own test-data configs, E2E replays
  * of the three configs the round-3 verdict names, and the real JDBC write
  * path against the bundled Derby engine.
  */
class JobSpecSpec extends SparkSpec {
  import spark.implicits._

  private val refTestData = new File("/root/reference/test-data")

  // ------------------------------------------------------------- parsing

  test("go date layouts translate to java patterns") {
    assert(JobConfig.goDateFormat("2006-01-02") === "yyyy-MM-dd")
    assert(JobConfig.goDateFormat("2006-01-02 15:04:05") === "yyyy-MM-dd HH:mm:ss")
    assert(JobConfig.goDateFormat("2006/01/02 15:04:05.000") === "yyyy/MM/dd HH:mm:ss.SSS")
    // RFC3339: literal T must come out QUOTED (unquoted T is an illegal
    // java pattern letter that throws, not a parse miss)
    assert(JobConfig.goDateFormat("2006-01-02T15:04:05Z07:00") === "yyyy-MM-dd'T'HH:mm:ssXXX")
    // layouts with PM/Mon/MST must not trip the already-java guard on
    // their letters (digit-based Go detection)
    assert(JobConfig.goDateFormat("01/02/2006 03:04:05 PM") === "MM/dd/yyyy hh:mm:ss a")
    // already-java patterns pass through
    assert(JobConfig.goDateFormat("yyyy-MM-dd") === "yyyy-MM-dd")
    assert(JobConfig.goDateFormat("yyyy-MM-dd HH:mm:ss") === "yyyy-MM-dd HH:mm:ss")
    assert(JobConfig.goDateFormat("") === "")
    // the long-form Go tokens: numeric zones, optional-fraction, full names
    assert(JobConfig.goDateFormat("2006-01-02T15:04:05.999Z07:00")
      === "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    assert(JobConfig.goDateFormat("2006-01-02 15:04:05 -0700") === "yyyy-MM-dd HH:mm:ss xx")
    assert(JobConfig.goDateFormat("2006-01-02T15:04:05Z0700") === "yyyy-MM-dd'T'HH:mm:ssXX")
    assert(JobConfig.goDateFormat("Monday, January 02 2006") === "EEEE, MMMM dd yyyy")
    assert(JobConfig.goDateFormat("15:04:05.000000") === "HH:mm:ss.SSSSSS")
    // an untranslatable fragment that compiles into an INVALID java pattern
    // degrades to "" (the reader's default format chain) instead of
    // throwing on every row at parse time
    assert(JobConfig.goDateFormat("2006-01-02 b3") === "")
  }

  test("jsonfile columns accept value constants and index keys like the reference") {
    // jsonfile_reader.go:1042-1058: a column is a name, a constant value,
    // or an index coerced to a string key; none of the three is an error
    val spec = JobConfig.parse("""{"job": {"content": [{
      "reader": {"name": "jsonfilereader", "parameter": {
        "path": "/x/*.jsonl",
        "column": [{"name": "id", "type": "long"},
                   {"value": "src1", "type": "string"},
                   {"index": 2, "type": "string"}]}},
      "writer": {"name": "streamwriter", "parameter": {}}}]}}""")
    val r = JobConfig.translate(spec).head.reader.asInstanceOf[JobConfig.FileRead]
    assert(r.src.columns.length === 3)
    assert(r.src.columns(0).name === "id")
    assert(r.src.columns(1).value === "src1")
    assert(r.src.columns(2).name === "2")
    val bad = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse("""{"job": {"content": [{
        "reader": {"name": "jsonfilereader", "parameter": {
          "path": "/x", "column": [{"type": "string"}]}},
        "writer": {"name": "streamwriter", "parameter": {}}}]}}"""))
    }
    assert(bad.getMessage.contains("'name', 'index' or 'value'"))
  }

  test("text fileFormat writes the configured header as each file's first line") {
    val fix = tmpDir("txthdr")
    val cfg = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "streamreader", "parameter": {"sliceRecordCount": 3,
        "column": [{"type": "long", "value": "7"}, {"type": "string", "value": "v"}]}},
      "writer": {"name": "txtfilewriter", "parameter": {
        "path": "$fix", "fileName": "out", "fileFormat": "text",
        "fieldDelimiter": "|", "writeMode": "truncate",
        "header": ["id", "name"]}}}]}}""")
    RunJob.run(spark, cfg)
    val lines = spark.read.text(s"$fix/out").as[String].collect().toSeq
    // header first in each part file (`txtfile_writer.go:252-258`), then rows
    assert(lines.count(_ == "id|name") >= 1)
    assert(lines.count(_ == "7|v") === 3)
    val firstPart = new File(s"$fix/out").listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .sortBy(_.getName).head
    val fileLines = scala.io.Source.fromFile(firstPart).getLines().toSeq
    assert(fileLines.head === "id|name")
  }

  test("conformance: every reference test-data config parses and translates") {
    assume(refTestData.isDirectory, "reference test-data not present")
    val configs = refTestData.listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName)
    assert(configs.length >= 25)
    var translated = 0
    val unsupported = scala.collection.mutable.ArrayBuffer.empty[String]
    configs.foreach { f =>
      val spec = JobConfig.parse(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      try {
        val plans = JobConfig.translate(spec)
        assert(plans.nonEmpty, f.getName)
        // the dry-run renderer must handle every translatable plan
        // (writer SQL incl. upsert/replace forms, split predicates)
        plans.foreach(t => assert(RunJob.describe(t).nonEmpty, f.getName))
        translated += 1
      } catch {
        case e: JobConfig.UnsupportedPlugin => unsupported += s"${f.getName}: ${e.getMessage}"
      }
    }
    // ftp/sftp/mongo are the only legitimately untranslatable plugins here
    assert(unsupported.forall(u => u.contains("ftp") || u.contains("mongo")),
      unsupported.mkString("; "))
    assert(translated >= configs.length - 3, s"only $translated of ${configs.length}")
  }

  test("errorLimit and transformer chain parse with reference semantics") {
    val spec = JobConfig.parse("""{
      "job": {"setting": {"speed": {"channel": 2},
                          "errorLimit": {"record": 10, "percentage": 5}},
        "content": [{
          "reader": {"name": "streamreader", "parameter": {"sliceRecordCount": 5,
            "column": [{"type": "long", "value": "7"}]}},
          "transformer": [
            {"name": "dx_replace", "parameter": {"columnIndex": 0, "paras": ["a", "b"]}},
            {"name": "dx_pad", "parameter": {"columnIndex": 0, "paras": ["left", "4", "0"]}}],
          "writer": {"name": "streamwriter", "parameter": {"print": false}}}]}}""")
    assert(spec.errorLimit.record === 10L)
    assert(spec.errorLimit.percentage === 0.05)
    assert(spec.contents.head.transforms.length === 2)
    // record absent/0 disables the count check (error_limiter.go:27, >0 guard)
    val spec2 = JobConfig.parse("""{"job": {"content": [{
      "reader": {"name": "streamreader", "parameter": {"sliceRecordCount": 1,
        "column": [{"type": "long"}]}},
      "writer": {"name": "streamwriter", "parameter": {}}}]}}""")
    assert(spec2.errorLimit.record === Long.MaxValue)
    assert(spec2.errorLimit.percentage === 1.0)
  }

  test("jdbc reader translation: split predicates and pushdown subquery") {
    val spec = JobConfig.parse("""{
      "job": {"setting": {"speed": {"channel": 4}}, "content": [{
        "reader": {"name": "mysqlreader", "parameter": {
          "username": "u", "password": "p",
          "column": ["id", "name"], "where": "id > 5", "splitPk": "id",
          "connection": [{"jdbcUrl": ["jdbc:mysql://h:3306/db"], "table": ["users"]}]}},
        "writer": {"name": "doriswriter", "parameter": {
          "username": "u", "password": "p", "column": ["id", "name"],
          "connection": [{"jdbcUrl": "jdbc:mysql://h:9030/d", "table": ["users"]}],
          "preSql": ["TRUNCATE TABLE @table"]}}}]}}""")
    val t = JobConfig.translate(spec).head
    val r = t.reader.asInstanceOf[JobConfig.JdbcRead]
    assert(r.dialect === Dialect.Mysql)
    assert(r.table.contains("SELECT `id`, `name` FROM `users` WHERE id > 5"))
    assert(r.predicates.length === 4)
    assert(r.predicates.head === "CRC32(`id`) % 4 = 0")
    val w = t.writer.asInstanceOf[JobConfig.JdbcWrite]
    assert(w.dialect === Dialect.Doris)
    assert(w.preSql === Seq("TRUNCATE TABLE users")) // @table rendered
  }

  test("databend replace validation mirrors the reference") {
    def cfg(extra: String) = s"""{"job": {"content": [{
      "reader": {"name": "streamreader", "parameter": {"sliceRecordCount": 1,
        "column": [{"type": "long"}]}},
      "writer": {"name": "databendwriter", "parameter": {
        "username": "u", "password": "p", "column": ["a"],
        "writeMode": "replace"$extra,
        "connection": [{"jdbcUrl": "jdbc:databend://h:8000/d", "table": ["t"]}]}}}]}}"""
    val ex = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(cfg("")))
    }
    assert(ex.getMessage.contains("onConflictColumn"))
    val ok = JobConfig.translate(JobConfig.parse(cfg(""", "onConflictColumn": ["a"]""")))
    assert(ok.head.writer.asInstanceOf[JobConfig.JdbcWrite].dialect === Dialect.Databend)
  }

  // ------------------------------------------------------------- E2E

  test("stream2stream: generated rows through canonical console lines") {
    assume(refTestData.isDirectory, "reference test-data not present")
    val spec = JobConfig.fromFile(s"$refTestData/stream2stream.json")
    val out = tmpDir("s2s") + "/out"
    val res = RunJob.run(spark, spec, RunJob.Overrides(streamPath = Some(out))).head
    // 2 channels × 1000 sliceRecordCount (stream_reader.go Split × StartRead)
    assert(res.rowsWritten === 2000L)
    val lines = spark.read.text(out).as[String].collect()
    assert(lines.length === 2000)
    val fields = lines.head.split("\t", -1)
    assert(fields.length === 5)
    assert(fields(0) === "123")
    assert(fields(1) === "hello world")
    assert(fields(2).matches("""-?\d+\.\d{6}""")) // %.6f double rendering
    assert(Set("true", "false").contains(fields(3)))
    assert(fields(4).matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}""")) // canonical date
  }

  test("txtfile2txtfile: rebased csv in, headered csv out, go date format") {
    assume(refTestData.isDirectory, "reference test-data not present")
    val fix = tmpDir("txt2txt")
    // the config's sample.csv shape: id,name,age,email,created_at
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$fix/sample.csv"),
      ("id,name,age,email,created_at\n" +
        "1,Alice,30,alice@example.com,2024-03-01\n" +
        "2,Bob,17,\\N,2024-05-02\n" +
        "3,Charlie,45,charlie@example.com,2024-07-03\n").getBytes("UTF-8"))
    val spec = JobConfig.fromFile(s"$refTestData/txtfile2txtfile.json")
    val res = RunJob.run(spark, spec, RunJob.Overrides(rebase = Seq(
      "/Users/longkeyy/GolandProjects/go-datax/test-data" -> fix))).head
    assert(res.rowsWritten === 3L)
    val back = spark.read.option("header", "true").option("nullValue", "\\N")
      .csv(s"$fix/output/result")
    assert(back.columns.toSeq === Seq("id", "name", "age", "email", "created_at"))
    assert(back.count() === 3)
    assert(back.filter($"email".isNull).count() === 1) // \N preserved
    // typed date column re-rendered with dateFormat 2006-01-02 → yyyy-MM-dd
    assert(back.filter($"id" === "1").select($"created_at").head.getString(0)
      .startsWith("2024-03-01"))
  }

  test("conflict-duplicate config: upsert replay converges to source state") {
    assume(refTestData.isDirectory, "reference test-data not present")
    val spec = JobConfig.fromFile(s"$refTestData/config-conflict-duplicate-test.json")
    // translated analog: the postgres endpoints are unreachable here, so the
    // reader override supplies the source table (WITH duplicate rows — the
    // conflict case) and the writer override routes the upsert through the
    // lake MERGE keyed on the config's splitPk
    val srcRows = Seq((1L, "a"), (2L, "b"), (3L, "c"), (2L, "b"), (3L, "c"))
    val lakeDir = tmpDir("dupLake") + "/t"
    val ov = RunJob.Overrides(
      source = Some(s => { import s.implicits._; srcRows.toDF("id", "v") }),
      sink = Some(SyncJob.Sink(format = "lake", path = lakeDir,
        writeMode = SyncJob.WriteMode.Upsert, keyCols = Seq("id"), numBuckets = 4)))
    RunJob.run(spark, spec, ov)
    RunJob.run(spark, spec, ov) // replayed job — duplicates must not stack
    val state = LakeTable.create(spark, lakeDir, Seq("id"), 4).read()
      .select($"id", $"v").as[(Long, String)].collect().toSet
    assert(state === Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("transformer-combined config: chain + errorLimit against an override source") {
    assume(refTestData.isDirectory, "reference test-data not present")
    val spec = JobConfig.fromFile(s"$refTestData/config-transformer-combined.json")
    assert(spec.errorLimit.record === 10L && spec.errorLimit.percentage === 0.05)
    val out = tmpDir("tcomb") + "/out"
    val ov = RunJob.Overrides(
      source = Some(s => { import s.implicits._
        Seq(("4", "test_user_x", "four@example.com"),
            ("6", "test_user_y", "a-very-long-email@example.com"),
            ("7", "plain", "short@e.x")).toDF("id", "name", "email") }),
      sink = Some(SyncJob.Sink(format = "parquet", path = out)))
    RunJob.run(spark, spec, ov)
    val got = spark.read.parquet(out).orderBy($"id")
      .as[(String, String, String)].collect().toSeq
    // dx_replace test_user→USER on name, dx_substr(0,10) on email,
    // dx_filter id>5 keeps only ids 6 and 7 (string compare like the reference)
    assert(got === Seq(
      ("6", "USER_y", "a-very-lon"),
      ("7", "plain", "short@e.x")))
  }

  test("txtfile_compress config: gzip output files, no header line") {
    assume(refTestData.isDirectory, "reference test-data not present")
    val fix = tmpDir("txtgz")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$fix/sample.csv"),
      "id,name,age,email,created_at\n1,Alice,30,a@e.com,2024-03-01\n2,Bob,17,b@e.com,2024-05-02\n"
        .getBytes("UTF-8"))
    val spec = JobConfig.fromFile(s"$refTestData/txtfile_compress.json")
    RunJob.run(spark, spec, RunJob.Overrides(rebase = Seq(
      "/Users/longkeyy/GolandProjects/go-datax/test-data" -> fix)))
    val outFiles = new File(s"$fix/output/compressed_result").listFiles()
      .filter(_.getName.endsWith(".gz"))
    assert(outFiles.nonEmpty, "no gzip part files written")
    val back = spark.read.option("header", "true").csv(s"$fix/output/compressed_result")
    // column ["*"] reads raw strings; this config writes a header list too
    assert(back.columns.toSeq === Seq("id", "name", "age", "email", "created_at"))
    assert(back.count() === 2)
  }

  test("txtfile_wildcard config: text fileFormat joins fields with the delimiter") {
    assume(refTestData.isDirectory, "reference test-data not present")
    val fix = tmpDir("txtwild")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$fix/sample.csv"),
      "id,name,age,email,created_at\n1,Alice,30,a@e.com,2024-03-01\n".getBytes("UTF-8"))
    val spec = JobConfig.fromFile(s"$refTestData/txtfile_wildcard.json")
    RunJob.run(spark, spec, RunJob.Overrides(rebase = Seq(
      "/Users/longkeyy/GolandProjects/go-datax/test-data" -> fix)))
    val lines = spark.read.text(s"$fix/output/wildcard_result").as[String].collect()
    // fileFormat=text with fieldDelimiter "|": one joined line per record
    assert(lines.toSeq === Seq("1|Alice|30|a@e.com|2024-03-01"))
  }

  test("jsonfile config: reference sample-data jsonl in, typed jsonl out") {
    assume(refTestData.isDirectory, "reference test-data not present")
    val fix = tmpDir("jsonfile")
    val spec = JobConfig.fromFile(s"$refTestData/config-jsonfile-test.json")
    // the config's reader path is relative (`../../test-data/sample-data/
    // *.jsonl`) — rebase onto the reference checkout; output onto tmp
    RunJob.run(spark, spec, RunJob.Overrides(rebase = Seq(
      "../../test-data" -> refTestData.toString,
      "/tmp/output" -> s"$fix/output")))
    val back = spark.read.json(s"$fix/output/converted_data")
    val srcN = spark.read.json(s"$refTestData/sample-data/*.jsonl").count()
    assert(back.count() === srcN)
    assert(back.columns.sorted.toSeq === Seq("active", "created_at", "email", "id", "name"))
    // typed projection: long id, boolean active, RFC3339 created_at parsed
    // (the reference's jsonfile date chain, jsonfile_reader.go:1152-1160)
    val row = back.filter($"id" === 1L).head
    assert(row.getAs[Boolean]("active") === true)
    assert(row.getAs[String]("created_at").startsWith("2023-01-01"))
    assert(back.filter($"created_at".isNull).count() === 0)
  }

  // ------------------------------------------------------------- Derby JDBC

  test("real jdbc write path: batched insert into Derby, read back via spark") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    JdbcExec.execStatements(url, Map.empty, Seq(
      """CREATE TABLE "users" ("id" BIGINT PRIMARY KEY, "name" VARCHAR(64), "score" DOUBLE)"""))
    val df = (1L to 100L).map(i => (i, s"u$i", i * 1.5)).toDF("id", "name", "score")
    // Sqlite dialect: ANSI double-quoting, scenario-4 plain INSERT — the
    // exact statement shape Derby accepts
    val written = JdbcExec.write(df, Dialect.Sqlite, url, "users",
      batchSize = 16, props = Map.empty)
    assert(written === 100L)
    val back = spark.read.jdbc(url, "\"users\"", new java.util.Properties())
    assert(back.count() === 100L)
    assert(back.agg(sum($"score")).head.getDouble(0) === (1 to 100).map(_ * 1.5).sum)
    // metadata PK discovery (the upsert forms' key source)
    val conn = java.sql.DriverManager.getConnection(url)
    try assert(JdbcExec.primaryKeys(conn, "users") === Seq("id"))
    finally conn.close()
  }

  test("jdbc write path binds NULL payload values via setNull with the parameter's type") {
    val url = "jdbc:derby:memory:graftnulls;create=true"
    JdbcExec.execStatements(url, Map.empty, Seq(
      "CREATE TABLE T (ID BIGINT PRIMARY KEY, S VARCHAR(32), D DOUBLE, TS TIMESTAMP)"))
    val rows = Seq(
      (1L, Some("a"), Some(1.5), Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))),
      (2L, None, None, None), // every nullable column NULL
      (3L, Some("c"), None, Some(java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))))
    val df = rows.toDF("ID", "S", "D", "TS")
    // Sqlite dialect against Derby: insert (scenario-4) — the shared bind loop
    assert(JdbcExec.write(df, Dialect.Sqlite, url, "T", writeMode = "insert") === 3L)
    // update/replace route through the same bind loop with PK discovery
    val df2 = Seq((4L, Some("filled"), Option.empty[Double],
      Option.empty[java.sql.Timestamp])).toDF("ID", "S", "D", "TS")
    assert(JdbcExec.write(df2, Dialect.Sqlite, url, "T", writeMode = "update") === 1L)
    val back = spark.read.jdbc(url, "T", new java.util.Properties())
    assert(back.count() === 4L) // sqlite 'update' is scenario-4 plain INSERT
    assert(back.filter($"S".isNull).count() === 1L)
    assert(back.filter($"D".isNull).count() === 3L)
    assert(back.filter($"TS".isNull).count() === 2L)
  }

  test("jdbc sink through the job runner: a full config against Derby") {
    val url = "jdbc:derby:memory:graftdb2;create=true"
    val spec = JobConfig.parse(s"""{
      "job": {"setting": {"speed": {"channel": 2}}, "content": [{
        "reader": {"name": "streamreader", "parameter": {"sliceRecordCount": 50,
          "column": [{"type": "long"}, {"type": "string", "value": "fixed"}]}},
        "writer": {"name": "sqlitewriter", "parameter": {
          "column": ["id", "name"], "writeMode": "insert", "batchSize": 10,
          "preSql": ["CREATE TABLE \\"events\\" (\\"id\\" BIGINT, \\"name\\" VARCHAR(32))"],
          "connection": [{"jdbcUrl": "$url", "table": ["events"]}]}}}]}}""")
    val res = RunJob.run(spark, spec).head
    assert(res.rowsWritten === 100L) // 2 channels × 50
    val back = spark.read.jdbc(url, "\"events\"", new java.util.Properties())
    assert(back.count() === 100L)
    assert(back.filter($"name" === "fixed").count() === 100L)
  }

  test("jdbc reader through the job runner: querySql pushdown against Derby") {
    val url = "jdbc:derby:memory:graftdb3;create=true"
    JdbcExec.execStatements(url, Map.empty, Seq(
      """CREATE TABLE "src" ("id" BIGINT, "v" VARCHAR(16))""",
      """INSERT INTO "src" VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')"""))
    val fix = tmpDir("jdbcread")
    // sqlitewriter-style ANSI quoting works against Derby; querySql becomes
    // the pushdown dbtable subquery (mysql_reader.go:70-81 shape)
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "sqlitereader", "parameter": {
        "querySql": "SELECT \\"id\\", \\"v\\" FROM \\"src\\" WHERE \\"id\\" > 1",
        "connection": [{"jdbcUrl": "$url", "table": ["src"]}]}},
      "writer": {"name": "hdfswriter", "parameter": {
        "path": "$fix", "fileName": "out", "fileType": "parquet",
        "writeMode": "truncate"}}}]}}""")
    val res = RunJob.run(spark, spec).head
    assert(res.rowsWritten === 3L)
    val back = spark.read.parquet(s"$fix/out")
    assert(back.select(sum($"id")).head.getLong(0) === 9L) // 2+3+4
  }

  // ---------------------------------------------------- runtime split probe

  test("splitPk probe: numeric key becomes sargable range predicates (Derby)") {
    val url = "jdbc:derby:memory:graftsplit1;create=true"
    JdbcExec.execStatements(url, Map.empty,
      "CREATE TABLE NUMS (ID BIGINT, V VARCHAR(16))" +:
        (1 to 100).grouped(50).map(g =>
          s"INSERT INTO NUMS VALUES ${g.map(i => s"($i,'v')").mkString(",")}").toSeq :+
        "INSERT INTO NUMS VALUES (NULL,'n1'), (NULL,'n2'), (NULL,'n3')")
    val plan = JdbcExec.probeSplit(url, Map.empty, Dialect.Sqlite, "NUMS", "ID", 4)
    // mysql_reader.go:214-255: step = ceil((100-1)/4) = 25, inclusive
    // contiguous ranges, last end forced to max; graft adds the NULL
    // catch-all to the first predicate (row-completeness)
    val preds = plan.asInstanceOf[JdbcExec.SplitPlan.Probed].predicates
    assert(preds === Seq(
      "(\"ID\" >= 1 AND \"ID\" <= 25) OR \"ID\" IS NULL",
      "\"ID\" >= 26 AND \"ID\" <= 50",
      "\"ID\" >= 51 AND \"ID\" <= 75",
      "\"ID\" >= 76 AND \"ID\" <= 100"))
    // the probed plan is row-complete: a 4-way read sees every row a
    // single-task read sees, INCLUDING the NULL-pk rows the reference drops
    val spec = JobConfig.parse(s"""{
      "job": {"setting": {"speed": {"channel": 4}}, "content": [{
        "reader": {"name": "sqlitereader", "parameter": {"splitPk": "ID",
          "connection": [{"jdbcUrl": "$url", "table": ["NUMS"]}]}},
        "writer": {"name": "streamwriter", "parameter": {}}}]}}""")
    val t = JobConfig.translate(spec).head
    val df = RunJob.buildInput(spark, t.reader, RunJob.Overrides())
    assert(df.rdd.getNumPartitions === 4) // one task per probed range
    assert(df.count() === 103L)
    val single = spark.read.jdbc(url, "NUMS", new java.util.Properties())
    assert(df.select(sum($"ID")).head.getLong(0) === single.select(sum($"ID")).head.getLong(0))
  }

  test("splitPk probe: text key samples sorted-distinct boundaries (Derby)") {
    val url = "jdbc:derby:memory:graftsplit2;create=true"
    JdbcExec.execStatements(url, Map.empty,
      "CREATE TABLE DOCS (K VARCHAR(8), N INT)" +:
        (0 until 40).map(i => f"INSERT INTO DOCS VALUES ('k$i%02d', $i)"))
    val plan = JdbcExec.probeSplit(url, Map.empty, Dialect.Sqlite, "DOCS", "K", 4)
    // mysql_reader.go:304-345: sample DISTINCT ORDER BY (≤10·n values),
    // boundary every (size/n)-th → k10/k20/k30; graft's ranges are
    // half-open (the reference's `<= end` reads boundary rows twice)
    val preds = plan.asInstanceOf[JdbcExec.SplitPlan.Probed].predicates
    assert(preds === Seq(
      "(\"K\" < 'k10') OR \"K\" IS NULL",
      "\"K\" >= 'k10' AND \"K\" < 'k20'",
      "\"K\" >= 'k20' AND \"K\" < 'k30'",
      "\"K\" >= 'k30'"))
    val p = new java.util.Properties()
    val df = spark.read.jdbc(url, "DOCS", preds.toArray, p)
    assert(df.rdd.getNumPartitions === 4)
    assert(df.count() === 40L) // disjoint complete cover, no double reads
  }

  test("splitPk probe fallbacks: all-NULL → single task, thin text → hash, dates → hash") {
    val url = "jdbc:derby:memory:graftsplit3;create=true"
    JdbcExec.execStatements(url, Map.empty, Seq(
      "CREATE TABLE EMPTYT (ID BIGINT)",
      "CREATE TABLE NULLT (ID BIGINT)", "INSERT INTO NULLT VALUES (NULL), (NULL)",
      "CREATE TABLE THIN (K VARCHAR(4))", "INSERT INTO THIN VALUES ('a'), ('b')",
      "CREATE TABLE DATED (D DATE)",
      "INSERT INTO DATED VALUES (DATE('2023-01-01'))"))
    import JdbcExec.SplitPlan._
    assert(JdbcExec.probeSplit(url, Map.empty, Dialect.Sqlite, "EMPTYT", "ID", 4) === SingleTask)
    assert(JdbcExec.probeSplit(url, Map.empty, Dialect.Sqlite, "NULLT", "ID", 4) === SingleTask)
    // 2 distinct values cannot bound 4 ranges (mysql_reader.go:335-337)
    assert(JdbcExec.probeSplit(url, Map.empty, Dialect.Sqlite, "THIN", "K", 4) === UseHash)
    // non-numeric non-text types have no probe strategy in the reference
    assert(JdbcExec.probeSplit(url, Map.empty, Dialect.Sqlite, "DATED", "D", 4) === UseHash)
    // the probe respects the translated pushdown subquery (where folded in,
    // mysql_reader.go:215-218): bounds come from the filtered rows only
    JdbcExec.execStatements(url, Map.empty, Seq(
      "CREATE TABLE WIDE (ID BIGINT)",
      "INSERT INTO WIDE VALUES (1),(2),(3),(50),(60),(70),(80),(1000)"))
    val sub = "(SELECT \"ID\" FROM WIDE WHERE \"ID\" < 100) graft_q"
    val preds = JdbcExec.probeSplit(url, Map.empty, Dialect.Sqlite, sub, "ID", 2)
      .asInstanceOf[JdbcExec.SplitPlan.Probed].predicates
    assert(preds === Seq(
      "(\"ID\" >= 1 AND \"ID\" <= 40) OR \"ID\" IS NULL", // step = ceil(79/2)
      "\"ID\" >= 41 AND \"ID\" <= 80"))
  }

  // ----------------------------------------------------------- lakereader

  test("lakereader→lakewriter config: replication converges to source state, replay applies 0") {
    val work = tmpDir("lakerepl")
    val src = LakeTable.create(spark, s"$work/src", Model.keyCols, 4)
    def ev(op: String, lsn: Long, conv: String, turn: Int, text: String) =
      Model.ChangeEvent(op, lsn, new java.sql.Timestamp(1704067200000L + lsn * 1000L),
        conv, turn, Some("user"), Some(text), None)
    src.merge(Seq(ev("I", 1, "a", 0, "v1"), ev("I", 2, "b", 0, "v1"),
      ev("I", 3, "c", 0, "v1")).toDF(), epoch = 0L)
    src.merge(Seq(ev("U", 4, "a", 0, "v2"), ev("D", 5, "b", 0, "")).toDF(), epoch = 1L)

    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "lakereader", "parameter": {"path": "$work/src"}},
      "writer": {"name": "lakewriter", "parameter": {"path": "$work/dst"}}}]}}""")
    val res = RunJob.run(spark, spec).head
    assert(res.rowsWritten > 0L)
    val dst = LakeTable.open(spark, s"$work/dst")
    assert(dst.keyCols === Model.keyCols) // fresh dst took the source's keys
    def state(t: LakeTable) = t.read().select("conv_id", "turn_idx", "text").collect().toSet
    assert(state(dst) === state(src))
    // replay: the same config applies nothing (epoch watermark)
    assert(RunJob.run(spark, spec).head.rowsWritten === 0L)
    // more source commits, re-run: converges again (incremental window)
    src.merge(Seq(ev("I", 6, "d", 0, "v1"), ev("U", 7, "c", 0, "v3")).toDF(), epoch = 2L)
    assert(RunJob.run(spark, spec).head.rowsWritten > 0L)
    assert(state(LakeTable.open(spark, s"$work/dst")) === state(src))
  }

  test("lakereader rollup config matches the programmatic Rollup.sync output") {
    val work = tmpDir("lakeroll")
    val src = LakeTable.create(spark, s"$work/src", Model.keyCols, 4)
    def ev(op: String, lsn: Long, conv: String, turn: Int) =
      Model.ChangeEvent(op, lsn, new java.sql.Timestamp(1704067200000L + lsn * 1000L),
        conv, turn, Some("user"), Some("x" * (turn + 1)), None)
    src.merge((0 until 30).map(i => ev("I", i.toLong, s"c${i % 5}", i / 5)).toDF(), epoch = 0L)
    src.merge(Seq(ev("D", 100, "c0", 0), ev("U", 101, "c1", 1)).toDF(), epoch = 1L)

    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "lakereader", "parameter": {"path": "$work/src",
        "aggregations": [{"name": "n_turns", "expr": "count(1)"},
                         {"name": "n_chars", "expr": "sum(length(text))"},
                         {"name": "last_ts", "expr": "max(ts)"}]}},
      "writer": {"name": "lakewriter", "parameter": {
        "path": "$work/dst", "primaryKey": ["conv_id"], "buckets": 2}}}]}}""")
    RunJob.run(spark, spec)

    // oracle: the programmatic rollup into a SEPARATE destination
    val progDst = LakeTable.create(spark, s"$work/prog", Seq("conv_id"), 2)
    graft.lake.Rollup.sync(src, progDst, Seq(count(lit(1)).as("n_turns"),
      sum(length($"text")).as("n_chars"), max($"ts").as("last_ts")))
    val got = LakeTable.open(spark, s"$work/dst").read()
      .select("conv_id", "n_turns", "n_chars", "last_ts").collect().toSet
    val want = progDst.read()
      .select("conv_id", "n_turns", "n_chars", "last_ts").collect().toSet
    assert(got === want)
    // incremental: more changes, re-run refreshes only dirty groups but
    // still matches a from-scratch recompute
    src.merge(Seq(ev("I", 102, "c9", 0)).toDF(), epoch = 2L)
    RunJob.run(spark, spec)
    val want2 = src.read().groupBy("conv_id").agg(count(lit(1)).as("n_turns"),
        sum(length($"text")).as("n_chars"), max($"ts").as("last_ts"))
      .collect().toSet
    val got2 = LakeTable.open(spark, s"$work/dst").read()
      .select("conv_id", "n_turns", "n_chars", "last_ts").collect().toSet
    assert(got2 === want2)
  }

  test("lakereader additive rollup config: no-live-scan sums over a mutating group from JSON") {
    val work = tmpDir("lakerolladd")
    val src = LakeTable.create(spark, s"$work/src", Model.keyCols, 4)
    def ev(op: String, lsn: Long, conv: String, turn: Int, role: String) =
      Model.ChangeEvent(op, lsn, new java.sql.Timestamp(1704067200000L + lsn * 1000L),
        conv, turn, Some(role), Some("x" * (turn + 1)), None)
    src.merge((0 until 30).map(i =>
      ev("I", i.toLong, s"c${i % 5}", i / 5, if (i % 2 == 0) "user" else "assistant"))
      .toDF(), epoch = 0L)

    // group by ROLE (a non-key, mutable payload column) with per-row sum exprs
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "lakereader", "parameter": {"path": "$work/src",
        "additive": true,
        "aggregations": [{"name": "n_chars", "expr": "length(text)"}]}},
      "writer": {"name": "lakewriter", "parameter": {
        "path": "$work/dst", "primaryKey": ["role"], "buckets": 2}}}]}}""")
    RunJob.run(spark, spec)
    def want() = src.read().groupBy("role").agg(
      sum(length($"text")).as("n_chars"), count(lit(1)).as("n_live"))
      .collect().toSet
    def got() = LakeTable.open(spark, s"$work/dst").read()
      .select("role", "n_chars", "n_live").collect().toSet
    assert(got() === want())
    // a MOVE between groups plus a delete, re-run: deltas land exactly
    src.merge(Seq(ev("U", 100, "c0", 0, "assistant"),
      ev("D", 101, "c1", 0, "user")).toDF(), epoch = 1L)
    assert(RunJob.run(spark, spec).head.rowsWritten > 0L)
    assert(got() === want())
    // replay is epoch-skipped
    assert(RunJob.run(spark, spec).head.rowsWritten === 0L)

    // additive without aggregations is rejected at translate time
    val e = intercept[IllegalArgumentException](
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "lakereader", "parameter": {"path": "$work/src", "additive": true}},
        "writer": {"name": "lakewriter", "parameter": {
          "path": "$work/dst2", "primaryKey": ["role"]}}}]}}""")))
    assert(e.getMessage.contains("additive"))
  }

  test("lakereader with a file writer exports the resolved state; aggregations without lakewriter fail") {
    val work = tmpDir("lakeexp")
    val src = LakeTable.create(spark, s"$work/src", Model.keyCols, 2)
    def ev(op: String, lsn: Long, conv: String, turn: Int) =
      Model.ChangeEvent(op, lsn, new java.sql.Timestamp(1704067200000L + lsn * 1000L),
        conv, turn, Some("user"), Some("t"), None)
    src.merge(Seq(ev("I", 1, "a", 0), ev("I", 2, "b", 0), ev("D", 3, "b", 0)).toDF(),
      epoch = 0L)
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "lakereader", "parameter": {"path": "$work/src"}},
      "writer": {"name": "hdfswriter", "parameter": {
        "path": "$work/out", "fileName": "exp", "fileType": "parquet",
        "writeMode": "truncate"}}}]}}""")
    val res = RunJob.run(spark, spec).head
    assert(res.rowsWritten === 1L) // b was tombstoned
    assert(spark.read.parquet(s"$work/out/exp").count() === 1L)
    val bad = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "lakereader", "parameter": {"path": "$work/src",
          "aggregations": [{"name": "n", "expr": "count(1)"}]}},
        "writer": {"name": "streamwriter", "parameter": {}}}]}}"""))
    }
    assert(bad.getMessage.contains("lakewriter destination"))
  }

  test("lakereader export with where/column: filtered projection, filter file-skips") {
    val work = tmpDir("lakeexpw")
    // targetFileRows slices each bucket's publish into contiguous key
    // ranges, so the key-bounds pruner has files it can actually drop
    val src = LakeTable.create(spark, s"$work/src", Model.keyCols, 2,
      targetFileRows = Some(8L))
    def ev(lsn: Long, conv: String, turn: Int) =
      Model.ChangeEvent("I", lsn, new java.sql.Timestamp(1704067200000L + lsn * 1000L),
        conv, turn, Some("user"), Some(s"t$lsn"), None)
    src.merge((0 until 40).map(i => ev(i.toLong, f"c$i%03d", 0)).toDF(), epoch = 0L)
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "lakereader", "parameter": {"path": "$work/src",
        "where": "conv_id >= 'c030'", "column": ["conv_id", "text"]}},
      "writer": {"name": "hdfswriter", "parameter": {
        "path": "$work/out", "fileName": "exp", "fileType": "parquet",
        "writeMode": "truncate"}}}]}}""")
    assert(RunJob.run(spark, spec).head.rowsWritten === 10L)
    val out = spark.read.parquet(s"$work/out/exp")
    assert(out.columns.toSeq === Seq("conv_id", "text"))
    assert(out.count() === 10L)
    // the predicate reached the manifest pruner: strictly fewer files scanned
    val (kept, total) = src.pruneCounts(col("conv_id") >= "c030")
    assert(total > 1 && kept < total, s"no file skip: kept $kept of $total")
    // filtered replication is rejected at translate time (silent divergence)
    val bad = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "lakereader", "parameter": {"path": "$work/src",
          "where": "turn_idx = 0"}},
        "writer": {"name": "lakewriter", "parameter": {"path": "$work/d"}}}]}}"""))
    }
    assert(bad.getMessage.contains("export"))
  }

  test("lakereader tag pin: export reproduces the tagged cut after GC; pins are exclusive") {
    val work = tmpDir("laketag")
    val src = LakeTable.create(spark, s"$work/src", Model.keyCols, 2)
    def ev(lsn: Long, conv: String, text: String) =
      Model.ChangeEvent("U", lsn, new java.sql.Timestamp(1704067200000L + lsn * 1000L),
        conv, 0, Some("user"), Some(text), None)
    src.merge(Seq(ev(1, "a", "v1"), ev(2, "b", "v1")).toDF(), epoch = 0L)
    src.tag("train-cut")
    src.merge(Seq(ev(3, "a", "v2"), ev(4, "c", "v2")).toDF(), epoch = 1L)
    src.compactAll()
    // the harshest retention between the tag and the read-back
    src.vacuum(0)
    src.expireSnapshots(1)

    def export(params: String, out: String): Long = {
      val spec = JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "lakereader", "parameter": {"path": "$work/src"$params}},
        "writer": {"name": "hdfswriter", "parameter": {
          "path": "$work/$out", "fileName": "exp", "fileType": "parquet",
          "writeMode": "truncate"}}}]}}""")
      RunJob.run(spark, spec).head.rowsWritten
    }
    assert(export(""",  "tag": "train-cut"""", "cut") === 2L)
    val cut = spark.read.parquet(s"$work/cut/exp")
    assert(cut.select("conv_id", "text").collect().map(r => (r.getString(0), r.getString(1)))
      .toSet === Set(("a", "v1"), ("b", "v1")))
    assert(export("", "head") === 3L) // the head moved on: a=v2, b=v1, c=v2
    // a tag also bounds a change-window export (toVersion by name): the tag
    // pins version 0 itself, so the window (0, tag] is empty by construction
    assert(export(""",  "fromVersion": 0, "tag": "train-cut"""", "win") === 0L)

    // double pin and unknown tag fail sharply
    val dbl = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "lakereader", "parameter": {"path": "$work/src",
          "tag": "train-cut", "toVersion": 0}},
        "writer": {"name": "streamwriter", "parameter": {}}}]}}"""))
    }
    assert(dbl.getMessage.contains("one"))
    val unk = intercept[IllegalArgumentException] { export(""",  "tag": "nope"""", "x") }
    assert(unk.getMessage.contains("unknown tag"))

    // asOf pins by wall-clock commit time: version 0's own commit instant
    // resolves to the same cut the tag pinned (v0's manifest survived the
    // expireSnapshots above only BECAUSE the tag exempts it)
    val v0ts = src.history().filter("version = 0").collect().head
      .getTimestamp(1).toString
    assert(export(s""",  "asOf": "$v0ts"""", "asof") === 2L)
    assert(spark.read.parquet(s"$work/asof/exp").select("conv_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet === Set(("a", "v1"), ("b", "v1")))
    val dblAsOf = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "lakereader", "parameter": {"path": "$work/src",
          "tag": "train-cut", "asOf": "$v0ts"}},
        "writer": {"name": "streamwriter", "parameter": {}}}]}}"""))
    }
    assert(dblAsOf.getMessage.contains("one"))
    val badTs = intercept[IllegalArgumentException] { export(""",  "asOf": "not-a-time"""", "y") }
    assert(badTs.getMessage.contains("ISO-8601"))
  }

  // ------------------------------------------------------- cdc streaming pair

  test("cdcreader+lakewriter config: availableNow drain reaches the LWW state, replay is a no-op") {
    val cfg = Gen.GenConfig(nEvents = 6000L, nConvs = 80L, partitions = 4)
    val work = tmpDir("cdcjob")
    Gen.writeChangeLog(spark, cfg, s"$work/log", nChunks = 4)
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$work/log", "checkpoint": "$work/cp", "maxFilesPerTrigger": 2}},
      "writer": {"name": "lakewriter", "parameter": {
        "path": "$work/lake", "primaryKey": ["conv_id", "turn_idx"], "buckets": 4,
        "distributionColumns": ["conv_id"], "targetFileRows": 400}}}]}}""")
    val res = RunJob.run(spark, spec).head
    assert(res.rowsWritten > 0L)
    assert(res.bytesWritten > 0L)
    val opened = LakeTable.open(spark, s"$work/lake")
    // the JSON layout reached the manifest: bucketed on conv_id alone
    assert(opened.distributionCols === Seq("conv_id"))
    // the JSON file-size knob reached publish: every file respects the cap
    assert(opened.currentSnapshot().files.forall(_.rows <= 400L),
      "targetFileRows from the JSON spec did not cap published files")
    val got = opened.read()
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val want = Gen.expectedState(spark, cfg).toDF()
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() + want.exceptAll(got).count() === 0L)
    // the same config re-run resumes from its checkpoint: end-of-log,
    // nothing re-applied (the exactly-once restart contract through the
    // JSON entry point, not just the programmatic API)
    val res2 = RunJob.run(spark, spec).head
    assert(res2.rowsWritten === 0L)
  }

  test("lakewriter followers: replica and rollup ride the streaming job from JSON") {
    val cfg = Gen.GenConfig(nEvents = 6000L, nConvs = 80L, partitions = 4)
    val work = tmpDir("cdcjob-f")
    Gen.writeChangeLog(spark, cfg, s"$work/log", nChunks = 4)
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$work/log", "checkpoint": "$work/cp", "maxFilesPerTrigger": 2}},
      "writer": {"name": "lakewriter", "parameter": {
        "path": "$work/lake", "primaryKey": ["conv_id", "turn_idx"], "buckets": 4,
        "followers": [
          {"path": "$work/replica", "buckets": 2},
          {"path": "$work/roll", "primaryKey": ["conv_id"], "buckets": 2,
           "aggregations": [{"name": "n_turns", "expr": "count(1)"},
                            {"name": "last_ts", "expr": "max(ts)"}]}
        ]}}}]}}""")
    RunJob.run(spark, spec)
    val want = Gen.expectedState(spark, cfg).toDF()
    // replica (keys inherited from the ingest table) reaches the LWW state
    val gotR = LakeTable.open(spark, s"$work/replica").read()
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    assert(gotR.exceptAll(want).count() + want.exceptAll(gotR).count() === 0L)
    // rollup equals the from-scratch aggregate of the final state
    val gotA = LakeTable.open(spark, s"$work/roll").read()
      .select("conv_id", "n_turns", "last_ts")
    val wantA = want.groupBy("conv_id")
      .agg(expr("count(1)").as("n_turns"), expr("max(ts)").as("last_ts"))
    assert(gotA.exceptAll(wantA).count() + wantA.exceptAll(gotA).count() === 0L)
    // followers on a batch lake→lake chain are rejected at translate time
    val bad = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "lakereader", "parameter": {"path": "$work/lake"}},
        "writer": {"name": "lakewriter", "parameter": {
          "path": "$work/d2", "followers": [{"path": "$work/d3"}]}}}]}}"""))
    }
    assert(bad.getMessage.contains("streaming"))
  }

  test("history follower: an SCD2 validity-interval table rides the streaming job from JSON") {
    val cfg = Gen.GenConfig(nEvents = 6000L, nConvs = 80L, partitions = 4)
    val work = tmpDir("cdcjob-h")
    Gen.writeChangeLog(spark, cfg, s"$work/log", nChunks = 4)
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$work/log", "checkpoint": "$work/cp", "maxFilesPerTrigger": 2}},
      "writer": {"name": "lakewriter", "parameter": {
        "path": "$work/lake", "primaryKey": ["conv_id", "turn_idx"], "buckets": 4,
        "followers": [{"path": "$work/hist", "history": true}]}}}]}}""")
    val desc = RunJob.describe(JobConfig.translate(spec).head)
    assert(desc.contains(s"follower: scd2 $work/hist"), desc)
    RunJob.run(spark, spec)
    val hist = LakeTable.open(spark, s"$work/hist")
    assert(hist.keyCols === Seq("conv_id", "turn_idx", "scd_seq"))
    val rows = hist.read()
    // open rows are exactly the final LWW state
    val open = rows.filter(col("is_current"))
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val want = Gen.expectedState(spark, cfg).toDF()
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    assert(open.exceptAll(want).count() + want.exceptAll(open).count() === 0L)
    // interval soundness per key: bounds ordered, the chain is linked (each
    // vt reaches at most the next interval's vf — strictly less across a
    // delete→re-insert gap, equal otherwise), and the open row comes last
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("conv_id", "turn_idx").orderBy("vf_lsn")
    val chain = rows
      .withColumn("nvf", lead("vf_lsn", 1).over(w))
      .withColumn("bad",
        (col("vt_lsn").isNotNull && col("vt_lsn") <= col("vf_lsn")) ||
        (col("nvf").isNotNull && (col("vt_lsn").isNull || col("vt_lsn") > col("nvf"))) ||
        (col("is_current") && col("nvf").isNotNull))
    assert(chain.filter(col("bad")).count() === 0L, "broken validity chain")
    // re-running the drained job extends nothing
    val n = rows.count()
    RunJob.run(spark, spec)
    assert(LakeTable.open(spark, s"$work/hist").read().count() === n)
    // a history follower with aggregations is rejected at translate time
    val bad = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "cdcreader", "parameter": {
          "path": "$work/log", "checkpoint": "$work/cp2"}},
        "writer": {"name": "lakewriter", "parameter": {
          "path": "$work/lake2", "primaryKey": ["conv_id", "turn_idx"],
          "followers": [{"path": "$work/h2", "history": true,
            "primaryKey": ["conv_id"],
            "aggregations": [{"name": "n", "expr": "count(1)"}]}]}}}]}}"""))
    }
    assert(bad.getMessage.contains("history"))
  }

  test("lakewriter sortColumns: clustered layout from JSON, rejected without targetFileRows") {
    val cfg = Gen.GenConfig(nEvents = 3000L, nConvs = 40L, partitions = 4)
    val work = tmpDir("cdcjob-sort")
    Gen.writeChangeLog(spark, cfg, s"$work/log", nChunks = 2)
    RunJob.run(spark, JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$work/log", "checkpoint": "$work/cp"}},
      "writer": {"name": "lakewriter", "parameter": {
        "path": "$work/lake", "primaryKey": ["conv_id", "turn_idx"], "buckets": 4,
        "targetFileRows": 500, "sortColumns": ["ts"]}}}]}}"""))
    // clustering persisted in the manifest; state unaffected by the re-sort
    val tab = LakeTable.open(spark, s"$work/lake")
    assert(tab.sortCols === Seq("ts"))
    assertResult(Gen.expectedState(spark, cfg).count()) {
      tab.read().count()
    }
    // sortColumns without targetFileRows is a plan-time error (clustering
    // only tightens bounds when buckets slice into multiple files)
    val bad = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "cdcreader", "parameter": {
          "path": "$work/log", "checkpoint": "$work/cp2"}},
        "writer": {"name": "lakewriter", "parameter": {
          "path": "$work/lake2", "primaryKey": ["conv_id", "turn_idx"],
          "sortColumns": ["ts"]}}}]}}"""))
    }
    assert(bad.getMessage.contains("targetFileRows"))
  }

  test("streaming schema evolution: restart the cdcreader with a widened column list") {
    // the operational path the CdcPipeline scaladoc prescribes (read schema
    // is fixed at stream start): when the SOURCE grows a column, stop the
    // stream, widen the typed `column` specs, restart on the SAME
    // checkpoint — offsets resume (consumed chunks are not re-read), new
    // chunks flow with the new column, and the lake merge evolves the
    // stored schema additively (old rows null-filled)
    val work = tmpDir("cdcjob-evo")
    import spark.implicits._
    (1L to 100L).map(i => ("I", i, i % 20, s"v$i"))
      .toDF("op", "lsn", "id", "val")
      .write.mode("append").parquet(s"$work/log")
    def job(cols: String) = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$work/log", "checkpoint": "$work/cp", "column": [$cols]}},
      "writer": {"name": "lakewriter", "parameter": {
        "path": "$work/lake", "primaryKey": ["id"], "buckets": 2}}}]}}""")
    RunJob.run(spark, job("""{"name":"id","type":"long"},{"name":"val","type":"string"}"""))
    val v1 = LakeTable.open(spark, s"$work/lake")
    assert(!v1.currentSnapshot().schema.get.fieldNames.contains("score"))
    assert(v1.read().count() === 20L)
    // the source evolved: new chunk carries `score`; updates touch half the keys
    (101L to 150L).map(i => ("U", i, i % 10, s"w$i", i.toDouble))
      .toDF("op", "lsn", "id", "val", "score")
      .write.mode("append").parquet(s"$work/log")
    RunJob.run(spark, job("""{"name":"id","type":"long"},{"name":"val","type":"string"},
      {"name":"score","type":"double"}"""))
    val got = LakeTable.open(spark, s"$work/lake").read()
    assert(got.schema.fieldNames.contains("score"))
    assert(got.count() === 20L)
    // keys 0..9 were rewritten by chunk2 (score present), 10..19 pre-date
    // the evolution and are null-filled
    assert(got.where(col("id") < 10 && col("score").isNotNull).count() === 10L)
    assert(got.where(col("id") >= 10 && col("score").isNull).count() === 10L)
  }

  test("feed follower: the streaming job maintains an envelope outbox a second job replays") {
    val cfg = Gen.GenConfig(nEvents = 4000L, nConvs = 50L, partitions = 4)
    val work = tmpDir("cdcjob-feed")
    Gen.writeChangeLog(spark, cfg, s"$work/log", nChunks = 4)
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$work/log", "checkpoint": "$work/cp", "maxFilesPerTrigger": 2}},
      "writer": {"name": "lakewriter", "parameter": {
        "path": "$work/lake", "primaryKey": ["conv_id", "turn_idx"], "buckets": 4,
        "followers": [{"path": "$work/feed", "format": "debezium"}]}}}]}}""")
    val desc = RunJob.describe(JobConfig.translate(spec).head)
    assert(desc.contains(s"follower: feed[debezium] $work/feed"), desc)
    RunJob.run(spark, spec)
    // the follower ran inside each micro-batch: one window marker per epoch
    val markers = new java.io.File(s"$work/feed").list().toSeq.filter(_.endsWith(".ok"))
    assert(markers.size >= 2, s"expected one feed window per epoch, got $markers")
    // a second job tails the outbox into a fresh lake and converges to the
    // ingest table's LWW state (delete images ride the debezium `before`)
    RunJob.run(spark, JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$work/feed", "format": "debezium", "checkpoint": "$work/cp2"}},
      "writer": {"name": "lakewriter", "parameter": {
        "path": "$work/dst", "primaryKey": ["conv_id", "turn_idx"],
        "buckets": 2}}}]}}"""))
    val want = Gen.expectedState(spark, cfg).toDF()
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val got = LakeTable.open(spark, s"$work/dst").read()
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    assert(got.exceptAll(want).count() + want.exceptAll(got).count() === 0L)
  }

  test("cdcreader envelope format: debezium JSONL tail with a DLQ through the job runner") {
    val cfg = Gen.GenConfig(nEvents = 3000L, nConvs = 40L, partitions = 4)
    val work = tmpDir("cdcjobenv")
    CdcEnvelope.encodeDebezium(Gen.changeEvents(spark, cfg).toDF(),
        Seq("ts", "conv_id", "turn_idx", "role", "text", "tool"), Model.keyCols)
      .repartition(3).write.text(s"$work/jlog")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/jlog/part-x.txt"),
      "corrupt line\n".getBytes("UTF-8"))
    // lakewriter with no primaryKey: a fresh table takes the model default
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$work/jlog", "format": "debezium",
        "checkpoint": "$work/cp", "dlqPath": "$work/dlq"}},
      "writer": {"name": "lakewriter", "parameter": {"path": "$work/lake"}}}]}}""")
    RunJob.run(spark, spec)
    val got = LakeTable.open(spark, s"$work/lake").read()
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val want = Gen.expectedState(spark, cfg).toDF()
    assert(got.exceptAll(want).count() + want.exceptAll(got).count() === 0L)
    // the corrupt line is dead-lettered verbatim, not silently dropped
    assert(spark.read.text(s"$work/dlq/epoch=*").count() === 1L)
  }

  test("cdc pair validation: cdcreader/lakewriter are all-or-nothing, describe renders the tail") {
    def spec(r: String, w: String) = JobConfig.parse(
      s"""{"job": {"content": [{"reader": $r, "writer": $w}]}}""")
    val cdcR = """{"name": "cdcreader", "parameter": {"path": "/x/log", "checkpoint": "/x/cp"}}"""
    val lakeW = """{"name": "lakewriter", "parameter": {"path": "/x/lake", "primaryKey": ["id"]}}"""
    val fileW = """{"name": "hdfswriter", "parameter": {
      "path": "/x/o", "fileName": "f", "fileType": "parquet", "writeMode": "truncate"}}"""
    val streamR = """{"name": "streamreader", "parameter": {
      "sliceRecordCount": 1, "column": [{"type": "long"}]}}"""
    val e1 = intercept[IllegalArgumentException](JobConfig.translate(spec(cdcR, fileW)))
    assert(e1.getMessage.contains("must pair with lakewriter"))
    val e2 = intercept[IllegalArgumentException](JobConfig.translate(spec(streamR, lakeW)))
    assert(e2.getMessage.contains("must pair with cdcreader"))
    val e3 = intercept[IllegalArgumentException](JobConfig.translate(spec(
      """{"name": "cdcreader", "parameter": {"path": "/x/log"}}""", lakeW)))
    assert(e3.getMessage.contains("checkpoint"))
    val e4 = intercept[IllegalArgumentException](JobConfig.translate(spec(
      """{"name": "cdcreader", "parameter": {"path": "/x", "checkpoint": "/c", "mode": "nope"}}""",
      lakeW)))
    assert(e4.getMessage.contains("availableNow|continuous"))
    val desc = RunJob.describe(JobConfig.translate(spec(cdcR, lakeW)).head)
    assert(desc.contains("cdc-tail[parquet]"))
    assert(desc.contains("lake-merge /x/lake"))
    assert(desc.contains("mode=availableNow"))
    // clickhouse can't take the per-key CDC apply (no conflict clause, no
    // standard DELETE) — sharp plan-time error pointing at the lake route
    val chW = """{"name": "clickhousewriter", "parameter": {"writeMode": "update",
      "connection": [{"jdbcUrl": "jdbc:ch://x/db", "table": ["t"]}]}}"""
    val e5 = intercept[IllegalArgumentException](JobConfig.translate(spec(cdcR, chW)))
    assert(e5.getMessage.contains("ReplacingMergeTree"))
  }

  // ------------------------------------------------------------- CDC-out

  test("lakereader fromVersion + cdcwriter: a debezium feed another graft job replays to convergence") {
    val work = tmpDir("cdcout")
    val src = LakeTable.create(spark, s"$work/src", Model.keyCols, 4)
    def ev(op: String, lsn: Long, conv: String, turn: Int, text: String) =
      Model.ChangeEvent(op, lsn, new java.sql.Timestamp(1704067200000L + lsn * 1000L),
        conv, turn, Some("user"), Some(text), None)
    src.merge(Seq(ev("I", 1, "a", 0, "v1"), ev("I", 2, "b", 0, "v1"),
      ev("I", 3, "c", 0, "v1")).toDF(), epoch = 0L)
    src.merge(Seq(ev("U", 4, "a", 0, "v2"), ev("D", 5, "b", 0, "")).toDF(), epoch = 1L)
    val v0 = src.currentSnapshot().version

    // bootstrap feed: the full LWW state INCLUDING the tombstone on b
    val exportBoot = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "lakereader", "parameter": {"path": "$work/src",
        "fromVersion": -1}},
      "writer": {"name": "cdcwriter", "parameter": {"path": "$work/out",
        "format": "debezium", "onConflictColumn": ["conv_id", "turn_idx"],
        "writeMode": "append"}}}]}}""")
    assert(RunJob.run(spark, exportBoot).head.rowsWritten === 3L) // a, b(D), c
    // the feed is plain Debezium JSONL — any downstream consumer's shape
    val feed = spark.read.json(s"$work/out/feed")
    assert(feed.columns.toSet === Set("before", "after", "op", "ts_ms", "source"))
    assert(feed.filter($"op" === "d").count() === 1L)

    // a second graft job replays the feed through the streaming pair
    val replay = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$work/out/feed", "format": "debezium", "checkpoint": "$work/cp"}},
      "writer": {"name": "lakewriter", "parameter": {
        "path": "$work/dst", "primaryKey": ["conv_id", "turn_idx"], "buckets": 2}}}]}}""")
    RunJob.run(spark, replay)
    def state(t: LakeTable) = t.read().select("conv_id", "turn_idx", "text").collect().toSet
    assert(state(LakeTable.open(spark, s"$work/dst")) === state(src))

    // incremental: export only the window past v0, append to the SAME feed
    // dir — the replaying job's checkpoint picks up just the new files
    src.merge(Seq(ev("I", 6, "d", 0, "v1"), ev("U", 7, "c", 0, "v3")).toDF(), epoch = 2L)
    val exportWin = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "lakereader", "parameter": {"path": "$work/src",
        "fromVersion": $v0}},
      "writer": {"name": "cdcwriter", "parameter": {"path": "$work/out",
        "format": "debezium", "onConflictColumn": ["conv_id", "turn_idx"],
        "writeMode": "append"}}}]}}""")
    assert(RunJob.run(spark, exportWin).head.rowsWritten === 2L) // d(I), c(U)
    RunJob.run(spark, replay)
    assert(state(LakeTable.open(spark, s"$work/dst")) === state(src))

    // guards: a change export cannot feed a lakewriter (replication already
    // ships the window); debezium needs the delete key image
    val bad1 = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "lakereader", "parameter": {"path": "$work/src",
          "fromVersion": -1}},
        "writer": {"name": "lakewriter", "parameter": {"path": "$work/d2"}}}]}}"""))
    }
    assert(bad1.getMessage.contains("CDC-out"))
    val bad2 = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "lakereader", "parameter": {"path": "$work/src",
          "fromVersion": -1}},
        "writer": {"name": "cdcwriter", "parameter": {"path": "$work/o2",
          "format": "debezium"}}}]}}"""))
    }
    assert(bad2.getMessage.contains("onConflictColumn"))
    // dry-run shape
    val desc = RunJob.describe(JobConfig.translate(exportWin).head)
    assert(desc.contains(s"changes[($v0, head]"))
    assert(desc.contains("file[debezium]"))
  }

  test("cdcwriter canal and maxwell feeds replay to the same converged state") {
    // debezium is the primary round-trip (lossless source.lsn); canal scales
    // lsn by the batch stride and maxwell recomposes it from the binlog
    // position — both ORDER-PRESERVING, so a replayed lake converges to the
    // same LWW state even though raw lsn values may differ
    val work = tmpDir("cdcoutcm")
    val src = LakeTable.create(spark, s"$work/src", Model.keyCols, 4)
    def ev(op: String, lsn: Long, conv: String, turn: Int, text: String) =
      Model.ChangeEvent(op, lsn, new java.sql.Timestamp(1704067200000L + lsn * 1000L),
        conv, turn, Some("user"), Some(text), None)
    src.merge(Seq(ev("I", 1, "a", 0, "v1"), ev("I", 2, "b", 0, "v1"),
      ev("U", 3, "a", 0, "v2"), ev("D", 4, "b", 0, "")).toDF(), epoch = 0L)
    def state(t: LakeTable) = t.read().select("conv_id", "turn_idx", "text").collect().toSet
    Seq("canal", "maxwell").foreach { fmt =>
      RunJob.run(spark, JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "lakereader", "parameter": {"path": "$work/src",
          "fromVersion": -1}},
        "writer": {"name": "cdcwriter", "parameter": {"path": "$work/$fmt",
          "format": "$fmt"}}}]}}"""))
      RunJob.run(spark, JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "cdcreader", "parameter": {
          "path": "$work/$fmt/feed", "format": "$fmt", "checkpoint": "$work/$fmt-cp"}},
        "writer": {"name": "lakewriter", "parameter": {
          "path": "$work/$fmt-dst", "primaryKey": ["conv_id", "turn_idx"],
          "buckets": 2}}}]}}"""))
      assert(state(LakeTable.open(spark, s"$work/$fmt-dst")) === state(src),
        s"$fmt feed did not converge")
    }
  }

  // ----------------------------------------------- cdc into a live database

  test("cdcreader→RDBMS writer: streaming apply into Derby with deletes and an epoch ledger") {
    val url = "jdbc:derby:memory:cdcapply;create=true"
    val work = tmpDir("cdcapply")
    // lsn-RANGE chunks: epoch order == lsn order across epochs (the
    // no-cross-epoch-reorder contract a versionless target needs — see
    // CdcPipeline.JdbcDest; reorders WITHIN an epoch are absorbed by the
    // per-epoch LWW dedupe), duplicates off so lsns are unique
    val cfg = Gen.GenConfig(nEvents = 3000L, nConvs = 50L, partitions = 4, dupEvery = 0L)
    val ev = Gen.changeEvents(spark, cfg).toDF()
    (0 until 4).foreach { c =>
      val hi = if (c == 3) Long.MaxValue else (c + 1) * 750L
      ev.filter($"lsn" >= c * 750L && $"lsn" < hi)
        .repartition(2).write.mode("append").parquet(s"$work/log")
    }
    JdbcExec.execStatements(url, Map.empty, Seq(
      """CREATE TABLE "turns" ("ts" TIMESTAMP, "conv_id" VARCHAR(64) NOT NULL, """ +
        """"turn_idx" INT NOT NULL, "role" VARCHAR(32), "text" VARCHAR(512), """ +
        """"tool" VARCHAR(64), PRIMARY KEY ("conv_id", "turn_idx"))"""))
    // sqlitewriter = ANSI quoting Derby accepts; no onConflictColumn — the
    // conflict columns come from the target's PK metadata, like the
    // reference's writers
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$work/log", "checkpoint": "$work/cp", "maxFilesPerTrigger": 2}},
      "writer": {"name": "sqlitewriter", "parameter": {
        "writeMode": "update", "batchSize": 100,
        "connection": [{"jdbcUrl": "$url", "table": ["turns"]}]}}}]}}""")
    val res = RunJob.run(spark, spec).head
    assert(res.rowsWritten > 0L)

    def target() = spark.read.jdbc(url, "\"turns\"", new java.util.Properties())
      .select($"ts", $"conv_id", $"turn_idx", $"role", $"text", $"tool")
    val want = Gen.expectedState(spark, cfg).toDF()
      .select($"ts", $"conv_id", $"turn_idx", $"role", $"text", $"tool")
    val got = target()
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() + want.exceptAll(got).count() === 0L)

    // same checkpoint: resumes at end-of-log, applies nothing
    assert(RunJob.run(spark, spec).head.rowsWritten === 0L)
    // checkpoint REBUILT from scratch: every epoch replays, the TARGET-side
    // ledger skips them all — exactly-once end state without the checkpoint
    val cpPath = new org.apache.hadoop.fs.Path(s"$work/cp")
    cpPath.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(cpPath, true)
    assert(RunJob.run(spark, spec).head.rowsWritten === 0L)
    val after = target()
    assert(after.count() === want.count())
    assert(after.exceptAll(want).count() + want.exceptAll(after).count() === 0L)
    // one ledger row per applied epoch under the default writer id
    val ledger = spark.read.jdbc(url, "GRAFT_CDC_EPOCHS", new java.util.Properties())
    assert(ledger.count() === 4L) // 8 files / maxFilesPerTrigger 2
    assert(ledger.filter($"WRITER_ID" === "cdc").count() === 4L)

    // a plain-insert destination is rejected at translate time
    val bad = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "cdcreader", "parameter": {
          "path": "$work/log", "checkpoint": "$work/cp2"}},
        "writer": {"name": "sqlitewriter", "parameter": {
          "writeMode": "insert",
          "connection": [{"jdbcUrl": "$url", "table": ["turns"]}]}}}]}}"""))
    }
    assert(bad.getMessage.contains("per-key MERGE"))
  }

  test("a JDBC tail dead-letters malformed lines per epoch and a ledger-skipped re-tail writes them back") {
    val url = "jdbc:derby:memory:cdcdlq;create=true"
    val work = tmpDir("cdcdlq")
    val cfg = Gen.GenConfig(nEvents = 2000L, nConvs = 40L, partitions = 4, dupEvery = 0L)
    val lines = CdcEnvelope.encodeDebezium(Gen.changeEvents(spark, cfg).toDF(),
      Seq("ts", "conv_id", "turn_idx", "role", "text", "tool"), Model.keyCols)
    lines.repartition(4).write.text(s"$work/log")
    // two malformed files, newest last: each is its own epoch at one file
    // per trigger after the 4 clean ones
    val dirty = Seq(Seq("not json"), Seq("{}", """{"op":"c","after":null}"""))
    dirty.zipWithIndex.foreach { case (ls, i) =>
      val f = java.nio.file.Paths.get(s"$work/log/part-dirty-$i.txt")
      java.nio.file.Files.write(f, ls.mkString("", "\n", "\n").getBytes)
      f.toFile.setLastModified(System.currentTimeMillis() + 60000L * (i + 1))
    }
    JdbcExec.execStatements(url, Map.empty, Seq(
      """CREATE TABLE "turns" ("ts" TIMESTAMP, "conv_id" VARCHAR(64) NOT NULL, """ +
        """"turn_idx" INT NOT NULL, "role" VARCHAR(32), "text" VARCHAR(512), """ +
        """"tool" VARCHAR(64), PRIMARY KEY ("conv_id", "turn_idx"))"""))
    val dlq = s"$work/dlq"
    def tail(): CdcPipeline.JdbcStream = {
      val s = CdcPipeline.startJdbc(spark,
        CdcPipeline.CdcConfig(s"$work/log", s"$work/cp", maxFilesPerTrigger = 1,
          format = "debezium", dlqDir = Some(dlq)),
        CdcPipeline.JdbcDest(Dialect.Sqlite, url, "turns", keyCols = Model.keyCols))
      s.query.awaitTermination()
      s
    }
    def dead(): Map[String, Seq[String]] =
      new File(dlq).list().map(d => d -> spark.read.text(s"$dlq/$d").as[String]
        .collect().toSeq.sorted).toMap
    val want = Map("epoch=4" -> dirty(0), "epoch=5" -> dirty(1).sorted)
    def target() = spark.read.jdbc(url, "\"turns\"", new java.util.Properties())
      .select($"ts", $"conv_id", $"turn_idx", $"role", $"text", $"tool")
    val first = tail()
    assert(first.skippedEpochs.get() === 0L)
    assert(dead() === want)
    val state = target().collect().toSet
    // DLQ and checkpoint lost: the re-tail replays epochs 0..5, the ledger
    // skips every one, and the probe restores exactly the dirty epochs
    Seq(dlq, s"$work/cp").foreach(deleteTree)
    val again = tail()
    assert(again.skippedEpochs.get() === 6L)
    assert(again.upserts.get() + again.deletes.get() === 0L)
    assert(dead() === want)
    assert(target().collect().toSet === state)
  }

  test("jdbc mirror follower: a duplicated+reordered log mirrors into Derby via the lake") {
    val url = "jdbc:derby:memory:cdcmirror;create=true"
    val work = tmpDir("cdcmirror")
    // DEFAULT generator: duplicate deliveries (dupEvery=50) and block-local
    // reorder — the log shape the DIRECT jdbc apply can't take (its contract
    // needs epoch order == lsn order). The lake arbitrates by lsn first; the
    // mirror ships CURRENT winners per touched key (JdbcApply), so the
    // target still converges to the global LWW state.
    val cfg = Gen.GenConfig(nEvents = 4000L, nConvs = 60L, partitions = 4)
    Gen.writeChangeLog(spark, cfg, s"$work/log", nChunks = 4)
    JdbcExec.execStatements(url, Map.empty, Seq(
      """CREATE TABLE "turns" ("ts" TIMESTAMP, "conv_id" VARCHAR(64) NOT NULL, """ +
        """"turn_idx" INT NOT NULL, "role" VARCHAR(32), "text" VARCHAR(512), """ +
        """"tool" VARCHAR(64), PRIMARY KEY ("conv_id", "turn_idx"))"""))
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$work/log", "checkpoint": "$work/cp", "maxFilesPerTrigger": 8}},
      "writer": {"name": "lakewriter", "parameter": {
        "path": "$work/lake", "primaryKey": ["conv_id", "turn_idx"], "buckets": 4,
        "followers": [
          {"jdbcUrl": "$url", "table": "turns", "dialect": "sqlite"}
        ]}}}]}}""")
    RunJob.run(spark, spec)
    val got = spark.read.jdbc(url, "\"turns\"", new java.util.Properties())
      .select($"ts", $"conv_id", $"turn_idx", $"role", $"text", $"tool")
    val want = Gen.expectedState(spark, cfg).toDF()
      .select($"ts", $"conv_id", $"turn_idx", $"role", $"text", $"tool")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() + want.exceptAll(got).count() === 0L)
    // re-run: checkpoint resumes at end-of-log; the mirror's version
    // watermark also skips — Derby untouched
    RunJob.run(spark, spec)
    val again = spark.read.jdbc(url, "\"turns\"", new java.util.Properties())
    assert(again.count() === want.count())
    // ledger rows carry source snapshot versions under the mirror writer id
    val ledger = spark.read.jdbc(url, "GRAFT_CDC_EPOCHS", new java.util.Properties())
    assert(ledger.filter($"WRITER_ID" === "cdc-mirror").count() > 0L)
    // a jdbc follower without table/dialect is rejected at translate time
    val bad = intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "cdcreader", "parameter": {
          "path": "$work/log", "checkpoint": "$work/cp2"}},
        "writer": {"name": "lakewriter", "parameter": {"path": "$work/l2",
          "followers": [{"jdbcUrl": "$url"}]}}}]}}"""))
    }
    assert(bad.getMessage.contains("table and dialect"))
  }

  test("dry-run describe renders reader, writer sql and transforms") {
    assume(refTestData.isDirectory, "reference test-data not present")
    val spec = JobConfig.fromFile(s"$refTestData/mysql2doris.json")
    val desc = RunJob.describe(JobConfig.translate(spec).head)
    assert(desc.contains("jdbc[mysql]"))
    assert(desc.contains("CRC32"))
    assert(desc.contains("jdbc[doris]"))
    assert(desc.contains("INSERT INTO"))
  }
}
