package graft

import org.apache.spark.sql.functions._

import graft.engine.{SyncJob, Transformers}
import graft.engine.SyncJob.{ErrorLimit, Sink, Source, WriteMode}

/** Batch sync engine: sources/sinks round-trips, writeModes, error limiter,
  * constant columns — the go-datax job model surface (SURVEY §2.1/2.2/2.5).
  */
/** Shared mutable state reachable from executor threads (local mode = one
  * JVM) for the batched-executor test.
  */
object EngineSpecState {
  val rows = new java.util.concurrent.atomic.AtomicLong(0L)
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  val failOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  def reset(): Unit = { rows.set(0L); batchSizes.clear(); failOnce.set(false) }
}

class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def users = Seq(
    (1L, "Alice", 30L, "alice@example.com"),
    (2L, "Bob", 17L, "bob@example.com"),
    (3L, "Charlie", 45L, "charlie@example.com"),
    (4L, "Diana", 28L, "diana@example.com"),
    (5L, "Eve", 22L, "eve@example.com"))
    .toDF("id", "name", "age", "email")

  test("csv round-trip with nullFormat and header") {
    val dir = tmpDir("csv")
    users.withColumn("email", when($"id" === 2, lit(null)).otherwise($"email"))
      .write.option("header", "true").option("nullValue", "\\N").csv(s"$dir/src")
    val back = SyncJob.read(spark, Source("csv", s"$dir/src",
      options = Map("inferSchema" -> "true")))
    assert(back.count() === 5)
    assert(back.filter($"email".isNull).count() === 1) // \N decoded as null
  }

  test("jsonl and multiline json round-trip") {
    val dir = tmpDir("json")
    users.write.json(s"$dir/jsonl")
    val back = SyncJob.read(spark, Source("jsonl", s"$dir/jsonl"))
    assert(back.count() === 5)
  }

  test("constant columns (txtfilereader value spec)") {
    val dir = tmpDir("const")
    users.write.parquet(s"$dir/src")
    val back = SyncJob.read(spark,
      Source("parquet", s"$dir/src", constants = Map("source_tag" -> "batch-42")))
    assert(back.select("source_tag").distinct().collect().map(_.getString(0)).toSeq === Seq("batch-42"))
  }

  test("writeMode nonConflict fails on non-empty target; truncate overwrites") {
    val dir = tmpDir("modes")
    SyncJob.write(spark, users, Sink("parquet", s"$dir/t", WriteMode.Truncate))
    intercept[IllegalStateException] {
      SyncJob.write(spark, users, Sink("parquet", s"$dir/t", WriteMode.NonConflict))
    }
    SyncJob.write(spark, users.limit(2), Sink("parquet", s"$dir/t", WriteMode.Truncate))
    assert(spark.read.parquet(s"$dir/t").count() === 2)
    SyncJob.write(spark, users, Sink("parquet", s"$dir/t", WriteMode.Append))
    assert(spark.read.parquet(s"$dir/t").count() === 7)
  }

  test("nonConflict is exclusive: a held sentinel blocks a concurrent job cleanly") {
    val dir = tmpDir("nc")
    val target = new org.apache.hadoop.fs.Path(s"$dir/t")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate an in-flight nonConflict job holding the claim: the sentinel
    // exists but the target is still empty — the exists+list pre-check alone
    // would let a second job through (the TOCTOU the sentinel closes)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    fs.create(new org.apache.hadoop.fs.Path(dir, ".t.nonconflict"), false).close()
    val ex = intercept[IllegalStateException] {
      SyncJob.write(spark, users, Sink("parquet", s"$dir/t", WriteMode.NonConflict))
    }
    assert(ex.getMessage.contains("another job"))
    // claim released → the job wins and the sentinel does not linger
    fs.delete(new org.apache.hadoop.fs.Path(dir, ".t.nonconflict"), false)
    SyncJob.write(spark, users, Sink("parquet", s"$dir/t", WriteMode.NonConflict))
    assert(spark.read.parquet(s"$dir/t").count() === 5)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".t.nonconflict")))
    // and a later nonConflict fails on the now-non-empty target
    intercept[IllegalStateException] {
      SyncJob.write(spark, users, Sink("parquet", s"$dir/t", WriteMode.NonConflict))
    }
  }

  test("error limiter: bad rows filtered, threshold aborts the job") {
    val dir = tmpDir("err")
    users.write.parquet(s"$dir/src")
    // age<18 is "bad": 1 bad row of 5; limit 1 passes, writes only good rows
    val res = SyncJob.run(spark, Source("parquet", s"$dir/src"), Nil,
      Sink("parquet", s"$dir/ok", WriteMode.Truncate),
      badPredicate = Some(col("age") < 18),
      errorLimit = ErrorLimit(record = 1))
    assert(res.rowsWritten === 4 && res.rowsBad === 1)
    assert(spark.read.parquet(s"$dir/ok").count() === 4)
    // limit 0 (the reference default) aborts
    intercept[SyncJob.ErrorLimitExceeded] {
      SyncJob.run(spark, Source("parquet", s"$dir/src"), Nil,
        Sink("parquet", s"$dir/fail", WriteMode.Truncate),
        badPredicate = Some(col("age") < 18),
        errorLimit = ErrorLimit(record = 0))
    }
    // percentage limit: 20% bad > 10% allowed
    intercept[SyncJob.ErrorLimitExceeded] {
      SyncJob.run(spark, Source("parquet", s"$dir/src"), Nil,
        Sink("parquet", s"$dir/fail2", WriteMode.Truncate),
        badPredicate = Some(col("age") < 18),
        errorLimit = ErrorLimit(record = 100, percentage = 0.1))
    }
    // staged publish: an over-limit job leaves NO data at the target (and
    // no staging leftovers) — unlike the reference's half-written abort
    for (t <- Seq("fail", "fail2")) {
      assert(!new java.io.File(s"$dir/$t").exists(), s"$t published despite limit")
      assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith(s"$t.staging")),
        "staging dir leaked")
    }
  }

  test("lake sink performs keyed upsert (last write wins per id)") {
    val dir = tmpDir("lakesink")
    SyncJob.write(spark, users, Sink("lake", s"$dir/t", keyCols = Seq("id"), numBuckets = 4))
    val v2 = Seq((1L, "ALICE2", 31L, "alice2@example.com")).toDF("id", "name", "age", "email")
    SyncJob.write(spark, v2, Sink("lake", s"$dir/t", keyCols = Seq("id"), numBuckets = 4))
    val table = graft.lake.LakeTable.create(spark, s"$dir/t", Seq("id"), 4)
    val got = table.read()
    assert(got.count() === 5)
    assert(got.filter($"id" === 1).select("name").collect()(0).getString(0) === "ALICE2")
  }

  test("lake upsert picks a deterministic winner for duplicate keys within one batch") {
    // the reference leaves within-batch conflicts to channel arrival order;
    // we arbitrate by payload hash so re-running the same input is stable
    val dup = Seq(
      (1L, "zeta", 10L, "z@example.com"),
      (1L, "alpha", 11L, "a@example.com"),
      (2L, "only", 20L, "o@example.com"))
      .toDF("id", "name", "age", "email")
    val winners = (1 to 3).map { i =>
      val dir = tmpDir(s"lakedet$i")
      // shuffle arrival order differently each run; winner must not change
      SyncJob.write(spark, dup.repartition(i), Sink("lake", s"$dir/t", keyCols = Seq("id"), numBuckets = 4))
      graft.lake.LakeTable.create(spark, s"$dir/t", Seq("id"), 4)
        .read().filter($"id" === 1).select("name").collect()(0).getString(0)
    }
    assert(winners.distinct.size === 1, s"non-deterministic winners: $winners")
  }

  test("gzip-compressed csv round-trip (txtfile_compress analog)") {
    val dir = tmpDir("gz")
    users.write.option("header", "true").option("compression", "gzip").csv(s"$dir/src")
    assert(new java.io.File(s"$dir/src").listFiles().exists(_.getName.endsWith(".csv.gz")))
    val back = SyncJob.read(spark, Source("csv", s"$dir/src",
      options = Map("inferSchema" -> "true")))
    assert(back.count() === 5)
  }

  test("nested json dotted-path access (jsonfilereader user.name analog)") {
    val dir = tmpDir("nested")
    Seq((1L, ("Alice", 30L)), (2L, ("Bob", 17L)))
      .toDF("id", "user")
      .select($"id", $"user._1".as("name").as("name"), struct($"user._1".as("name"), $"user._2".as("age")).as("user"))
      .select("id", "user")
      .write.json(s"$dir/src")
    val back = SyncJob.read(spark, Source("jsonl", s"$dir/src"))
      .select(col("id"), col("user.name").as("name"), col("user.age").as("age"))
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "Alice"), (2L, "Bob")))
  }

  test("multi-target fan-out via partition columns (writer @table split analog)") {
    val dir = tmpDir("fanout")
    val withTarget = users.withColumn("target", concat(lit("t"), pmod($"id", lit(2))))
    SyncJob.write(spark, withTarget,
      Sink("parquet", s"$dir/out", WriteMode.Truncate, partitionCols = Seq("target")))
    val subdirs = new java.io.File(s"$dir/out").listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(subdirs.toSeq === Seq("target=t0", "target=t1"))
    assert(spark.read.parquet(s"$dir/out").count() === 5)
  }

  test("preSql/postSql phases with @table rendering") {
    val dir = tmpDir("presql")
    users.write.parquet(s"$dir/src")
    users.limit(0).write.parquet(s"$dir/aux") // registered by preSql
    val pre = SyncJob.renderSqls(
      Seq("CREATE OR REPLACE TEMP VIEW pre_marker AS SELECT '@table' AS t"), "users_t")
    assert(pre.head.contains("'users_t'"))
    SyncJob.run(spark, Source("parquet", s"$dir/src"), Nil,
      Sink("parquet", s"$dir/out", WriteMode.Truncate),
      preSql = pre,
      postSql = Seq("CREATE OR REPLACE TEMP VIEW post_marker AS SELECT 1 AS ok"))
    assert(spark.table("pre_marker").collect()(0).getString(0) === "users_t")
    assert(spark.table("post_marker").count() === 1)
  }

  test("typed column projection: index reorder, casts, date fallback, out-of-range") {
    import SyncJob.ColumnSpec
    val dir = tmpDir("typedcols")
    // header-less positional CSV, reference-style: id,name,joined,score,active
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/data.csv"),
      ("""1,Alice,01/15/2024,9.5,true
         |2,Bob,2024-02-01 10:30:00,notanumber,0
         |3,\N,2024/03/05,7.25,yes
         |""".stripMargin).getBytes("UTF-8"))
    val got = SyncJob.read(spark, Source("csv", s"$dir/data.csv",
      options = Map("header" -> "false"),
      columns = Seq(
        ColumnSpec(index = 1, colType = "string", name = "name"), // reordered
        ColumnSpec(index = 0, colType = "long", name = "id"),
        ColumnSpec(index = 2, colType = "date", name = "joined"),
        ColumnSpec(index = 3, colType = "double", name = "score"),
        ColumnSpec(index = 4, colType = "boolean", name = "active"),
        ColumnSpec(index = 7, colType = "long", name = "absent"), // out of range
        ColumnSpec(value = "fixed", name = "tag"))))
      .orderBy("id").collect()
    assert(got.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    assert(got(0).getString(0) === "Alice" && got(2).isNullAt(0)) // \N -> null
    // date fallback chain parses three different formats
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    assert(got.map(r => fmt.format(r.getTimestamp(2).toInstant)).toSeq ===
      Seq("2024-01-15 00:00:00", "2024-02-01 10:30:00", "2024-03-05 00:00:00"))
    assert(got(0).getDouble(3) === 9.5 && got(1).getDouble(3) === 0.0) // parse-fail -> 0
    assert(got(0).getBoolean(4) === true && got(1).getBoolean(4) === false)
    assert(got.forall(_.isNullAt(5))) // out-of-range index -> null
    assert(got.forall(_.getString(6) == "fixed"))
  }

  test("json-auto sniffs array vs jsonl from the first byte") {
    val dir = tmpDir("jsonauto")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/arr.json"),
      """[ {"id": 1, "n": "a"}, {"id": 2, "n": "b"} ]""".getBytes("UTF-8"))
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$dir/lines"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/lines/part-0.json"),
      "{\"id\": 3, \"n\": \"c\"}\n{\"id\": 4, \"n\": \"d\"}\n".getBytes("UTF-8"))
    val arr = SyncJob.read(spark, Source("json-auto", s"$dir/arr.json"))
    assert(arr.count() === 2)
    val lines = SyncJob.read(spark, Source("json-auto", s"$dir/lines"))
    assert(lines.count() === 2)
    assert(arr.select("n").orderBy("id").collect().map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(lines.select("n").orderBy("id").collect().map(_.getString(0)).toSeq === Seq("c", "d"))
  }

  test("inferMode=datax applies the reference's sampling inference where Spark's differs") {
    val dir = tmpDir("jsoninfer")
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$dir/src"))
    // three fields where the two inference rules DISAGREE:
    //  - amount: every value an integral-valued NUMBER, one spelled 2.0 —
    //    Spark infers double; the reference counts 2.0 as int (≥80% ⇒ long)
    //  - created_at: date-shaped strings under a date-keyword name — Spark
    //    infers string; the reference's date sniff says date
    //  - score: 4 ints + 1 string (80% int) — Spark infers string; the
    //    reference says long (the string later try_casts to the 0 default)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/src/part-0.jsonl"),
      ("""{"id": 1, "amount": 1, "created_at": "2023-01-01 00:00:01", "score": 10}""" + "\n" +
       """{"id": 2, "amount": 2.0, "created_at": "2023-01-02 00:00:02", "score": 20}""" + "\n" +
       """{"id": 3, "amount": 3, "created_at": "2023-01-03 00:00:03", "score": 30}""" + "\n" +
       """{"id": 4, "amount": 4, "created_at": "2023-01-04 00:00:04", "score": 40}""" + "\n" +
       """{"id": 5, "amount": 5, "created_at": "2023-01-05 00:00:05", "score": "n/a"}""" + "\n")
        .getBytes("UTF-8"))

    val native = SyncJob.read(spark, Source("json-auto", s"$dir/src"))
    assert(native.schema("amount").dataType.typeName === "double")
    assert(native.schema("created_at").dataType.typeName === "string")
    assert(native.schema("score").dataType.typeName === "string")

    // ["*"] config shape: the full inferred projection, first-seen order
    val inferred = SyncJob.read(spark, Source("json-auto", s"$dir/src",
      options = Map("inferMode" -> "datax")))
    assert(inferred.columns.toSeq === Seq("id", "amount", "created_at", "score"))
    assert(inferred.schema("id").dataType.typeName === "long")
    assert(inferred.schema("amount").dataType.typeName === "long")
    assert(inferred.schema("created_at").dataType.typeName === "timestamp")
    assert(inferred.schema("score").dataType.typeName === "long")
    val r5 = inferred.filter(col("id") === 5).head()
    assert(r5.getAs[Long]("score") === 0L) // strconv fallback default
    assert(inferred.filter(col("created_at").isNull).count() === 0)

    // merge rule through the CONFIG surface: a column with no type takes
    // the inferred one; an explicit type always wins (jsonfile_reader.go:
    // 741-768)
    val spec = graft.engine.JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "jsonfilereader", "parameter": {
        "path": "$dir/src", "inferMode": "datax",
        "column": [{"name": "id"}, {"name": "amount", "type": "string"},
                   {"name": "created_at"}]}},
      "writer": {"name": "streamwriter", "parameter": {}}}]}}""")
    val plan = graft.engine.JobConfig.translate(spec).head.reader
      .asInstanceOf[graft.engine.JobConfig.FileRead]
    val merged = SyncJob.read(spark, plan.src)
    assert(merged.schema("id").dataType.typeName === "long") // inferred fill
    assert(merged.schema("amount").dataType.typeName === "string") // user type wins
    assert(merged.schema("created_at").dataType.typeName === "timestamp")
  }

  test("dual flush thresholds bound output files by rows AND bytes") {
    val dir = tmpDir("flush")
    // ~48 logical bytes/row (8 + 40); byte bound 300 => ~6 rows/file wins
    // over the 30-row bound
    val df = (1 to 100).map(i => (i.toLong, "x" * 40)).toDF("id", "payload")
    SyncJob.write(spark, df.repartition(1),
      Sink("csv", s"$dir/out", WriteMode.Truncate, flushRows = 30, flushBytes = 300))
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(files.length >= 10, s"expected many small files, got ${files.length}")
    files.foreach { f =>
      val src = scala.io.Source.fromFile(f)
      val rows = try src.getLines().size - 1 finally src.close() // minus header
      assert(rows <= 6, s"${f.getName} has $rows rows — byte bound not applied")
    }
    // rows-only bound
    SyncJob.write(spark, df.repartition(1),
      Sink("csv", s"$dir/out2", WriteMode.Truncate, flushRows = 25))
    val files2 = new java.io.File(s"$dir/out2").listFiles().filter(_.getName.endsWith(".csv"))
    files2.foreach { f =>
      val src = scala.io.Source.fromFile(f)
      val rows = try src.getLines().size - 1 finally src.close()
      assert(rows <= 25)
    }
    assert(spark.read.option("header", "true").csv(s"$dir/out").count() === 100)
  }

  test("batched statement executor: UNWIND-style batches with retry") {
    import scala.jdk.CollectionConverters._
    import graft.engine.BatchedExec
    EngineSpecState.reset()
    val df = (1 to 95).map(i => (i.toLong, s"n$i")).toDF("id", "name").repartition(4)
    BatchedExec.foreachBatch(df, batchSize = 10,
      BatchedExec.RetryPolicy(retryTimes = 2, retrySleepMillis = 0)) { batch =>
      // one transient failure somewhere in the job — must be retried,
      // and the failing attempt records nothing (statement re-run whole)
      if (EngineSpecState.failOnce.compareAndSet(false, true))
        throw new RuntimeException("transient")
      EngineSpecState.batchSizes.add(batch.size)
      EngineSpecState.rows.addAndGet(batch.size.toLong)
    }
    assert(EngineSpecState.rows.get === 95L)
    assert(EngineSpecState.batchSizes.asScala.forall(_ <= 10))
    assert(EngineSpecState.failOnce.get)
    // a permanently failing batch aborts the job after retryTimes+1 attempts
    intercept[org.apache.spark.SparkException] {
      BatchedExec.foreachBatch(df, 10,
        BatchedExec.RetryPolicy(retryTimes = 1, retrySleepMillis = 0)) { _ =>
        throw new RuntimeException("permanent")
      }
    }
  }

  test("batch retry ends at once on an interrupt, in the batch or in the sleep") {
    import graft.engine.BatchedExec
    val policy = BatchedExec.RetryPolicy(retryTimes = 3, retrySleepMillis = 60000L)
    var runs = 0
    intercept[InterruptedException] {
      BatchedExec.retrying(policy) { runs += 1; throw new InterruptedException("killed") }
    }
    assert(runs === 1)
    // a failing batch, then an interrupt while the loop sleeps before the retry
    runs = 0
    val outcome = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val worker = new Thread(() =>
      try BatchedExec.retrying(policy) { runs += 1; throw new RuntimeException("transient") }
      catch { case e: Throwable => outcome.set(e) })
    worker.start()
    while (worker.isAlive && worker.getState != Thread.State.TIMED_WAITING) Thread.sleep(5)
    worker.interrupt()
    worker.join(10000L)
    assert(!worker.isAlive)
    assert(outcome.get.isInstanceOf[InterruptedException], outcome.get)
    assert(runs === 1)
  }

  test("job result reports logical bytes written (GetByteSize analog)") {
    val dir = tmpDir("bytes")
    users.write.parquet(s"$dir/src")
    val res = SyncJob.run(spark, Source("parquet", s"$dir/src"), Nil,
      Sink("parquet", s"$dir/out", WriteMode.Truncate))
    // id 8 + name len + age 8 + email len, summed over the 5 rows
    val expected = Seq(
      ("Alice", "alice@example.com"), ("Bob", "bob@example.com"),
      ("Charlie", "charlie@example.com"), ("Diana", "diana@example.com"),
      ("Eve", "eve@example.com"))
      .map { case (n, e) => 8L + n.length + 8L + e.length }.sum
    assert(res.bytesWritten === expected)
  }

  test("synthetic source: column specs, constants, and parallelism-independence") {
    import graft.sources.SyntheticSource
    import graft.sources.SyntheticSource.ColumnGen
    val specs = Seq(
      ColumnGen("id_rand", "long"),
      ColumnGen("score", "double"),
      ColumnGen("name", "string"),
      ColumnGen("flag", "bool"),
      ColumnGen("ts", "date"),
      ColumnGen("tag", "string", value = Some("fixed")),
      ColumnGen("k", "long", value = Some("7")))
    val a = SyntheticSource.generate(spark, specs, sliceRecordCount = 100, slices = 4)
    assert(a.count() === 400)
    assert(a.select("tag").distinct().collect().map(_.getString(0)).toSeq === Seq("fixed"))
    assert(a.select("k").distinct().collect().map(_.getLong(0)).toSeq === Seq(7L))
    assert(a.schema("score").dataType.typeName === "double")
    assert(a.schema("flag").dataType.typeName === "boolean")
    assert(a.schema("ts").dataType.typeName === "timestamp")
    assert(a.select("name").collect().forall(_.getString(0).length === 10))
    // seeded + splittable: same data regardless of slice count (the property
    // the reference's math/rand generator does NOT have)
    val b = SyntheticSource.generate(spark, specs, sliceRecordCount = 400, slices = 1)
    assert(a.exceptAll(b).count() === 0L && b.exceptAll(a).count() === 0L)
  }

  test("dialect writeMode validation (gaussdb rejects non-insert)") {
    import graft.engine.Dialect
    Dialect.Mysql.validateWriteMode("replace")
    Dialect.GaussDb.validateWriteMode("insert")
    intercept[IllegalArgumentException] { Dialect.GaussDb.validateWriteMode("replace") }
    intercept[IllegalArgumentException] { Dialect.Postgres.validateWriteMode("merge") }
  }

  test("transformer chain: order matters and null filters the record") {
    val df = Seq((1L, "foo_bar"), (2L, null.asInstanceOf[String])).toDF("id", "s")
    // substr of null -> null -> record dropped (filter-null contract)
    val out = Transformers.chain(df, Seq(Transformers.DxSubstr(Right("s"), 0, 3)))
    assert(out.count() === 1)
    assert(out.collect()(0).getString(1) === "foo")
    // positional addressing (reference columnIndex)
    val byIdx = Transformers.chain(df.filter($"s".isNotNull),
      Seq(Transformers.DxDigest(Left(1), "sha1")))
    assert(byIdx.collect()(0).getString(1).length === 40)
    // not like (regex)
    val nl = Transformers.chain(df.filter($"s".isNotNull),
      Seq(Transformers.DxFilter(Right("s"), "not like", "foo.*")))
    assert(nl.count() === 0)
  }

  test("SyncJob reads binlog-dump envelope files with columns-spec schema") {
    import graft.sources.CdcEnvelope
    val dir = tmpDir("sj-env")
    val src = Seq(
      ("U", 5L, "a", 1, Some(2.5)), ("I", 6L, "b", 2, Some(1.0)),
      ("D", 7L, "a", 1, Option.empty[Double]))
      .toDF("op", "lsn", "k", "n", "v")
    CdcEnvelope.encodeCanal(src, Seq("k", "n", "v")).write.text(s"$dir/log")

    val got = SyncJob.read(spark, SyncJob.Source("canal", s"$dir/log",
      columns = Seq(
        SyncJob.ColumnSpec(name = "k", colType = "string"),
        SyncJob.ColumnSpec(name = "n", colType = "long"),
        SyncJob.ColumnSpec(name = "v", colType = "double"))))
    assert(got.columns.toSeq == Seq("op", "lsn", "k", "n", "v"))
    // canal stride-1024 lsn preserves order; payload typed per the specs
    val rows = got.orderBy("lsn").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("U", "I", "D"))
    assert(rows(0).getString(2) == "a" && rows(0).getLong(3) == 1L && rows(0).getDouble(4) == 2.5)
    // missing payload schema is rejected with a clear error
    intercept[IllegalArgumentException] {
      SyncJob.read(spark, SyncJob.Source("debezium", s"$dir/log"))
    }
  }

  test("envelope sinks encode what the matching source decodes back (produce direction)") {
    val events = Seq(("I", 1L, "a", 1L), ("U", 2L, "a", 5L), ("D", 3L, "b", 2L))
      .toDF("op", "lsn", "k", "n")
    for (fmt <- Seq("canal", "maxwell", "debezium")) {
      val dir = tmpDir(s"envsink-$fmt")
      SyncJob.write(spark, events, Sink(fmt, s"$dir/out", keyCols = Seq("k")))
      val back = SyncJob.read(spark, Source(fmt, s"$dir/out", columns = Seq(
        SyncJob.ColumnSpec(name = "k", colType = "string"),
        SyncJob.ColumnSpec(name = "n", colType = "long"))))
        .orderBy("lsn").collect()
      assert(back.map(_.getString(0)).toSeq === Seq("I", "U", "D"), s"$fmt ops")
      // the upsert's full payload survives the round trip
      val u = back(1)
      assert(u.getString(2) === "a" && u.getLong(3) === 5L, s"$fmt upsert payload")
      // the delete's key survives (debezium: key image only; canal/maxwell:
      // full deleted row image)
      assert(back(2).getString(2) === "b", s"$fmt delete key")
    }
  }

  test("orc round-trip (hdfsreader/writer fileType ORC)") {
    val dir = tmpDir("orc")
    SyncJob.write(spark, users, Sink("orc", s"$dir/t", WriteMode.Truncate))
    val back = SyncJob.read(spark, Source("orc", s"$dir/t"))
    assert(back.count() === 5)
    assert(back.schema("age").dataType.typeName === "long") // typed, not text
    assert(back.orderBy("id").collect()(0).getString(1) === "Alice")
  }

  test("stringifyNested flattens subdocuments to JSON text (mongoreader analog)") {
    val dir = tmpDir("nested")
    Seq(
      ("""{"id": 1, "user": {"name": "a", "tags": ["x", "y"]}, "scores": [1, 2]}"""),
      ("""{"id": 2, "user": {"name": "b", "tags": []}, "scores": []}"""))
      .toDF("value").write.text(s"$dir/src")
    val flat = SyncJob.read(spark,
      Source("jsonl", s"$dir/src", stringifyNested = true))
    // every nested column became one JSON string column, like the
    // reference's mongoreader subdocument stringification; scalars keep
    // their native types
    assert(flat.schema("user").dataType.typeName === "string")
    assert(flat.schema("scores").dataType.typeName === "string")
    assert(flat.schema("id").dataType.typeName === "long")
    val r = flat.orderBy("id").collect()(0)
    assert(r.getAs[String]("user").contains(""""name":"a""""))
    assert(r.getAs[String]("scores") === "[1,2]")
    // default: nested structures are read natively
    val native = SyncJob.read(spark, Source("jsonl", s"$dir/src"))
    assert(native.schema("user").dataType.typeName === "struct")
  }

  test("envelope source -> lake sink preserves op/lsn: deletes apply, malformed lines are dirty records") {
    import graft.sources.CdcEnvelope
    val dir = tmpDir("envlake")
    // binlog dump: insert a and b, update a, delete b (canal carries the
    // full deleted row image — stamping op='U' would resurrect it)
    val events = Seq(
      ("I", 1L, "a", 1L), ("I", 2L, "b", 2L),
      ("U", 3L, "a", 10L), ("D", 4L, "b", 2L))
      .toDF("op", "lsn", "k", "n")
    CdcEnvelope.encodeCanal(events, Seq("k", "n")).write.text(s"$dir/log")
    // a malformed envelope line: decodes to null lsn, must be counted as a
    // dirty record and never reach the merge
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/log/zz-malformed.txt"),
      "{this is not a canal envelope\n".getBytes("UTF-8"))

    val src = Source("canal", s"$dir/log", columns = Seq(
      SyncJob.ColumnSpec(name = "k", colType = "string"),
      SyncJob.ColumnSpec(name = "n", colType = "long")))
    val sink = Sink("lake", s"$dir/t", keyCols = Seq("k"), numBuckets = 4)
    val res = SyncJob.run(spark, src, Nil, sink, errorLimit = ErrorLimit(record = 5))
    assert(res.rowsBad === 1, "malformed line must count against the error limit")
    assert(res.rowsWritten === 4)

    val table = graft.lake.LakeTable.create(spark, s"$dir/t", Seq("k"), 4)
    val got = table.read().orderBy("k").collect()
    assert(got.map(_.getString(0)).toSeq === Seq("a"), "delete event must tombstone b")
    assert(got(0).getLong(1) === 10L, "update event must win over the insert by lsn")

    // re-running the same dump is a fresh epoch but the same lsns: LWW
    // converges to the identical state (no resurrection of b)
    SyncJob.run(spark, src, Nil, sink, errorLimit = ErrorLimit(record = 5))
    val again = table.read().orderBy("k").collect()
    assert(again.map(_.getString(0)).toSeq === Seq("a"))
    assert(again(0).getLong(1) === 10L)

    // change-event interpretation is EXPLICIT opt-in: a plain source whose
    // schema carries the reserved op/lsn names is REJECTED outright —
    // neither reinterpreted as CDC (silent deletes) nor stamped over
    // (silent column destruction)
    val plain = Seq(("D", 4L, "b", 2L)).toDF("op", "lsn", "k", "n")
    val err = intercept[IllegalArgumentException] {
      SyncJob.write(spark, plain, Sink("lake", s"$dir/plain", keyCols = Seq("k"), numBuckets = 2))
    }
    assert(err.getMessage.contains("reserved column name"))
  }
}
