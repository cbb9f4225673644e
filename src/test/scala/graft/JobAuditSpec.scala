package graft

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, RawLocalFileSystem}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.core.{Gen, LocalFs, Model, NioLocalFileSystem, NioLocalFs}
import graft.engine.{Dialect, JdbcExec}
import graft.engine.cdc.CdcPipeline
import graft.lake.LakeTable
import graft.sources.CdcEnvelope

/** The spawn-free local filesystem, counting every instance built outside
  * Spark's task threads (`fs.file.impl` of [[JobAuditSpec]]'s
  * FileSystem-count test).
  */
class CountingLocalFileSystem extends NioLocalFileSystem {
  if (!Thread.currentThread().getName.startsWith("Executor task launch worker"))
    CountingLocalFileSystem.made.incrementAndGet()
}

object CountingLocalFileSystem {
  val made = new java.util.concurrent.atomic.AtomicLong()
}

/** Job-count audits: the Spark jobs a CDC epoch submits are the tail's
  * per-epoch fixed cost (each one a scheduling round trip on the driver),
  * so their number is pinned like a plan shape. Counted with a listener on
  * the streaming batch-id local property every epoch job carries. The
  * processes an epoch forks for local files are the other fixed cost;
  * those are pinned at zero.
  */
class JobAuditSpec extends SparkSpec {

  private val FlushKey = "graft.jobaudit.flush"

  /** Spark jobs submitted per streaming epoch while `run` executes. */
  private def jobsPerEpoch(run: => Unit): Map[Long, Int] = auditJobs(run)._1

  /** Jobs per streaming epoch while `run` executes, and the call sites of
    * the jobs that carried no epoch.
    */
  private def auditJobs(run: => Unit): (Map[Long, Int], Seq[String]) = {
    val counts = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    val untagged = scala.collection.mutable.ArrayBuffer.empty[String]
    val token = java.util.UUID.randomUUID().toString
    @volatile var flushed = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
        Option(p.getProperty("streaming.sql.batchId")) match {
          case Some(b) => counts.synchronized(counts(b.toLong) += 1)
          case None if p.getProperty(FlushKey) != token => untagged.synchronized(
            untagged += e.stageInfos.headOption.map(_.name).getOrElse(s"job ${e.jobId}"))
          case None =>
        }
        if (p.getProperty(FlushKey) == token) flushed = true
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      run
      // listener events arrive in submission order: once the marker job is
      // seen, every epoch job submitted before it has been counted
      sc.setLocalProperty(FlushKey, token)
      try spark.range(1).count() finally sc.setLocalProperty(FlushKey, null)
      val deadline = System.nanoTime() + 60000000000L
      while (!flushed && System.nanoTime() < deadline) Thread.sleep(10)
      assert(flushed, "the listener never saw the flush job")
    } finally sc.removeSparkListener(listener)
    (counts.synchronized(counts.toMap), untagged.synchronized(untagged.toList))
  }

  test("a parquet tail epoch submits a pinned number of jobs") {
    val work = tmpDir("jobs-parquet")
    Gen.writeChangeLog(spark, Gen.GenConfig(nEvents = 6000L, nConvs = 100L, partitions = 4),
      s"$work/log", nChunks = 3, filesPerChunk = 2)
    val t = LakeTable.create(spark, s"$work/lake", Model.keyCols, 4)
    val jobs = jobsPerEpoch(CdcPipeline.replayAll(spark, t,
      CdcPipeline.CdcConfig(s"$work/log", s"$work/cp", maxFilesPerTrigger = 2)))
    assert(jobs === Map(0L -> 2, 1L -> 4, 2L -> 4))
  }

  test("a debezium tail's DLQ costs no job on a clean epoch and one write on a dirty one") {
    val work = tmpDir("jobs-dlq")
    val gen = Gen.GenConfig(nEvents = 6000L, nConvs = 100L, partitions = 4)
    val lines = CdcEnvelope.encodeDebezium(Gen.changeEvents(spark, gen).toDF(),
      Seq("ts", "conv_id", "turn_idx", "role", "text", "tool"), Model.keyCols)
    lines.repartition(4).write.text(s"$work/log")
    // the newest file re-delivers a few valid lines next to two malformed
    // ones: the last epoch is dirty and still merges rows
    val redelivered = lines.limit(20).collect().map(_.getString(0))
    val corrupt = java.nio.file.Paths.get(s"$work/log/part-corrupt.txt")
    java.nio.file.Files.write(corrupt,
      (redelivered ++ Seq("not json", "{}")).mkString("", "\n", "\n").getBytes)
    corrupt.toFile.setLastModified(System.currentTimeMillis() + 60000L)
    def tail(name: String, dlq: Option[String]): Map[Long, Int] = {
      val t = LakeTable.create(spark, s"$work/$name", Model.keyCols, 4)
      jobsPerEpoch(CdcPipeline.replayAll(spark, t,
        CdcPipeline.CdcConfig(s"$work/log", s"$work/$name-cp", maxFilesPerTrigger = 2,
          format = "debezium", dlqDir = dlq)))
    }
    val plain = tail("plain", None)
    val withDlq = tail("dlq", Some(s"$work/dlq"))
    assert(plain.keySet === Set(0L, 1L, 2L))
    // the dirty count rides the merge's write job: no probe before it
    assert(withDlq === plain + (2L -> (plain(2L) + 1)))
    assert(spark.read.text(s"$work/dlq/epoch=2").count() === 2L)
  }

  /** `gen`'s events as debezium lines stamped with `tableRef`. */
  private def turnLines(gen: Gen.GenConfig, tableRef: Option[String] = None) =
    CdcEnvelope.encodeDebezium(Gen.changeEvents(spark, gen).toDF(),
      Seq("ts", "conv_id", "turn_idx", "role", "text", "tool"), Model.keyCols, tableRef)

  /** `lines` in 4 files plus a newest file that re-delivers every 50th of
    * them next to `dirty` ones, so the last epoch (epoch 2 at 2 files per
    * trigger) is dirty and still applies rows to every table.
    */
  private def dirtyTailLog(dir: String, lines: org.apache.spark.sql.DataFrame,
      dirty: Seq[String]): Unit = {
    lines.repartition(4).write.text(dir)
    val redelivered = lines.collect().map(_.getString(0)).grouped(50).map(_.head)
    val newest = java.nio.file.Paths.get(s"$dir/part-dirty.txt")
    java.nio.file.Files.write(newest, (redelivered ++ dirty).mkString("", "\n", "\n").getBytes)
    newest.toFile.setLastModified(System.currentTimeMillis() + 60000L)
  }

  /** The `epoch=<n>` directories under a dead-letter dir. */
  private def dlqDirs(dlq: String): Set[String] =
    Option(new java.io.File(dlq).list()).fold(Set.empty[String])(_.toSet)

  test("a routed tail's DLQ costs no job on a clean epoch and one write for unroutable lines") {
    val work = tmpDir("jobs-routed")
    val gen = Gen.GenConfig(nEvents = 6000L, nConvs = 100L, partitions = 4)
    val orders = StructType(Seq(StructField("id", LongType), StructField("amt", DoubleType)))
    // the transcript table is one route; a small orders table is the other
    dirtyTailLog(s"$work/log", turnLines(gen, Some("shop.turns")).unionAll(
      CdcEnvelope.encodeDebezium(spark.range(400).selectExpr("'I' AS op",
        "id + 100000 AS lsn", "id % 40 AS id", "id * 1.5 AS amt"),
        Seq("id", "amt"), Seq("id"), Some("shop.orders"))), Seq("not json"))
    def tail(name: String, dlq: Option[String]): Map[Long, Int] = {
      val routes = Seq(
        CdcPipeline.Route("shop.turns",
          LakeTable.create(spark, s"$work/$name-turns", Model.keyCols, 4),
          StructType(Model.changeEventSchema.fields.drop(2))),
        CdcPipeline.Route("shop.orders",
          LakeTable.create(spark, s"$work/$name-orders", Seq("id"), 4), orders))
      jobsPerEpoch(CdcPipeline.replayAllRouted(spark,
        CdcPipeline.CdcConfig(s"$work/log", s"$work/$name-cp", maxFilesPerTrigger = 2,
          format = "debezium", dlqDir = dlq, routeParallelism = 1), routes))
    }
    val plain = tail("plain", None)
    val withDlq = tail("dlq", Some(s"$work/dlq"))
    val last = plain.keySet.max
    assert(plain.keySet === (0L to last).toSet && last >= 2L)
    // the unroutable count rides the route job that builds the staged cache
    assert(withDlq === plain + (last -> (plain(last) + 1)))
    assert(dlqDirs(s"$work/dlq") === Set(s"epoch=$last"))
    assert(spark.read.text(s"$work/dlq/epoch=$last").collect().map(_.getString(0)).toSeq ===
      Seq("not json"))
  }

  test("a JDBC tail's DLQ costs no job on a clean epoch and one write on a dirty one") {
    val url = "jdbc:derby:memory:jobsjdbc;create=true"
    val work = tmpDir("jobs-jdbc")
    dirtyTailLog(s"$work/log", turnLines(
      Gen.GenConfig(nEvents = 3000L, nConvs = 50L, partitions = 4, dupEvery = 0L)),
      Seq("not json", "{}"))
    def tail(name: String, dlq: Option[String]): Map[Long, Int] = {
      JdbcExec.execStatements(url, Map.empty, Seq(
        s"""CREATE TABLE "$name" ("ts" TIMESTAMP, "conv_id" VARCHAR(64) NOT NULL, """ +
          """"turn_idx" INT NOT NULL, "role" VARCHAR(32), "text" VARCHAR(512), """ +
          """"tool" VARCHAR(64), PRIMARY KEY ("conv_id", "turn_idx"))"""))
      jobsPerEpoch(CdcPipeline.startJdbc(spark,
        CdcPipeline.CdcConfig(s"$work/log", s"$work/$name-cp", maxFilesPerTrigger = 2,
          format = "debezium", dlqDir = dlq),
        CdcPipeline.JdbcDest(Dialect.Sqlite, url, name, keyCols = Model.keyCols,
          writerId = name)).query.awaitTermination())
    }
    val plain = tail("plain", None)
    val withDlq = tail("dlq", Some(s"$work/dlq"))
    assert(plain.keySet === Set(0L, 1L, 2L))
    // the dirty count rides applyChanges' write job: no staging, no probe
    assert(withDlq === plain + (2L -> (plain(2L) + 1)))
    assert(dlqDirs(s"$work/dlq") === Set("epoch=2"))
  }

  test("a merge, a checkpointed tail and a dead-letter write leave Hadoop's raw local filesystem unused") {
    // without libhadoop the stock raw filesystem forks chmod for every file
    // it creates and FileContext forks readlink for every rename; its write
    // counter moves with any byte that still goes through it
    def stockBytes: Long =
      FileSystem.getStatistics("file", classOf[RawLocalFileSystem]).getBytesWritten
    val work = tmpDir("jobs-spawn")
    val gen = Gen.GenConfig(nEvents = 3000L, nConvs = 50L, partitions = 2)
    val events = Gen.changeEvents(spark, gen).toDF()
    Gen.writeChangeLog(spark, gen, s"$work/log", nChunks = 2, filesPerChunk = 2)
    val lines = CdcEnvelope.encodeDebezium(events,
      Seq("ts", "conv_id", "turn_idx", "role", "text", "tool"), Model.keyCols)
      .limit(20).collect().map(_.getString(0))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$work/dbz"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/dbz/part-0.txt"),
      (lines :+ "not json").mkString("", "\n", "\n").getBytes)
    val before = stockBytes
    LakeTable.create(spark, s"$work/merged", Model.keyCols, 4).merge(events, 0L)
    val jobs = jobsPerEpoch(CdcPipeline.replayAll(spark,
      LakeTable.create(spark, s"$work/lake", Model.keyCols, 4),
      CdcPipeline.CdcConfig(s"$work/log", s"$work/cp", maxFilesPerTrigger = 2)))
    CdcPipeline.replayAll(spark, LakeTable.create(spark, s"$work/dbz-lake", Model.keyCols, 4),
      CdcPipeline.CdcConfig(s"$work/dbz", s"$work/dbz-cp", format = "debezium",
        dlqDir = Some(s"$work/dlq")))
    assert(stockBytes === before)
    assert(jobs === Map(0L -> 2, 1L -> 4))
    assert(spark.read.text(s"$work/dlq/epoch=0").count() === 1L)
  }

  test("a change log generated on a session without a lake table leaves Hadoop's raw local filesystem unused") {
    val stock = FileSystem.getStatistics("file", classOf[RawLocalFileSystem])
    val before = stock.getBytesWritten
    Gen.writeChangeLog(spark.newSession(),
      Gen.GenConfig(nEvents = 3000L, nConvs = 50L, partitions = 2),
      s"${tmpDir("jobs-gen")}/log", nChunks = 2, filesPerChunk = 2)
    assert(stock.getBytesWritten === before)
  }

  test("a merge opens as many local filesystems at 16 buckets as at 4") {
    // LocalFs disables Hadoop's FileSystem cache, so every getFileSystem
    // call builds an instance; Spark's own task-side opens are not counted
    import spark.implicits._
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    val events = Gen.changeEvents(s, Gen.GenConfig(nEvents = 4000L, nConvs = 80L,
      partitions = 4)).toDF().cache()
    def made(buckets: Int): Long = {
      val t = LakeTable.create(s, tmpDir(s"jobs-fs-$buckets"), Model.keyCols, buckets)
      val before = CountingLocalFileSystem.made.get
      // a base publish, then a delta publish too small to compact, so no
      // merge reads table files back (Spark's file index opens one
      // filesystem per path it lists)
      t.merge(events.filter($"lsn" < 3900L), 0L)
      assert(t.merge(events.filter($"lsn" >= 3900L), 1L).compactedBuckets === 0)
      CountingLocalFileSystem.made.get - before
    }
    val (at4, at16) = (made(4), made(16))
    events.unpersist()
    assert(at4 === at16)
  }

  test("LocalFs.install keeps a caller's filesystem and a second call changes nothing") {
    val s = spark.newSession()
    val own = classOf[LocalFileSystem].getName
    s.conf.set("fs.file.impl", own)
    LocalFs.install(s)
    val conf = s.conf.getAll
    LocalFs.install(s)
    assert(s.conf.getAll === conf)
    assert(conf.get("fs.file.impl") === Some(own))
    assert(conf.get("fs.file.impl.disable.cache") === None)
    assert(conf.get("fs.AbstractFileSystem.file.impl") === Some(classOf[NioLocalFs].getName))
  }

  test("each maintenance op submits a pinned number of jobs") {
    import spark.implicits._
    val gen = Gen.GenConfig(nEvents = 6000L, nConvs = 100L, partitions = 4)
    val events = Gen.changeEvents(spark, gen).toDF().cache()
    val t = LakeTable.create(spark, tmpDir("jobs-maint"), Model.keyCols, 4,
      targetFileRows = Some(500L))
    // a large first epoch lands as base files; the small second one stays
    // as deltas for compactAll to fold
    t.merge(events.filter($"lsn" < 5400L), 0L)
    t.merge(events.filter($"lsn" >= 5400L), 1L)
    val horizon = t.currentSnapshot().maxLsn + 1
    def jobs(op: => Unit): Int = {
      val v = t.currentSnapshot().version
      val (epochs, untagged) = auditJobs(op)
      assert(epochs.isEmpty)
      assert(t.currentSnapshot().version === v + 1, "the op must commit")
      untagged.size
    }
    val counts = Seq(
      "compactAll" -> jobs(t.compactAll()),
      "expireTombstones" -> jobs(t.expireTombstones(horizon)),
      "recluster" -> jobs(t.recluster()),
      "reclusterZOrder" -> jobs(t.reclusterZOrder(Seq("turn_idx", "ts"))))
    events.unpersist()
    assert(counts === Seq("compactAll" -> 2, "expireTombstones" -> 3,
      "recluster" -> 2, "reclusterZOrder" -> 4))
  }

  test("a second stream start over the same plan compiles no new classes") {
    // the compile counter is JVM-wide and immune to host load: a replay
    // whose apply path hits the generated-class cache compiles nothing
    def replay(seed: Long): (Map[Long, Int], Seq[String], Long) = {
      val work = tmpDir(s"jobs-compile-$seed")
      Gen.writeChangeLog(spark,
        Gen.GenConfig(seed = seed, nEvents = 6000L, nConvs = 100L, partitions = 4),
        s"$work/log", nChunks = 3, filesPerChunk = 2)
      val t = LakeTable.create(spark, s"$work/lake", Model.keyCols, 4)
      var compiled = 0L
      val (jobs, untagged) = auditJobs {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        CdcPipeline.replayAll(spark, t,
          CdcPipeline.CdcConfig(s"$work/log", s"$work/cp", maxFilesPerTrigger = 2))
        compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      (jobs, untagged, compiled)
    }
    replay(7L)
    val (jobs, untagged, compiled) = replay(8L)
    assert(compiled === 0L)
    // the epoch tag is a thread-local job property, not session state: it
    // still marks every job the rebound micro-batch submits
    assert(jobs === Map(0L -> 2, 1L -> 4, 2L -> 4))
    assert(untagged === Nil)
  }
}
