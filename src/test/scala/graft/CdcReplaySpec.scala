package graft

import org.apache.spark.sql.functions._

import graft.core.{Gen, Model}
import graft.engine.cdc.CdcPipeline
import graft.lake.LakeTable

/** Flagship correctness: replay a deterministic change log (duplicates,
  * out-of-order lsn, deletes, late `tool` column) through the streaming
  * MERGE and assert the final table state equals an independently computed
  * global-LWW oracle — the reference's final-table-state replay pattern
  * (go-datax `test-data/config-conflict-skip-test.json`,
  * `config-conflict-duplicate-test.json`).
  */
class CdcReplaySpec extends SparkSpec {

  private def assertStateMatches(table: LakeTable, cfg: Gen.GenConfig): Unit = {
    import spark.implicits._
    val got = table.read()
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .as[Model.Turn]
    val want = Gen.expectedState(spark, cfg)
    val gotC = got.count()
    val wantC = want.count()
    assert(gotC === wantC, s"row count: got $gotC want $wantC")
    // per-turn text equality under stable (conv_id, turn_idx) ordering
    val diff = got.toDF().exceptAll(want.toDF()).count() +
      want.toDF().exceptAll(got.toDF()).count()
    assert(diff === 0L, s"state mismatch: $diff differing rows")
  }

  test("streaming replay reaches the exact global-LWW final state") {
    val cfg = Gen.GenConfig(nEvents = 20000L, nConvs = 200L, partitions = 8)
    val logDir = tmpDir("cdclog")
    val lakeDir = tmpDir("lake")
    val cp = tmpDir("cp")
    Gen.writeChangeLog(spark, cfg, logDir, nChunks = 10)

    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 8)
    CdcPipeline.replayAll(spark, table,
      CdcPipeline.CdcConfig(logDir, cp, maxFilesPerTrigger = 3))

    assertStateMatches(table, cfg)

    // metrics table materialized with the north-rule fields
    val m = table.metrics()
    assert(m.columns.toSet.contains("rowsApplied"))
    assert(m.agg(sum("rowsIn")).collect()(0).getLong(0) === cfg.nEvents)
    assert(m.agg(sum("duplicatesDropped")).collect()(0).getLong(0) > 0L)
    // logical ingest bytes ride the manifest (GetByteSize analog): every
    // non-skipped epoch reports > 0 bytes, observed on the write job itself
    assert(m.where(!col("skipped")).where(col("bytesIn") <= 0L).count() === 0L)
  }

  test("scheduled tombstone GC bounds delete debt without changing state") {
    val cfg = Gen.GenConfig(nEvents = 20000L, nConvs = 200L, partitions = 8)
    val logDir = tmpDir("cdclog-tgc")
    val lakeDir = tmpDir("lake-tgc")
    val cp = tmpDir("cp-tgc")
    Gen.writeChangeLog(spark, cfg, logDir, nChunks = 10)
    val retain = 2000L // far beyond the generator's duplicate lag (dupLag=100)
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 8)
    CdcPipeline.replayAll(spark, table, CdcPipeline.CdcConfig(logDir, cp,
      maxFilesPerTrigger = 8,
      expireTombstonesEvery = 1, tombstoneRetainLsns = retain,
      vacuumEvery = 2, vacuumRetainVersions = 4))

    // GC is semantically invisible while retainLsns exceeds the source's
    // re-delivery horizon: final state still matches the full-replay oracle
    assertStateMatches(table, cfg)

    // physically: the current snapshot holds NO tombstone older than the
    // final horizon (GC ran after the last epoch), but DOES still hold
    // recent tombstones (the retention window is respected, not a blanket
    // delete-the-deletes)
    val snap = table.currentSnapshot()
    val horizon = snap.maxLsn - retain
    val paths = snap.files.map(f => s"$lakeDir/data/${f.path}")
    val stones = spark.read.parquet(paths: _*)
      .select(col("_op"), col("_lsn")).filter(col("_op") === "D")
    assert(stones.filter(col("_lsn") < horizon).count() === 0L,
      "expirable tombstones survived the scheduled GC")
    assert(stones.filter(col("_lsn") >= horizon).count() > 0L,
      "retention window over-collected: no recent tombstones left")
  }

  test("vacuum sweeps staging dirs abandoned by crashed publishes, age-gated") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val lakeDir = tmpDir("lake-stg")
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 4)
    table.merge(Seq(("I", 1L, ts, "c", 0, "user", "x", None: Option[String]))
      .toDF("op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"), 0L)
    val fs = new org.apache.hadoop.fs.Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a dead attempt's leftover (old mtime throughout the subtree) and a
    // LIVE publish's staging (fresh mtime) — only the dead one may go
    val dead = new org.apache.hadoop.fs.Path(s"$lakeDir/_staging-d-9-deadbeef")
    fs.mkdirs(dead)
    val f = new org.apache.hadoop.fs.Path(dead, "part-0.parquet")
    fs.create(f).close()
    val old = System.currentTimeMillis() - 48L * 3600000L
    fs.setTimes(f, old, old)
    fs.setTimes(dead, old, old)
    val liveStg = new org.apache.hadoop.fs.Path(s"$lakeDir/_staging-d-10-cafe")
    fs.mkdirs(liveStg)
    fs.create(new org.apache.hadoop.fs.Path(liveStg, "part-0.parquet")).close()

    assert(table.vacuum(retainVersions = 8) >= 1)
    assert(!fs.exists(dead), "stale staging dir must be swept")
    assert(fs.exists(liveStg), "recently-touched staging dir must survive")
    assert(table.read().count() === 1L, "data untouched by the sweep")
  }

  test("expireSnapshots drops old manifests, keeping head reads and recent windows") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val lakeDir = tmpDir("lake-esnap")
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 4)
    (0 until 5).foreach { e =>
      table.merge(Seq(("I", e.toLong + 1, ts, s"c$e", 0, "user", s"t$e", None: Option[String]))
        .toDF("op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"), e.toLong)
    }
    val cur = table.currentSnapshot().version // = 4
    assert(table.expireSnapshots(retainVersions = 2) === 3) // snap 0,1,2 gone
    // head reads, metrics/history, and retained windows still work
    assert(table.read().count() === 5L)
    assert(table.currentSnapshot().version === cur)
    assert(table.history().count() === 2L)
    assert(table.readChangesSince(cur - 1).count() === 1L)
    // expired territory fails SHARPLY (missing version, not silent data loss)
    intercept[Exception] { table.readChangesSince(0L).count() }
    intercept[Exception] { table.readVersion(1L).count() }
    // idempotent: nothing left to expire
    assert(table.expireSnapshots(retainVersions = 2) === 0)
  }

  test("fsck: clean on a healthy table, sharp on a missing data file") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val lakeDir = tmpDir("lake-fsck")
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 4)
    (0 until 2).foreach { e =>
      table.merge(Seq(("I", e.toLong + 1, ts, s"c$e", 0, "user", s"t$e", None: Option[String]))
        .toDF("op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"), e.toLong)
    }
    val healthy = table.fsck(retainVersions = 8)
    assert(healthy.clean && healthy.filesOk === table.currentSnapshot().files.size)
    assert(healthy.orphans === 0, "all windows retained, nothing orphaned")

    val fs = new org.apache.hadoop.fs.Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = table.currentSnapshot().files.head.path
    fs.delete(new org.apache.hadoop.fs.Path(s"$lakeDir/data/$victim"), false)
    val sick = table.fsck(retainVersions = 8)
    assert(!sick.clean && sick.missing === Seq(victim))
  }

  test("a data file deleted behind the manifest fails the read with FileNotFoundException") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val lakeDir = tmpDir("lake-gone")
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 4)
    table.merge((0 until 8).map(i => ("I", i + 1L, ts, s"c$i", 0, "user", s"t$i",
      None: Option[String])).toDF("op", "lsn", "ts", "conv_id", "turn_idx", "role", "text",
      "tool"), 0L)
    val victim = table.currentSnapshot().files.head.path
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$lakeDir/data/$victim"))
    // the read is planned from the manifest, so the missing file fails it
    // while it is built, before any scan
    val e = intercept[java.io.FileNotFoundException](table.read())
    assert(e.getMessage.contains(victim), e.getMessage)
  }

  test("readAsOf: wall-clock time travel pins the commit-time version") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val table = LakeTable.create(spark, tmpDir("lake-asof"), Model.keyCols, numBuckets = 4)
    table.merge(Seq(("I", 1L, ts, "c0", 0, "user", "first", None: Option[String]))
      .toDF("op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"), 0L)
    val between = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(60)
    table.merge(Seq(("I", 2L, ts, "c1", 0, "user", "second", None: Option[String]))
      .toDF("op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"), 1L)
    assert(table.readAsOf(between).count() === 1L)
    assert(table.versionAsOf(new java.sql.Timestamp(System.currentTimeMillis()))
      === table.currentSnapshot().version)
    intercept[IllegalArgumentException] {
      table.versionAsOf(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))
    }
  }

  test("tombstone GC on the JSON surface requires an explicit horizon") {
    def spec(params: String) = graft.engine.JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {"path": "/log", "checkpoint": "/cp"}},
      "writer": {"name": "lakewriter", "parameter": {"path": "/lake"$params}}}]}}""")
    val t = graft.engine.JobConfig.translate(
      spec(""", "expireTombstonesEvery": 2, "tombstoneRetainLsns": 1000""")).head
    assert(graft.tools.RunJob.describe(t)
      .contains("expireTombstonesEvery=2 retainLsns=1000"))
    val e = intercept[IllegalArgumentException] {
      graft.engine.JobConfig.translate(spec(""", "expireTombstonesEvery": 2"""))
    }
    assert(e.getMessage.contains("tombstoneRetainLsns"))
  }

  test("restart from checkpoint: stop mid-stream, resume, no double-apply") {
    val cfg = Gen.GenConfig(nEvents = 20000L, nConvs = 200L, partitions = 8)
    val logDir = tmpDir("cdclog2")
    val lakeDir = tmpDir("lake2")
    val cp = tmpDir("cp2")
    Gen.writeChangeLog(spark, cfg, logDir, nChunks = 10)

    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 8)
    // phase 1: process only a prefix (2 triggers x 2 files), then stop
    val q = CdcPipeline.start(spark, table,
      CdcPipeline.CdcConfig(logDir, cp, maxFilesPerTrigger = 2, availableNow = false))
    var waited = 0
    while (table.currentSnapshot().lastEpoch < 1 && waited < 600) {
      Thread.sleep(100); waited += 1
    }
    q.stop()
    q.awaitTermination()
    val midEpoch = table.currentSnapshot().lastEpoch
    assert(midEpoch >= 1, "no progress before stop")

    // phase 2: resume from the same checkpoint to completion
    CdcPipeline.replayAll(spark, table,
      CdcPipeline.CdcConfig(logDir, cp, maxFilesPerTrigger = 2))

    assertStateMatches(table, cfg)
    // exactly-once: every event applied exactly once despite the restart
    assert(table.metrics().where(!col("skipped"))
      .agg(sum("rowsIn")).collect()(0).getLong(0) === cfg.nEvents)
  }

  test("time-based flush: continuous tail fires micro-batches on a processing-time interval") {
    // the starrocks/doris writers' third flush dimension (rows/bytes/
    // INTERVAL, starrocks_writer.go:27-31) — here the streaming trigger
    val cfg = Gen.GenConfig(nEvents = 4000L, nConvs = 50L, partitions = 4)
    val logDir = tmpDir("cdclog-t")
    val lakeDir = tmpDir("lake-t")
    val cp = tmpDir("cp-t")
    Gen.writeChangeLog(spark, cfg, logDir, nChunks = 4)

    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 4)
    val q = CdcPipeline.start(spark, table,
      CdcPipeline.CdcConfig(logDir, cp, maxFilesPerTrigger = 100,
        availableNow = false, triggerInterval = Some("1 second")))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    assertStateMatches(table, cfg)
  }

  test("streaming followers: replica and rollup co-maintained per epoch, resume-safe") {
    val cfg = Gen.GenConfig(nEvents = 20000L, nConvs = 200L, partitions = 8)
    val logDir = tmpDir("cdclog-f")
    val cp = tmpDir("cp-f")
    Gen.writeChangeLog(spark, cfg, logDir, nChunks = 10)

    val table = LakeTable.create(spark, tmpDir("lake-f"), Model.keyCols, numBuckets = 8)
    val replica = LakeTable.create(spark, tmpDir("replica-f"), Model.keyCols, numBuckets = 4)
    // rollup grouped on the lake's distribution key → dirty-bucket refreshes
    val rollup = LakeTable.create(spark, tmpDir("rollup-f"), Seq("conv_id"), numBuckets = 4)
    val aggs = graft.lake.Rollup.transcriptAggs
    // aggressive vacuum alongside: followers sync before the vacuum step
    // each epoch, so retention can never reclaim a window they still need
    val cdcCfg = CdcPipeline.CdcConfig(logDir, cp, maxFilesPerTrigger = 3,
      vacuumEvery = 2, vacuumRetainVersions = 2,
      followers = Seq(CdcPipeline.ReplicaFollower(replica),
        CdcPipeline.RollupFollower(rollup, aggs)))

    // phase 1: stop mid-stream — follower watermarks must survive the crash
    val q = CdcPipeline.start(spark, table, cdcCfg.copy(availableNow = false))
    var waited = 0
    while (table.currentSnapshot().lastEpoch < 1 && waited < 600) {
      Thread.sleep(100); waited += 1
    }
    q.stop()
    q.awaitTermination()
    // phase 2: resume from the same checkpoint to completion
    CdcPipeline.replayAll(spark, table, cdcCfg)

    assertStateMatches(table, cfg)
    assertStateMatches(replica, cfg)
    // the rollup equals a from-scratch recompute over the final state
    val cols = Seq("conv_id", "n_turns", "n_chars", "n_tool_calls", "last_ts")
    val got = rollup.read().select(cols.head, cols.tail: _*)
    val want = table.read().groupBy("conv_id").agg(aggs.head, aggs.tail: _*)
      .select(cols.head, cols.tail: _*)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() + want.exceptAll(got).count() === 0L,
      "rollup diverged from the from-scratch aggregate")
    // follower lag is zero at end-of-log: both are synced to the source head
    val head = table.currentSnapshot().version
    assert(replica.currentSnapshot().lastEpochFor("replication") === head)
    assert(rollup.currentSnapshot().lastEpochFor("rollup") === head)
  }

  test("replayed epoch is skipped idempotently (batch API)") {
    import spark.implicits._
    val cfg = Gen.GenConfig(nEvents = 2000L, nConvs = 50L, partitions = 4)
    val lakeDir = tmpDir("lake3")
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 4)
    val batch = Gen.changeEvents(spark, cfg).toDF()

    val s1 = table.merge(batch, epoch = 0L)
    assert(!s1.skipped)
    val rows1 = table.read().count()
    val s2 = table.merge(batch, epoch = 0L) // exact replay — must be a no-op
    assert(s2.skipped)
    assert(table.read().count() === rows1)
    assert(table.currentSnapshot().lastEpoch === 0L)
  }

  test("schema evolution generalizes: a second new column and a type conflict") {
    import spark.implicits._
    val cfg = Gen.GenConfig(nEvents = 2000L, nConvs = 50L, partitions = 4)
    val lakeDir = tmpDir("lake7")
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 4)
    val all = Gen.changeEvents(spark, cfg)
    table.merge(all.filter($"lsn" < 1000L).drop("tool").toDF(), 0L)
    // second epoch adds BOTH `tool` and a brand-new `score` column
    table.merge(all.filter($"lsn" >= 1000L).toDF()
      .withColumn("score", (col("lsn") % 7).cast("double")), 1L)
    val schema = table.read().schema
    assert(schema.fieldNames.contains("tool") && schema.fieldNames.contains("score"))
    // old rows are null-filled in the evolved columns
    assert(table.read().where(col("score").isNull).count() > 0L)
    assert(table.read().where(col("score").isNotNull).count() > 0L)
    // non-additive change (type conflict) is rejected
    val bad = all.limit(10).toDF().withColumn("score", lit("not-a-double"))
    intercept[IllegalArgumentException] { table.merge(bad, 2L) }
  }

  test("type widening: int payload column promotes to long, old files upcast on read") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val cfg = Gen.GenConfig(nEvents = 2000L, nConvs = 50L, partitions = 4)
    val lakeDir = tmpDir("lake-widen")
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 4)
    val all = Gen.changeEvents(spark, cfg)
    // epoch 0: score is INT, weight is FLOAT
    table.merge(all.filter($"lsn" < 1000L).toDF()
      .withColumn("score", (col("lsn") % 7).cast("int"))
      .withColumn("weight", (col("lsn") % 5).cast("float")), 0L)
    // epoch 1: the source widened both columns (values exceed int range)
    table.merge(all.filter($"lsn" >= 1000L).toDF()
      .withColumn("score", col("lsn") + 4000000000L)
      .withColumn("weight", (col("lsn") % 5).cast("double")), 1L)
    val out = table.read()
    assert(out.schema("score").dataType == LongType)
    assert(out.schema("weight").dataType == DoubleType)
    // rows written as int (epoch-0 parquet files) upcast at read time
    assert(out.where(col("score") < 1000L).count() > 0L)
    assert(out.where(col("score") > 4000000000L).count() > 0L)
    // a later NARROW batch casts up on write and merges cleanly
    table.merge(all.limit(100).toDF()
      .withColumn("score", lit(3).cast("short"))
      .withColumn("weight", lit(1.5f)), 2L)
    assert(table.read().schema("score").dataType == LongType)
    // cross-family change is still rejected
    val bad = all.limit(10).toDF().withColumn("score", lit(1.5))
    intercept[IllegalArgumentException] { table.merge(bad, 3L) }
  }

  test("deleteWhere tombstones matching rows; late duplicates cannot resurrect them") {
    import spark.implicits._
    val cfg = Gen.GenConfig(nEvents = 3000L, nConvs = 30L, partitions = 4)
    val table = LakeTable.create(spark, tmpDir("lake-delw"), Model.keyCols, 4)
    val events = Gen.changeEvents(spark, cfg).toDF().cache()
    table.merge(events, 0L)
    val victim = table.read().select("conv_id").head().getString(0)

    val st = table.deleteWhere(col("conv_id") === victim, epoch = 1L)
    assert(st.deletes > 0L)
    assert(table.read().filter(col("conv_id") === victim).count() === 0L)
    val others = table.read().count()
    assert(others > 0L)

    // at-least-once: the ORIGINAL events redelivered in a later epoch must
    // lose LWW against the manifest-minted tombstone lsn
    table.merge(events.filter(col("conv_id") === victim), 2L)
    assert(table.read().filter(col("conv_id") === victim).count() === 0L)
    assert(table.read().count() === others)

    // replaying the delete epoch itself is skipped idempotently
    assert(table.deleteWhere(col("conv_id") === victim, epoch = 1L).skipped)
    events.unpersist()
    ()
  }

  test("rollbackTo restores an earlier state as a new snapshot; diff windows match") {
    import spark.implicits._
    val cfg = Gen.GenConfig(nEvents = 2000L, nConvs = 20L, partitions = 4)
    val table = LakeTable.create(spark, tmpDir("lake-rb"), Model.keyCols, 4)
    val events = Gen.changeEvents(spark, cfg).toDF().cache()
    table.merge(events.filter($"lsn" < 1000L), 0L)
    val goodVersion = table.currentSnapshot().version
    val goodState = table.read().orderBy("conv_id", "turn_idx").collect().toSeq

    // a "bad" merge lands, then is rolled back
    table.merge(events.filter($"lsn" >= 1000L)
      .withColumn("text", lit("CORRUPTED")), 1L)
    assert(table.read().filter($"text" === "CORRUPTED").count() > 0L)
    table.rollbackTo(goodVersion)
    assert(table.read().orderBy("conv_id", "turn_idx").collect().toSeq == goodState)
    // history preserved: the bad snapshot is still time-travel-readable
    assert(table.readVersion(goodVersion + 1).filter($"text" === "CORRUPTED").count() > 0L)
    // the rolled-back epoch replays idempotently (lineage kept)
    assert(table.merge(events.limit(10), 1L).skipped)
    // incremental readers see NO changes from the reverted versions: a
    // window spanning bad-merge + rollback yields the empty change set
    assert(table.readChangesBetween(goodVersion, table.currentSnapshot().version)
      .count() === 0L)
    // re-applying under a fresh epoch works and the bounded diff window
    // between the pre- and post-fix snapshots shows exactly those changes
    val before = table.currentSnapshot().version
    table.merge(events.filter($"lsn" >= 1000L), 2L)
    val win = table.readChangesBetween(before, table.currentSnapshot().version)
    assert(win.count() > 0L)
    assert(win.filter(col("_lsn") < 1000L).count() === 0L)
    assert(win.filter($"text" === "CORRUPTED").count() === 0L)
    // rolling back past a vacuum is refused (the target's files are gone)
    table.vacuum()
    val e = intercept[IllegalArgumentException] { table.rollbackTo(goodVersion + 1) }
    assert(e.getMessage.contains("vacuumed"))
    // a version that never existed, or whose manifest expired, is refused
    // sharply and by name
    val never = intercept[IllegalArgumentException] { table.rollbackTo(-1L) }
    assert(never.getMessage.contains("snapshot version -1 does not exist"))
    assert(table.expireSnapshots(retainVersions = 2) > 0)
    val expired = intercept[IllegalArgumentException] { table.rollbackTo(goodVersion) }
    assert(expired.getMessage.contains(s"snapshot version $goodVersion does not exist"))
    events.unpersist()
    ()
  }

  test("updateWhere rewrites matching payloads and wins over late duplicates") {
    import spark.implicits._
    val cfg = Gen.GenConfig(nEvents = 2000L, nConvs = 20L, partitions = 4)
    val table = LakeTable.create(spark, tmpDir("lake-updw"), Model.keyCols, 4)
    val events = Gen.changeEvents(spark, cfg).toDF().cache()
    table.merge(events, 0L)
    val victim = table.read().select("conv_id").head().getString(0)
    val nVictim = table.read().filter(col("conv_id") === victim).count()

    table.updateWhere(col("conv_id") === victim,
      Map("text" -> lit("<REDACTED>")), epoch = 1L)
    val redacted = table.read().filter(col("conv_id") === victim)
    assert(redacted.count() === nVictim)
    assert(redacted.filter(col("text") =!= "<REDACTED>").count() === 0L)
    // other rows untouched
    assert(table.read().filter(col("conv_id") =!= victim && col("text") === "<REDACTED>")
      .count() === 0L)
    // late re-delivery of the original events loses against the rewrite
    table.merge(events.filter(col("conv_id") === victim), 2L)
    assert(table.read().filter(col("conv_id") === victim && col("text") =!= "<REDACTED>")
      .count() === 0L)
    // key changes are rejected
    intercept[IllegalArgumentException] {
      table.updateWhere(lit(true), Map("turn_idx" -> lit(0)), epoch = 3L)
    }
    events.unpersist()
    ()
  }

  test("key column types are frozen: widening a key is rejected") {
    import spark.implicits._
    val cfg = Gen.GenConfig(nEvents = 500L, nConvs = 20L, partitions = 2)
    val table = LakeTable.create(spark, tmpDir("lake-keyfreeze"), Model.keyCols, numBuckets = 4)
    val all = Gen.changeEvents(spark, cfg)
    table.merge(all.toDF(), 0L)
    val widenedKey = all.toDF().withColumn("turn_idx", col("turn_idx").cast("long"))
    val e = intercept[IllegalArgumentException] { table.merge(widenedKey, 1L) }
    assert(e.getMessage.contains("turn_idx"))
  }

  test("late re-delivery of an older duplicate cannot resurrect a deleted key") {
    import spark.implicits._
    import java.sql.Timestamp
    val lakeDir = tmpDir("lake5")
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 2)
    val ts = new Timestamp(1704067200000L)
    def ev(op: String, lsn: Long, text: String) =
      Model.ChangeEvent(op, lsn, ts, "conv-1", 0,
        if (op == "D") None else Some("user"),
        if (op == "D") None else Some(text), None)

    // epoch 0: insert then delete (tombstone wins, lsn 2 > 1)
    table.merge(Seq(ev("I", 1L, "hello"), ev("D", 2L, "")).toDF(), 0L)
    assert(table.read().count() === 0L)
    // epoch 0 compacted (empty base promotes) — tombstone must SURVIVE it
    // epoch 1: at-least-once source re-delivers the ORIGINAL insert (lsn 1)
    table.merge(Seq(ev("I", 1L, "hello")).toDF(), 1L)
    assert(table.read().count() === 0L,
      "re-delivered older duplicate resurrected a deleted key")

    // a NEWER insert (lsn 3) legitimately recreates the key
    table.merge(Seq(ev("I", 3L, "hello again")).toDF(), 2L)
    assert(table.read().count() === 1L)

    // tombstone GC below the re-delivery horizon keeps live rows only
    table.expireTombstones(horizonLsn = 3L)
    assert(table.read().count() === 1L)
    assert(table.readInternal().count() === 1L) // D(lsn 2) physically gone
  }

  test("rebucketTo: identical state under new layout, lineage carried, tombstones survive") {
    import spark.implicits._
    import java.sql.Timestamp
    val ts = new Timestamp(1704067200000L)
    def ev(op: String, lsn: Long, conv: String, turn: Int) =
      Model.ChangeEvent(op, lsn, ts, conv, turn,
        if (op == "D") None else Some("user"),
        if (op == "D") None else Some(s"text-$conv-$turn"), None)

    val src = LakeTable.create(spark, tmpDir("rb-src"), Model.keyCols, numBuckets = 4)
    // two epochs: 40 keys, one updated, one deleted
    src.merge((0 until 40).map(i => ev("I", i + 1L, s"conv-${i % 10}", i / 10)).toDF(), 0L)
    src.merge(Seq(ev("U", 100L, "conv-0", 0), ev("D", 101L, "conv-1", 0)).toDF(), 1L)

    val dstRoot = tmpDir("rb-dst") + "/t"
    val dst = src.rebucketTo(dstRoot, newBuckets = 8)

    // state equality under the new layout
    val diff = dst.read().exceptAll(src.read()).count() +
      src.read().exceptAll(dst.read()).count()
    assert(diff === 0L, s"$diff rows differ after rebucket")
    // layout really is 8 buckets, recorded in the manifest (open validates)
    val reopened = LakeTable.open(spark, dstRoot)
    assert(reopened.numBuckets === 8)
    // point lookup prunes under the NEW bucketing
    assert(dst.readKey(Seq("conv-0", 0)).collect()(0).getAs[String]("text") === "text-conv-0-0")

    // epoch lineage carried: a replay of source epoch 1 is skipped...
    assert(dst.merge(Seq(ev("U", 100L, "conv-0", 0)).toDF(), 1L).skipped)
    // ...while the stream's NEXT epoch applies normally
    assert(!dst.merge(Seq(ev("I", 200L, "conv-9", 9)).toDF(), 2L).skipped)

    // tombstone carried: a late re-delivered OLDER duplicate of the deleted
    // key still loses LWW in the rebucketed table
    dst.merge(Seq(ev("I", 50L, "conv-1", 0)).toDF(), 3L)
    assert(dst.read().filter($"conv_id" === "conv-1" && $"turn_idx" === 0).count() === 0L,
      "rebucket dropped the tombstone — older duplicate resurrected the key")

    // maxLsn carried: a predicate delete mints a lsn above EVERYTHING,
    // including the source table's history
    dst.deleteWhere($"conv_id" === "conv-0", epoch = 4L)
    assert(dst.read().filter($"conv_id" === "conv-0").count() === 0L)
    assert(dst.currentSnapshot().maxLsn > 200L)

    // a non-empty destination is refused
    intercept[IllegalArgumentException] { src.rebucketTo(dstRoot, 8) }
  }

  test("tombstone GC rewrites only buckets holding expirable tombstones") {
    import spark.implicits._
    import java.sql.Timestamp
    val table = LakeTable.create(spark, tmpDir("lakegc"), Model.keyCols, numBuckets = 8)
    val ts = new Timestamp(1704067200000L)
    def ev(op: String, lsn: Long, conv: String) =
      Model.ChangeEvent(op, lsn, ts, conv, 0,
        if (op == "D") None else Some("user"),
        if (op == "D") None else Some(s"text-$conv"), None)
    table.merge((0 until 64).map(i => ev("I", i + 1L, s"conv-$i")).toDF(), 0L)
    table.compactAll()
    // one delete -> after compaction its tombstone sits in ONE bucket's base
    table.merge(Seq(ev("D", 1000L, "conv-3")).toDF(), 1L)
    table.compactAll()
    val before = table.currentSnapshot().files.map(f => (f.bucket, f.path)).toSet
    table.expireTombstones(horizonLsn = 2000L)
    val after = table.currentSnapshot().files.map(f => (f.bucket, f.path)).toSet
    val changed = (before.diff(after) ++ after.diff(before)).map(_._1)
    assert(changed.size === 1, s"GC rewrote buckets $changed — must touch only the tombstone's")
    assert(table.read().count() === 63)
    assert(table.readInternal().count() === 63) // tombstone physically gone
    // nothing left to expire -> provably a no-op (no new snapshot version)
    val v = table.currentSnapshot().version
    table.expireTombstones(horizonLsn = 2000L)
    assert(table.currentSnapshot().version === v, "empty GC must not commit")
  }

  /** Three merges into 8 buckets: 64 inserts, then a delete of `conv-3` at
    * lsn 1000 and an update of `conv-5` at lsn 1001, both left as deltas.
    */
  private def threeEpochTable(name: String, targetFileRows: Option[Long] = None): LakeTable = {
    import spark.implicits._
    val table = LakeTable.create(spark, tmpDir(name), Model.keyCols, numBuckets = 8,
      targetFileRows = targetFileRows)
    val ts = new java.sql.Timestamp(1704067200000L)
    def ev(op: String, lsn: Long, conv: String) =
      Model.ChangeEvent(op, lsn, ts, conv, 0,
        if (op == "D") None else Some("user"),
        if (op == "D") None else Some(s"text-$conv-$lsn"), None)
    table.merge((0 until 64).map(i => ev("I", i + 1L, s"conv-$i")).toDF(), 0L)
    table.merge(Seq(ev("D", 1000L, "conv-3")).toDF(), 1L)
    table.merge(Seq(ev("U", 1001L, "conv-5")).toDF(), 2L)
    table
  }

  test("maintenance commits add no metrics rows: one row per merged epoch") {
    val table = threeEpochTable("lake-mstats")
    val v = table.currentSnapshot().version
    table.compactAll()
    table.expireTombstones(horizonLsn = 2000L)
    table.recluster()
    assert(table.currentSnapshot().version === v + 3, "every op must commit")
    assert(table.metrics().orderBy("epoch").collect().map(_.getAs[Long]("epoch")).toSeq ===
      Seq(0L, 1L, 2L))
    assert(table.read().count() === 63L)
  }

  test("maintenance staging never collides with another writer's staging dir") {
    val table = threeEpochTable("lake-mstage", targetFileRows = Some(4L))
    val fs = new org.apache.hadoop.fs.Path(table.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stagingDirs(): Set[String] = fs.listStatus(new org.apache.hadoop.fs.Path(table.root))
      .filter(f => f.isDirectory && f.getPath.getName.startsWith("_staging-"))
      .map(_.getPath.getName).toSet
    val ops = Seq[(String, () => Unit)](
      "ca" -> (() => table.compactAll()),
      "tg" -> (() => table.expireTombstones(horizonLsn = 2000L)),
      "rc" -> (() => table.recluster()),
      "rz" -> (() => table.reclusterZOrder(Seq("turn_idx", "ts"))))
    val planted = ops.map { case (tag, op) =>
      // a concurrent writer's fresh staging dir under the name a
      // version-keyed scheme would give this op
      val v = table.currentSnapshot().version
      val dir = new org.apache.hadoop.fs.Path(s"${table.root}/_staging-$tag-${v + 1}")
      val file = new org.apache.hadoop.fs.Path(dir, "part-0.parquet")
      fs.mkdirs(dir)
      fs.create(file).close()
      op()
      assert(table.currentSnapshot().version === v + 1, s"$tag must commit")
      assert(fs.exists(file), s"$tag deleted another writer's staging dir")
      dir.getName
    }
    assert(stagingDirs() === planted.toSet, "an op left its own staging dir behind")
    assert(table.read().count() === 63L)
  }

  test("incremental CDC-out: readChangesSince yields the window's LWW change set") {
    import spark.implicits._
    import java.sql.Timestamp
    val table = LakeTable.create(spark, tmpDir("lakeinc"), Model.keyCols, numBuckets = 4)
    val ts = new Timestamp(1704067200000L)
    def ev(op: String, lsn: Long, conv: String, text: String) =
      Model.ChangeEvent(op, lsn, ts, conv, 0,
        if (op == "D") None else Some("user"),
        if (op == "D") None else Some(text), None)

    table.merge(Seq(ev("I", 1L, "conv-a", "a1"), ev("I", 2L, "conv-b", "b1")).toDF(), 0L)
    val v0 = table.currentSnapshot().version
    table.merge(Seq(ev("U", 3L, "conv-a", "a2"), ev("I", 4L, "conv-c", "c1")).toDF(), 1L)
    table.merge(Seq(ev("D", 5L, "conv-b", "")).toDF(), 2L)

    val changes = table.readChangesSince(v0)
      .select("conv_id", "text", "_op", "_lsn").collect()
      .map(r => r.getString(0) -> ((Option(r.getString(1)), r.getString(2), r.getLong(3)))).toMap
    assert(changes.size === 3)
    assert(changes("conv-a") === ((Some("a2"), "U", 3L))) // LWW within the window
    assert(changes("conv-b")._2 === "D") // tombstone visible downstream
    assert(changes("conv-c") === ((Some("c1"), "I", 4L)))
    // empty window
    assert(table.readChangesSince(table.currentSnapshot().version).count() === 0L)
    // maintenance compaction between reads does not lose the window
    table.compactAll()
    assert(table.readChangesSince(v0).count() === 3L)
    // a merge whose deltas are folded by INLINE compaction still reports
    // its changes (addedDeltas recorded pre-compaction)
    val v2 = table.currentSnapshot().version
    val st = table.merge(Seq(ev("U", 6L, "conv-a", "a3")).toDF(), 3L)
    assert(st.compactedBuckets > 0, "expected inline compaction for this probe")
    val inc = table.readChangesSince(v2).select("conv_id", "_lsn").collect()
    assert(inc.length === 1 && inc(0).getString(0) === "conv-a" && inc(0).getLong(1) === 6L)
  }

  test("periodic vacuum during streaming replay keeps state correct and reclaims files") {
    val cfg = Gen.GenConfig(nEvents = 20000L, nConvs = 200L, partitions = 8)
    val logDir = tmpDir("cdclogv")
    val lakeDir = tmpDir("lakev")
    Gen.writeChangeLog(spark, cfg, logDir, nChunks = 10)
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 8)
    CdcPipeline.replayAll(spark, table,
      CdcPipeline.CdcConfig(logDir, tmpDir("cpv"), maxFilesPerTrigger = 24, vacuumEvery = 2))
    assertStateMatches(table, cfg)
    // every live file is referenced; a final vacuum removes only leftovers
    val live = table.currentSnapshot().files.map(_.path).toSet
    table.vacuum()
    assert(table.currentSnapshot().files.map(_.path).toSet === live)
    assertStateMatches(table, cfg)
  }

  test("snapshot isolation: a reader pinned before a merge sees the old state; vacuum reclaims") {
    import spark.implicits._
    val cfg = Gen.GenConfig(nEvents = 2000L, nConvs = 50L, partitions = 4)
    val lakeDir = tmpDir("lake6")
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 4)
    val all = Gen.changeEvents(spark, cfg)
    table.merge(all.filter($"lsn" < 1000L).toDF(), 0L)
    val oldCount = table.read().count()
    // pin the old snapshot's PLAN (file list resolved now, lazily executed)
    val pinned = table.read()
    table.merge(all.filter($"lsn" >= 1000L).toDF(), 1L)
    // the pinned reader still executes against the old version's files
    assert(pinned.count() === oldCount)
    assert(table.read().count() > oldCount)
    // vacuum drops files unreferenced by the CURRENT snapshot
    assert(table.vacuum() > 0)
    assert(table.read().count() > oldCount) // current snapshot intact
  }

  test("generator is parallelism-independent (seed-splittable)") {
    val cfg = Gen.GenConfig(nEvents = 5000L, nConvs = 100L, partitions = 3)
    val a = Gen.changeEvents(spark, cfg).toDF()
    val b = Gen.changeEvents(spark, cfg.copy(partitions = 17)).toDF()
    assert(a.exceptAll(b).count() === 0L && b.exceptAll(a).count() === 0L)
  }

  test("additive schema evolution: early batches lack `tool`, final state has it") {
    import spark.implicits._
    val cfg = Gen.GenConfig(nEvents = 4000L, nConvs = 50L, partitions = 4)
    val lakeDir = tmpDir("lake4")
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, numBuckets = 4)
    val all = Gen.changeEvents(spark, cfg)
    // first half without the tool column at all (schema v1)
    table.merge(all.filter($"lsn" < cfg.nEvents / 2).drop("tool"), 0L)
    assert(!table.currentSnapshot().schema.get.fieldNames.contains("tool"))
    // second half carries tool — merged schema must gain it, old rows null
    table.merge(all.filter($"lsn" >= cfg.nEvents / 2).toDF(), 1L)
    assert(table.read().schema.fieldNames.contains("tool"))
    assertStateMatches(table, cfg)
    assert(table.read().where(col("tool").isNotNull).count() > 0L)
  }
}
