package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Gen, Model}
import graft.engine.cdc.CdcPipeline
import graft.lake.LakeTable

/** Initial-snapshot onboarding (CdcPipeline.bootstrap): seed the lake with
  * the source's consistent state at L₀, tail the log from some retained
  * start, and converge to the same final state as a full replay — the
  * Debezium snapshot-mode analog. Exercises the convergence contract's two
  * legs (snapshot rows outrank their overlapped history; a truncated-START
  * tail cannot resurrect a deleted key because the delete that killed an
  * overlapped insert is always retained with it), plus exactly-once
  * re-onboarding and the JSON job surface.
  */
class OnboardSpec extends SparkSpec {

  private val cfg = Gen.GenConfig(nEvents = 20000L, nConvs = 200L, partitions = 8)
  private val L0 = cfg.nEvents / 2

  /** The source's transactionally consistent state at `maxLsn` (live rows
    * only — a snapshot has no tombstones), computed with a window plan, a
    * different code path from both the merge and Gen.expectedState's reduce.
    */
  private def snapshotAt(maxLsn: Long): DataFrame = {
    val w = Window.partitionBy("conv_id", "turn_idx")
      .orderBy(col("lsn").desc, col("ts").desc)
    Gen.changeEvents(spark, cfg).toDF()
      .filter(col("lsn") <= maxLsn)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") =!= "D")
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  private def writeTail(dir: String, fromLsnExclusive: Long): Unit =
    Gen.changeEvents(spark, cfg).toDF()
      .filter(col("lsn") > fromLsnExclusive)
      .repartition(6).write.parquet(dir)

  private def assertMatchesFullReplay(table: LakeTable): Unit = {
    import spark.implicits._
    val got = table.read()
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .as[Model.Turn].toDF()
    val want = Gen.expectedState(spark, cfg).toDF()
    assert(got.count() === want.count(), "row count vs full-replay oracle")
    val diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    assert(diff === 0L, s"state mismatch vs full-replay oracle: $diff rows")
  }

  test("bootstrap at L0 + disjoint tail (lsn > L0) converges to the full-replay state") {
    val log = tmpDir("onb-log-disjoint") + "/log"
    writeTail(log, fromLsnExclusive = L0)
    val table = LakeTable.create(spark, tmpDir("onb-lake1") + "/t", Model.keyCols, numBuckets = 8)
    val st = CdcPipeline.bootstrap(table, snapshotAt(L0), L0)
    assert(!st.skipped && st.rowsApplied > 0L)
    CdcPipeline.replayAll(spark, table, CdcPipeline.CdcConfig(log, tmpDir("onb-cp1")))
    assertMatchesFullReplay(table)
  }

  test("overlapping tail (lsn > L0/2) is safe: snapshot outranks overlapped history") {
    val log = tmpDir("onb-log-overlap") + "/log"
    writeTail(log, fromLsnExclusive = L0 / 2)
    val table = LakeTable.create(spark, tmpDir("onb-lake2") + "/t", Model.keyCols, numBuckets = 8)
    CdcPipeline.bootstrap(table, snapshotAt(L0), L0)
    CdcPipeline.replayAll(spark, table, CdcPipeline.CdcConfig(log, tmpDir("onb-cp2")))
    assertMatchesFullReplay(table)
  }

  test("bootstrap on an empty table bulk-loads base files in one write") {
    // a first commit lands as base files: ONE base publish (no delta +
    // immediate-compaction double write), stats on all columns, and the
    // base entries doubling as the change window so a replica can follow
    // the table from its very first commit
    val table = LakeTable.create(spark, tmpDir("onb-bulk") + "/t", Model.keyCols, numBuckets = 8)
    val st = CdcPipeline.bootstrap(table, snapshotAt(L0), L0)
    assert(!st.skipped && st.compactedBuckets === 0)
    val snap = table.currentSnapshot()
    assert(snap.version === 0L, "bulk load is the first commit")
    assert(snap.files.nonEmpty && snap.files.forall(_.kind == "b"),
      s"expected base-only files, got kinds ${snap.files.map(_.kind).distinct}")
    assert(snap.addedDeltas === snap.files, "the load is its own change window")
    assert(snap.maxLsn === L0)

    val dst = LakeTable.create(spark, tmpDir("onb-bulk-dst") + "/t", Model.keyCols, numBuckets = 4)
    graft.lake.Replicate.sync(table, dst)
    val diff = dst.read().exceptAll(table.read()).count() +
      table.read().exceptAll(dst.read()).count()
    assert(diff === 0L, "replica must converge from the bulk-loaded first commit")
  }

  test("a fresh table's first merge writes each row once") {
    // no delta publish superseded by an inline compaction: every byte under
    // data/ belongs to a live base file of the first commit
    val root = tmpDir("onb-first") + "/t"
    val table = LakeTable.create(spark, root, Model.keyCols, numBuckets = 8)
    val st = table.merge(Gen.changeEvents(spark, cfg).toDF(), epoch = 0L)
    assert(!st.skipped && st.compactedBuckets === 0)
    val snap = table.currentSnapshot()
    assert(snap.files.nonEmpty && snap.files.forall(f => f.kind == "b" && f.path.startsWith("s")),
      s"expected s-named base files, got ${snap.files.map(f => (f.kind, f.path)).take(3)}")
    assert(snap.addedDeltas === snap.files, "the first commit is its own change window")
    def bytes(names: Seq[String]): Long = names.map(n => new java.io.File(s"$root/data/$n").length).sum
    val onDisk = new java.io.File(s"$root/data").list().toSeq.filter(_.endsWith(".parquet"))
    assert(bytes(onDisk) === bytes(snap.files.map(_.path)))
    assertMatchesFullReplay(table)
  }

  test("the file tail emits the bulk-loaded seed epoch; compaction rewrites stay silent") {
    // a first commit names its base files `s*` so readStreamChanges' {d,s}
    // glob ships the onboarding epoch to tail consumers exactly once —
    // without it, every seeded key that never changes again would be
    // invisible to the file tail forever. Compaction rewrites keep the `b*`
    // prefix and must stay excluded (no re-emission).
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val dir = tmpDir("onb-tail")
    val src = LakeTable.create(spark, s"$dir/src", Model.keyCols, numBuckets = 4)
    val snapshot = Seq(
      ("s1", 0, "user", "seeded-1", None: Option[String], ts),
      ("s2", 0, "user", "seeded-2", None: Option[String], ts))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    CdcPipeline.bootstrap(src, snapshot, snapshotLsn = 10L)
    // post-seed change + enough delta churn to trigger a compaction rewrite
    (1 to 3).foreach { e =>
      src.merge(Seq(("U", 10L + e, ts, "s1", 0, "user", s"upd-$e", None: Option[String]))
        .toDF("op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"), e.toLong)
    }
    src.compactAll()
    val dst = LakeTable.create(spark, s"$dir/dst", Model.keyCols, numBuckets = 4)
    val q = src.readStreamChanges(maxFilesPerTrigger = 8)
      .writeStream
      .option("checkpointLocation", s"$dir/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, epoch: Long) =>
        dst.merge(b, epoch, writerId = "cdc-tail"); ()
      }
      .start()
    q.awaitTermination()
    val state = dst.read().select("conv_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(state === Set(("s1", "upd-3"), ("s2", "seeded-2")),
      s"tail must deliver seed + deltas, once each (got $state)")
  }

  test("bootstrap onto a NON-empty table arbitrates through the MOR merge") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val table = LakeTable.create(spark, tmpDir("onb-nonempty") + "/t", Model.keyCols, numBuckets = 4)
    // pre-seed: a newer change (lsn 9) the snapshot (lsn 4) must NOT clobber,
    // and an older row (lsn 1) it must win over
    table.merge(Seq(
      ("U", 9L, ts, "cA", 0, "user", "newer", None: Option[String]),
      ("I", 1L, ts, "cB", 0, "user", "older", None: Option[String]))
      .toDF("op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"), epoch = 0L)
    val snapshot = Seq(
      ("cA", 0, "user", "snapA", None: Option[String], ts),
      ("cB", 0, "user", "snapB", None: Option[String], ts))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val st = CdcPipeline.bootstrap(table, snapshot, snapshotLsn = 4L)
    assert(!st.skipped)
    val state = table.read().select("conv_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(state === Set(("cA", "newer"), ("cB", "snapB")), state.toString)
  }

  test("onboarding across the schema-evolution boundary: pre-tool snapshot, evolved tail") {
    // the snapshot is taken BEFORE the additive `tool` column existed
    // (L0' = nEvents/4 < toolFromLsn = nEvents/2), so the bootstrap merge
    // commits a tool-less schema; the tail then delivers evolved events and
    // the lake must add the column, null-filling bootstrap rows — the north
    // rule's additive-evolution case composed with onboarding
    val cut = cfg.nEvents / 4
    val log = tmpDir("onb-log-evo") + "/log"
    writeTail(log, fromLsnExclusive = cut)
    val table = LakeTable.create(spark, tmpDir("onb-lake-evo") + "/t", Model.keyCols, numBuckets = 8)
    CdcPipeline.bootstrap(table, snapshotAt(cut).drop("tool"), cut)
    assert(!table.read().columns.contains("tool"), "bootstrap schema must be pre-evolution")
    CdcPipeline.replayAll(spark, table, CdcPipeline.CdcConfig(log, tmpDir("onb-cp-evo")))
    assertMatchesFullReplay(table)
  }

  test("re-running the bootstrap is a skipped epoch (exactly-once onboarding)") {
    val table = LakeTable.create(spark, tmpDir("onb-lake3") + "/t", Model.keyCols, numBuckets = 8)
    val first = CdcPipeline.bootstrap(table, snapshotAt(L0), L0)
    assert(!first.skipped)
    val rows = table.read().count()
    val again = CdcPipeline.bootstrap(table, snapshotAt(L0), L0)
    assert(again.skipped, "second bootstrap must skip via its own epoch lineage")
    assert(table.read().count() === rows)
  }

  test("a deleted key cannot resurrect from an overlapped insert (contiguity)") {
    import spark.implicits._
    // key A: insert then delete, both before L0=4; key B survives.
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val ev = Seq(
      ("I", 1L, ts, "convA", 0, "user", "hello", None: Option[String]),
      ("D", 2L, ts, "convA", 0, null, null, None: Option[String]),
      ("I", 3L, ts, "convB", 0, "user", "keep", None: Option[String]),
      ("U", 5L, ts, "convB", 0, "user", "kept", None: Option[String]))
      .toDF("op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool")
    val log = tmpDir("onb-log-res") + "/log"
    ev.write.parquet(log) // tail retains EVERYTHING (start truncated to 0)
    val snapshot = Seq(("convB", 0, "user", "keep", None: Option[String], ts))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val table = LakeTable.create(spark, tmpDir("onb-lake4") + "/t", Model.keyCols, numBuckets = 4)
    CdcPipeline.bootstrap(table, snapshot, snapshotLsn = 4L)
    CdcPipeline.replayAll(spark, table, CdcPipeline.CdcConfig(log, tmpDir("onb-cp4")))
    val state = table.read().select("conv_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(state === Set(("convB", "kept")),
      s"convA's overlapped insert must stay shadowed by its retained delete (got $state)")
  }

  test("JSON surface: cdcreader bootstrap + tail, exactly-once across a job re-run") {
    val base = tmpDir("onb-json")
    val snapDir = s"$base/snapshot"
    val log = s"$base/log"
    snapshotAt(L0).write.parquet(snapDir)
    writeTail(log, fromLsnExclusive = L0)
    val json = s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$log", "checkpoint": "$base/cp",
        "bootstrap": {"lsn": $L0, "reader": {"name": "hdfsreader",
          "parameter": {"path": ["$snapDir"], "fileType": "parquet"}}}}},
      "writer": {"name": "lakewriter", "parameter": {
        "path": "$base/lake", "buckets": 8}}}]}}"""
    val spec = graft.engine.JobConfig.parse(json)

    // dry-run surface names the onboarding
    val desc = graft.tools.RunJob.describe(graft.engine.JobConfig.translate(spec).head)
    assert(desc.contains(s"bootstrap[lsn=$L0]"), desc)

    graft.tools.RunJob.run(spark, spec)
    val table = LakeTable.open(spark, s"$base/lake")
    assertMatchesFullReplay(table)

    // restart the whole job: bootstrap lineage AND checkpoint both replay
    // as no-ops — the end state is unchanged
    graft.tools.RunJob.run(spark, spec)
    assertMatchesFullReplay(table)
    assert(table.currentSnapshot()
      .lastEpochFor(s"${LakeTable.DefaultWriter}-bootstrap") === 0L)
  }

  test("a non-default writer's commit must not poison the default lineage") {
    // regression pin for the bug the onboarding path exposed: the legacy
    // scalar lastEpoch advances on EVERY writer's commit, and
    // lastEpochFor(DefaultWriter) used to fall back to it whenever the
    // default writer had no lineage entry — so a table seeded by writer
    // "bootstrap" at epoch 0 silently SKIPPED the default stream's epoch 0
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ev(lsn: Long, text: String) =
      Seq(("I", lsn, ts, "c", 0, "user", text, None: Option[String]))
        .toDF("op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool")
    val table = LakeTable.create(spark, tmpDir("onb-lineage") + "/t", Model.keyCols, numBuckets = 4)
    assert(!table.merge(ev(1L, "seeded"), epoch = 5L, "other").skipped)
    val st = table.merge(ev(2L, "streamed"), epoch = 0L) // default writer, epoch 0
    assert(!st.skipped, "default lineage must be independent of other writers' epochs")
    assert(table.read().select("text").head().getString(0) === "streamed")
    // the legacy fallback still answers for PRE-LINEAGE manifests: an empty
    // epochs map resolves the default writer from the scalar
    val legacy = table.currentSnapshot().copy(epochs = Map.empty, lastEpoch = 7L)
    assert(legacy.lastEpochFor(LakeTable.DefaultWriter) === 7L)
    assert(legacy.lastEpochFor("other") === -1L)
  }

  test("bootstrap validation: jdbc destination and nested cdcreader rejected") {
    val bad1 = s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "/x", "checkpoint": "/y",
        "bootstrap": {"lsn": 1, "reader": {"name": "cdcreader",
          "parameter": {"path": "/z", "checkpoint": "/w"}}}}},
      "writer": {"name": "lakewriter", "parameter": {"path": "/l"}}}]}}"""
    val e1 = intercept[IllegalArgumentException] {
      graft.engine.JobConfig.translate(graft.engine.JobConfig.parse(bad1))
    }
    assert(e1.getMessage.contains("batch source"))

    val bad2 = s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "/x", "checkpoint": "/y",
        "bootstrap": {"reader": {"name": "hdfsreader",
          "parameter": {"path": ["/s"], "fileType": "parquet"}}}}},
      "writer": {"name": "lakewriter", "parameter": {"path": "/l"}}}]}}"""
    val e2 = intercept[IllegalArgumentException] {
      graft.engine.JobConfig.translate(graft.engine.JobConfig.parse(bad2))
    }
    assert(e2.getMessage.contains("lsn"))

    val bad3 = s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "/x", "checkpoint": "/y",
        "bootstrap": {"lsn": 1, "reader": {"name": "hdfsreader",
          "parameter": {"path": ["/s"], "fileType": "parquet"}}},
        "column": [{"name": "id", "type": "long"}]}},
      "writer": {"name": "mysqlwriter", "parameter": {
        "writeMode": "update",
        "connection": [{"jdbcUrl": ["jdbc:mysql://h/db"], "table": ["t"]}],
        "onConflictColumn": "id"}}}]}}"""
    val e3 = intercept[IllegalArgumentException] {
      graft.engine.JobConfig.translate(graft.engine.JobConfig.parse(bad3))
    }
    assert(e3.getMessage.contains("lakewriter"))
  }
}
