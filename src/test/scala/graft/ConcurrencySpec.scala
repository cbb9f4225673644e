package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.lake.LakeTable

/** Holds each racing writer's batch inside its write job until every racer
  * has reached its own: all of them then publish against the head they read
  * before the gate, and all but one commit lose the race.
  */
object RaceGate {
  @volatile var latch = new CountDownLatch(0)
  def meet(): Unit = {
    latch.countDown()
    latch.await(60, TimeUnit.SECONDS)
  }
}

/** Optimistic-concurrency commit protocol: the snapshot-file claim is the
  * atomic commit point, the pointer is a roll-forward hint, and concurrent
  * merges rebase + retry so no update is lost (LWW by lsn makes rebased
  * delta commits commute).
  */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def batch(lsnBase: Long, ids: Range, tag: String) =
    ids.map(i => ("U", lsnBase + i, i.toLong, s"$tag-$i")).toDF("op", "lsn", "id", "payload")

  test("two writers racing the same version: one rebases, no update lost") {
    val root = tmpDir("occ") + "/t"
    // seed the table (epoch 0) so both racers start from the same base
    LakeTable.create(spark, root, Seq("id"), numBuckets = 4)
      .merge(batch(0, 0 until 50, "seed"), epoch = 0L)

    // two INDEPENDENT table handles (separate jobs on a shared lake path),
    // released simultaneously: both read version 0, both try to claim v1
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val results = (1 to 2).map { w =>
      pool.submit(new java.util.concurrent.Callable[LakeTable.MergeStats] {
        def call(): LakeTable.MergeStats = {
          val t = LakeTable.create(spark, root, Seq("id"), numBuckets = 4)
          val b = batch(1000L * w, (w * 100) until (w * 100 + 50), s"w$w")
          gate.await()
          // independent streams: epoch lineage is PER WRITER, so neither
          // writer's guard can mistake the other's epoch for its own replay
          t.merge(b, epoch = 0L, writerId = s"writer-$w")
        }
      })
    }
    gate.countDown()
    val stats = results.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()

    // neither merge was dropped: both epochs' key ranges are in the table
    assert(stats.forall(!_.skipped))
    val table = LakeTable.create(spark, root, Seq("id"), numBuckets = 4)
    val got = table.read()
    assert(got.filter($"id" >= 100 && $"id" < 150).count() === 50L, "writer 1 rows lost")
    assert(got.filter($"id" >= 200 && $"id" < 250).count() === 50L, "writer 2 rows lost")
    assert(got.count() === 150L)
    // versions are consecutive: the loser rebased to base+2, nothing clobbered
    assert(table.currentSnapshot().version === 2L)
    // each writer's epoch lineage is independent: replaying writer-1's epoch
    // is skipped even though writer-2 committed after it
    val replay = table.merge(batch(9999, 100 until 150, "dup"), epoch = 0L,
      writerId = "writer-1")
    assert(replay.skipped)
    assert(table.read().count() === 150L)
  }

  test("two writers racing a fresh table's first commit: one base generation, LWW across both") {
    val root = tmpDir("occ-fresh") + "/t"
    val gate = udf { (id: Long) => RaceGate.meet(); id }
    RaceGate.latch = new CountDownLatch(2)
    // overlapping keys 25..49: writer 2 carries the higher lsns
    def racer(w: Int, ids: Range) = spark.range(ids.start, ids.end, 1, 1)
      .select(lit("U").as("op"), ($"id" + 1000L * w).as("lsn"), gate($"id").as("id"),
        concat(lit(s"w$w-"), $"id").as("payload"))
    val pool = Executors.newFixedThreadPool(2)
    val results = Seq(1 -> (0 until 50), 2 -> (25 until 75)).map { case (w, ids) =>
      pool.submit(new java.util.concurrent.Callable[LakeTable.MergeStats] {
        def call(): LakeTable.MergeStats = LakeTable.create(spark, root, Seq("id"), numBuckets = 4)
          .merge(racer(w, ids), epoch = 0L, writerId = s"writer-$w")
      })
    }
    val stats = results.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()

    assert(stats.forall(!_.skipped))
    val table = LakeTable.create(spark, root, Seq("id"), numBuckets = 4)
    val snap = table.currentSnapshot()
    assert(snap.version === 1L)
    def commitPrefix(path: String): String = path.split("-").take(2).mkString("-")
    assert(snap.files.map(f => commitPrefix(f.path)).distinct.size === 2 &&
      snap.files.forall(_.path.startsWith("s")), "both writers published a first commit")
    assert(snap.files.filter(_.kind == "b").map(f => commitPrefix(f.path)).distinct.size === 1,
      "the rebased first commit must land as deltas, not a second base generation")
    val got = table.read().select("id", "payload").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.map(_._1).sorted === (0L until 75L))
    assert(got.forall { case (id, p) => p == (if (id >= 25L) s"w2-$id" else s"w1-$id") })
  }

  test("maintenance race detector catches a concurrent commit at EXACTLY the synthetic lsn") {
    val root = tmpDir("mrace") + "/t"
    val table = LakeTable.create(spark, root, Seq("id"), numBuckets = 4)
    table.merge(batch(0, 0 until 50, "seed"), epoch = 0L) // maxLsn = 49
    val preVersion = table.currentSnapshot().version
    val opLsn = 50L // what a maintenance op reading this head would mint

    // concurrent writer lands rows at lsn EXACTLY 50 (dense monotonic
    // source lsn space) before the maintenance op's own merge commits
    table.merge(Seq(("U", opLsn, 7L, "racer")).toDF("op", "lsn", "id", "payload"),
      epoch = 0L, writerId = "other")
    // the maintenance op's own commit (same lsn, its own writer lineage)
    table.merge(Seq(("D", opLsn, 3L, null.asInstanceOf[String]))
        .toDF("op", "lsn", "id", "payload"),
      epoch = 0L, writerId = "maint")

    // head maxLsn == opLsn — the old `maxLsn > opLsn` head check is blind
    // here; the history walk attributes the raise to the OTHER writer
    assert(table.currentSnapshot().maxLsn === opLsn)
    assert(table.maintenanceRaced(preVersion, opLsn, epoch = 0L, writerId = "maint"),
      "equal-lsn concurrent commit must be detected")

    // REVERSED interleaving: the op's own commit lands FIRST (lifting the
    // running max to opLsn), the racer at exactly opLsn commits after — a
    // raised-running-max walk is blind here; per-commit lsnHigh is not
    val rootR = tmpDir("mraceR") + "/t"
    val tR = LakeTable.create(spark, rootR, Seq("id"), numBuckets = 4)
    tR.merge(batch(0, 0 until 50, "seed"), epoch = 0L) // maxLsn = 49
    val preR = tR.currentSnapshot().version
    tR.merge(Seq(("D", 50L, 3L, null.asInstanceOf[String]))
        .toDF("op", "lsn", "id", "payload"),
      epoch = 0L, writerId = "maint") // ours first
    tR.merge(Seq(("U", 50L, 7L, "racer")).toDF("op", "lsn", "id", "payload"),
      epoch = 0L, writerId = "other") // racer second, same lsn
    assert(tR.maintenanceRaced(preR, 50L, epoch = 0L, writerId = "maint"),
      "racer committing after the op's own commit must still be detected")

    // no false positive: only the op's own commit raised maxLsn
    val root2 = tmpDir("mrace2") + "/t"
    val t2 = LakeTable.create(spark, root2, Seq("id"), numBuckets = 4)
    t2.merge(batch(0, 0 until 50, "seed"), epoch = 0L)
    val pre2 = t2.currentSnapshot().version
    t2.merge(Seq(("D", 50L, 3L, null.asInstanceOf[String]))
        .toDF("op", "lsn", "id", "payload"),
      epoch = 0L, writerId = "maint")
    assert(!t2.maintenanceRaced(pre2, 50L, epoch = 0L, writerId = "maint"),
      "the op's own commit must not be flagged")
    // and deleteWhere end-to-end on a quiet table does not throw
    t2.deleteWhere(col("id") === 4L, epoch = 1L, writerId = "maint")
    assert(t2.read().filter($"id" === 4L).count() === 0L)
  }

  test("vacuum age-gates manifest-unknown files (a racer's uncommitted publish survives)") {
    val root = tmpDir("vacgrace") + "/t"
    val t = LakeTable.create(spark, root, Seq("id"), numBuckets = 4)
    t.merge(batch(0, 0 until 50, "a"), epoch = 0L)
    t.merge(batch(100, 0 until 50, "b"), epoch = 1L)
    // a data file NO manifest references — indistinguishable from a
    // concurrent writer's publish that has not committed yet
    val racer = new java.io.File(s"$root/data/d99-deadbeef-racer.parquet")
    java.nio.file.Files.writeString(racer.toPath, "in-flight")
    // retainVersions=0: version-0's superseded deltas are manifest-KNOWN
    // history → reclaimed immediately; the unknown fresh file survives
    assert(t.vacuum(retainVersions = 0) > 0)
    assert(racer.exists(), "vacuum deleted a fresh manifest-unknown file — " +
      "a concurrent writer's published-but-uncommitted delta would be lost")
    // once older than the grace window it is a crashed publish's leftover
    assert(racer.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000))
    t.vacuum(retainVersions = 0)
    assert(!racer.exists(), "aged orphan not reclaimed")
    // the table is intact throughout
    assert(t.read().count() === 50L)
  }

  test("commit survives a crash between snapshot claim and pointer update") {
    val root = tmpDir("hint") + "/t"
    val table = LakeTable.create(spark, root, Seq("id"), numBuckets = 4)
    table.merge(batch(0, 0 until 10, "a"), epoch = 0L)
    table.merge(batch(100, 10 until 20, "b"), epoch = 1L)
    assert(table.currentSnapshot().version === 1L)
    // simulate the crash: rewind the hint to an older version — the commit
    // already happened when snap-1.txt was claimed, so readers must roll
    // forward to the true head, not trust the stale pointer
    val pw = new java.io.PrintWriter(s"$root/_current"); pw.print("0"); pw.close()
    val reopened = LakeTable.create(spark, root, Seq("id"), numBuckets = 4)
    assert(reopened.currentSnapshot().version === 1L)
    assert(reopened.read().count() === 20L)
    // and the next merge repairs the hint
    reopened.merge(batch(200, 20 until 25, "c"), epoch = 2L)
    assert(scala.io.Source.fromFile(s"$root/_current").mkString.trim === "2")
  }

  test("two independent CDC streams merge into one table without deduping each other") {
    import graft.core.Gen
    import graft.engine.cdc.CdcPipeline
    val dir = tmpDir("twostreams")
    val cfg = Gen.GenConfig(nEvents = 4000, nConvs = 20, partitions = 4)
    Gen.writeChangeLog(spark, cfg, s"$dir/log1", nChunks = 2)
    // stream 2 revises the SAME keys with strictly higher lsns
    val ev1 = Gen.changeEvents(spark, cfg).toDF()
    val ev2 = ev1
      .withColumn("lsn", $"lsn" + 1000000L)
      .withColumn("text", concat(lit("s2 "), $"text"))
    ev2.repartition(2).write.parquet(s"$dir/log2")

    val table = LakeTable.create(spark, s"$dir/lake", Seq("conv_id", "turn_idx"), 8)
    CdcPipeline.replayAll(spark, table,
      CdcPipeline.CdcConfig(s"$dir/log1", s"$dir/cp1", writerId = "stream-1"))
    // stream 2 also starts at epoch 0 — without per-writer lineage its whole
    // replay would be "skipped" as a duplicate of stream 1's epochs
    CdcPipeline.replayAll(spark, table,
      CdcPipeline.CdcConfig(s"$dir/log2", s"$dir/cp2", writerId = "stream-2"))

    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val expected = LakeTable.lwwWinners(ev1.unionByName(ev2),
        Seq("conv_id", "turn_idx"), Seq($"lsn".desc, $"ts".desc))
      .filter($"op" =!= "D")
      .select(cols.map(col): _*).orderBy("conv_id", "turn_idx").collect().toSeq
    val got = table.read()
      .select(cols.map(col): _*).orderBy("conv_id", "turn_idx").collect().toSeq
    assert(got === expected)
    // every surviving row carries stream 2's revision
    assert(table.read().filter(!$"text".startsWith("s2 ")).count() === 0L)
  }

  test("a replayed epoch that lost the race is skipped, not double-applied") {
    val root = tmpDir("replay-race") + "/t"
    val t1 = LakeTable.create(spark, root, Seq("id"), numBuckets = 4)
    t1.merge(batch(0, 0 until 10, "a"), epoch = 0L)
    // a second handle (stale base) replays the SAME epoch — idempotence must
    // hold across handles, not just within one
    val t2 = LakeTable.create(spark, root, Seq("id"), numBuckets = 4)
    val st = t2.merge(batch(0, 0 until 10, "a"), epoch = 0L)
    assert(st.skipped)
    assert(t2.read().count() === 10L)
    assert(t2.currentSnapshot().version === 0L)
  }
}
