package graft

import org.apache.spark.sql.functions._

import graft.lake.LakeTable

/** Snapshot tags (Iceberg table-refs analog): a named pin on a committed
  * version that exempts its manifest from expireSnapshots and its data
  * files from vacuum — the reproducible-cut primitive sliding-window
  * retention cannot express. The pinning is proven PHYSICALLY: the
  * harshest retention (expireSnapshots(1) + vacuum(0)) runs between the
  * tag and the read-back.
  */
class TagSpec extends SparkSpec {
  import spark.implicits._

  private def batch(lsnBase: Long, ids: Range, tag: String) =
    ids.map(i => ("U", lsnBase + i, i.toLong, s"$tag-$i")).toDF("op", "lsn", "id", "payload")

  test("a tag pins its version's manifest and data files through GC") {
    val root = tmpDir("tag") + "/t"
    val t = LakeTable.create(spark, root, Seq("id"), numBuckets = 4)
    t.merge(batch(0, 0 until 100, "v0"), epoch = 0L)
    t.merge(batch(1000, 0 until 50, "v1"), epoch = 1L)
    val cut = t.tag("train-cut") // pin the head (the corpus state a run read)
    assert(cut === t.currentSnapshot().version)
    val want = t.readTag("train-cut").orderBy("id").collect().map(_.toSeq).toSeq

    // keep the table moving: a delete, a compaction rewrite, more upserts —
    // everything that makes old files fold away and old manifests expire
    t.merge(Seq(("D", 5000L, 10L, null: String), ("U", 5001L, 200L, "new"))
      .toDF("op", "lsn", "id", "payload"), epoch = 2L)
    t.compactAll()
    t.merge(batch(9000, 0 until 100, "v9"), epoch = 3L)

    // harshest retention: only the head survives — except the pin (vacuum
    // first, while the dead versions' manifests still mark their files as
    // known — reclaimed immediately instead of riding the orphan age-grace)
    t.vacuum(0)
    val expired = t.expireSnapshots(1)
    assert(expired > 0)
    // untagged old versions' manifests are gone (sharp missing-version error)
    intercept[IllegalArgumentException](t.readVersion(0L))
    // the tagged state reads back EXACTLY, arbitrarily later
    assert(t.readTag("train-cut").orderBy("id").collect().map(_.toSeq).toSeq === want)
    assert(t.tags() === Map("train-cut" -> cut))
    // the head still reads, and fsck counts pinned files as live, not orphans
    // ids 0..99 (id 10 deleted then re-upserted at a higher lsn) + id 200
    assert(t.read().count() === 101L)
    val r = t.fsck(0)
    assert(r.clean, s"fsck found damage: ${r.missing} ${r.rowMismatches}")
    assert(r.orphans === 0, "tag-pinned files must not count as vacuum candidates")
  }

  test("droptag releases the pin: the next GC reclaims the version") {
    val root = tmpDir("tagdrop") + "/t"
    val t = LakeTable.create(spark, root, Seq("id"), numBuckets = 2)
    t.merge(batch(0, 0 until 40, "a"), epoch = 0L)
    t.merge(batch(100, 0 until 40, "b"), epoch = 1L)
    t.tag("cut", 0L)
    t.compactAll()
    // pinned: version 0 survives the harsh sweep
    t.expireSnapshots(1)
    t.vacuum(0)
    assert(t.readTag("cut").count() === 40L)

    assert(t.dropTag("cut"))
    assert(!t.dropTag("cut"), "second drop reports absence")
    // vacuum BEFORE expiring the manifest: a still-manifested dead file is
    // reclaimed immediately, an unmanifested one rides the orphan age-grace
    val swept = t.vacuum(0)
    assert(swept > 0, "the unpinned version's folded files are reclaimed")
    val expired = t.expireSnapshots(1)
    assert(expired === 1, "the unpinned manifest is reclaimed on the next run")
    intercept[IllegalArgumentException](t.readVersion(0L))
    intercept[IllegalArgumentException](t.tagVersion("cut"))
    // the head is untouched by all of it
    assert(t.read().count() === 40L)
  }

  test("streaming auto-tag cadence: a bounded ring of GC-exempt pins rides the tail") {
    val work = tmpDir("tagstream")
    val cfg = graft.core.Gen.GenConfig(nEvents = 4000L, nConvs = 50L, partitions = 2)
    graft.core.Gen.writeChangeLog(spark, cfg, s"$work/log", nChunks = 6)
    val table = LakeTable.create(spark, s"$work/lake",
      Seq("conv_id", "turn_idx"), numBuckets = 4)
    // a FOREIGN pin sharing the prefix shape the ring prune must never
    // touch: another owner's restore point is not this stream's to rotate
    table.merge(Seq(graft.core.Model.ChangeEvent("U", 1L,
      new java.sql.Timestamp(0L), "zz-foreign-seed", 0, Some("user"),
      Some("seed"), None)).toDF(), epoch = 0L, writerId = "seeder")
    val foreignV = table.tag("epoch-999")
    val epochs = graft.engine.cdc.CdcPipeline.replayAll(spark, table,
      // 6 chunks × 8 files, 6 per trigger → 8 epochs: the cadence fires at
      // 2/4/6, so the keep-2 ring must DROP its epoch-2 pin
      graft.engine.cdc.CdcPipeline.CdcConfig(s"$work/log", s"$work/cp",
        maxFilesPerTrigger = 6,
        vacuumEvery = 2, vacuumRetainVersions = 1,
        tagEvery = 2, tagKeep = 2))
    assert(epochs >= 5, s"need several epochs to exercise the cadence (got $epochs)")
    // the ring is writer-scoped: <prefix><writerId>-<epoch>
    val auto = table.tags().filter(_._1.startsWith("epoch-default-"))
    // cadence fired more than tagKeep times; the ring kept exactly the newest 2
    assert(auto.size === 2, s"ring bound violated: ${auto.keys.toSeq.sorted}")
    val expect = (2L to (epochs - 1)).filter(e => e % 2 == 0).takeRight(2)
      .map(e => s"epoch-default-$e").toSet
    assert(auto.keySet === expect, s"kept ${auto.keySet}, expected newest: $expect")
    // each pin reads back, GC-exempt despite the stream's own vacuum cadence
    auto.keys.foreach(n => assert(table.readTag(n).count() > 0L, s"$n unreadable"))
    // the foreign pin survived every prune and still reads its exact state
    assert(table.tagVersion("epoch-999") === foreignV)
    assert(table.readTag("epoch-999").count() === 1L)
    assert(table.fsck(1).clean)
  }

  test("a malformed ref file is skipped by maintenance, sharp on direct read") {
    val root = tmpDir("tagbad") + "/t"
    val t = LakeTable.create(spark, root, Seq("id"), numBuckets = 2)
    t.merge(batch(0, 0 until 20, "a"), epoch = 0L)
    val goodV = t.tag("good")
    t.merge(batch(100, 0 until 20, "b"), epoch = 1L)
    // a stray non-numeric ref (operator `touch`, truncated copy) must not
    // wedge the liveness path of vacuum/fsck/expireSnapshots
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_refs", "note.ref"),
      "not a version".getBytes("UTF-8"))
    assert(t.tags() === Map("good" -> goodV))
    assert(t.vacuum(0) >= 0)
    assert(t.expireSnapshots(1) >= 0)
    assert(t.fsck(0).clean)
    assert(t.readTag("good").count() === 20L) // the good pin still held
    intercept[IllegalArgumentException](t.tagVersion("note"))
  }

  test("pointer loss over a pin-gapped manifest chain fails sharply, not stale") {
    val root = tmpDir("taggap") + "/t"
    val t = LakeTable.create(spark, root, Seq("id"), numBuckets = 2)
    t.merge(batch(0, 0 until 10, "a"), epoch = 0L)
    t.tag("cut") // pins v0
    t.merge(batch(100, 0 until 10, "b"), epoch = 1L)
    t.merge(batch(200, 0 until 10, "c"), epoch = 2L)
    val head = t.currentSnapshot().version
    val expired = t.expireSnapshots(1) // keeps head + pinned v0; middles gone
    assert(expired > 0, "the middle manifests must actually expire")
    val cur = java.nio.file.Paths.get(root, "_current")
    java.nio.file.Files.delete(cur)
    // the forward probe from -1 reaches v0 then hits the gap — serving v0
    // as the head (or letting a merge re-claim the freed next version)
    // would be silent corruption; the table must refuse until _current is
    // restored
    val e = intercept[IllegalArgumentException](
      LakeTable.open(spark, root).read().count())
    assert(e.getMessage.contains("gap"))
    java.nio.file.Files.write(cur, head.toString.getBytes("UTF-8"))
    assert(LakeTable.open(spark, root).read().count() === 10L)
    assert(LakeTable.open(spark, root).readTag("cut").count() === 10L)
  }

  test("tag validation: names, duplicates, empty table, unknown refs") {
    val root = tmpDir("tagval") + "/t"
    val t = LakeTable.create(spark, root, Seq("id"), numBuckets = 2)
    intercept[IllegalArgumentException](t.tag("nothing-committed-yet"))
    t.merge(batch(0, 0 until 10, "a"), epoch = 0L)
    intercept[IllegalArgumentException](t.tag("bad/name"))
    intercept[IllegalArgumentException](t.tag(""))
    t.tag("r1.0_final-cut") // the full legal alphabet
    intercept[IllegalArgumentException](t.tag("r1.0_final-cut")) // no silent re-point
    t.merge(batch(100, 0 until 10, "b"), epoch = 1L)
    val v2 = t.tag("r1.0_final-cut", replace = true)
    assert(t.tagVersion("r1.0_final-cut") === v2)
    intercept[IllegalArgumentException](t.tag("way-ahead", version = 99L))
    intercept[IllegalArgumentException](t.tagVersion("never-made"))
  }

  test("the auto-tag ring's writerIds are checked at translate time") {
    // with tagEvery set, every destination's writerId becomes part of a tag
    // ref file name: reject it before the job creates or onboards anything
    def translate(writer: String): Unit = {
      graft.engine.JobConfig.translate(graft.engine.JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "cdcreader", "parameter": {
          "path": "/log", "format": "debezium", "checkpoint": "/cp"}},
        "writer": {"name": "lakewriter", "parameter": {$writer}}}]}}"""))
      ()
    }
    val single = """"path": "/lake", "writerId": "a/b""""
    val routed = """"routes": [{"table": "t", "path": "/t", "primaryKey": ["k"],
      "writerId": "a/b"}]"""
    for (w <- Seq(single, routed)) {
      val e = intercept[IllegalArgumentException](translate(s"""$w, "tagEvery": 2"""))
      assert(e.getMessage.contains("writerId 'a/b'"), e.getMessage)
      translate(w) // no ring, no tag names: the writerId is free-form
    }
    assert(intercept[IllegalArgumentException] {
      translate(""""path": "/lake", "tagPrefix": "x y"""")
    }.getMessage.contains("tagPrefix"))
  }
}
