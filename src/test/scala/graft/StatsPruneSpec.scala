package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.core.Model
import graft.lake.{FileStats, LakeTable}

/** Manifest-level file skipping ([[LakeTable.readWhere]], [[FileStats]]):
  * key-column min/max bounds harvested from parquet footers at publish time
  * prune whole files from predicate scans. Invariants under test: results
  * are IDENTICAL to `read().filter` for any predicate (the residual filter
  * defines semantics; pruning only ever drops provably-empty files); the
  * pruning is PHYSICAL (skipped files can be made unreadable); LWW winner
  * resolution survives pruning (key immutability argument); unusable
  * predicates prune nothing; stats survive manifest round-trips, special
  * characters, and compaction; pre-stats manifests parse and never prune.
  */
class StatsPruneSpec extends SparkSpec {
  import spark.implicits._

  private def ev(op: String, lsn: Long, conv: String, turn: Int,
      text: String = "x"): Model.ChangeEvent =
    Model.ChangeEvent(op, lsn, new Timestamp(1704067200000L + lsn * 1000L),
      conv, turn, Some("user"), Some(text), None)

  private def hide(root: String, paths: Seq[String]): Unit =
    paths.foreach { p =>
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$root/data/$p"),
        java.nio.file.Paths.get(s"$root/data/$p.hidden"))
    }
  private def unhide(root: String, paths: Seq[String]): Unit =
    paths.foreach { p =>
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$root/data/$p.hidden"),
        java.nio.file.Paths.get(s"$root/data/$p"))
    }

  /** Three epochs with DISJOINT conv-id and turn ranges so per-file bounds
    * discriminate: epoch 0 = c00–c09 × turns 0–4, epoch 1 = c10–c19 ×
    * turns 100–104, epoch 2 = c20–c29 × turns 200–204. deltaRatio is set
    * high so ratio-driven compaction doesn't fold the epochs into one
    * wide-bound base per bucket (which is CORRECT lake behavior — merged
    * files legitimately span the union of their inputs' bounds — but would
    * leave nothing for these pruning assertions to discriminate).
    */
  private def mergeThreeEpochs(t: LakeTable): LakeTable = {
    (0 until 3).foreach { e =>
      t.merge((0 until 10).flatMap { i =>
        (0 until 5).map(k =>
          ev("I", e * 1000L + i * 10 + k, f"c${e * 10 + i}%02d", e * 100 + k))
      }.toDF(), epoch = e.toLong)
    }
    t
  }

  private def threeEpochTable(root: String): LakeTable =
    mergeThreeEpochs(LakeTable.create(spark, root, Model.keyCols, numBuckets = 4,
      deltaRatio = 1e9))

  test("file entries carry key-column bounds from the parquet footer") {
    val root = tmpDir("sp") + "/t"
    val t = threeEpochTable(root)
    val snap = t.currentSnapshot()
    assert(snap.files.nonEmpty)
    snap.files.foreach { f =>
      // tiered harvest: every file carries key bounds; BASE files add all
      // mappable payload columns (clean-bucket pruning), DELTA files stay
      // key-only (their payload bounds could never be used soundly)
      if (f.kind == "b")
        assert(Set("conv_id", "turn_idx", "ts", "role", "text").subsetOf(f.stats.keySet),
          s"stats cols of base ${f.path}: ${f.stats.keySet}")
      else
        assert(f.stats.keySet == Set("conv_id", "turn_idx"),
          s"stats cols of delta ${f.path}: ${f.stats.keySet}")
      val (cLo, cHi) = f.stats("conv_id")
      assert(cLo <= cHi && cLo.startsWith("c"))
    }
    assert(snap.files.exists(_.kind == "b") && snap.files.exists(_.kind == "d"),
      "fixture should exercise both harvest tiers")
    // manifests round-trip the stats
    val reopened = LakeTable.open(spark, root)
    assert(reopened.currentSnapshot().files.map(_.stats) == snap.files.map(_.stats))
  }

  test("readWhere equals read().filter and PHYSICALLY skips disproven files") {
    val root = tmpDir("sp") + "/t"
    val t = threeEpochTable(root)

    for (cond <- Seq(
        col("conv_id") === "c15",
        col("conv_id") >= "c20",
        col("conv_id") < "c05" && col("turn_idx") <= 2,
        col("turn_idx") > 150,
        col("turn_idx").between(100, 104),
        col("conv_id").isin("c01", "c02", "c25"),
        lit("c15") === col("conv_id"), // literal on the left
        col("turn_idx") >= 200L)) { // wider integral literal, still sound
      val expected = t.read().filter(cond).orderBy("conv_id", "turn_idx").collect()
      val got = t.readWhere(cond).orderBy("conv_id", "turn_idx").collect()
      assert(got.toSeq == expected.toSeq, s"mismatch for $cond")
      val (kept, total) = t.pruneCounts(cond)
      assert(kept < total, s"no pruning for $cond ($kept/$total)")
    }

    // physical proof: files pruned for this predicate can be unreadable
    val cond = col("conv_id") === "c15" && col("turn_idx") === 102
    val snap = t.currentSnapshot()
    val keptPaths = {
      // recompute the kept set the same way readWhere does: everything else hidden
      val expected = t.readWhere(cond).collect()
      assert(expected.length == 1)
      // hide files of epochs 0 and 2 (bounds exclude c15) — readWhere must not touch them
      val prunable = snap.files.filter { f =>
        val (lo, hi) = f.stats("conv_id")
        "c15" < lo || "c15" > hi
      }
      assert(prunable.nonEmpty)
      hide(root, prunable.map(_.path))
      try {
        assert(t.readWhere(cond).collect().toSeq == expected.toSeq)
        intercept[Exception] { t.read().count() } // full scan DOES need them
      } finally unhide(root, prunable.map(_.path))
      snap.files.filterNot(prunable.contains).map(_.path)
    }
    assert(keptPaths.nonEmpty)
  }

  test("equality on the full distribution key pins one bucket") {
    val root = tmpDir("sp") + "/t"
    val t = threeEpochTable(root)
    val cond = col("conv_id") === "c15" && col("turn_idx") === 102
    val (kept, total) = t.pruneCounts(cond)
    val snap = t.currentSnapshot()
    val maxPerBucket = snap.files.groupBy(_.bucket).map(_._2.size).max
    assert(kept <= maxPerBucket, s"kept $kept spans more than one bucket (total $total)")
    assert(t.readWhere(cond).count() == 1)
    // a TYPE-MISMATCHED key literal must not bucket-prune unsoundly (hash of
    // an int literal routes differently than the long hash) — here turn_idx
    // is Int, so a Long literal disables bucket pinning but stays correct
    val condWide = col("conv_id") === "c15" && col("turn_idx") === 102L
    assert(t.readWhere(condWide).count() == 1)
  }

  test("the pinned bucket is evaluated in-process and equals the writer's bucketsFor") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val cases: Seq[(DataType, Seq[Any])] = Seq(
      IntegerType -> Seq(0, -1, 42, Int.MaxValue, Int.MinValue),
      LongType -> Seq(0L, -7L, 1L << 40, Long.MaxValue),
      StringType -> Seq("", "c15", "ünïcödé", "x" * 300),
      DateType -> Seq(java.sql.Date.valueOf("1970-01-01"), java.sql.Date.valueOf("2026-02-28")),
      TimestampType -> Seq(new Timestamp(0L), Timestamp.valueOf("2026-01-01 12:34:56.789")),
      DecimalType(12, 2) -> Seq(BigDecimal("0.00"), BigDecimal("-12345.67"),
        BigDecimal("9999999999.99")).map(_.bigDecimal))
    cases.foreach { case (dt, values) =>
      val t = LakeTable.create(spark, tmpDir("sp-bucket") + "/t", Seq("k"), numBuckets = 13)
      val schema = StructType(Seq(StructField("k", dt)))
      values.foreach { v =>
        val writer = t.bucketsFor(spark.createDataFrame(
          java.util.List.of(Row(v)), schema))
        assert(Set(t.bucketOfCols(Seq(Literal.create(v, dt)))) === writer, s"$dt $v")
      }
    }
  }

  test("LWW winners survive pruning; predicates on mutable columns never prune") {
    val root = tmpDir("sp") + "/t"
    val t = threeEpochTable(root)
    // update c05/2 (epoch-0 key) from a LATER epoch whose conv bounds still
    // include c05, then delete c07/3
    t.merge(Seq(
      ev("U", 90000L, "c05", 2, text = "fresh"),
      ev("D", 90001L, "c07", 3)).toDF(), epoch = 3L)

    val got = t.readWhere(col("conv_id") === "c05" && col("turn_idx") === 2).collect()
    assert(got.length == 1 && got.head.getAs[String]("text") == "fresh")
    assert(t.readWhere(col("conv_id") === "c07" && col("turn_idx") === 3).isEmpty)

    // 'text' is mutable: a stale row with text="x" for c05/2 still exists in
    // the epoch-0 file, but its key's winner says "fresh" — the mutable
    // column contributes NO constraints (no stats), the residual filter runs
    // on resolved winners, and the stale row is invisible
    val byText = col("text") === "x" && col("conv_id") === "c05"
    assert(t.readWhere(byText).collect().toSet ==
      t.read().filter(byText).collect().toSet)
    assert(!t.readWhere(byText).collect().exists(_.getAs[Int]("turn_idx") == 2))
  }

  test("clean buckets prune on ANY column: a ts window skips compacted files physically") {
    val root = tmpDir("sp") + "/t"
    val t = mergeThreeEpochs(LakeTable.create(spark, root, Model.keyCols, numBuckets = 4,
      deltaRatio = 1e9, targetFileRows = Some(20L)))
    t.compactAll()
    val snap = t.currentSnapshot()
    assert(snap.files.forall(_.kind == "b"))
    // base files harvested ALL mappable columns, not just the key
    assert(snap.files.forall(f => f.stats.contains("ts") && f.stats.contains("role")),
      s"payload bounds missing: ${snap.files.map(_.stats.keySet).distinct}")
    // ts is MUTABLE — but with every bucket clean the lemma applies, and the
    // epoch-keyed ts ranges correlate with the sliced key ranges, so bounds
    // discriminate. Epoch-2 rows start at lsn 2000 ⇒ ts >= base + 2000 s.
    val cut = new Timestamp(1704067200000L + 2000L * 1000L)
    val cond = col("ts") >= cut
    val expected = t.read().filter(cond).orderBy("conv_id", "turn_idx").collect()
    assert(expected.nonEmpty)
    assert(t.readWhere(cond).orderBy("conv_id", "turn_idx").collect().toSeq
      === expected.toSeq)
    val (kept, total) = t.pruneCounts(cond)
    assert(kept < total, s"ts window pruned nothing ($kept/$total)")
    // physical proof: every file whose ts bounds end before the cut
    // (canonical encoding: micros as decimal longs) can be made unreadable
    val cutMicros = (1704067200000L + 2000L * 1000L) * 1000L
    val prunable = snap.files.filter(_.stats("ts")._2.toLong < cutMicros)
    assert(prunable.nonEmpty)
    hide(root, prunable.map(_.path))
    try {
      assert(t.readWhere(cond).orderBy("conv_id", "turn_idx").collect().toSeq
        === expected.toSeq)
      intercept[Exception] { t.read().count() } // the full scan DOES need them
    } finally unhide(root, prunable.map(_.path))
  }

  test("sort-order clustering: sortCols=ts tightens non-key bounds a key-sliced layout cannot") {
    // ts is UNCORRELATED with the key here (lsn mod 30 spreads each lsn run
    // across every conversation), so key-range slicing leaves every file's
    // ts bounds spanning the whole table and a ts window prunes nothing;
    // the ts-clustered layout slices the same buckets into contiguous ts
    // ranges and the same window skips all but the matching slices.
    import org.apache.spark.sql.DataFrame
    val batch: DataFrame = (0L until 600L).map(i =>
      ev("I", i, f"c${i % 30}%02d", (i / 30).toInt)).toDF()
    def build(root: String, sortCols: Seq[String]): LakeTable = {
      val t = LakeTable.create(spark, root, Model.keyCols, numBuckets = 2,
        deltaRatio = 1e9, targetFileRows = Some(50L), sortCols = sortCols)
      t.merge(batch, epoch = 0L)
      t.compactAll()
      t
    }
    val rootA = tmpDir("sp-flat") + "/t"
    val rootB = tmpDir("sp-sorted") + "/t"
    val (flat, sorted) = (build(rootA, Nil), build(rootB, Seq("ts")))
    val cond = col("ts").between(
      new Timestamp(1704067200000L + 100L * 1000L),
      new Timestamp(1704067200000L + 149L * 1000L))
    val expected = flat.read().filter(cond).orderBy("conv_id", "turn_idx").collect().toSeq
    assert(expected.size === 50)
    assert(sorted.readWhere(cond).orderBy("conv_id", "turn_idx").collect().toSeq === expected)
    val (keptFlat, totalFlat) = flat.pruneCounts(cond)
    val (keptSorted, totalSorted) = sorted.pruneCounts(cond)
    assert(totalSorted >= 10, s"expected sliced files, got $totalSorted")
    // a stray boundary fragment (one key's rows split mid-slice) may still
    // prune in the flat layout; the claim is it prunes at most marginally
    assert(keptFlat * 4 >= totalFlat * 3,
      s"uncorrelated ts should barely prune in the key-sliced layout ($keptFlat/$totalFlat)")
    assert(keptSorted * 3 <= totalSorted,
      s"clustered layout should skip most slices (kept $keptSorted/$totalSorted)")
    // physical proof on the clustered table
    val snap = sorted.currentSnapshot()
    val (loMicros, hiMicros) =
      ((1704067200000L + 100L * 1000L) * 1000L, (1704067200000L + 149L * 1000L) * 1000L)
    val prunable = snap.files.filter(f =>
      f.stats("ts")._2.toLong < loMicros || f.stats("ts")._1.toLong > hiMicros)
    assert(prunable.nonEmpty)
    hide(rootB, prunable.map(_.path))
    try {
      assert(sorted.readWhere(cond).orderBy("conv_id", "turn_idx").collect().toSeq === expected)
    } finally unhide(rootB, prunable.map(_.path))
    // the clustering layout is persisted: an ops handle keeps it, and LWW
    // semantics are untouched — a late duplicate + delete converge as ever
    val reopened = LakeTable.open(spark, rootB)
    assert(reopened.sortCols === Seq("ts"))
    // key (c03, 0) was written at lsn 3 — a redelivery at lsn 1 is stale
    reopened.merge(Seq(ev("I", 1L, "c03", 0, "stale-dup"),
      ev("D", 700L, "c05", 0)).toDF(), epoch = 1L)
    reopened.compactAll()
    val r = reopened.read()
    assert(r.where(col("conv_id") === "c03" && col("turn_idx") === 0)
      .select("text").as[String].collect().toSeq === Seq("x"))
    assert(r.where(col("conv_id") === "c05" && col("turn_idx") === 0).isEmpty)
  }

  test("cluster retrofit: recluster() adopts sortCols on an existing flat table, and reverts") {
    // the LakeMaint `cluster` verb's path: a table created WITHOUT
    // clustering gets it in place via an overridden handle + full rewrite
    // (Iceberg rewrite_data_files with a new sort-order analog), the layout
    // persists for plain reopens, and an empty override reverts to key order
    import org.apache.spark.sql.DataFrame
    val batch: DataFrame = (0L until 600L).map(i =>
      ev("I", i, f"c${i % 30}%02d", (i / 30).toInt)).toDF()
    val root = tmpDir("sp-retrofit") + "/t"
    val flat = LakeTable.create(spark, root, Model.keyCols, numBuckets = 2,
      deltaRatio = 1e9, targetFileRows = Some(50L))
    flat.merge(batch, epoch = 0L)
    flat.compactAll()
    val cond = col("ts").between(
      new Timestamp(1704067200000L + 100L * 1000L),
      new Timestamp(1704067200000L + 149L * 1000L))
    val expected = flat.read().filter(cond).orderBy("conv_id", "turn_idx").collect().toSeq
    assert(expected.size === 50)
    val (keptFlat, totalFlat) = flat.pruneCounts(cond)
    assert(keptFlat * 4 >= totalFlat * 3,
      s"uncorrelated ts should barely prune before the retrofit ($keptFlat/$totalFlat)")
    LakeTable.open(spark, root, sortColsOverride = Some(Seq("ts"))).recluster()
    // persisted: a PLAIN reopen carries the clustering, prunes, same answers
    val clustered = LakeTable.open(spark, root)
    assert(clustered.sortCols === Seq("ts"))
    assert(clustered.readWhere(cond).orderBy("conv_id", "turn_idx").collect().toSeq === expected)
    val (keptC, totalC) = clustered.pruneCounts(cond)
    assert(keptC * 3 <= totalC,
      s"retrofitted layout should skip most slices (kept $keptC/$totalC)")
    // the ops-CLI predicate shape: SQL-parsed BETWEEN stays an
    // UnresolvedFunction('between') (the DSL desugars, the parser doesn't) —
    // it must compile to the same two-sided range or LakeMaint `where`
    // silently scans everything a programmatic caller would skip
    val parsedCond = expr(
      "ts between timestamp'2024-01-01 00:01:40' and timestamp'2024-01-01 00:02:29'")
    assert(clustered.pruneCounts(parsedCond) === ((keptC, totalC)),
      "SQL-parsed BETWEEN should prune exactly like the Column-DSL form")
    assert(clustered.readWhere(parsedCond).orderBy("conv_id", "turn_idx")
      .collect().toSeq === expected)
    // the other common hand-typed shape: the window bounds as bare STRINGS.
    // Pre-analysis that is a StringType-literal comparison the bounds
    // engine rightly refuses; the resolveAndFold pass type-coerces and
    // folds them into TimestampType literals (in this session's timezone,
    // the same one the residual filter uses), so it prunes identically
    val stringCond = expr(
      "ts between '2024-01-01 00:01:40' and '2024-01-01 00:02:29'")
    assert(clustered.pruneCounts(stringCond) === ((keptC, totalC)),
      "string-typed timestamp window should fold and prune like the typed form")
    assert(clustered.readWhere(stringCond).orderBy("conv_id", "turn_idx")
      .collect().toSeq === expected)
    // revert: Some(Nil) un-clusters — future rewrites return to key order
    LakeTable.open(spark, root, sortColsOverride = Some(Nil)).recluster()
    val back = LakeTable.open(spark, root)
    assert(back.sortCols === Nil)
    assert(back.read().filter(cond).orderBy("conv_id", "turn_idx").collect().toSeq === expected)
    // clustering without a slicing layout is rejected (nothing to tighten)
    val unsliced = LakeTable.create(spark, tmpDir("sp-retrofit2") + "/t",
      Model.keyCols, numBuckets = 2)
    unsliced.merge(batch.limit(10), epoch = 0L)
    val bad = intercept[IllegalArgumentException] {
      LakeTable.open(spark, unsliced.root, sortColsOverride = Some(Seq("ts"))).recluster()
    }
    assert(bad.getMessage.contains("targetFileRows"))
  }

  test("a delta disables payload pruning for its bucket: stale duplicates cannot resurrect") {
    // the exact hazard the clean-bucket lemma's gate exists for: base holds
    // every key's true winner (role='tool', high lsn); an at-least-once
    // redelivery lands an OLDER duplicate with role='user' as a delta.
    // Unsound payload pruning would skip the base on role bounds
    // ([tool,tool] disproves ='user'), leaving the stale delta row to win
    // the window and resurface — the gate keeps the base because the
    // bucket is dirty.
    val root = tmpDir("sp") + "/t"
    val t = LakeTable.create(spark, root, Model.keyCols, numBuckets = 1,
      deltaRatio = 1e9)
    t.merge((0 until 20).map(i =>
      Model.ChangeEvent("I", 1000L + i, new Timestamp(1704067200000L + i * 1000L),
        f"c$i%02d", 0, Some("tool"), Some("x"), None)).toDF(), epoch = 0L)
    t.compactAll()
    t.merge(Seq(Model.ChangeEvent("I", 5L, new Timestamp(1704067200000L),
      "c05", 0, Some("user"), Some("stale"), None)).toDF(), epoch = 1L)
    val cond = col("role") === "user"
    assert(t.read().filter(cond).isEmpty) // every winner has role='tool'
    assert(t.readWhere(cond).isEmpty,
      "payload pruning in a dirty bucket resurrected a stale duplicate")
    // compaction folds the duplicate away; the lemma applies again and the
    // same predicate now disproves EVERY file
    t.compactAll()
    assert(t.readWhere(cond).isEmpty)
    assert(t.pruneCounts(cond)._1 === 0, "clean-bucket role bounds should skip all files")
  }

  test("disjunctions prune when BOTH branches are disproven, never otherwise") {
    val root = tmpDir("sp") + "/t"
    val t = threeEpochTable(root)
    // both branches outside epoch 1's files [c10..c19] → those files skip
    val or2 = col("conv_id") < "c05" || col("conv_id") >= "c25"
    val (kept, total) = t.pruneCounts(or2)
    assert(kept < total, s"no pruning for $or2 ($kept/$total)")
    assert(t.readWhere(or2).collect().toSet == t.read().filter(or2).collect().toSet)
    // one branch unknown (mutable column) poisons the OR: nothing prunes
    val orU = col("conv_id") < "c05" || col("text") === "nope"
    assert(t.pruneCounts(orU)._1 == total)
    assert(t.readWhere(orU).collect().toSet == t.read().filter(orU).collect().toSet)
    // OR nested under AND: the AND side still prunes independently
    val mix = (col("conv_id") >= "c20") && (col("turn_idx") === 201 || col("turn_idx") === 203)
    val (km, _) = t.pruneCounts(mix)
    assert(km < total, s"no pruning for $mix")
    assert(t.readWhere(mix).collect().toSet == t.read().filter(mix).collect().toSet)
    // an OR's equality must NOT bucket-pin (neither branch is required):
    // full-key equalities under OR keep every bucket's matching files
    val orEq = (col("conv_id") === "c15" && col("turn_idx") === 102) ||
      (col("conv_id") === "c25" && col("turn_idx") === 203)
    assert(t.readWhere(orEq).count() == 2)
  }

  test("unusable conjuncts prune nothing but stay correct") {
    val root = tmpDir("sp") + "/t"
    val t = threeEpochTable(root)
    for (cond <- Seq(
        col("text") === "x", // non-key column
        col("turn_idx") < 2.5, // fractional literal on int column: unsound to map
        upper(col("conv_id")) === "C15", // expression around the column
        col("conv_id").isNull)) {
      val (kept, total) = t.pruneCounts(cond)
      assert(kept == total, s"over-pruned for $cond")
      assert(t.readWhere(cond).collect().toSet == t.read().filter(cond).collect().toSet)
    }
    // internal columns are dropped BEFORE the residual filter, so a
    // predicate on _lsn resolves the same way read().filter's does (the
    // analyzer's missing-reference resolution reaches through the drop in
    // BOTH — equivalence, not rejection, is the contract)
    val onLsn = col(LakeTable.LsnCol) > 999
    assert(t.readWhere(onLsn).collect().toSet == t.read().filter(onLsn).collect().toSet)
  }

  test("stats survive compaction and rebucket; pre-stats entries never prune") {
    val root = tmpDir("sp") + "/t"
    val t = threeEpochTable(root)
    t.compactAll()
    val snap = t.currentSnapshot()
    assert(snap.files.forall(_.kind == "b"))
    assert(snap.files.forall(_.stats.nonEmpty), "compacted base files lost stats")
    val cond = col("turn_idx") > 500 // outside every epoch's range
    assert(t.readWhere(cond).isEmpty)
    assert(t.pruneCounts(cond)._1 == 0, "all files disproven, none skipped")

    val t2 = t.rebucketTo(tmpDir("sp") + "/t2", 8)
    assert(t2.currentSnapshot().files.forall(_.stats.nonEmpty), "rebucket lost stats")

    // a pre-stats manifest entry (no 5th field) parses and is never pruned
    val line = "3\tb9-x-3-0.parquet\t42\tb"
    val fe = LakeTable.parseFileEntry(line)
    assert(fe.stats.isEmpty && fe.rows == 42L)
    val cs = FileStats.constraints(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("turn_idx") > 500),
      Map("turn_idx" -> IntegerType))
    assert(cs.nonEmpty && !FileStats.provablyEmpty(fe.stats, cs, Map("turn_idx" -> IntegerType)))
  }

  test("manifest encoding round-trips separators and unicode in string bounds") {
    for (s <- Seq("a,b;c=d%e\tf\ng", "plain", "", "É—𝄞 high plane", "%2C literal"))
      assert(FileStats.dec(FileStats.enc(s)) == s, s"roundtrip of '$s'")
    // a FileEntry with hostile bound values survives render→parse, and the
    // file= line itself stays EXACTLY 4 tab fields — stats ride separate
    // fstats= lines so a pre-stats binary's parser (which destructures 4
    // fields and ignores unknown keys) keeps reading new manifests
    val fe = LakeTable.FileEntry(1, "d0-1-0.parquet", 7, "d",
      Map("conv_id" -> ("a,b=;%", "z\tz\nz")))
    val snap = LakeTable.Snapshot(version = 0L, lastEpoch = 0L, schema = None,
      rows = 7L, files = Seq(fe), addedDeltas = Seq(fe))
    val rendered = LakeTable.renderSnapshot(snap)
    val fileLines = rendered.split('\n').filter(_.startsWith("file="))
    assert(fileLines.length == 1 && fileLines.head.count(_ == '\t') == 3,
      s"file= line must keep the 4-field pre-stats shape: ${fileLines.head}")
    assert(rendered.split('\n').count(_.startsWith("fstats=")) == 1,
      "one fstats= line per unique path (delta listed twice, stats once)")
    val back = LakeTable.parseSnapshot(rendered, 0L)
    assert(back.files == Seq(fe) && back.addedDeltas == Seq(fe))
    // a pre-stats reader simulation: dropping the unknown fstats= lines
    // still parses the same file list (with conservative empty stats)
    val stripped = rendered.split('\n').filterNot(_.startsWith("fstats=")).mkString("\n")
    val old = LakeTable.parseSnapshot(stripped, 0L)
    assert(old.files == Seq(fe.copy(stats = Map.empty)))
  }

  test("targetFileRows persists in the manifest: maintenance handles keep slicing") {
    val root = tmpDir("sp") + "/t"
    mergeThreeEpochs(LakeTable.create(spark, root, Model.keyCols,
      numBuckets = 2, targetFileRows = Some(30L)))
    // reopen WITHOUT the knob (the ops-CLI path) and compact: the recorded
    // layout must keep the rewrite sliced instead of collapsing each bucket
    // into one wide-bound file
    val reopened = LakeTable.open(spark, root)
    assert(reopened.targetFileRows.contains(30L), "manifest did not carry fileRows")
    reopened.compactAll()
    val snap = reopened.currentSnapshot()
    assert(snap.files.forall(_.kind == "b"))
    assert(snap.files.forall(_.rows <= 30L), "reopened compaction lost slicing")
    assert(reopened.pruneCounts(col("conv_id") === "c15")._1 < snap.files.size)
  }

  test("string-bound comparison uses unsigned UTF-8 order, not UTF-16") {
    // U+10000 (𐀀, surrogate pair) sorts ABOVE U+FFFD in UTF-8 byte order but
    // BELOW it in Java String order — the classic divergence
    val hi = new String(Character.toChars(0x10000))
    val cs = FileStats.constraints(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("k") > lit(hi)),
      Map("k" -> StringType))
    // file bounds [�, �]: in UTF-8 order max < U+10000 ⇒ skippable;
    // UTF-16 order would wrongly keep it (and worse, wrongly skip the mirror case)
    assert(FileStats.provablyEmpty(Map("k" -> ("�", "�")), cs,
      Map("k" -> StringType)))
    // mirror case: k > U+FFFD over a file holding only U+10000 — rows DO
    // match in UTF-8 order, so the file must be kept; UTF-16 code-unit
    // order (U+10000 < U+FFFD) would wrongly skip it
    val cs2 = FileStats.constraints(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("k") > lit("�")),
      Map("k" -> StringType))
    assert(!FileStats.provablyEmpty(Map("k" -> (hi, hi)), cs2, Map("k" -> StringType)),
      "UTF-16 order would wrongly skip a file whose UTF-8-larger bound still admits rows")
  }

  test("deleteWhere and updateWhere route through the pruned scan") {
    val root = tmpDir("sp") + "/t"
    val t = threeEpochTable(root)
    t.deleteWhere(col("conv_id") === "c15", epoch = 10L)
    assert(t.read().filter(col("conv_id") === "c15").isEmpty)
    t.updateWhere(col("conv_id") === "c25" && col("turn_idx") === 203,
      Map("text" -> lit("redacted")), epoch = 11L)
    val r = t.read().filter(col("conv_id") === "c25" && col("turn_idx") === 203).collect()
    assert(r.length == 1 && r.head.getAs[String]("text") == "redacted")
    assert(t.read().count() == 150 - 5 + 0) // 3 epochs × 50 − c15's 5 turns
  }

  test("targetFileRows slices compacted buckets into contiguous key ranges that still prune") {
    val root = tmpDir("sp") + "/t"
    // default deltaRatio so every epoch TRIGGERS compaction — the case where
    // un-sliced tables degrade to one wide-bound base per bucket
    val t = mergeThreeEpochs(LakeTable.create(spark, root, Model.keyCols,
      numBuckets = 2, targetFileRows = Some(30L)))
    t.compactAll()
    val snap = t.currentSnapshot()
    assert(snap.files.forall(_.kind == "b"))
    assert(snap.files.forall(_.rows <= 30L), "a slice exceeded targetFileRows")
    val perBucket = snap.files.groupBy(_.bucket).map(_._2.size)
    assert(perBucket.exists(_ > 1), "compaction produced no slices")
    // slices are sorted runs: within a bucket, conv_id ranges don't overlap
    snap.files.groupBy(_.bucket).foreach { case (b, fs) =>
      val ranges = fs.map(_.stats("conv_id")).sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlapping slices in bucket $b")
        case _ =>
      }
    }
    // ... so a narrow key predicate keeps pruning even on the fully
    // compacted table (the un-sliced layout would keep every file)
    for (cond <- Seq(col("conv_id") === "c15", col("conv_id") >= "c25",
        col("conv_id") < "c03")) {
      val (kept, total) = t.pruneCounts(cond)
      assert(kept < total, s"no post-compaction pruning for $cond ($kept/$total)")
      assert(t.readWhere(cond).collect().toSet == t.read().filter(cond).collect().toSet)
    }
    // rebucket (the one reshuffling publish) also slices with sorted runs
    val t2 = t.rebucketTo(tmpDir("sp") + "/t2", 4)
    assert(t2.currentSnapshot().files.forall(_.rows <= 30L))
    val (k2, n2) = t2.pruneCounts(col("conv_id") === "c15")
    assert(k2 < n2, s"no pruning after rebucket ($k2/$n2)")
    assert(t2.readWhere(col("conv_id") === "c15").count() ==
      t.read().filter(col("conv_id") === "c15").count())
  }

  test("long-key tables prune on wide integral bounds") {
    val root = tmpDir("sp") + "/t"
    val t = LakeTable.create(spark, root, Seq("id"), numBuckets = 2,
      deltaRatio = 1e9)
    t.merge((0L until 100L).map(i => ("I", i, i, s"v$i")).toDF("op", "lsn", "id", "payload"),
      epoch = 0L)
    t.merge((1000000L until 1000100L).map(i => ("I", i, i, s"v$i"))
      .toDF("op", "lsn", "id", "payload"), epoch = 1L)
    val cond = col("id") >= 1000000L
    assert(t.readWhere(cond).count() == 100)
    val (kept, total) = t.pruneCounts(cond)
    assert(kept < total)
    // int literal against the long column widens soundly
    assert(t.readWhere(col("id") < 50).count() == 50)
    assert(t.pruneCounts(col("id") < 50)._1 < total)
    // readKey with a TYPE-MISMATCHED value (Int against the Long column):
    // hashing the int literal directly would route to the wrong bucket and
    // silently return nothing — the readWhere routing falls back to a
    // stats-pruned all-bucket scan and finds the row
    val byKey = t.readKey(Seq(42)).collect()
    assert(byKey.length == 1 && byKey.head.getAs[String]("payload") == "v42")
    assert(t.readKey(Seq(42L)).collect().toSeq == byKey.toSeq)
    val keyT = Map("id" -> LongType)
    // beyond-2^53 guard only applies to double columns; longs compare exactly
    val csBig = FileStats.constraints(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("id") > Long.MaxValue - 1),
      keyT)
    assert(FileStats.provablyEmpty(Map("id" -> ("0", "100")), csBig, keyT))
  }
}
