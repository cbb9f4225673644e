package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

import graft.core.LocalFs

/** An Iceberg-shaped, snapshot-committed table over immutable Parquet files,
  * with MERGE-ON-READ upserts and per-bucket compaction.
  *
  * No Iceberg/Delta jar exists in this sandbox (offline resolution), so the
  * north-rule's "Iceberg table" is realized in-repo with the same public
  * design: immutable data files + a versioned snapshot manifest + an atomic
  * pointer swap, epoch-keyed idempotent commits, and additive schema
  * evolution recorded in snapshot metadata. The commit protocol mirrors the
  * reference engine's two-phase tmp-dir→rename publish
  * (go-datax `plugins/writer/hdfswriter/hdfs_writer.go:458-507`) and its
  * idempotent load labels ("Label Already Exists" ⇒ committed,
  * `plugins/writer/starrockswriter/starrocks_writer.go:878-892`) — here the
  * label is the checkpointed streaming batch epoch.
  *
  * Layout:
  * {{{
  *   <root>/data/b<v>-<nonce>-<bucket>-<n>.parquet  // base files (compacted)
  *   <root>/data/d<v>-<nonce>-<bucket>-<n>.parquet  // delta files (one merge epoch)
  *   <root>/_staging-<file prefix>/                 // a publish in flight
  *   <root>/_snapshots/snap-<version>.txt           // manifest
  *   <root>/_current                                // pointer: latest version (atomic swap)
  * }}}
  * Per-epoch ingest metrics ride inside the manifests (atomic with the
  * commit) and are exposed as a DataFrame by [[LakeTable#metrics]].
  *
  * Scale design — why merge-on-read: with high-entropy keys (every batch
  * touches every bucket) a copy-on-write MERGE rewrites O(table) per epoch —
  * unusable at 10^10 events. Here `merge` costs O(batch): the batch is
  * LWW-deduped in a SINGLE exchange — hash-partition on the key's bucket,
  * one task-level sort (bucket, key, lsn desc, ts desc), first-row-per-key
  * via `lag` — and written as hash-bucketed DELTA files carrying `_lsn` and
  * `_op` (tombstones included); the bucket-first sort means the dynamic-
  * partition parquet write adds no further exchange or sort. Readers
  * resolve the winner per key with one window over base∪deltas. Compaction
  * folds a bucket's deltas into a new base file whenever deltas exceed
  * `deltaRatio` × base rows (or the bucket accumulates ≥ `maxDeltaFiles`
  * delta files — a read-amplification bound), inside the same atomic
  * commit — amortized O(table × ratio⁻¹) write cost instead of O(table) per
  * epoch. Rows are hash-bucketed on the key, so compaction and point reads
  * prune to affected buckets only.
  *
  * SIZING `numBuckets`: a bucket is the unit of compaction-task and
  * point-read granularity — the LWW window runs one sorted partition per
  * bucket, so target ~0.5–2 GB of resolved rows per bucket at the table's
  * expected steady state (10^10 transcript turns ⇒ thousands of buckets,
  * not 32; the sandbox defaults are sized for test data). Bucket count is
  * frozen at creation and recorded in every manifest; re-bucketing is a
  * full rewrite by design, exactly as in Iceberg's bucket partition
  * transform.
  *
  * Upsert semantics follow the reference's writer-side PK upsert
  * (last-writer-wins per key, `common/database/rdbms/writer/common.go:556-616`);
  * the stored `_lsn` arbitrates across batches, so late-arriving lower-lsn
  * changes never clobber newer state and the final state is independent of
  * batch boundaries.
  *
  * MANIFEST SCALE DESIGN NOTE: each snapshot manifest stores the FULL file
  * list, and `metrics()`/`history()` read manifests serially on the driver.
  * Both are bounded in practice — compaction keeps the live file count at
  * O(numBuckets · maxDeltaFiles), `vacuum` truncates retained history, and a
  * manifest line is ~100 bytes, so even 10⁴ buckets × 12 deltas is a ~10 MB
  * manifest — but at very large bucket counts × long retained histories this
  * becomes the Iceberg manifest-list problem.
  *
  * MEASURED (BASELINE.md "Manifest scale curve", `graft.tools.Perf manifest`,
  * 16 epochs × 100k events, 32 → 4096 buckets): the manifest term is
  * NEGLIGIBLE through 4k buckets (≤337 KB manifests; full-history
  * metrics()/history() ≤0.11 s — the parallel snapshot reads flatten the
  * history term). What degrades first is the DATA side: per-epoch merge
  * time grows ~10× at 1024 buckets and ~40–65× at 4096 because a 100k-row
  * epoch spreads to ~24 rows per written file. THRESHOLD RULE: size
  * `numBuckets` so a typical epoch writes ≳10k rows (≳1 MB) per bucket;
  * manifest TIERING only pays around ~10⁷ live file entries (~30 MB
  * manifest — roughly 10⁵–10⁶ buckets × maxDeltaFiles), two orders beyond
  * that rule. The upgrade path at that point is Iceberg's own: tier
  * manifests per bucket range with a manifest-list file per snapshot so a
  * commit rewrites O(changed buckets) of metadata, and move
  * `metrics()`/`history()` to a parallel read of that list. The commit
  * protocol (claim + pointer hint) is unchanged by that tiering.
  */
final class LakeTable(
    val spark: SparkSession,
    val root: String,
    val keyCols: Seq[String],
    val numBuckets: Int,
    val deltaRatio: Double = 0.3,
    val maxDeltaFiles: Int = 12,
    /** DISTRIBUTION key: the subset of `keyCols` the bucket routing hashes.
      * Empty (the default) = the full primary key — maximum spread, a hot
      * group's rows salt themselves across buckets by the rest of the key.
      * A strict prefix/subset (e.g. `conv_id` under key `(conv_id,
      * turn_idx)`) co-locates every row of a group in ONE bucket, so
      * group-scoped reads ([[readGroup]]) and dirty-group incremental
      * recomputes ([[Rollup.sync]]) prune to O(table/buckets) instead of
      * scanning the table — the Iceberg `bucket(conv_id)` partition-spec
      * analog. The trade is explicit: distribution on a group key
      * concentrates a hot group's rows (and its merge/compaction work) in
      * one bucket, so pick it when group locality pays for more than the
      * lost spread, and size `numBuckets` for the hot group, not the mean.
      * Like the key columns and bucket count it is a TABLE constant,
      * recorded in every manifest and validated on open.
      */
    val distCols: Seq[String] = Nil,
    /** When set, every published file is capped at this many rows
      * (`maxRecordsPerFile`). Because the delta and compaction writers
      * already emit rows sorted by (`_bucket`, key...) — the LWW dedupe's
      * single-exchange plan orders them for free — the slices are
      * CONTIGUOUS KEY RANGES, so each file's footer min/max stay tight and
      * [[readWhere]] keeps skipping files even after compaction folds a
      * bucket (otherwise one wide-bound base file per bucket absorbs the
      * whole key range and stats pruning degrades to bucket pruning — the
      * sort-ordered-rewrite story Iceberg tables get from a sort order).
      * Also bounds single-file size on big backfill epochs. Operational
      * knob like `deltaRatio` (not persisted in the manifest); None = one
      * file per bucket per write, the pre-slicing behavior.
      */
    val targetFileRows: Option[Long] = None,
    /** CLUSTERING columns for BASE files (Iceberg sort-order analog): when
      * set (and [[targetFileRows]] slices files), compaction re-sorts each
      * bucket by these columns before writing, so the sliced files carry
      * TIGHT footer bounds on them — a `ts`-window `readWhere` over a
      * compacted table then skips all but the matching slices even though
      * `ts` is uncorrelated with the key. Pure tightness knob, never
      * soundness: bounds are always harvested from the actual file contents
      * (see [[FileStats]]), payload bounds only apply in clean buckets
      * (lemma), and the LWW merge never depends on intra-file order. The
      * trade: base-file KEY bounds widen to the bucket's span, so
      * intra-bucket file-level pruning of key predicates degrades — key
      * point reads still prune by bucket routing. Delta files keep key
      * order (their payload bounds are unusable anyway). Advisory and
      * re-definable: a handle with different sortCols just clusters FUTURE
      * rewrites differently.
      */
    val sortCols: Seq[String] = Nil) {

  import LakeTable._

  require(distCols.forall(keyCols.contains),
    s"distribution columns (${distCols.mkString(",")}) must be a subset of " +
      s"the key columns (${keyCols.mkString(",")}) — the bucket must stay a " +
      "pure function of the key or per-bucket LWW resolution breaks")

  /** Effective distribution key: `distCols`, or the full key when unset. */
  val distributionCols: Seq[String] = if (distCols.isEmpty) keyCols else distCols

  // every local write, read and stream checkpoint of this session goes
  // through the spawn-free local filesystem from here on
  LocalFs.install(spark)
  // one instance per handle: with `fs.file.impl.disable.cache` (LocalFs)
  // every getFileSystem call constructs and initializes a new one
  private val fs: FileSystem = new Path(root).getFileSystem(SessionBridge.hadoopConf(spark))

  private val dataDir = s"$root/data"
  private val snapDir = s"$root/_snapshots"
  private val pointer = s"$root/_current"
  private val refsDir = s"$root/_refs"

  /** bucket of a row = pmod(hash(distribution key...), numBuckets) */
  private def bucketExpr = pmod(hash(distributionCols.map(col): _*), lit(numBuckets))

  /** Driver-side bucket of one distribution-key value, computed with the
    * SAME codegen'd `hash` expression the writer uses (over literals of the
    * stored column types — see pruneFiles' exact-type guard) so pruning can
    * never disagree with the layout.
    */
  private def bucketOfCols(distLits: Seq[Column]): Int = spark.range(1)
    .select(pmod(hash(distLits: _*), lit(numBuckets)).as("b"))
    .head().getInt(0)

  /** Read-path LWW ordering: `_lsn` desc with a stable full-row hash as the
    * final tie-break, so a GENUINE lsn collision (e.g. a synthetic
    * maintenance lsn colliding with a dense source id space) resolves to
    * the SAME winner on every read, compaction, and incremental scan —
    * never sort-arrival order. Mirrors the merge-side payload-hash
    * tie-break.
    */
  private def readOrd(df: DataFrame): Seq[Column] =
    Seq(col(LsnCol).desc, xxhash64(df.columns.toSeq.map(col): _*).desc)

  // ---------------------------------------------------------------- snapshots

  /** Latest committed snapshot. The commit point is the existence of
    * `snap-<v>.txt` itself (claimed atomically — see [[commitSnapshot]]);
    * `_current` is only a HINT that spares the forward scan, so a writer
    * that crashed between claiming the snapshot and updating the pointer
    * still committed — readers roll the hint forward to the true head.
    * (Same design as Iceberg's Hadoop tables: metadata-file creation is the
    * commit, version-hint.text is advisory.)
    */
  def currentSnapshot(): Snapshot = {
    val p = new Path(pointer)
    val hinted = fs.exists(p)
    var v = if (hinted) readString(fs, p).trim.toLong else -1L
    while (fs.exists(new Path(s"$snapDir/snap-${v + 1}.txt"))) v += 1
    // A LOST pointer can only anchor on a chain that is CONTIGUOUS from 0.
    // With manifests expired around a tag-pinned early version, snap-0 may
    // survive while snap-1..k are gone: the forward probe would resolve
    // head = 0 and silently serve the ancient pinned state — and the next
    // merge would re-claim the freed snap-1 name, forking history against
    // the still-existing true head. Fail sharply instead (restore _current
    // or `LakeMaint rollback` deliberately). One directory listing, only
    // on this anomalous pointerless path — never on hinted reads.
    if (!hinted && fs.exists(new Path(snapDir))) {
      val snapRe = "snap-(\\d+)\\.txt".r
      val maxOnDisk = fs.listStatus(new Path(snapDir)).iterator
        .map(_.getPath.getName)
        .collect { case snapRe(n) => n.toLong }
        .foldLeft(-1L)(math.max)
      require(maxOnDisk <= v,
        s"the _current pointer under $root is missing and the manifest " +
          s"chain has a gap: contiguous probe from 0 reaches v$v but " +
          s"snap-$maxOnDisk.txt exists — refusing to silently serve a " +
          "stale (likely tag-pinned) state as the head; restore _current " +
          s"with the true head version (echo $maxOnDisk > _current) after " +
          "verifying that manifest is complete")
    }
    if (v < 0) return Snapshot(version = -1L, lastEpoch = -1L, schema = None, rows = 0L, files = Nil)
    val s = readSnapshot(fs, new Path(s"$snapDir/snap-$v.txt"), v)
    // layout guard: a handle opened with different keys/buckets would
    // relabel every row's bucket and corrupt compaction and point reads
    if (s.keysMeta.nonEmpty) {
      val storedDist = if (s.distMeta.isEmpty) s.keysMeta else s.distMeta
      require(s.keysMeta == keyCols && s.bucketsMeta == numBuckets &&
          storedDist == distributionCols,
        s"table layout mismatch: manifest has keys=${s.keysMeta.mkString(",")} " +
          s"buckets=${s.bucketsMeta} dist=${storedDist.mkString(",")}, this " +
          s"handle was opened with keys=${keyCols.mkString(",")} " +
          s"buckets=$numBuckets dist=${distributionCols.mkString(",")} — use LakeTable.open")
    }
    s
  }

  /** Atomically claim `snap-<version>.txt` for this snapshot — optimistic
    * concurrency control. The body is fully written to a nonce-named file
    * first, then published under the version name by an operation that
    * FAILS if the name is already taken (hard link on the local fs — POSIX
    * `link(2)` is atomic-exclusive; non-replacing `rename` elsewhere —
    * HDFS rename returns false when the destination exists). Exactly one
    * of N concurrent committers of the same version wins; losers get
    * [[LakeTable.CommitConflictException]] and must rebase onto the new
    * head and retry. The pointer hint update afterwards is best-effort.
    */
  private def commitSnapshot(s0: Snapshot): Unit = {
    val s = s0.copy(commitTs = System.currentTimeMillis(),
      keysMeta = keyCols, bucketsMeta = numBuckets,
      // written only when narrower than the key: full-key manifests stay
      // byte-identical to pre-dist ones (old readers parse them unchanged)
      distMeta = if (distributionCols == keyCols) Nil else distributionCols,
      fileRowsMeta = targetFileRows.getOrElse(0L),
      sortMeta = sortCols)
    fs.mkdirs(new Path(snapDir))
    val id = nonce()
    val body = new Path(s"$snapDir/snap-${s.version}.txt.$id")
    writeString(fs, body, renderSnapshot(s))
    val snapPath = new Path(s"$snapDir/snap-${s.version}.txt")
    if (!atomicClaim(fs, body, snapPath)) {
      fs.delete(body, false)
      throw new CommitConflictException(
        s"version ${s.version} was committed concurrently (epoch ${s.lastEpoch} lost the race)")
    }
    if (fs.exists(body)) fs.delete(body, false) // link path leaves the nonce name behind
    // advance the hint (never backwards — a slow loser of an EARLIER race
    // must not rewind the hint past a newer committed version)
    val cur = if (fs.exists(new Path(pointer))) readString(fs, new Path(pointer)).trim.toLong else -1L
    if (s.version > cur) {
      val tmp = new Path(s"$pointer.tmp-$id")
      writeString(fs, tmp, s.version.toString)
      atomicReplace(fs, tmp, new Path(pointer))
    }
  }

  /** A fresh 8-character nonce. Every staging dir, data-file prefix and
    * temp file a writer names carries one, so no two writers, and no two
    * attempts of one writer, ever share a name.
    */
  private def nonce(): String = java.util.UUID.randomUUID().toString.take(8)

  // ---------------------------------------------------------------- read

  /** Current table contents (public columns — internals dropped). */
  def read(): DataFrame = {
    val s = currentSnapshot()
    resolved(s).drop(LsnCol, OpCol)
  }

  /** Time travel: read the table as of snapshot `version` (files of old
    * versions remain on disk until [[vacuum]] — Iceberg-style snapshot
    * reads).
    */
  def readVersion(version: Long): DataFrame =
    resolved(snapshotAt(version)).drop(LsnCol, OpCol)

  /** The committed manifest of `version`, with one sharp error for a
    * version that was never committed or has been expired
    * ([[expireSnapshots]]).
    */
  private def snapshotAt(version: Long): Snapshot = manifestAt(version).getOrElse(
    throw new IllegalArgumentException(s"snapshot version $version does not exist"))

  /** The manifest of `version`, if it exists. */
  private def manifestAt(version: Long): Option[Snapshot] = {
    val p = new Path(s"$snapDir/snap-$version.txt")
    if (fs.exists(p)) Some(readSnapshot(fs, p, version)) else None
  }

  /** Contents including the internal `_lsn` arbitration column. */
  def readInternal(): DataFrame = resolved(currentSnapshot()).drop(OpCol)

  /** Incremental read (CDC-out): the LWW-resolved change set committed
    * AFTER snapshot `sinceVersion` — one row per key changed in
    * (sinceVersion, current], INCLUDING tombstone rows (`_op` = "D") so a
    * downstream merge can propagate deletes. Iceberg-style incremental
    * scan: built from the delta files each commit ADDED (all snapshot
    * manifests are retained), so cost is O(changes in the window), never
    * O(table). Delta files later folded by compaction remain on disk until
    * [[vacuum]] — incremental consumers must read their window before
    * vacuuming, exactly like Iceberg snapshot expiry.
    */
  def readChangesSince(sinceVersion: Long): DataFrame = {
    val cur = currentSnapshot()
    readChangesBetween(sinceVersion, cur.version, cur)
  }

  /** Bounded change window: the LWW-resolved change set committed in
    * `(fromVersion, toVersion]` — the time-travel diff between two
    * snapshots. Same cost shape as [[readChangesSince]]: O(changes in the
    * window), never O(table). Versions REVERTED by a [[rollbackTo]] inside
    * the window contribute no changes (their deltas are skipped), so
    * incremental consumers stay consistent with the head instead of
    * applying changes the table no longer contains.
    */
  def readChangesBetween(fromVersion: Long, toVersion: Long): DataFrame =
    readChangesBetween(fromVersion, toVersion, currentSnapshot())

  private def readChangesBetween(fromVersion: Long, toVersion: Long,
      cur: Snapshot): DataFrame = {
    require(fromVersion <= toVersion && toVersion <= cur.version,
      s"invalid window ($fromVersion, $toVersion] against current ${cur.version}")
    val snaps = ((fromVersion + 1) to toVersion).map { v =>
      if (v == cur.version) cur else snapshotAt(v)
    }
    // versions undone by a rollback commit inside the window contribute no
    // deltas (a rollback BEFORE the window reverted only versions before it)
    val reverted: Seq[(Long, Long)] =
      snaps.collect { case sn if sn.revertedFrom >= 0 => (sn.revertedFrom, sn.version) }
    def isReverted(v: Long) = reverted.exists { case (lo, hi) => v > lo && v < hi }
    val files = snaps.filterNot(sn => isReverted(sn.version)).flatMap(_.addedDeltas)
    // current (additive-evolved, never-narrowed) schema null-fills older files
    val df = dfFor(cur, files)
    if (files.isEmpty) df.withColumn(OpCol, coalesce(col(OpCol), lit("U")))
    else lwwWinners(df, keyCols, readOrd(df))
      .withColumn(OpCol, coalesce(col(OpCol), lit("U")))
  }

  /** ROLLBACK (Iceberg `rollback_to_snapshot` analog): commit a NEW
    * snapshot whose file list is that of `version` — history is preserved
    * (the bad snapshots stay readable until [[vacuum]]), the head simply
    * moves back. Epoch lineage is kept from the CURRENT head so replays of
    * already-applied epochs remain idempotent; re-applying the rolled-back
    * changes needs fresh epochs, exactly like Iceberg.
    *
    * Safety:
    *  - refuses to roll back past [[vacuum]]: every target data file must
    *    still exist (a head referencing deleted files would be permanently
    *    broken with no error until the next read);
    *  - the SCHEMA is never narrowed (kept as the union of target and
    *    current) so incremental readers can still decode every delta file
    *    ever written;
    *  - the rollback commit records `revertedFrom`, and change-window
    *    reads skip the reverted versions' deltas — incremental consumers
    *    never apply changes the head no longer contains;
    *  - a concurrent commit between reading the head and claiming the
    *    rollback version surfaces as [[LakeTable.CommitConflictException]]
    *    (NOT auto-retried: retrying would silently discard that commit —
    *    inspect the new head and decide).
    */
  def rollbackTo(version: Long): Unit = {
    val cur = currentSnapshot()
    require(version <= cur.version, s"cannot roll forward to $version")
    if (version == cur.version) return
    val target = snapshotAt(version)
    val missing = target.files.filterNot(f => fs.exists(new Path(s"$dataDir/${f.path}")))
    require(missing.isEmpty,
      s"cannot roll back to $version: ${missing.size} of its data files were " +
        s"vacuumed (first: ${missing.headOption.map(_.path).getOrElse("")})")
    commitSnapshot(cur.copy(
      version = cur.version + 1,
      schema = (cur.schema, target.schema) match {
        case (Some(c), Some(t)) => Some(unionSchemas(c, t))
        case (c, t) => c.orElse(t)
      },
      rows = target.rows,
      files = target.files,
      stats = None,
      addedDeltas = Nil,
      revertedFrom = version,
      maxLsn = cur.maxLsn, // lsn history is not rewound: future synthetic
                           // lsns must still outrank everything ever seen
      lsnHigh = -1L)) // no new rows in a rollback commit
  }

  /** STREAMING CDC-out: tail the table's delta files as a Structured
    * Streaming source — the push counterpart of the pull-style
    * [[readChangesSince]] (Iceberg/Delta streaming-read analog). Delta
    * files are immutable and land in `data/` with a `d` prefix at publish
    * time, so a file-stream source with a glob filter tails exactly the
    * change log: each emitted row is one epoch-level LWW-deduped change
    * (payload + `_lsn` + `_op`, tombstones included). Base (`b`) files are
    * excluded, so compaction rewrites never re-emit rows.
    *
    * Delivery is AT-LEAST-ONCE relative to commits (a crashed publish can
    * orphan delta files that a retry re-publishes under a new nonce) —
    * exactly the contract every consumer of this engine already handles,
    * because `_lsn` LWW-merging absorbs duplicates; feed the stream into
    * [[merge]] via foreachBatch for exactly-once downstream state. The
    * read schema is fixed at stream start (restart the stream after
    * additive evolution); keep [[vacuum]] retention ahead of consumer lag,
    * as with [[readChangesSince]].
    *
    * CONTRACT CAVEATS — the file tail is NOT manifest-filtered, unlike the
    * batch change-window API ([[readChangesBetween]]):
    *  - deltas of versions undone by [[rollbackTo]] ARE emitted (the batch
    *    API skips them via `revertedFrom`), so a consumer applying them
    *    LWW-merge-style can retain state the source head no longer has;
    *  - delta files orphaned by a crashed or race-losing publish (never
    *    committed by any manifest) ARE emitted, and [[vacuum]] may delete
    *    one mid-stream.
    * Low-latency push consumers that can tolerate this (duplicates and
    * rollback phantoms both lose future LWW rounds once the source moves
    * on) may use this stream; consumers that must track the committed head
    * exactly should poll [[Replicate.sync]] / [[readChangesBetween]]
    * watermarks instead — that is what `LakeMaint tail` does.
    */
  def readStreamChanges(maxFilesPerTrigger: Int = 32): DataFrame = {
    val s = currentSnapshot()
    val stored = s.schema.getOrElse(throw new IllegalStateException(
      "readStreamChanges needs a committed schema — merge at least one batch first"))
    val schema = StructType(stored.fields :+ StructField(OpCol, StringType, nullable = true))
    // canonical merge-ready shape (`op`/`lsn`, op null ⇒ U) so a consumer
    // can feed the stream straight into another table's merge
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      // delta files plus `s*` SEED files (a first commit's base files,
      // [[merge]]): the seed epoch is a change window and must reach tail
      // consumers, while compaction rewrites (`b*`) stay excluded so rows
      // never re-emit
      .option("pathGlobFilter", "{d,s}*.parquet")
      .parquet(dataDir)
      .withColumn(OpCol, coalesce(col(OpCol), lit("U")))
      .withColumnRenamed(OpCol, "op")
      .withColumnRenamed(LsnCol, "lsn")
  }

  /** BOOTSTRAP change set: the current snapshot's resolved state — one LWW
    * winner per key, TOMBSTONE WINNERS INCLUDED — shaped like a change
    * window (payload + `_lsn` + `_op`). This is how a FRESH incremental
    * consumer starts: unlike replaying every historical window, it reads
    * only files the current snapshot references (which exist by
    * definition, no matter how aggressively [[vacuum]] ran) and costs
    * O(table), not O(history). [[Replicate.sync]] uses it when the
    * destination has no watermark yet.
    */
  def readChangesBootstrap(): DataFrame =
    readChangesBootstrapAt(currentSnapshot())

  /** [[readChangesBootstrap]] pinned at snapshot `version` — a consumer
    * that records "bootstrapped through version V" must read EXACTLY V's
    * state, not whatever head a concurrent writer has advanced to between
    * choosing V and scanning (the export would otherwise carry changes its
    * own watermark claims not to, duplicating them on the next window).
    */
  def readChangesBootstrap(version: Long): DataFrame =
    readChangesBootstrapAt(snapshotAt(version))

  private def readChangesBootstrapAt(s: Snapshot): DataFrame = {
    if (s.files.isEmpty) {
      val stored = s.schema.getOrElse(StructType(Nil))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(stored.fields :+ StructField(OpCol, StringType, nullable = true)))
    }
    resolvedBucketed(s, s.files.map(_.bucket).toSet)
      .drop(BucketCol)
      .withColumn(OpCol, coalesce(col(OpCol), lit("U")))
  }

  /** Point lookup: resolve ONE key touching only ITS bucket's files — the
    * payoff of hash-bucketing the layout (O(table/buckets) bytes read, not
    * O(table)). The bucket is computed driver-side with the same `hash`
    * expression the writer uses, so the pruning can never disagree with the
    * layout.
    */
  def readKey(keyValues: Seq[Any]): DataFrame = {
    require(keyValues.length == keyCols.length,
      s"expected ${keyCols.length} key values (${keyCols.mkString(",")})")
    // routed through readWhere: exact-typed key values pin the one bucket
    // AND file-skip within it on footer bounds; a value whose runtime type
    // differs from the stored column's falls back to a stats-pruned scan of
    // every bucket — correct where hashing the mismatched literal directly
    // would route to the WRONG bucket and silently return nothing
    readWhere(keyCols.zip(keyValues)
      .map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))
  }

  /** Group lookup: resolve EVERY key sharing one distribution-key value —
    * e.g. all turns of one conversation under `distCols = conv_id` — touching
    * only that group's bucket. Only meaningful when `distCols` is narrower
    * than the key (with full-key distribution a "group" is a single key and
    * [[readKey]] is the right call).
    */
  def readGroup(distValues: Seq[Any]): DataFrame = {
    require(distValues.length == distributionCols.length,
      s"expected ${distributionCols.length} distribution values " +
        s"(${distributionCols.mkString(",")})")
    // same routing as readKey: bucket pinning + in-bucket file skipping,
    // with the type-mismatch fallback
    readWhere(distributionCols.zip(distValues)
      .map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))
  }

  /** Predicate scan with MANIFEST-LEVEL FILE SKIPPING (the Iceberg/Delta
    * data-skipping analog): conjuncts of `cond` that compare a KEY column
    * against literals are evaluated against each file's footer-harvested
    * min/max bounds recorded in the manifest, and files whose bounds
    * disprove the predicate are dropped BEFORE Spark lists, opens, or
    * schedules them — at 10⁴+ files the difference between "read the whole
    * table" and "read the two files that can match". Equality on the full
    * distribution key additionally pins the scan to one bucket (composes
    * with [[readKey]]-style bucket pruning).
    *
    * Semantics are identical to `read().filter(cond)` for ANY predicate:
    * unusable conjuncts (expressions, casts, unstatted columns) simply
    * prune nothing, and the full predicate is re-applied after LWW
    * resolution. Sound pruning comes in two tiers: KEY-column bounds apply
    * to every file (immutability argument — a file skipped on key bounds
    * holds no row, current, stale, or tombstone, of any matching key), and
    * in buckets with no delta files ANY column's bounds apply (clean-bucket
    * lemma: compaction left one final row per key, so there is no competing
    * version a skip could hide). See [[FileStats]] for both proofs. The
    * practical upshot: a bare `ts` range window file-skips a
    * mostly-compacted transcript table even though `ts` is mutable.
    */
  def readWhere(cond: Column): DataFrame = scanWhere(cond).df

  /** One pruned scan plus its pruning report, all derived from a SINGLE
    * snapshot — the counts describe exactly the scan in `df` even under
    * concurrent commits. The residual filter runs AFTER the internal-column
    * drop so `df` is column-for-column `read().filter(cond)`, including how
    * a predicate naming `_lsn`/`_op` resolves (the analyzer's
    * missing-reference resolution reaches through the drop in both).
    */
  def scanWhere(cond: Column): ScanReport = {
    val s = currentSnapshot()
    val kept = pruneFiles(s, cond)
    ScanReport(resolvedFiles(s, kept).drop(LsnCol, OpCol).filter(cond),
      kept.size, s.files.size, s.version)
  }

  /** (kept files, total files) that [[readWhere]] would scan for `cond` —
    * observability + test hook for physical-pruning assertions.
    */
  private[graft] def pruneCounts(cond: Column): (Int, Int) = {
    val r = scanWhere(cond)
    (r.filesKept, r.filesTotal)
  }

  private def pruneFiles(s: Snapshot, cond: Column): Seq[FileEntry] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val schema = s.schema.getOrElse(return s.files)
    val keyTypes: Map[String, org.apache.spark.sql.types.DataType] =
      keyCols.flatMap(k => schema.fields.find(_.name == k).map(f => k -> f.dataType)).toMap
    if (keyTypes.size != keyCols.length) return s.files
    // two constraint trees over the SAME predicate: the key-column tree
    // applies to every file (key immutability argument); the all-column
    // tree only to files in clean buckets (clean-bucket lemma). A predicate
    // with no usable key conjunct (e.g. a bare ts window) still payload-
    // prunes compacted buckets through the full tree.
    val allTypes: Map[String, org.apache.spark.sql.types.DataType] =
      schema.fields.filterNot(f =>
          f.name == LsnCol || f.name == OpCol || f.name == BucketCol)
        .map(f => f.name -> f.dataType).toMap
    val (tree, fullTree) = try {
      val e = ColumnBridge.expression(cond)
      // compile the predicate in BOTH shapes and conjoin: the raw Column
      // AST preserves cross-type literal comparisons the analyzer would
      // wrap in a column-side Cast (integral widening — cmp() handles them
      // exactly), while the resolved+folded form turns coerced literals
      // (string-typed timestamp windows, foldable arithmetic) into typed
      // literals the bounds engine can use. Same predicate, so every
      // constraint of each tree holds for every matching row — a file
      // disproven by EITHER is soundly skipped, and bucket pinning may
      // draw equality conjuncts from both.
      val n = ColumnBridge.resolveAndFold(spark, e, StructType(
        schema.fields :+ StructField(OpCol, StringType, nullable = true)))
      (FileStats.AndP(FileStats.compile(e, keyTypes), FileStats.compile(n, keyTypes)),
        FileStats.AndP(FileStats.compile(e, allTypes), FileStats.compile(n, allTypes)))
    } catch { case scala.util.control.NonFatal(_) => return s.files }
    if (!FileStats.usable(tree) && !FileStats.usable(fullTree)) return s.files
    // bucket pruning: equality on every distribution column (with the
    // literal's type EXACTLY the column's — hash() of a narrower literal
    // routes differently) pins the one bucket that can hold matching keys.
    // Only constraints REQUIRED by every matching row count (top-level AND
    // path — a disjunction's equality pins nothing).
    val eqLits: Map[String, CLit] = FileStats.topConjuncts(tree).collect {
      case FileStats.Range(c, "=", v, lt) if lt == keyTypes(c) => c -> CLit(v, lt)
    }.toMap
    val bucketed =
      if (distributionCols.forall(eqLits.contains)) {
        val b = bucketOfCols(distributionCols.map(c =>
          ColumnBridge.column(eqLits(c))))
        s.files.filter(_.bucket == b)
      } else s.files
    // clean-bucket payload pruning (FileStats clean-bucket lemma): files of
    // buckets with NO delta files in this snapshot may additionally be
    // disproven on ANY column's bounds — compaction left exactly one final
    // row per key there, so a skip can't hide a competing version.
    // Cleanliness is judged against the snapshot's FULL file list, never
    // the pruned subset (a key-pruned delta still makes its bucket dirty).
    val dirtyBuckets: Set[Int] = s.files.filter(_.kind == "d").map(_.bucket).toSet
    bucketed.filterNot(f =>
      FileStats.disproven(f.stats, tree, keyTypes) ||
        (!dirtyBuckets(f.bucket) && FileStats.disproven(f.stats, fullTree, allTypes)))
  }

  /** Current contents of a SUBSET of buckets — the building block for
    * group-pruned incremental maintenance ([[Rollup.sync]] scopes its
    * recompute scan to the buckets the change window touched). Rows outside
    * `buckets` are absent from the result by layout construction, so a
    * caller filtering on distribution-key values it hashed itself reads
    * O(|buckets|/numBuckets) of the table.
    */
  def readBuckets(buckets: Set[Int]): DataFrame =
    resolved(currentSnapshot(), buckets = Some(buckets)).drop(LsnCol, OpCol)

  /** [[readBuckets]] pinned to snapshot `version` (time-travel variant). */
  def readVersionBuckets(version: Long, buckets: Set[Int]): DataFrame =
    resolved(snapshotAt(version), buckets = Some(buckets)).drop(LsnCol, OpCol)

  /** Buckets the given distribution-key rows route to, computed with the
    * writer's own bucket expression — driver-collected, bounded by
    * `numBuckets`. `rows` must carry the distribution columns.
    */
  def bucketsFor(rows: DataFrame): Set[Int] =
    rows.select(bucketExpr.as("b")).distinct()
      .collect().map(_.getInt(0)).toSet

  /** Current LWW winners — TOMBSTONE WINNERS INCLUDED — for an arbitrary
    * key set, shaped like a change window (payload + `_lsn` + `_op`). This
    * is the SOUND incremental emission for a VERSIONLESS downstream target
    * (a live-database mirror, [[graft.engine.cdc.JdbcApply]]): a change
    * window's own winners are resolved only WITHIN the window, so an
    * at-least-once source re-delivering an older change in a later window
    * would regress such a target; the table's CURRENT winner for the
    * touched keys cannot — it only moves forward in `_lsn`. Cost:
    * O(buckets containing the keys) — key rows route to their buckets with
    * the writer's own bucket expression ([[bucketsFor]]) and only those
    * buckets are resolved; the key set itself should be batch-sized (it is
    * driver-independent but semi-joins against the resolved buckets).
    */
  def readChangesForKeys(keys: DataFrame): DataFrame = {
    val s = currentSnapshot()
    val missing = keyCols.filterNot(keys.columns.contains)
    require(missing.isEmpty,
      s"keys input is missing key columns ${missing.mkString(",")}")
    val keyRows = keys.select(keyCols.map(col): _*).distinct()
    if (s.files.isEmpty) return readChangesBootstrap()
    // exact-type guard (same class of bug readKey routes around): hashing a
    // literal of a NARROWER type routes to the wrong bucket and silently
    // returns nothing — fail sharp instead
    val stored = s.schema.getOrElse(StructType(Nil))
    keyCols.foreach { k =>
      val want = stored.fields.find(_.name == k).map(_.dataType)
      val got = keyRows.schema.fields.find(_.name == k).map(_.dataType)
      require(want.isEmpty || want == got,
        s"key column '$k' has type ${got.getOrElse("?")} but the table stores " +
          s"${want.getOrElse("?")} — a mismatched type hashes to the wrong bucket")
    }
    resolvedBucketed(s, bucketsFor(keyRows))
      .drop(BucketCol)
      .join(keyRows, keyCols, "left_semi")
      .withColumn(OpCol, coalesce(col(OpCol), lit("U")))
  }

  /** Merge-on-read resolution: one row per key (the max-`_lsn` winner),
    * tombstones dropped.
    *
    * Winner resolution is PER-BUCKET-PRUNED: rows are hash-bucketed on the
    * key, so a key's winner can only involve files of its own bucket. Only
    * buckets that actually have delta files go through the window shuffle;
    * delta-free buckets are a plain scan unioned alongside. Between
    * compactions most buckets are clean, so read cost is O(dirty buckets),
    * not O(table) — at 100× scale one stray delta file no longer drags every
    * clean bucket's rows through the exchange.
    */
  private def resolved(s: Snapshot, buckets: Option[Set[Int]] = None): DataFrame = {
    val files = buckets match {
      case Some(bs) => s.files.filter(f => bs.contains(f.bucket))
      case None => s.files
    }
    resolvedFiles(s, files)
  }

  /** [[resolved]] over an explicit file subset. SOUNDNESS CONTRACT: the
    * subset must contain, for every key the CALLER will keep after its own
    * residual filtering, ALL of that key's files — otherwise the LWW window
    * can crown a stale winner. Bucket pruning satisfies it (a key's rows
    * live in one bucket); stats pruning on KEY-column predicates satisfies
    * it (key columns are immutable per key — see [[FileStats]]).
    */
  private def resolvedFiles(s: Snapshot, files: Seq[FileEntry]): DataFrame = {
    val dirty: Set[Int] = files.filter(_.kind == "d").map(_.bucket).toSet
    // tombstone winners are RETAINED in base files (see compaction note), so
    // reads always filter them — including the no-delta fast path
    val live = coalesce(col(OpCol), lit("U")) =!= "D"
    if (dirty.isEmpty) return dfFor(s, files).filter(live)
    val (dirtyFiles, cleanFiles) = files.partition(f => dirty.contains(f.bucket))
    val dirtyDf = dfFor(s, dirtyFiles)
    val winners = lwwWinners(dirtyDf, keyCols, readOrd(dirtyDf))
    val all =
      if (cleanFiles.isEmpty) winners
      else winners.unionByName(dfFor(s, cleanFiles))
    all.filter(live)
  }

  /** Compaction-path resolution: same winners as [[resolved]] but computed
    * with the single-exchange bucket plan, so the output is already
    * clustered+sorted by `_bucket` for the rewrite (see `lwwWinnersBucketed`),
    * and — crucially — TOMBSTONE WINNERS ARE KEPT (`_op` = D rows survive
    * the rewrite). Dropping them would let an at-least-once source
    * resurrect a deleted key by re-delivering an OLDER change after the
    * compaction (duplicate with lower lsn arrives in a later epoch, no
    * tombstone left to outrank it). Readers filter `_op = D`; tombstones
    * older than the source's re-delivery horizon can be GC'd with
    * [[expireTombstones]]. Output carries `_bucket`.
    */
  private def resolvedBucketed(s: Snapshot, buckets: Set[Int]): DataFrame = {
    val files = s.files.filter(f => buckets.contains(f.bucket))
    val df = dfFor(s, files).withColumn(BucketCol, bucketExpr)
    if (!files.exists(_.kind == "d")) df
    else lwwWinnersBucketed(df, readOrd(df))
  }

  /** One winner per key with ONE exchange: hash-partition on `_bucket`
    * (a pure function of the key — same-key rows colocate), sort each task
    * by (`_bucket`, key, ord), and keep the first row of every key run
    * (detected with `lag` over the bucket window). The output ordering
    * starts with `_bucket`, so a dynamic-partition parquet write on
    * `_bucket` is satisfied without any further exchange or sort.
    */
  private def lwwWinnersBucketed(df: DataFrame, ord: Seq[Column]): DataFrame = {
    val keyStruct = struct(keyCols.map(col): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(BucketCol))
      .orderBy(keyCols.map(col) ++ ord: _*)
    df.withColumn("_prevKey", lag(keyStruct, 1).over(w))
      .filter(col("_prevKey").isNull || col("_prevKey") =!= keyStruct)
      .drop("_prevKey")
  }

  /** Physical file scan with the unified snapshot schema (+`_op`, null in
    * base files — additive evolution also null-fills old files).
    */
  private def dfFor(s: Snapshot, files: Seq[FileEntry]): DataFrame = {
    val stored = s.schema.getOrElse(StructType(Nil))
    val schema = StructType(stored.fields :+ StructField(OpCol, StringType, nullable = true))
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(files.map(f => s"$dataDir/${f.path}"): _*)
  }

  // ---------------------------------------------------------------- merge

  /** Ingest prep for [[merge]]. Performs:
    *  - schema resolution (additive evolution + lossless type widening;
    *    key column types are FROZEN: the bucket routing hashes the key's
    *    RUNTIME type — murmur3 of an int != murmur3 of the same value as a
    *    long — so a widened key would send new versions of existing keys
    *    to a different bucket and break per-bucket LWW pruning),
    *  - batch alignment to the unified schema (missing stored columns
    *    null-fill; narrower batch columns cast up — lossless by
    *    construction since unionSchemas only ever resolves wider),
    *  - the ingest observation (rows/deletes/logical bytes/max lsn riding
    *    the write job — zero extra jobs),
    *  - the single-exchange LWW dedupe: partition by bucket (a pure
    *    function of the key, so same-key rows colocate), sort
    *    (bucket, key, lsn desc[, ts desc], payload-hash desc) once, keep
    *    each key run's first row. The payload-hash tie-break makes
    *    duplicate (lsn, ts) keys deterministic, so re-running the same
    *    input reproduces byte-identical survivors.
    * Returns (publish-shaped frame: payload + _lsn + _op + _bucket,
    * unified stored schema, the observation to read after the write job).
    */
  private def prepareBatch(batch: DataFrame, snap: Snapshot,
      obsName: String): (DataFrame, StructType, Observation) = {
    val batchPayload = StructType(batch.schema.fields.filterNot(f => f.name == "op" || f.name == "lsn"))
    val storedOld: StructType = snap.schema.getOrElse(
      StructType(batchPayload.fields :+ StructField(LsnCol, LongType, nullable = false)))
    val storedNew: StructType = unionSchemas(storedOld, batchPayload)
    keyCols.foreach { k =>
      require(storedOld(k).dataType == storedNew(k).dataType,
        s"key column '$k' changed type ${storedOld(k).dataType} -> " +
          s"${storedNew(k).dataType}: key types are frozen at table creation " +
          "(bucket routing hashes the runtime type)")
    }
    val payloadCols: Seq[String] = storedNew.fieldNames.toSeq.filterNot(_ == LsnCol)
    val hasTs = payloadCols.contains("ts")
    var evs = batch
    payloadCols.foreach { c =>
      if (!evs.columns.contains(c))
        evs = evs.withColumn(c, lit(null).cast(storedNew(c).dataType))
      else if (evs.schema(c).dataType != storedNew(c).dataType)
        evs = evs.withColumn(c, col(c).cast(storedNew(c).dataType))
    }
    val obsIn = Observation(obsName)
    evs = evs.observe(obsIn,
      count(lit(1)).as("rowsIn"),
      sum(when(col("op") === "D", 1L).otherwise(0L)).as("deletesIn"),
      sum(graft.core.ByteSize.logicalBytes(evs)).as("bytesIn"),
      max(col("lsn")).as("maxLsnIn"))
    val payloadHash = xxhash64(payloadCols.map(col): _*)
    val ord =
      (if (hasTs) Seq(col("lsn").desc, col("ts").desc) else Seq(col("lsn").desc)) :+
        payloadHash.desc
    val latest = lwwWinnersBucketed(evs.withColumn(BucketCol, bucketExpr), ord)
    val out = latest
      .withColumn(LsnCol, col("lsn"))
      .withColumnRenamed("op", OpCol)
      .select((payloadCols :+ LsnCol :+ OpCol :+ BucketCol).map(col): _*)
    (out, storedNew, obsIn)
  }

  private final class Observed(val rowsIn: Long, val deletesIn: Long,
      val bytesIn: Long, val maxLsnIn: Long)

  /** Reads [[prepareBatch]]'s observation after the write job. `get` blocks
    * until the job's listener fired; the map is EMPTY when the write ran
    * zero tasks (a fully-empty batch — e.g. an envelope micro-batch whose
    * every line went to the DLQ), and `sum` metrics are null on zero
    * observed rows — counts default to 0, `maxLsnIn` to -1.
    */
  private def observed(obs: Observation): Observed = {
    val m = obs.get
    def long(k: String, default: Long): Long = m.get(k) match {
      case Some(n: java.lang.Number) => n.longValue
      case _ => default
    }
    new Observed(long("rowsIn", 0L), long("deletesIn", 0L), long("bytesIn", 0L),
      long("maxLsnIn", -1L))
  }

  /** Max/mean rows per bucket over the published files' footer counts. */
  private def skewOf(files: Seq[FileEntry]): Double = {
    val perBucket = files.groupBy(_.bucket).map(_._2.map(_.rows).sum)
    if (perBucket.isEmpty) 1.0
    else perBucket.max.toDouble / (perBucket.sum.toDouble / perBucket.size)
  }

  /** MERGE a batch of change events, idempotently keyed by `epoch`. Batch
    * columns: `op` (I/U/D), `lsn`, key columns, payload columns (extra
    * columns are added to the table schema — additive evolution; missing
    * stored columns are null-filled). O(batch): writes LWW-deduped delta
    * files; compaction of over-threshold buckets happens in the same atomic
    * commit. Returns per-epoch ingest metrics; a replayed epoch is skipped.
    *
    * Job structure per epoch (kept deliberately minimal — per-epoch driver
    * work is the Amdahl serial fraction of the whole pipeline):
    *  1. ONE write job: scan batch → single-exchange LWW dedupe → bucket-
    *     laid-out parquet delta files. `rowsIn`/`deletes` ride the same job
    *     via `observe`; per-bucket row counts come from parquet footers
    *     (read in parallel); the skew-factor metric derives from the bucket
    *     counts — no second pass over the data, ever.
    *  2. Compaction (only for over-threshold buckets) + atomic commit.
    *
    * FIRST COMMIT: into a table that holds no files, the same write job
    * publishes the batch as the first base generation — kind "b" files
    * named `s<version>-*`, with stats on every mappable column and the
    * `sortCols` clustering and `targetFileRows` slicing of a compaction
    * rewrite — so step 2 finds no delta rows and the table is written
    * once, not as deltas and then again as compacted base files. The base
    * entries double as the commit's change window (`addedDeltas`), and the
    * `s` prefix lets [[readStreamChanges]] emit them exactly once. A first
    * commit that loses the OCC race lands its files on the winner's as
    * kind "d", so a bucket never holds two base generations.
    *
    * `expectPrevEpoch` is a compare-and-set on the writer's lineage: the
    * commit (checked inside the OCC loop, so it holds under any rebase
    * interleaving) aborts with [[LakeTable.ConcurrentRefreshException]]
    * when the writer's last epoch is not exactly this value. Pass it when
    * the batch is a NON-idempotent delta computed FROM that previous epoch
    * (additive rollup windows): a concurrent refresher that advanced the
    * lineage means this delta's window overlaps an applied one and must be
    * recomputed, not committed.
    */
  def merge(batch: DataFrame, epoch: Long,
      writerId: String = DefaultWriter,
      expectPrevEpoch: Option[Long] = None): MergeStats = {
    val tStart = System.nanoTime()
    val snap = currentSnapshot()
    if (epoch <= snap.lastEpochFor(writerId))
      return MergeStats(epoch, skipped = true, 0, 0, 0, 0, 0, snap.rows, 1.0)

    val (out, storedNew, obsIn) = prepareBatch(batch, snap, s"lake-in-$epoch")

    val dbg = sys.env.contains("GRAFT_MERGE_DEBUG")
    var tLast = System.nanoTime()
    def lap(stage: String): Unit = if (dbg) {
      val now = System.nanoTime()
      System.err.println(f"[merge $epoch] $stage: ${(now - tLast) / 1e9}%.2f s")
      tLast = now
    }

    // -- the single write job (dedupe + observe + bucketed publish): deltas,
    // or the first base generation of a table with no files (scaladoc) --
    val (prefix, kind) = if (snap.files.isEmpty) ("s", "b") else ("d", "d")
    val added = publish(out, s"$prefix${snap.version + 1}-${nonce()}", kind,
      numBuckets, reshuffle = false)
    lap("publish")
    val obs = observed(obsIn)
    val rowsIn = obs.rowsIn
    val rowsDistinct = added.map(_.rows).sum
    val affected: Set[Int] = added.map(_.bucket).toSet

    // optimistic-concurrency commit: claim base.version+1; on conflict,
    // REBASE onto the winner's snapshot and retry. Rebasing with delta
    // files is always safe under MOR+LWW — winners are decided by lsn at
    // read time, not by commit order — so concurrent merges of different
    // epochs commute. Compaction outputs are NOT rebased (they folded a
    // stale file list); the losing attempt's compaction re-triggers on a
    // later merge and its orphaned files go to [[vacuum]].
    def commitRebased(mkSnap: Snapshot => Snapshot,
        mkStats: Snapshot => MergeStats): MergeStats = {
      var attempt = 0
      while (true) {
        val base = if (attempt == 0) snap else currentSnapshot()
        if (epoch <= base.lastEpochFor(writerId)) // THIS writer's epoch won elsewhere
          return MergeStats(epoch, skipped = true, 0, 0, 0, 0, 0, base.rows, 1.0)
        // compare-and-set on the writer's lineage (merge scaladoc): a
        // non-idempotent delta computed from a previous epoch must not land
        // on a lineage another refresher already advanced
        expectPrevEpoch.foreach { want =>
          val have = base.lastEpochFor(writerId)
          if (have != want) throw new ConcurrentRefreshException(
            s"merge epoch $epoch (writer $writerId) into $root aborted: the " +
              s"batch was computed from previous epoch $want but the lineage " +
              s"is now at $have — a concurrent refresher applied an " +
              "overlapping window; recompute from the new watermark and re-run")
        }
        val st = mkStats(base)
        try {
          commitSnapshot(mkSnap(base).copy(version = base.version + 1,
            lastEpoch = epoch, stats = Some(st),
            epochs = base.epochs + (writerId -> epoch),
            maxLsn = math.max(base.maxLsn, obs.maxLsnIn),
            lsnHigh = obs.maxLsnIn)) // THIS commit's own high (race guard)
          return st
        } catch {
          case e: CommitConflictException =>
            attempt += 1
            if (attempt > 5) throw e
        }
      }
      throw new IllegalStateException("unreachable")
    }

    if (rowsDistinct == 0L) {
      // still advance the epoch so replays of an empty batch stay idempotent;
      // the resolved schema is committed exactly like the non-empty path so
      // additive columns introduced by an empty batch persist
      return commitRebased(
        base => base.copy(
          schema = Some(unionSchemas(base.schema.getOrElse(storedNew), storedNew)),
          addedDeltas = Nil),
        base => MergeStats(epoch, skipped = false, rowsIn, 0, 0, 0, 0, base.rows, 1.0,
          bytesIn = obs.bytesIn))
    }

    // metrics without any extra job: `deletes` = tombstone events seen in
    // the batch (from the same observation that rode the write job); the
    // skew factor = max/mean rows per bucket from the parquet footer counts
    // — the shuffle-partition-level skew that the salting/bucketing design
    // has to absorb, measured where it physically materializes.
    val deletes = obs.deletesIn
    val skew = skewOf(added)

    var files = snap.files ++ added

    // -- compaction: fold over-threshold buckets into new base files -----
    // Ratio-driven (amortized O(table/ratio) write amplification) with a
    // delta-file-count bound (read amplification); an empty base promotes
    // immediately so steady-state reads hit the no-delta fast path.
    val byBucket = files.groupBy(_.bucket)
    val toCompact = byBucket.collect { case (b, fsOfB) =>
      val dRows = fsOfB.filter(_.kind == "d").map(_.rows).sum
      val bRows = fsOfB.filter(_.kind == "b").map(_.rows).sum
      val dFiles = fsOfB.count(_.kind == "d")
      (b, dRows, bRows, dFiles)
    }.filter { case (_, dRows, bRows, dFiles) =>
      dRows > 0 &&
        (bRows == 0L || dRows.toDouble > deltaRatio * bRows || dFiles >= maxDeltaFiles)
    }.map(_._1).toSet

    if (toCompact.nonEmpty) {
      files = rewriteBuckets(snap.copy(schema = Some(storedNew), files = files), toCompact)
      lap(s"compact-${toCompact.size}")
    }

    // stats ride in the manifest so metrics commit atomically with data;
    // on a rebase the file list is the WINNER's files + this epoch's files
    // as deltas (compaction outputs dropped — see commitRebased; a first
    // commit's base files must not become a second base generation)
    def landed(base: Snapshot): Seq[FileEntry] =
      if (base eq snap) added else added.map(_.copy(kind = "d"))
    commitRebased(
      base => {
        val f = if (base eq snap) files else base.files ++ landed(base)
        Snapshot(
          version = -1L, // overwritten by commitRebased
          lastEpoch = epoch,
          schema = Some(unionSchemas(base.schema.getOrElse(storedNew), storedNew)),
          rows = f.map(_.rows).sum,
          files = f,
          addedDeltas = landed(base)) // pre-compaction: incremental readers keep them
      },
      base => {
        val f = if (base eq snap) files else base.files ++ landed(base)
        MergeStats(epoch, skipped = false, rowsIn, rowsDistinct,
          rowsIn - rowsDistinct, deletes, affected.size, f.map(_.rows).sum, skew,
          seconds = (System.nanoTime() - tStart) / 1e9,
          compactedBuckets = if (base eq snap) toCompact.size else 0,
          bytesIn = obs.bytesIn)
      })
  }

  /** Two-phase publish: write `df` partitioned by bucket into the staging
    * dir `_staging-<prefix>`, move the files into data/ as
    * `<prefix>-<bucket>-<n>.parquet`, return the entries. Every caller's
    * prefix carries a fresh [[nonce]], so no two publishes share a staging
    * dir or a data file name.
    */
  private def publish(df: DataFrame, prefix: String, kind: String,
      parallelism: Int, reshuffle: Boolean = true,
      /** COMPUTED clustering expressions overriding `sortCols` for this one
        * publish (the z-order rewrite, [[reclusterZOrder]]): evaluated on
        * the fly for the task-local sort, never stored in the files
        */
      sortExprOverride: Option[Seq[Column]] = None): Seq[FileEntry] = {
    val staging = s"$root/_staging-$prefix"
    val reparted = if (reshuffle) df.repartition(parallelism, col(BucketCol)) else df
    // under file slicing a reshuffled input (rebucketTo) is additionally
    // key-sorted within partitions so the slices are contiguous key ranges;
    // the reshuffle=false paths arrive (bucket, key)-sorted already
    val shaped =
      if (kind == "b" && sortExprOverride.isDefined && targetFileRows.isDefined)
        reparted.sortWithinPartitions(
          col(BucketCol) +: (sortExprOverride.get ++ keyCols.map(col)): _*)
      else if (kind == "b" && sortCols.nonEmpty && targetFileRows.isDefined)
        // sort-order clustering (see sortCols scaladoc): a task-local
        // re-sort — no exchange — so base slices are contiguous in the
        // clustering columns (key appended as tie-break); BucketCol first
        // keeps the dynamic partitionBy write single-writer per task
        reparted.sortWithinPartitions(
          (BucketCol +: (sortCols ++ keyCols.filterNot(sortCols.contains))).map(col): _*)
      else if (reshuffle && targetFileRows.isDefined)
        reparted.sortWithinPartitions((BucketCol +: keyCols).map(col): _*)
      else reparted
    // pin footer statistics untruncated (the parquet default, made explicit):
    // file skipping proves emptiness from the recorded max — a truncated max
    // understates the bound and would break the proof (see FileStats scaladoc)
    val writer = shaped.write
      .option("parquet.statistics.truncate.length", Int.MaxValue.toString)
    targetFileRows.foreach(n => writer.option("maxRecordsPerFile", n.toString))
    // timestamps must land as annotated INT64 micros for this write:
    // Spark's legacy parquet default (INT96) records NO footer min/max at
    // all (parquet-mr disables INT96 stats — their byte order is wrong),
    // which would silently drop every timestamp column from file skipping,
    // key or payload. There is no per-write option for this conf, so it is
    // pinned around the staging write only (depth-counted — concurrent
    // merges on one session can't leave the session flipped), never leaking
    // into the caller's own writes.
    LakeTable.withMicrosTimestamps(spark) {
      writer.partitionBy(BucketCol).parquet(staging)
    }
    fs.mkdirs(new Path(dataDir))
    // footer row counts + key-column min/max in PARALLEL: with hundreds of
    // buckets a serial driver loop over footers becomes the Amdahl
    // bottleneck of the commit (it grows with bucket count while everything
    // else parallelizes); stats ride the SAME footer read — zero extra I/O
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val candidates = for {
      d <- fs.listStatus(new Path(staging)).toSeq.filter(_.isDirectory)
      bucket = d.getPath.getName.stripPrefix(s"$BucketCol=").toInt
      (f, n) <- fs.listStatus(d.getPath).toSeq
        .filter(_.getPath.getName.endsWith(".parquet")).zipWithIndex
    } yield (bucket, n, f.getPath)
    val counted = Await.result(
      Future.traverse(candidates) { case (bucket, n, p) =>
        // base files harvest ALL mappable columns (clean-bucket pruning,
        // FileStats clean-bucket lemma); delta files stay key-only — their
        // payload bounds could never be used soundly (a delta makes its
        // bucket dirty by definition)
        Future((bucket, n, p,
          scala.concurrent.blocking(parquetFooterMeta(p, allCols = kind == "b"))))
      }, Duration(10, java.util.concurrent.TimeUnit.MINUTES))
    val moved = counted.flatMap { case (bucket, n, src, (fileRows, colStats)) =>
      if (fileRows == 0) None // drop empty files
      else {
        val dest = s"$prefix-$bucket-$n.parquet"
        if (!fs.rename(src, new Path(s"$dataDir/$dest")))
          throw new IllegalStateException(s"rename failed publishing $dest")
        Some(FileEntry(bucket, dest, fileRows, kind, colStats))
      }
    }
    fs.delete(new Path(staging), true)
    moved
  }

  /** Row count + column min/max from the parquet footer — metadata only,
    * no data read (see [[FileStats.fromFooter]]). `allCols` harvests every
    * mappable top-level column except the internal ones readers drop
    * (base-file publishes); default is key columns only (delta publishes).
    */
  private def parquetFooterMeta(p: Path,
      allCols: Boolean = false): (Long, Map[String, (String, String)]) = {
    // over the handle's filesystem: HadoopInputFile.fromPath opens one per file
    val len = fs.getFileStatus(p).getLen
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(new org.apache.parquet.io.InputFile {
      def getLength: Long = len
      def newStream() = org.apache.parquet.hadoop.util.HadoopStreams.wrap(fs.open(p))
    })
    try {
      val cols =
        if (allCols) FileStats.allStatCols(r.getFooter, Set(LsnCol, OpCol, BucketCol))
        else keyCols
      (r.getRecordCount, FileStats.fromFooter(r.getFooter, cols))
    } finally r.close()
  }

  /** Per-epoch ingest metrics table, reconstructed from snapshot manifests
    * (one row per committed, non-skipped epoch; atomic with the commit).
    */
  /** Manifests are read in PARALLEL (same rationale as the footer counts in
    * publish): with long histories a serial driver loop over snapshot files
    * grows linearly while everything else parallelizes. See the manifest
    * scale design note in the class scaladoc for the tiering upgrade path.
    */
  private def readAllSnapshots(): Seq[Snapshot] = {
    val dir = new Path(snapDir)
    if (!fs.exists(dir)) return Nil
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val versioned = fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("snap-[0-9]+\\.txt"))
      .map(st => (st.getPath.getName.stripPrefix("snap-").stripSuffix(".txt").toLong, st.getPath))
      .sortBy(_._1)
    // blocking{} marks the FS I/O for the fork-join pool's managed blocker
    // so concurrent readers cannot starve the shared global pool; the await
    // is bounded — a hung filesystem should surface as an error, not a
    // forever-stuck driver
    Await.result(
      Future.traverse(versioned) { case (v, p) =>
        Future(scala.concurrent.blocking(readSnapshot(fs, p, v)))
      },
      scala.concurrent.duration.Duration(10, java.util.concurrent.TimeUnit.MINUTES))
  }

  def metrics(): DataFrame = {
    import spark.implicits._
    val rows = readAllSnapshots().flatMap(_.stats)
    rows.toDF()
  }

  /** The lsn a predicate-maintenance op stamps: one above everything ever
    * stored. Trusts the manifest's running max when tracked; a PRE-TRACKING
    * manifest (or one whose tracking began after upgrade with lower lsns)
    * cannot be trusted below the physical data, so the true max is read
    * from the stored `_lsn` column once (2-column scan, filter-pushed).
    * Assumes the SOURCE's lsn space will not later re-enter at or below
    * this value — true for monotonic binlog/WAL positions.
    */
  private def nextSyntheticLsn(snap: Snapshot): Long = {
    val tracked = snap.maxLsn
    // was maxLsn tracked since version 0 (⇒ the running max is complete)?
    // A snap-0 reclaimed by expireSnapshots is indistinguishable from an
    // untracked birth, so it takes the (correct, just slower) scan branch
    // instead of crashing routine maintenance after routine metadata GC
    val trackedFromBirth = snap.version >= 0 && manifestAt(0L).exists(_.maxLsn >= 0)
    if (tracked >= 0 && trackedFromBirth) {
      tracked + 1
    } else {
      val r = readInternal().agg(max(col(LsnCol))).head()
      val stored = if (r.isNullAt(0)) -1L else r.getLong(0)
      math.max(tracked, stored) + 1
    }
  }

  /** True when a CONCURRENT writer's commit raised the table's maxLsn to
    * AT OR ABOVE the synthetic maintenance lsn while the op ran — the op's
    * view of "every stored change" was stale, so matching rows may have
    * escaped, or (the equal case) tie-break against the synthetic lsn by
    * arbitrary payload hash instead of losing to it.
    *
    * Detection walks the snapshots committed since `preVersion` (the head
    * the op read its lsn from) and flags any commit whose OWN batch reached
    * `opLsn` (`Snapshot.lsnHigh`, recorded per commit exactly so this
    * attribution works in both interleavings) — EXCLUDING the op's own
    * commit, identified as the version where `epochs(writerId)` first
    * became `epoch`. A head-only `maxLsn > opLsn` check would miss a
    * concurrent writer landing rows at exactly `opLsn` (reachable with a
    * dense monotonic source lsn space), and a raised-running-max check
    * would additionally miss a racer committing AFTER the op's own commit
    * already lifted the running max to `opLsn` — `lsnHigh` is immune to
    * both, because it is the commit's own observation, not the running
    * max. The raised-running-max test is kept as a fallback for commits
    * written by pre-`lsnHigh` binaries.
    */
  private[graft] def maintenanceRaced(preVersion: Long, opLsn: Long,
      epoch: Long, writerId: String): Boolean = {
    val cur = currentSnapshot()
    val pre = if (preVersion == cur.version) cur
      else if (preVersion < 0) Snapshot(version = -1L, lastEpoch = -1L,
        schema = None, rows = 0L, files = Nil)
      else snapshotAt(preVersion)
    var prevEpoch: Option[Long] = pre.epochs.get(writerId)
    var prevMax = pre.maxLsn
    ((preVersion + 1) to cur.version).exists { v =>
      val s = if (v == cur.version) cur else snapshotAt(v)
      val isOurs = s.epochs.get(writerId).contains(epoch) && !prevEpoch.contains(epoch)
      val raced = s.lsnHigh >= opLsn ||
        (s.maxLsn >= opLsn && s.maxLsn > prevMax) // pre-lsnHigh fallback
      prevEpoch = s.epochs.get(writerId)
      prevMax = s.maxLsn
      raced && !isOurs
    }
  }

  private def guardMaintenanceRace(preVersion: Long, opLsn: Long, epoch: Long,
      writerId: String, op: String): Unit =
    if (maintenanceRaced(preVersion, opLsn, epoch, writerId))
      throw new IllegalStateException(
        s"$op raced a concurrent writer (a commit since version $preVersion " +
          s"reached maxLsn >= synthetic lsn $opLsn): matching rows committed " +
          "during the op may have escaped — re-run with a new epoch")

  /** Predicate DELETE (GDPR-style erasure, retention TTLs): tombstone every
    * current row matching `cond`, as one ordinary idempotent merge epoch.
    * The tombstones' lsn is one above the table's maximum (see
    * [[nextSyntheticLsn]]), so they outrank every stored change — which
    * also makes the deletion stable against late re-delivery of older
    * duplicates (they lose LWW against the tombstone, exactly like
    * source-originated deletes). Cost: one bucket-pruned read of the
    * matching keys + an O(matches) merge; physical bytes are reclaimed by
    * compaction + [[expireTombstones]] + [[vacuum]], as with any delete.
    * Concurrent writers racing the op are DETECTED and reported (see
    * [[guardMaintenanceRace]]); quiesce or re-run to converge.
    */
  def deleteWhere(cond: Column, epoch: Long,
      writerId: String = DefaultWriter): MergeStats = {
    val snap = currentSnapshot()
    val tombLsn = nextSyntheticLsn(snap)
    // readWhere: key-column conjuncts in the predicate file-skip the scan
    val victims = readWhere(cond).select(keyCols.map(col): _*)
    val st = merge(victims
        .withColumn("op", lit("D"))
        .withColumn("lsn", lit(tombLsn)),
      epoch, writerId)
    if (!st.skipped) guardMaintenanceRace(snap.version, tombLsn, epoch, writerId, "deleteWhere")
    st
  }

  /** Predicate UPDATE (in-place redaction, backfills): rewrite the payload
    * of every current row matching `cond` with the given SET expressions,
    * as one ordinary idempotent merge epoch at lsn `maxLsn + 1` (same
    * arbitration as [[deleteWhere]] — late re-delivered originals lose LWW
    * against the rewrite). Columns not in `sets` keep their current values.
    */
  def updateWhere(cond: Column, sets: Map[String, Column], epoch: Long,
      writerId: String = DefaultWriter): MergeStats = {
    val snap = currentSnapshot()
    require(sets.keys.forall(k => !keyCols.contains(k)),
      s"updateWhere cannot change key columns (${sets.keys.filter(keyCols.contains).mkString(",")})")
    val newLsn = nextSyntheticLsn(snap)
    val current = readWhere(cond)
    require(sets.keys.forall(current.columns.contains),
      s"unknown SET columns: ${sets.keys.filterNot(current.columns.contains).mkString(",")}")
    // all SET expressions evaluate against the OLD row simultaneously (SQL
    // UPDATE semantics) — a sequential fold would let one assignment see
    // another's result, with Map-iteration-order-dependent outcomes
    val rewritten = current.select(current.columns.toSeq.map { c =>
      sets.get(c).map(_.as(c)).getOrElse(col(c))
    }: _*)
    val st = merge(rewritten
        .withColumn("op", lit("U"))
        .withColumn("lsn", lit(newLsn)),
      epoch, writerId)
    if (!st.skipped) guardMaintenanceRace(snap.version, newLsn, epoch, writerId, "updateWhere")
    st
  }

  /** Snapshot history (Iceberg `table.history()` analog): one row per
    * committed version with its wall-clock commit time, epoch lineage and
    * file counts — manifest metadata only, no data files touched.
    */
  def history(): DataFrame = {
    import spark.implicits._
    val rows = readAllSnapshots().map { s =>
      (s.version, new java.sql.Timestamp(s.commitTs), s.lastEpoch, s.rows,
        s.files.count(_.kind == "b"), s.files.count(_.kind == "d"),
        s.addedDeltas.size)
    }
    rows.toDF("version", "commit_ts", "last_epoch", "rows",
      "base_files", "delta_files", "added_deltas")
  }

  /** Force-fold all deltas into base files (maintenance entry point).
    * Tombstone winners are retained (see [[expireTombstones]]).
    */
  def compactAll(): Unit = {
    val snap = currentSnapshot()
    val buckets = snap.files.filter(_.kind == "d").map(_.bucket).toSet
    if (buckets.nonEmpty) commitRewrite(snap, rewriteBuckets(snap, buckets))
  }

  /** The one bucket rewrite behind merge's inline compaction and every
    * maintenance op: resolve `buckets` of `snap` (LWW winners, tombstone
    * winners kept — see [[resolvedBucketed]]), drop the rows `keep` rejects,
    * publish the rest as base files and return `snap.files` with those
    * buckets' files replaced by the new base. `reshuffle` pins each bucket
    * to one task for a clustered rewrite of clean buckets ([[recluster]]);
    * non-empty `zcols` clusters the rewrite by their z-value
    * ([[reclusterZOrder]]), at the cost of one pass for the bounds.
    * `buckets` must be non-empty.
    */
  private def rewriteBuckets(snap: Snapshot, buckets: Set[Int],
      keep: Option[Column] = None, reshuffle: Boolean = false,
      zcols: Seq[String] = Nil): Seq[FileEntry] = {
    val resolved = resolvedBucketed(snap, buckets)
    val rows = keep.fold(resolved)(resolved.filter)
    val zorder =
      if (zcols.isEmpty) None
      else Some(Seq(ZOrder.zvalue(zcols, ZOrder.boundsOf(rows, zcols))))
    val newBase = publish(rows, s"b${snap.version + 1}-${nonce()}", "b", buckets.size,
      reshuffle, zorder)
    snap.files.filterNot(f => buckets.contains(f.bucket)) ++ newBase
  }

  /** Commits a maintenance rewrite of `snap` as the next version: the new
    * file list, no change window and no ingest stats of its own (an epoch's
    * [[MergeStats]] ride only the commit that applied it, so [[metrics]]
    * lists each epoch once). A concurrent commit surfaces as
    * [[LakeTable.CommitConflictException]]: the rewrite folded a file list
    * that is no longer the head's, so it is never rebased.
    */
  private def commitRewrite(snap: Snapshot, files: Seq[FileEntry]): Unit =
    commitSnapshot(snap.copy(version = snap.version + 1, rows = files.map(_.rows).sum,
      files = files, stats = None, addedDeltas = Nil, lsnHigh = -1L))

  /** Rewrite EVERY bucket's base through the clustered publish path — the
    * in-place retrofit for [[sortCols]] on a table that already has data
    * (the Iceberg `rewrite_data_files` with a new sort-order analog).
    * [[compactAll]] only rewrites buckets that HOLD deltas, so adopting a
    * clustering (or dropping one: an empty-`sortCols` handle re-sorts back
    * to key order) needs this full pass. Folds any deltas along the way and
    * commits the handle's layout as the manifest's `sortCols=`, so later
    * ops handles keep compacting into the new shape. Tombstone winners are
    * retained (same rule as compaction). Cost: one read + one write of the
    * table plus ONE bucket-hash exchange — unlike compaction (whose dirty
    * buckets arrive bucket-clustered from the LWW window exchange), a
    * delta-free bucket resolves as a plain file scan whose partitions
    * interleave key ranges, and a task-local re-sort of that produces
    * OVERLAPPING clustered slices; the exchange pins each bucket to one
    * task so its slices are globally contiguous in the clustering columns.
    */
  def recluster(): Unit = {
    require(sortCols.isEmpty || targetFileRows.isDefined,
      "recluster with sortCols needs targetFileRows — clustering only " +
        "tightens bounds when buckets slice into multiple files")
    val snap = currentSnapshot()
    require(snap.version >= 0, "nothing to recluster: no committed snapshot")
    val buckets = snap.files.map(_.bucket).toSet
    if (buckets.nonEmpty) commitRewrite(snap, rewriteBuckets(snap, buckets, reshuffle = true))
  }

  /** Z-ORDER rewrite: [[recluster]] with the interleaved [[ZOrder]] value of
    * `zcols` as the clustering expression — multi-dimensional file skipping
    * (the Delta `OPTIMIZE ZORDER BY` analog). After the rewrite every sliced
    * base file covers a small range of EVERY z column, so `readWhere`
    * windows on any of them prune (linear [[sortCols]] only serves its
    * leading column). Costs one extra pass over the resolved table for the
    * normalization bounds, then the same read+exchange+write as recluster.
    *
    * NON-STICKY, like Delta's: the manifest's `sortCols` is untouched, so a
    * later compaction of a bucket that takes new deltas re-sorts THAT bucket
    * back to its recorded order (clean buckets keep their z files). Re-run
    * after heavy ingest, as an explicit maintenance op.
    */
  def reclusterZOrder(zcols: Seq[String]): Unit = {
    require(targetFileRows.isDefined,
      "z-order needs targetFileRows — clustering only tightens bounds when " +
        "buckets slice into multiple files")
    val snap = currentSnapshot()
    require(snap.version >= 0, "nothing to recluster: no committed snapshot")
    val buckets = snap.files.map(_.bucket).toSet
    if (buckets.nonEmpty)
      commitRewrite(snap, rewriteBuckets(snap, buckets, reshuffle = true, zcols = zcols))
  }

  /** Re-bucket the table into a NEW table at `dstRoot` with `newBuckets`
    * buckets — the full-rewrite escape hatch for a table that outgrew its
    * frozen bucket count (Iceberg's rewrite-with-new-partition-spec analog;
    * bucket count is a table constant because the layout hashes the key, so
    * evolution is by rewrite, never in place).
    *
    * CDC CONTINUITY is preserved: the destination's first snapshot carries
    * the source's per-writer epoch lineage and running maxLsn, so the SAME
    * checkpointed stream can point at the new table and (a) replays of
    * already-applied epochs are still skipped exactly-once, (b) predicate
    * maintenance ops keep minting lsns above everything ever stored.
    * TOMBSTONE winners are rewritten too (same rule as compaction): an
    * at-least-once source re-delivering an older change after the rebucket
    * still loses LWW against the carried tombstone.
    *
    * Cost: one read of the source (per-bucket LWW resolution, the compaction
    * plan) + one shuffle into the new bucket layout + one write — O(table),
    * as a re-bucket must be. The source table is left untouched (keep it
    * until the cut-over is verified, then drop its root).
    */
  def rebucketTo(dstRoot: String, newBuckets: Int): LakeTable = {
    require(newBuckets > 0, s"newBuckets=$newBuckets must be positive")
    val snap = currentSnapshot()
    require(snap.version >= 0, "nothing to rebucket: no committed snapshot")
    val dst = new LakeTable(spark, dstRoot, keyCols, newBuckets, deltaRatio,
      maxDeltaFiles, distCols, targetFileRows, sortCols)
    require(dst.currentSnapshot().version < 0,
      s"rebucket destination $dstRoot already has committed snapshots")
    val resolvedAll = resolvedBucketed(snap, snap.files.map(_.bucket).toSet)
      .withColumn(BucketCol, pmod(hash(distributionCols.map(col): _*), lit(newBuckets)))
    val base = dst.publish(resolvedAll, s"b0-${nonce()}", "b", newBuckets, reshuffle = true)
    // stamp the destination's birth maxLsn ONLY if the source's running max
    // is COMPLETE (tracked since ITS version 0): a partial running max
    // copied into the new table's snap-0 would make nextSyntheticLsn trust
    // it ("tracked from birth") and mint maintenance lsns BELOW stored
    // rows' _lsn — a deleteWhere that silently loses LWW to old rows
    val maxLsnComplete = manifestAt(0L).exists(_.maxLsn >= 0)
    dst.commitSnapshot(Snapshot(
      version = 0L,
      lastEpoch = snap.lastEpoch,
      schema = snap.schema,
      rows = base.map(_.rows).sum,
      files = base,
      addedDeltas = Nil,
      epochs = snap.epochs,
      maxLsn = if (maxLsnComplete) snap.maxLsn else -1L))
    dst
  }

  /** Tombstone GC: drop `_op = D` winners whose `_lsn` is below
    * `horizonLsn` — safe once the source can no longer re-deliver changes
    * older than that lsn (the at-least-once re-delivery horizon). The lake
    * analog of Iceberg's delete-file expiry.
    *
    * BUCKET-PRUNED: a first pass scans ONLY (`_op`, `_lsn`) — two tiny
    * columns, filters pushed to parquet — to find the files actually
    * holding expirable tombstones; only those files' buckets are rewritten,
    * every other file survives untouched. At scale this turns a full-table
    * rewrite into O(buckets-with-old-deletes).
    */
  def expireTombstones(horizonLsn: Long): Unit = {
    val snap = currentSnapshot()
    if (snap.files.isEmpty) return
    val hot: Set[String] = dfFor(snap, snap.files)
      .select(col(OpCol), col(LsnCol), input_file_name().as("_f"))
      .filter(col(OpCol) === "D" && col(LsnCol) < horizonLsn)
      .select("_f").distinct()
      .collect().map(_.getString(0)).toSet
    val buckets = snap.files
      .filter(f => hot.exists(_.endsWith("/" + f.path))).map(_.bucket).toSet
    if (buckets.nonEmpty) commitRewrite(snap, rewriteBuckets(snap, buckets, keep = Some(
      coalesce(col(OpCol), lit("U")) =!= "D" || col(LsnCol) >= horizonLsn)))
  }

  /** Remove data files referenced by neither the current snapshot nor the
    * retention window (old-version files kept until now for snapshot
    * isolation of concurrent readers).
    *
    * `retainVersions` protects INCREMENTAL consumers: the `addedDeltas` of
    * the last N snapshot manifests stay on disk even when compaction has
    * already folded them out of `files`, so a [[readChangesSince]] /
    * [[Replicate.sync]] lagging up to N commits behind still finds its
    * window (Iceberg's expire-snapshots retention analog). With the default
    * 0 only the current snapshot's files survive — callers must know no
    * incremental consumer is behind.
    */
  def vacuum(retainVersions: Int = 0, staleStagingHours: Int = 24,
      orphanGraceMinutes: Int = 60): Int = {
    val cur = currentSnapshot()
    val live = cur.files.map(_.path).toSet ++
      retainedDeltaPaths(cur, retainVersions) ++ taggedFilePaths()
    // a data file referenced by NO manifest at all is EITHER a crashed
    // publish's leftover OR a concurrent writer's files renamed into data/
    // but not yet committed (publish → commitSnapshot is not atomic; the
    // manifest claim is independent, so the racer's commit would still
    // SUCCEED and reference deleted files). The two are indistinguishable
    // by name, so unknown files are reclaimed only past an age grace —
    // any in-flight publish commits in seconds, crashed leftovers age out.
    // Files some SURVIVING manifest references are committed history:
    // reclaim immediately once outside the retention window.
    val known = readAllSnapshots()
      .flatMap(s => s.files.map(_.path) ++ s.addedDeltas.map(_.path)).toSet
    val graceMs = orphanGraceMinutes * 60000L
    val now = System.currentTimeMillis()
    var n = 0
    val dir = new Path(dataDir)
    if (fs.exists(dir)) fs.listStatus(dir).foreach { f =>
      val name = f.getPath.getName
      if (!live.contains(name) &&
          (known.contains(name) || now - f.getModificationTime > graceMs)) {
        fs.delete(f.getPath, false); n += 1
      }
    }
    n += sweepStaleStaging(staleStagingHours)
    n
  }

  /** The delta-window paths the last `retainVersions` manifests reference —
    * the LIVENESS definition shared by [[vacuum]] (what survives GC) and
    * [[fsck]] (what counts as an orphan); one place so the two can never
    * diverge.
    */
  private def retainedDeltaPaths(cur: Snapshot, retainVersions: Int): Seq[String] =
    (math.max(0L, cur.version - retainVersions + 1) to cur.version)
      .flatMap(v => manifestAt(v).toSeq.flatMap(_.addedDeltas.map(_.path)))

  /** Time travel by WALL-CLOCK commit time (Iceberg `TIMESTAMP AS OF`
    * analog): the newest committed version whose commit time is ≤ `ts`.
    * Metadata-only (reads manifests, no data files). Fails sharply when
    * `ts` predates the oldest RETAINED manifest ([[expireSnapshots]]) —
    * same horizon rules as version-based travel.
    */
  def versionAsOf(ts: java.sql.Timestamp): Long = {
    val candidates = readAllSnapshots().filter(s => s.commitTs > 0 && s.commitTs <= ts.getTime)
    require(candidates.nonEmpty,
      s"no committed version at or before $ts (oldest retained manifest is " +
        s"${readAllSnapshots().headOption.map(s => new java.sql.Timestamp(s.commitTs)).getOrElse("none")})")
    candidates.map(_.version).max
  }

  /** [[read]] pinned to the state as of a wall-clock instant. */
  def readAsOf(ts: java.sql.Timestamp): DataFrame = readVersion(versionAsOf(ts))

  // ---------------------------------------------------------- snapshot tags

  /** Named snapshot TAGS (Iceberg table-refs analog): pin a committed
    * version under a stable name so it survives GC. Retention everywhere
    * else in this lake is a sliding WINDOW — [[vacuum]] keeps the head plus
    * N delta windows, [[expireSnapshots]] the newest N manifests — but a
    * reproducible cut (the exact corpus state a training run read, an audit
    * baseline, a pre-migration safety point) needs a PIN, not a window.
    * A tagged version's manifest is exempt from [[expireSnapshots]] and
    * every data file it references is exempt from [[vacuum]] (and not
    * counted as an orphan by [[fsck]]), so [[readTag]] reproduces the exact
    * tagged state arbitrarily later. Storage cost: the tagged snapshot's
    * FILE SET (shared with the head until compaction rewrites diverge) —
    * its delta files are pinned as part of that state, not as readable
    * change windows, so incremental consumers still live by the vacuum
    * retention contract.
    *
    * Concurrency: a tag is one atomic ref-file write, and maintenance reads
    * the ref set at its start. Tag a version while it is still inside the
    * retention window (the normal shape: tag the head right after the
    * commit you care about) — tagging an expired version fails sharply on
    * the missing manifest, and a tag racing a CONCURRENT vacuum of the same
    * about-to-expire version may pin a state whose files that vacuum
    * already swept (the same advisory Iceberg's docs carry; [[fsck]]
    * reports the damage as missing files).
    *
    * `version` -1 pins the current head. Re-pointing an existing tag
    * requires `replace = true`. Returns the pinned version.
    */
  def tag(name: String, version: Long = -1L, replace: Boolean = false): Long = {
    require(name.nonEmpty && LakeTable.tagSafe(name),
      s"tag name '$name' must be [A-Za-z0-9._-]+ (it becomes a ref file name; " +
        "ASCII only — non-ASCII names break on filesystems with different " +
        "unicode normalization)")
    val v = if (version < 0) currentSnapshot().version else version
    require(v >= 0, s"cannot tag an empty table (no committed snapshot)")
    require(fs.exists(new Path(s"$snapDir/snap-$v.txt")),
      s"cannot tag version $v: its manifest does not exist (never committed, or expired)")
    val ref = new Path(s"$refsDir/$name.ref")
    require(replace || !fs.exists(ref),
      s"tag '$name' already exists (at version ${readString(fs, ref).trim}) — " +
        "pass replace=true to re-point it")
    val tmp = new Path(s"$refsDir/.$name.tmp-${nonce()}")
    writeString(fs, tmp, v.toString)
    LakeTable.atomicReplace(fs, tmp, ref)
    v
  }

  /** All tags: name → pinned version (metadata read, no data files).
    * An unparseable ref body (a stray `touch`, a truncated copy) is
    * SKIPPED, not thrown: this listing sits on the liveness path of
    * [[vacuum]]/[[fsck]]/[[expireSnapshots]] and the streaming auto-tag
    * cadence, and one corrupt file must not wedge every maintenance run —
    * same lenience [[taggedFilePaths]] applies to a missing manifest.
    * ([[tagVersion]] on the corrupt name itself still fails sharply.)
    */
  def tags(): Map[String, Long] = {
    val d = new Path(refsDir)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).iterator
      .filter(f => f.isFile && f.getPath.getName.endsWith(".ref"))
      .flatMap(f => scala.util.Try(readString(fs, f.getPath).trim.toLong)
        .toOption.map(f.getPath.getName.stripSuffix(".ref") -> _))
      .toMap
  }

  /** The version a tag pins; sharp error on an unknown tag. */
  def tagVersion(name: String): Long = {
    val ref = new Path(s"$refsDir/$name.ref")
    require(fs.exists(ref),
      s"unknown tag '$name' (have: ${tags().keys.toSeq.sorted.mkString(", ")})")
    readString(fs, ref).trim.toLong
  }

  /** [[readVersion]] pinned by tag name. */
  def readTag(name: String): DataFrame = readVersion(tagVersion(name))

  /** Remove a tag: the pinned version rejoins the normal retention window
    * and the NEXT [[vacuum]]/[[expireSnapshots]] reclaims whatever nothing
    * else retains. Returns false when the tag did not exist.
    */
  def dropTag(name: String): Boolean = fs.delete(new Path(s"$refsDir/$name.ref"), false)

  /** Data-file paths pinned by tags — part of the LIVENESS definition
    * shared by [[vacuum]] and [[fsck]], alongside [[retainedDeltaPaths]].
    * A tag whose manifest is missing (the documented tag-vs-vacuum race)
    * pins nothing, rather than failing every later maintenance run.
    */
  private def taggedFilePaths(): Set[String] =
    tags().values.toSet.flatMap((v: Long) => manifestAt(v).toSeq.flatMap(_.files.map(_.path)))

  /** Metadata consistency check (the ops `fsck`): verifies every file the
    * CURRENT snapshot references exists with the manifest's row count
    * (parquet footer read — no data scan), lists data files referenced by
    * neither the head nor the retained delta windows (vacuum candidates,
    * not corruption), and counts staging leftovers. Read-only.
    */
  final case class FsckReport(version: Long, filesOk: Int,
      missing: Seq[String], rowMismatches: Seq[String],
      orphans: Int, stagingDirs: Int) {
    def clean: Boolean = missing.isEmpty && rowMismatches.isEmpty
  }

  def fsck(retainVersions: Int = 0): FsckReport = {
    val cur = currentSnapshot()
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val checked = Await.result(
      Future.traverse(cur.files) { f =>
        Future(scala.concurrent.blocking {
          val p = new Path(s"$dataDir/${f.path}")
          if (!fs.exists(p)) (f.path, "missing")
          else {
            val (rows, _) = parquetFooterMeta(p)
            if (rows != f.rows) (f.path, s"rows: manifest=${f.rows} footer=$rows")
            else (f.path, "ok")
          }
        })
      }, Duration(10, java.util.concurrent.TimeUnit.MINUTES))
    val live = cur.files.map(_.path).toSet ++
      retainedDeltaPaths(cur, retainVersions) ++ taggedFilePaths()
    val dataP = new Path(dataDir)
    val orphans =
      if (!fs.exists(dataP)) 0
      else fs.listStatus(dataP).count(f => !live.contains(f.getPath.getName))
    val staging = fs.listStatus(new Path(root))
      .count(f => f.isDirectory && f.getPath.getName.startsWith("_staging-"))
    FsckReport(cur.version,
      filesOk = checked.count(_._2 == "ok"),
      missing = checked.collect { case (p, "missing") => p },
      rowMismatches = checked.collect { case (p, why) if why.startsWith("rows:") => s"$p ($why)" },
      orphans = orphans, stagingDirs = staging)
  }

  /** Iceberg `expire_snapshots` (metadata half) analog: delete manifest
    * files older than `current - retainVersions`, keeping the newest
    * `retainVersions`. [[vacuum]] reclaims old DATA files but manifests
    * accumulate one per commit forever — at 10^5+ streaming epochs that is
    * 10^5 metadata files every [[history]]/[[metrics]] call lists and
    * reads. Aligns with vacuum's retention contract: a change window older
    * than the vacuum horizon is already unreadable (its delta files are
    * reclaimed), so dropping its manifest turns a missing-DATA error into
    * a sharp missing-version error. Time travel ([[readVersion]]) and
    * [[rollbackTo]] reach back only to the oldest retained manifest;
    * incremental consumers lagging past the horizon re-seed from the
    * bootstrap feed, exactly as with vacuum. Run it with (and retain at
    * least as much as) vacuum. Returns the number of manifests deleted.
    *
    * Requires the `_current` pointer (every commit writes it): with early
    * manifests gone, the pointerless recovery scan has no snap-0 anchor.
    */
  def expireSnapshots(retainVersions: Int): Int = {
    require(retainVersions >= 1, s"retainVersions=$retainVersions must be >= 1")
    val cur = currentSnapshot()
    if (cur.version < 0) return 0
    require(fs.exists(new Path(pointer)),
      s"no _current pointer under $root — refusing to expire manifests " +
        "(recovery scans anchor at snap-0)")
    // pointer updates are best-effort (a writer can crash between claiming
    // the snapshot and advancing the hint): pin the pointer AT the head we
    // just walked to BEFORE deleting anything, else a stale hint could
    // start the next probe inside the expired range and never reach the
    // surviving manifests
    val hint = readString(fs, new Path(pointer)).trim.toLong
    if (hint < cur.version) {
      val tmp = new Path(s"$pointer.tmp-exp${nonce()}")
      writeString(fs, tmp, cur.version.toString)
      LakeTable.atomicReplace(fs, tmp, new Path(pointer))
    }
    var n = 0
    val pinned = tags().values.toSet // tagged manifests are GC-exempt
    (0L to (cur.version - retainVersions)).foreach { v =>
      val p = new Path(s"$snapDir/snap-$v.txt")
      if (!pinned.contains(v) && fs.exists(p)) { fs.delete(p, false); n += 1 }
    }
    n
  }

  /** Remove `_staging-*` dirs abandoned by CRASHED publishes. Every staging
    * path is nonce'd (`_staging-<prefix>`, the prefix carrying a fresh
    * [[nonce]]), so a publish never reuses another's dir and cleans only its
    * own on exit; a dead attempt's dir is never retried, so without this
    * sweep every crash leaks a staging tree forever (at 100 TB scale, a real
    * storage leak).
    * Age-gated on the NEWEST modification time anywhere in the subtree: a
    * LIVE publish touches files continuously, so only a writer silent for
    * `staleHours` (default 24 — stalled that long, its commit has lost any
    * meaning) can be swept; such a zombie resuming later fails visibly at
    * its rename step rather than publishing. `staleHours <= 0` disables
    * the sweep. Returns the number of dirs removed.
    */
  def sweepStaleStaging(staleHours: Int = 24): Int = {
    if (staleHours <= 0) return 0
    val horizon = System.currentTimeMillis() - staleHours * 3600000L
    // a LIVE publish can rename/delete entries out from under the scan —
    // a vanished path reads as "touched now" (Long.MaxValue), i.e. NOT
    // stale, so the race can only ever keep a dir, never wrongly sweep one
    def newestMtime(p: Path): Long =
      try {
        val st = fs.getFileStatus(p)
        if (!st.isDirectory) st.getModificationTime
        else (st.getModificationTime +: fs.listStatus(p).map(s => newestMtime(s.getPath)).toSeq).max
      } catch { case _: java.io.FileNotFoundException => Long.MaxValue }
    var n = 0
    val rootPath = new Path(root)
    if (fs.exists(rootPath)) fs.listStatus(rootPath).foreach { f =>
      if (f.isDirectory && f.getPath.getName.startsWith("_staging-") &&
          newestMtime(f.getPath) < horizon) {
        fs.delete(f.getPath, true)
        n += 1
      }
    }
    n
  }
}

object LakeTable {

  /** Another writer claimed the snapshot version this commit targeted.
    * [[LakeTable#merge]] rebases and retries automatically, a table's first
    * commit included; every other committer surfaces it —
    * [[LakeTable#compactAll]], [[LakeTable#recluster]],
    * [[LakeTable#reclusterZOrder]], [[LakeTable#expireTombstones]] and
    * [[LakeTable#rollbackTo]] — run them single-writer or retry at the call
    * site.
    */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** A merge carrying `expectPrevEpoch` found the writer's lineage already
    * advanced past it — a concurrent refresher applied an overlapping
    * window. Thrown instead of committing because NON-idempotent payloads
    * (additive rollup deltas, [[Rollup.syncAdditive]]) would double-count;
    * the caller should recompute from the new watermark and re-run.
    */
  final class ConcurrentRefreshException(msg: String) extends RuntimeException(msg)

  val LsnCol = "_lsn"
  val BucketCol = "_bucket"
  val OpCol = "_op"

  /** Wall-clock pin parser shared by every surface that takes a timestamp
    * string ([[LakeTable#versionAsOf]] callers: the `lakereader` JSON
    * `asOf` param, `LakeMaint asof`): the JDBC escape shape
    * `"yyyy-MM-dd HH:mm:ss[.fff]"`, its `'T'`-separated ISO-local twin
    * (shell-friendly — no space to quote through sbt/spark-submit arg
    * splitting; session default zone), or a full ISO-8601 instant
    * (`...Z` / offset). Sharp error naming all three shapes otherwise.
    */
  def parseTimestamp(s: String): java.sql.Timestamp =
    scala.util.Try(java.sql.Timestamp.valueOf(s))
      .orElse(scala.util.Try(
        java.sql.Timestamp.valueOf(java.time.LocalDateTime.parse(s))))
      .orElse(scala.util.Try(
        java.sql.Timestamp.from(java.time.Instant.parse(s))))
      .getOrElse(throw new IllegalArgumentException(
        s"timestamp '$s' is none of 'yyyy-MM-dd HH:mm:ss[.fff]', " +
          "ISO-local 'yyyy-MM-ddTHH:mm:ss', or an ISO-8601 instant"))

  /** Scoped TIMESTAMP_MICROS pin for lake staging writes (see the publish
    * comment). Depth-counted per session so overlapping publishes restore
    * the caller's value exactly once, when the LAST one finishes; a publish
    * that observes the flag mid-flip can at worst write INT96 and lose ts
    * stats for its files — conservative (never pruned), not unsound.
    */
  private val microsPinDepth =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.util.concurrent.atomic.AtomicInteger]()
  private val microsPinPrior =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Option[String]]()
  private def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val depth = microsPinDepth.computeIfAbsent(spark,
      _ => new java.util.concurrent.atomic.AtomicInteger(0))
    if (depth.getAndIncrement() == 0)
      microsPinPrior.put(spark, spark.conf.getOption(key))
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body
    finally if (depth.decrementAndGet() == 0)
      microsPinPrior.remove(spark) match {
        case Some(v) => spark.conf.set(key, v)
        case _ => spark.conf.unset(key)
      }
  }
  val DefaultWriter = "default"

  /** The tag-name character rule, `[A-Za-z0-9._-]*`: a tag name becomes a
    * ref file name, and non-ASCII names break on filesystems with different
    * unicode normalization. Checked by [[LakeTable#tag]] and, for the
    * streaming auto-tag ring's prefix and writerIds, at plan time.
    */
  def tagSafe(s: String): Boolean =
    s.forall(c => c.toInt < 128 && (c.isLetterOrDigit || c == '.' || c == '_' || c == '-'))

  /** One data file in a snapshot. `stats` holds per-column min/max
    * (canonical string encoding, see [[FileStats]]) harvested from the
    * parquet footer at publish time — the Iceberg manifest-stats analog
    * that lets scans skip whole files on range predicates without opening
    * them ([[LakeTable#readWhere]]). Delta files record KEY columns only
    * (the only bounds usable in a dirty bucket); base files record every
    * mappable column (clean-bucket pruning — see the FileStats clean-bucket
    * lemma). Empty for files published before stats collection (never
    * pruned — conservative) and for columns whose footer stats were absent
    * or unmappable.
    */
  final case class FileEntry(bucket: Int, path: String, rows: Long, kind: String,
      stats: Map[String, (String, String)] = Map.empty)

  /** Result of [[LakeTable#scanWhere]]: the pruned scan and the pruning
    * counts, all from one snapshot (`version`).
    */
  final case class ScanReport(df: DataFrame, filesKept: Int, filesTotal: Int,
      version: Long)

  final case class Snapshot(
      version: Long,
      lastEpoch: Long,
      schema: Option[StructType],
      rows: Long,
      files: Seq[FileEntry],
      stats: Option[MergeStats] = None,
      /** delta files PUBLISHED by this commit — recorded even when inline
        * compaction folds them out of `files` within the same commit, so
        * incremental readers ([[LakeTable#readChangesSince]]) never lose a
        * window. Physical files live until [[LakeTable#vacuum]].
        */
      addedDeltas: Seq[FileEntry] = Nil,
      /** PER-WRITER epoch lineage: writerId → last committed epoch. The
        * idempotent-replay guard is scoped to the writer, so concurrent
        * INDEPENDENT writers (two streams merging into one table) never
        * dedupe each other's epochs, while each stream's own at-least-once
        * replays are still skipped exactly-once. Absent in pre-multi-writer
        * manifests → derived as Map("default" -> lastEpoch) on read.
        */
      epochs: Map[String, Long] = Map.empty,
      /** wall-clock commit time (epoch millis), stamped by commitSnapshot;
        * 0 in pre-history manifests
        */
      commitTs: Long = 0L,
      /** table layout recorded in every manifest: key columns + bucket
        * count. The bucket of a row is pmod(hash(keys), buckets), so these
        * are TABLE constants — a handle opened with a different layout
        * would relabel rows and corrupt compaction/point reads; every
        * snapshot read validates them. Empty/0 in pre-layout manifests.
        */
      keysMeta: Seq[String] = Nil,
      bucketsMeta: Int = 0,
      /** distribution-key columns when narrower than the key (see
        * [[LakeTable.distCols]]); empty = full-key distribution (also the
        * shape of every pre-dist manifest, which hashed the full key).
        */
      distMeta: Seq[String] = Nil,
      /** set on a rollback commit: this snapshot reverted the head to
        * `revertedFrom`, i.e. versions in (revertedFrom, thisVersion) are
        * no longer part of the table's history as seen by incremental
        * readers ([[LakeTable#readChangesBetween]] skips their deltas).
        * -1 = not a rollback commit.
        */
      revertedFrom: Long = -1L,
      /** highest `_lsn` ever committed (running max, observed on the merge
        * write job) — lets predicate deletes mint a tombstone lsn that
        * outranks every stored change without scanning the table. -1 in
        * pre-tracking manifests.
        */
      maxLsn: Long = -1L,
      /** highest `_lsn` observed in THIS commit's batch (not the running
        * max): lets the maintenance race guard attribute a high lsn to the
        * specific commit that introduced it, even when the running max was
        * already at that value. -1 for commits that added no rows
        * (compaction, rollback, GC) and in pre-tracking manifests.
        */
      lsnHigh: Long = -1L,
      /** recorded [[LakeTable.targetFileRows]] (0 = unset): persists the
        * slicing layout so maintenance handles opened WITHOUT the knob
        * ([[LakeTable.open]], ops CLIs) keep compacting into sliced,
        * prunable files instead of silently collapsing each bucket into
        * one wide-bound file.
        */
      fileRowsMeta: Long = 0L,
      /** recorded [[LakeTable.sortCols]] clustering (empty = none): like
        * `fileRowsMeta`, persists the layout so maintenance handles keep
        * compacting into the same clustered shape. Advisory (tightness
        * only), so mismatched handles are tolerated, not rejected.
        */
      sortMeta: Seq[String] = Nil) {
    /** The highest committed epoch of `writerId`'s lineage (-1 = none). The
      * legacy scalar `lastEpoch` stands in for the default writer ONLY on
      * manifests that predate the epochs map (map empty): `lastEpoch` is
      * advanced by EVERY writer's commit, so once any lineage exists it
      * must not answer for the default writer — a table seeded by a
      * non-default writer (e.g. a bootstrap lineage) would otherwise treat
      * the default stream's early epochs as already applied and silently
      * drop them.
      */
    def lastEpochFor(writerId: String): Long =
      epochs.getOrElse(writerId,
        if (writerId == DefaultWriter && epochs.isEmpty) lastEpoch else -1L)
  }

  /** Per-epoch ingest metrics row (north-rule: rows applied, dedupe rate,
    * skew factor, written to a metrics table).
    */
  final case class MergeStats(
      epoch: Long,
      skipped: Boolean,
      rowsIn: Long,
      rowsApplied: Long,
      duplicatesDropped: Long,
      deletes: Long,
      affectedBuckets: Int,
      tableRows: Long,
      skewFactor: Double,
      seconds: Double = 0.0,
      compactedBuckets: Int = 0,
      /** logical bytes of the epoch's change events (GetByteSize analog) */
      bytesIn: Long = 0L)

  def create(spark: SparkSession, root: String, keyCols: Seq[String], numBuckets: Int = 32,
      deltaRatio: Double = 0.3, maxDeltaFiles: Int = 12,
      distCols: Seq[String] = Nil, targetFileRows: Option[Long] = None,
      sortCols: Seq[String] = Nil): LakeTable =
    new LakeTable(spark, root, keyCols, numBuckets, deltaRatio, maxDeltaFiles, distCols,
      targetFileRows, sortCols)

  /** Open an EXISTING table with the layout recorded in its manifest —
    * the safe way to get a handle without knowing keys/buckets (ops CLIs,
    * downstream consumers). Fails on an empty table or a pre-layout
    * manifest (fall back to [[create]] with the known layout there).
    */
  def open(spark: SparkSession, root: String,
      deltaRatio: Double = 0.3, maxDeltaFiles: Int = 12,
      targetFileRows: Option[Long] = None,
      sortColsOverride: Option[Seq[String]] = None): LakeTable = {
    val fs = new Path(root).getFileSystem(SessionBridge.hadoopConf(spark))
    val snapDir = s"$root/_snapshots"
    val pointer = new Path(s"$root/_current")
    var v = if (fs.exists(pointer)) readString(fs, pointer).trim.toLong else -1L
    while (fs.exists(new Path(s"$snapDir/snap-${v + 1}.txt"))) v += 1
    require(v >= 0, s"no committed snapshot under $root")
    val s = readSnapshot(fs, new Path(s"$snapDir/snap-$v.txt"), v)
    require(s.keysMeta.nonEmpty,
      s"manifest at $root predates layout metadata — open with LakeTable.create and the known layout")
    new LakeTable(spark, root, s.keysMeta, s.bucketsMeta, deltaRatio, maxDeltaFiles,
      distCols = s.distMeta,
      // the manifest's recorded slicing layout wins unless the caller
      // overrides — ops handles keep compaction sliced (and prunable)
      targetFileRows = targetFileRows.orElse(Some(s.fileRowsMeta).filter(_ > 0)),
      // clustering override for the retrofit path ([[LakeTable.recluster]]):
      // Some(Nil) deliberately UN-clusters (future rewrites return to key
      // order), None keeps the manifest's recorded layout
      sortCols = sortColsOverride.getOrElse(s.sortMeta))
  }

  /** One winner row per key: first row of `ord` via a window `row_number`.
    *
    * Measured choice (sandbox A/B at 1M events): the `max_by(struct(payload),
    * struct(lsn, ts))` hash-aggregate formulation looks better on paper
    * (map-side partial combine), but the var-length payload buffer (text)
    * can't live in HashAggregate's fixed-size unsafe rows, so it degrades to
    * a non-codegen aggregate and ran ~2× slower than the window. The window
    * shuffles once on the FULL key and sorts runs that are tiny (duplicates
    * of one key). Skew: the full `(conv_id, turn_idx)` key spreads a hot
    * conversation over its turns — the key itself carries the salt.
    */
  private[graft] def lwwWinners(df: DataFrame, keys: Seq[String], ord: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(ord: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  // --------------------------------------------------------------- manifest IO

  /** Safe type promotions (Iceberg's widening set for the types our
    * sources produce): within the integral chain byte→short→int→long and
    * the fractional chain float→double. Widening is SYMMETRIC here — a
    * batch may arrive narrower than the stored column (cast up on write) or
    * wider (the stored column is promoted; already-written narrow parquet
    * files upcast at read time via the requested schema, SPARK-40876).
    */
  private val integralChain = Seq(ByteType, ShortType, IntegerType, LongType)
  private val fractionalChain = Seq(FloatType, DoubleType)

  private def widen(a: DataType, b: DataType): Option[DataType] = {
    if (a == b) Some(a)
    else {
      val (ia, ib) = (integralChain.indexOf(a), integralChain.indexOf(b))
      val (fa, fb) = (fractionalChain.indexOf(a), fractionalChain.indexOf(b))
      if (ia >= 0 && ib >= 0) Some(integralChain(math.max(ia, ib)))
      else if (fa >= 0 && fb >= 0) Some(fractionalChain(math.max(fa, fb)))
      else None
    }
  }

  /** Additive + widening union: stored fields keep their order; brand-new
    * batch fields are appended as nullable; a same-name field with a
    * different type is resolved through [[widen]] (int→long, float→double),
    * and anything else — narrowing, cross-family, string↔numeric — is
    * rejected (matching Iceberg's evolution rules and the north rule's
    * additive contract).
    */
  def unionSchemas(stored: StructType, incoming: StructType): StructType = {
    val byName = stored.fieldNames.toSet
    val added = incoming.fields.filterNot(f => byName.contains(f.name))
      .map(f => f.copy(nullable = true))
    val resolved = stored.fields.map { old =>
      incoming.fields.find(_.name == old.name) match {
        case Some(f) =>
          val dt = widen(old.dataType, f.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"non-additive schema change on '${f.name}': ${old.dataType} -> ${f.dataType}"))
          old.copy(dataType = dt)
        case None => old
      }
    }
    // keep _lsn last for readability
    val (lsn, rest) = (resolved ++ added).partition(_.name == LsnCol)
    StructType(rest ++ lsn)
  }

  private[graft] def renderSnapshot(s: Snapshot): String = {
    val sb = new StringBuilder
    sb.append("version=").append(s.version).append('\n')
    sb.append("lastEpoch=").append(s.lastEpoch).append('\n')
    sb.append("rows=").append(s.rows).append('\n')
    if (s.commitTs > 0L) sb.append("ts=").append(s.commitTs).append('\n')
    if (s.keysMeta.nonEmpty) sb.append("keys=").append(s.keysMeta.mkString(",")).append('\n')
    if (s.bucketsMeta > 0) sb.append("buckets=").append(s.bucketsMeta).append('\n')
    if (s.distMeta.nonEmpty) sb.append("dist=").append(s.distMeta.mkString(",")).append('\n')
    if (s.fileRowsMeta > 0) sb.append("fileRows=").append(s.fileRowsMeta).append('\n')
    if (s.sortMeta.nonEmpty) sb.append("sortCols=").append(s.sortMeta.mkString(",")).append('\n')
    if (s.maxLsn >= 0) sb.append("maxLsn=").append(s.maxLsn).append('\n')
    if (s.lsnHigh >= 0) sb.append("lsnHigh=").append(s.lsnHigh).append('\n')
    if (s.revertedFrom >= 0) sb.append("revertedFrom=").append(s.revertedFrom).append('\n')
    s.epochs.toSeq.sortBy(_._1).foreach { case (w, e) =>
      require(!w.contains('\t') && !w.contains('\n'), s"writerId '$w' has separator chars")
      sb.append("wepoch=").append(w).append('\t').append(e).append('\n')
    }
    s.schema.foreach(sc => sb.append("schema=").append(sc.json).append('\n'))
    s.stats.foreach { m =>
      sb.append("stats=").append(Seq(m.epoch, m.skipped, m.rowsIn, m.rowsApplied,
        m.duplicatesDropped, m.deletes, m.affectedBuckets, m.tableRows,
        m.skewFactor, m.seconds, m.compactedBuckets, m.bytesIn).mkString(",")).append('\n')
    }
    def fileLine(tag: String, f: FileEntry): Unit =
      sb.append(tag).append('=').append(f.bucket).append('\t')
        .append(f.path).append('\t').append(f.rows).append('\t').append(f.kind).append('\n')
    s.files.foreach(fileLine("file", _))
    s.addedDeltas.foreach(fileLine("delta", _))
    // per-file key-column bounds ride SEPARATE `fstats=` lines, NOT a 5th
    // tab field on file=/delta=: the parser ignores unknown keys, so a
    // pre-stats binary (whose file-line parser destructures exactly 4
    // fields) keeps reading new manifests — replication/tailing across
    // binary versions survives the format addition. Keyed by path (unique
    // per snapshot; a delta listed in both files and addedDeltas gets one
    // line).
    val statsSeen = scala.collection.mutable.HashSet.empty[String]
    (s.files.iterator ++ s.addedDeltas.iterator)
      .filter(_.stats.nonEmpty).foreach { f =>
        if (statsSeen.add(f.path))
          sb.append("fstats=").append(FileStats.enc(f.path)).append('\t')
            .append(FileStats.encStats(f.stats)).append('\n')
      }
    sb.toString
  }

  private[lake] def readSnapshot(fs: FileSystem, p: Path, version: Long): Snapshot =
    parseSnapshot(readString(fs, p), version)

  private[graft] def parseSnapshot(text: String, version: Long): Snapshot = {
    val lines = text.split('\n').filter(_.nonEmpty)
    var lastEpoch = -1L
    var rows = 0L
    var commitTs = 0L
    var keysMeta: Seq[String] = Nil
    var bucketsMeta = 0
    var distMeta: Seq[String] = Nil
    var maxLsn = -1L
    var lsnHigh = -1L
    var revertedFrom = -1L
    var schema: Option[StructType] = None
    var stats: Option[MergeStats] = None
    var epochs = Map.empty[String, Long]
    var fileRowsMeta = 0L
    var sortMeta: Seq[String] = Nil
    val files = Seq.newBuilder[FileEntry]
    val addedDeltas = Seq.newBuilder[FileEntry]
    val fstats = scala.collection.mutable.HashMap.empty[String, Map[String, (String, String)]]
    lines.foreach { ln =>
      val i = ln.indexOf('=')
      val (k, v) = (ln.substring(0, i), ln.substring(i + 1))
      k match {
        case "lastEpoch" => lastEpoch = v.toLong
        case "rows" => rows = v.toLong
        case "ts" => commitTs = v.toLong
        case "keys" => keysMeta = v.split(',').toSeq
        case "buckets" => bucketsMeta = v.toInt
        case "dist" => distMeta = v.split(',').toSeq
        case "maxLsn" => maxLsn = v.toLong
        case "lsnHigh" => lsnHigh = v.toLong
        case "revertedFrom" => revertedFrom = v.toLong
        case "schema" => schema = Some(DataType.fromJson(v).asInstanceOf[StructType])
        case "file" => files += parseFileEntry(v)
        case "delta" => addedDeltas += parseFileEntry(v)
        case "fileRows" => fileRowsMeta = v.toLong
        case "sortCols" => sortMeta = v.split(',').toSeq
        case "fstats" =>
          val tab = v.indexOf('\t')
          fstats += FileStats.dec(v.substring(0, tab)) ->
            FileStats.decStats(v.substring(tab + 1))
        case "wepoch" =>
          val Array(w, e) = v.split('\t')
          epochs += (w -> e.toLong)
        case "stats" =>
          val a = v.split(',')
          stats = Some(MergeStats(a(0).toLong, a(1).toBoolean, a(2).toLong,
            a(3).toLong, a(4).toLong, a(5).toLong, a(6).toInt, a(7).toLong,
            a(8).toDouble,
            if (a.length > 9) a(9).toDouble else 0.0,
            if (a.length > 10) a(10).toInt else 0,
            if (a.length > 11) a(11).toLong else 0L))
        case _ => ()
      }
    }
    // pre-multi-writer manifests carry only lastEpoch — attribute it to the
    // default writer so existing tables keep their idempotence guard
    if (epochs.isEmpty && lastEpoch >= 0) epochs = Map(DefaultWriter -> lastEpoch)
    def attach(fs: Seq[FileEntry]): Seq[FileEntry] =
      if (fstats.isEmpty) fs
      else fs.map(f => fstats.get(f.path).map(st => f.copy(stats = st)).getOrElse(f))
    Snapshot(version, lastEpoch, schema, rows, attach(files.result()), stats,
      attach(addedDeltas.result()), epochs, commitTs, keysMeta, bucketsMeta, distMeta,
      revertedFrom, maxLsn, lsnHigh, fileRowsMeta = fileRowsMeta, sortMeta = sortMeta)
  }

  /** Parse one `file=`/`delta=` manifest value: 4 tab fields (stats ride
    * separate `fstats=` lines for old-parser compatibility; a 5th field
    * from the short-lived interim format is still tolerated).
    */
  private[graft] def parseFileEntry(v: String): FileEntry = {
    val a = v.split('\t')
    val stats: Map[String, (String, String)] =
      if (a.length < 5 || a(4).isEmpty) Map.empty else FileStats.decStats(a(4))
    FileEntry(a(0).toInt, a(1), a(2).toLong, a(3), stats)
  }

  private[lake] def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  private[lake] def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try { out.write(s.getBytes(StandardCharsets.UTF_8)); out.hsync() }
    catch { case _: UnsupportedOperationException => () }
    finally out.close()
  }

  /** Atomic EXCLUSIVE publish of `src` as `dst`: succeeds for exactly one
    * caller per `dst`, false if `dst` already exists. Local fs: POSIX hard
    * link (`link(2)` fails with EEXIST atomically — rename(2) would
    * silently replace). HDFS-family fs: Hadoop `rename`, which does not
    * replace an existing destination (returns false) — atomic on HDFS.
    *
    * SUPPORTED-FILESYSTEM CONTRACT: exclusivity relies on a non-replacing
    * atomic rename, which object stores do NOT provide (s3a/gcs/abfs
    * rename can replace the destination, so two racing committers could
    * both "win" a snapshot version and silently lose a commit). Unknown
    * schemes fail fast here rather than corrupt commits at scale; an
    * object-store deployment needs an external commit coordinator (a DynamoDB/
    * Zookeeper-style lock or a catalog service, the Iceberg-on-S3 answer).
    */
  private val NonReplacingRenameSchemes = Set("hdfs", "viewfs", "webhdfs")

  /** Hadoop conf key extending the safe-scheme set: a comma-separated list
    * of additional schemes whose rename is atomic AND non-replacing
    * (maprfs, o3fs/ofs, alluxio and other HDFS-compatible filesystems
    * qualify; s3a/gcs/abfs do NOT). An explicit operator opt-in, not a
    * hardcoded allowlist, so such deployments keep working without
    * weakening the object-store fail-fast.
    */
  val ExtraClaimSchemesKey = "graft.lake.atomic.rename.schemes"

  private[lake] def atomicClaim(fs: FileSystem, src: Path, dst: Path): Boolean = {
    val uri = fs.getUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      val extra = fs.getConf.getTrimmedStrings(ExtraClaimSchemesKey)
      val safe = NonReplacingRenameSchemes ++ extra
      require(safe.contains(uri.getScheme),
        s"atomicClaim needs a non-replacing atomic rename; filesystem scheme " +
          s"'${uri.getScheme}' does not guarantee one (supported: file, " +
          s"${safe.mkString(", ")}). HDFS-compatible filesystems that do " +
          s"provide one can opt in via $ExtraClaimSchemesKey; object-store " +
          "deployments need an external commit lock/catalog.")
      !fs.exists(dst) && fs.rename(src, dst)
    }
  }

  /** Atomic pointer swap. Local fs: java.nio ATOMIC_MOVE; other fs:
    * delete+rename (rename is atomic on HDFS; the delete window is why the
    * snapshot file itself is written first — a reader that races the swap
    * retries on the previous pointer value).
    */
  private[lake] def atomicReplace(fs: FileSystem, src: Path, dst: Path): Unit = {
    val uri = fs.getUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      val s = java.nio.file.Paths.get(src.toUri.getPath)
      val d = java.nio.file.Paths.get(dst.toUri.getPath)
      java.nio.file.Files.move(s, d,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      if (fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(src, dst))
        throw new IllegalStateException(s"pointer swap failed: $src -> $dst")
    }
  }
}
