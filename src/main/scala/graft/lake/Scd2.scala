package graft.lake

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incrementally maintained SCD Type-2 history table — the lake's commit
  * history re-expressed as validity intervals. Where [[Replicate]] mirrors
  * the source's CURRENT state and [[Rollup]] an aggregate of it, Scd2 keeps
  * EVERY committed version of every key: one row per (key, version) with
  * `[vf_lsn, vt_lsn)` validity bounds and an `is_current` flag — the
  * slowly-changing-dimension shape a warehouse consumer joins transcripts
  * against ("what did this row look like when that event happened"), and the
  * audit shape a compliance reader wants ("who changed what, when").
  *
  * go-datax users hand-build this with writer `postSql` after each sync
  * (`README_EN.md` positions postSql for derived maintenance); here the
  * history is DERIVED FROM THE COMMIT LOG, so it is deterministic — one
  * history row per key per source COMMIT that touched it, regardless of how
  * often the consumer polls. (Granularity is the lake's own arbitration
  * granularity: changes to one key inside a single commit are LWW-collapsed
  * by [[LakeTable.merge]] before they ever reach a manifest, so per-commit
  * is the finest history any committed-state consumer can observe.)
  *
  * Destination layout contract: `dst.keyCols = src.keyCols :+ "scd_seq"`,
  * `dst.distributionCols = src.keyCols`. `scd_seq` is the closed interval's
  * own `vf_lsn`, with the single OPEN row per key stored under the sentinel
  * `scd_seq = -1`. The sentinel is what makes closing an interval O(changed
  * keys) instead of O(history): the open row's full key is KNOWN from the
  * source key alone, so [[LakeTable.readChangesForKeys]] fetches exactly the
  * open rows of the keys the window touched (bucket-pruned via the
  * `distCols = src key` layout — a key's whole history lives in one bucket).
  *
  * Watermark/exactly-once: identical to [[Replicate]]/[[Rollup]] — the
  * destination's per-writer epoch lineage is the watermark, each merge
  * carries `epoch = source version`, replays are skipped. Wide catch-up
  * windows are CHUNKED (`maxVersionsPerMerge`) so a consumer attaching to a
  * long history commits bounded plans and resumes mid-catch-up after a
  * crash.
  *
  * Scale shape (100 TB honesty): a sync reads each window version's added
  * delta files only (O(changes)), the interval construction is one window
  * function partitioned by key over the window's changes, and the only
  * touch of existing data is the bucket-pruned open-row lookup. Nothing
  * scans the history table or the source table. Bootstrap of a FRESH
  * consumer replays the full retained commit log when snapshot 0 is still
  * retained (chunked); once [[LakeTable.expireSnapshots]] has trimmed the
  * log it falls back to seeding open intervals from the source's current
  * state (O(table), once) — the same vacuum-retention contract every
  * incremental consumer in this lake has.
  */
object Scd2 {

  /** The four columns Scd2 adds to the source payload. */
  val SeqCol = "scd_seq"
  val ValidFromCol = "vf_lsn"
  val ValidToCol = "vt_lsn"
  val CurrentCol = "is_current"
  /** `scd_seq` of the single open (current) row per key. */
  val OpenSeq = -1L

  /** Create a destination with the layout [[sync]] requires, mirroring the
    * source's bucket count.
    */
  def createDst(src: LakeTable, root: String): LakeTable =
    LakeTable.create(src.spark, root, src.keyCols :+ SeqCol,
      numBuckets = src.numBuckets, distCols = src.keyCols)

  /** The source state as of lsn `cut`, reconstructed from the history table
    * alone: every interval covering `cut` (`vf ≤ cut < vt`, open = no upper
    * bound). Unlike [[LakeTable.readVersion]] this needs no retained
    * snapshots or data files — the history IS the archive, and the cut is a
    * SOURCE lsn, not a commit number, so it composes with the upstream
    * database's own notion of time.
    */
  def stateAt(dst: LakeTable, cut: Long): DataFrame =
    dst.read()
      .filter(col(ValidFromCol) <= cut &&
        (col(ValidToCol).isNull || col(ValidToCol) > cut))
      .drop(SeqCol, ValidFromCol, ValidToCol, CurrentCol)

  /** One incremental history refresh of `dst` from `src`'s committed change
    * log. Returns the LAST chunk's merge stats (`skipped = true` when
    * already at the source head).
    */
  def sync(src: LakeTable, dst: LakeTable, writerId: String = "scd2",
      maxVersionsPerMerge: Int = 32): LakeTable.MergeStats = {
    require(maxVersionsPerMerge > 0, "maxVersionsPerMerge must be positive")
    require(dst.keyCols == src.keyCols :+ SeqCol,
      s"scd2 destination must be keyed ${(src.keyCols :+ SeqCol).mkString(",")} " +
        s"(got ${dst.keyCols.mkString(",")})")
    val reserved = Seq(SeqCol, ValidFromCol, ValidToCol, CurrentCol)
    val srcSchema = src.currentSnapshot().schema.map(_.fieldNames.toSeq).getOrElse(Nil)
    require(!srcSchema.exists(reserved.contains),
      s"source payload collides with scd2 columns ${reserved.mkString(",")}")

    val head = src.currentSnapshot().version
    var since = dst.currentSnapshot().lastEpochFor(writerId)
    if (head <= since)
      return LakeTable.MergeStats(head, skipped = true, 0, 0, 0, 0, 0,
        dst.currentSnapshot().rows, 1.0)

    if (since < 0L) {
      // fresh consumer: full-history attach when the commit log reaches
      // back to snapshot 0, else seed from current state (see scaladoc)
      val earliest = src.history().agg(F.min("version")).head().getLong(0)
      if (earliest > 0L) {
        org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
          s"scd2 attach to ${src.root}: snapshots before $earliest are " +
            s"expired — seeding open intervals from current state; history " +
            s"before version $earliest is not reconstructable")
        // live winners seed open intervals; TOMBSTONE winners seed sentinel
        // tombstones so the deleted keys' lsn high-water mark survives the
        // attach (a re-delivered pre-delete change must stay dead) — both
        // carry the SOURCE lsn, the domain every later sync arbitrates in
        val open = src.readChangesBootstrap()
          .withColumn(SeqCol, lit(OpenSeq))
          .withColumn(ValidFromCol, col(LakeTable.LsnCol))
          .withColumn(ValidToCol, lit(null).cast("long"))
          .withColumn(CurrentCol, col(LakeTable.OpCol) =!= "D")
          .withColumn("op", when(col(LakeTable.OpCol) === "D", "D").otherwise("U"))
          .withColumn("lsn", col(LakeTable.LsnCol))
          .drop(LakeTable.LsnCol, LakeTable.OpCol)
        return dst.merge(open, epoch = head, writerId = writerId)
      }
      since = -1L // attach from the very first commit
    }
    var last: LakeTable.MergeStats = null
    var lo = since
    while (lo < head) {
      val hi = math.min(lo + maxVersionsPerMerge, head)
      last = applyWindow(src, dst, lo, hi, writerId)
      lo = hi
    }
    last
  }

  /** One chunk: build the interval delta for source versions `(lo, hi]` and
    * merge it under `epoch = hi`.
    *
    * Out-of-order/duplicated sources (the CDC normal case — the lake's own
    * merge absorbs them by LWW): a commit's change for a key only enters
    * history if its lsn EXCEEDS everything history has seen for that key —
    * the strictly-increasing prefix-max subsequence, in commit order. That
    * is exactly the sequence of commits where the table's resolved winner
    * actually moved, so the history mirrors the resolved state's evolution,
    * not the raw (possibly stale) delivery order. The per-key floor at the
    * chunk boundary is the SENTINEL row's source lsn — live open rows carry
    * `vf_lsn`, and deleted keys keep a sentinel TOMBSTONE carrying the
    * delete's source lsn, so staleness survives deletes too.
    */
  private def applyWindow(src: LakeTable, dst: LakeTable, lo: Long, hi: Long,
      writerId: String): LakeTable.MergeStats = {
    // per-VERSION windows (not one collapsed (lo, hi] window): each commit
    // that touched a key contributes its own history row, so the result is
    // independent of sync cadence. Each read costs only that commit's added
    // deltas; schema may widen mid-window (additive evolution) → unionByName.
    // The frame feeds THREE consumers of one merge job (touched-key lookup,
    // the filtered sequence, the sentinel floor join) — persist it so the
    // delta files are read once, not once per branch; batch-sized by
    // construction, released in the finally
    val changes = (lo + 1 to hi).map { v =>
      src.readChangesBetween(v - 1, v).withColumn("_v", lit(v))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try applyChanges(src, dst, changes, hi, writerId)
    finally changes.unpersist()
  }

  private def applyChanges(src: LakeTable, dst: LakeTable, changes: DataFrame,
      hi: Long, writerId: String): LakeTable.MergeStats = {
    val k = src.keyCols

    // per-key lsn floor at the chunk boundary, from the sentinel rows of the
    // touched keys (bucket-pruned exact-key fetch; tombstone sentinels
    // included — that is the point). A still-empty destination (no committed
    // schema yet) has no floor.
    val dstEmpty = dst.currentSnapshot().files.isEmpty
    // materialized ONCE: both the floor projection and closedOld's
    // prev-open lookup read the sentinel rows, and readChangesForKeys runs
    // a driver-side bucketsFor collect plus a bucket-pruned scan — a `def`
    // here would pay that only-existing-data read twice per chunk
    val sentinels: DataFrame =
      if (dstEmpty) null
      else dst.readChangesForKeys(
        changes.select(k.map(col): _*).distinct()
          .withColumn(SeqCol, lit(OpenSeq))).persist()
    val floor = if (dstEmpty) null else
      sentinels.select(k.map(col) :+ col(LakeTable.LsnCol).as("_floor"): _*)

    val wv = Window.partitionBy(k.map(col): _*).orderBy(col("_v"))
    val withFloor = if (dstEmpty) changes.withColumn("_floor", lit(null).cast("long"))
      else changes.join(floor, k, "left")
    // keep only changes that move the key's winner FORWARD (greatest()
    // skips nulls; a key with no history and no prior window rows keeps
    // everything via the Long.MinValue fallback)
    val filtered = withFloor
      .withColumn("_runmax",
        F.max(col(LakeTable.LsnCol)).over(wv.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col(LakeTable.LsnCol) >
        coalesce(greatest(col("_runmax"), col("_floor")), lit(Long.MinValue)))

    val w = Window.partitionBy(k.map(col): _*).orderBy(col("_v"))
    val seq = filtered
      .withColumn("_nlsn", F.lead(LakeTable.LsnCol, 1).over(w))
      .withColumn("_rn", F.row_number().over(w))
    val payload = changes.columns
      .filterNot(Set(LakeTable.LsnCol, LakeTable.OpCol, "_v").contains)

    def intervalRow(df: DataFrame, seqv: org.apache.spark.sql.Column,
        vt: org.apache.spark.sql.Column, current: Boolean): DataFrame =
      df.select(payload.map(col) ++ Seq(
        seqv.cast("long").as(SeqCol),
        col(LakeTable.LsnCol).cast("long").as(ValidFromCol),
        vt.cast("long").as(ValidToCol),
        lit(current).as(CurrentCol),
        lit("U").as("op"),
        // closed rows are written once under their own (key, seq); sentinel
        // rows arbitrate by SOURCE lsn so replays/races stay LWW-sound
        (if (current) col(LakeTable.LsnCol) else vt).cast("long").as("lsn")): _*)

    // versions superseded INSIDE the window close against their successor
    val closedNew = intervalRow(
      seq.filter(col(LakeTable.OpCol) =!= "D" && col("_nlsn").isNotNull),
      col(LakeTable.LsnCol), col("_nlsn"), current = false)
    // the window's LAST surviving change per key: a live version opens
    // (upserting the sentinel row), a delete tombstones the sentinel
    // carrying the delete's source lsn — either way the previous open row
    // is replaced exactly once
    val lastRows = seq.filter(col("_nlsn").isNull)
    val openNew = intervalRow(lastRows.filter(col(LakeTable.OpCol) =!= "D"),
      lit(OpenSeq), lit(null).cast("long"), current = true)
    val closeCur = lastRows.filter(col(LakeTable.OpCol) === "D")
      .select(k.map(col) ++ Seq(lit(OpenSeq).as(SeqCol), lit("D").as("op"),
        col(LakeTable.LsnCol).cast("long").as("lsn")): _*)

    // the interval that was open BEFORE this window closes at the window's
    // first SURVIVING change — fetched by exact key (src key + sentinel)
    val closedOld = if (dstEmpty) closedNew.limit(0) else {
      val firstRows = seq.filter(col("_rn") === 1)
        .select(k.map(col) :+ col(LakeTable.LsnCol).as("_close_lsn"): _*)
      val prevOpen = sentinels.filter(col(LakeTable.OpCol) =!= "D")
      // prevOpen carries the OLD version's payload plus its own scd columns —
      // keep its payload and vf (which becomes the closed row's scd_seq),
      // override vt/is_current. Columns the window ADDED (additive evolution)
      // don't exist on the old open row yet — the union null-fills them
      val prevCols = prevOpen.columns.toSet
      prevOpen
        .join(firstRows, k)
        .select(payload.filter(prevCols.contains).map(col) ++ Seq(
          col(ValidFromCol).cast("long").as(SeqCol),
          col(ValidFromCol),
          col("_close_lsn").cast("long").as(ValidToCol),
          lit(false).as(CurrentCol),
          lit("U").as("op"),
          col("_close_lsn").cast("long").as("lsn")): _*)
    }

    // every emitted dst key is distinct within the batch (sentinel rows come
    // from exactly one last-surviving change; closed seqs are distinct lsns;
    // the closing old row's seq predates the window's floor)
    val out = closedNew.unionByName(openNew)
      .unionByName(closedOld, allowMissingColumns = true)
      .unionByName(closeCur, allowMissingColumns = true)
    try dst.merge(out, epoch = hi, writerId = writerId)
    finally { if (sentinels != null) { sentinels.unpersist(); () } }
  }
}
