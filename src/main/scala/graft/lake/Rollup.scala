package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incrementally maintained materialized aggregate (rollup) over a lake
  * table — the downstream half of a CDC pipeline that the reference's users
  * hand-build by re-running a full GROUP BY after every sync
  * (go-datax `README_EN.md` positions postSql for exactly this; see
  * `test-data/mysql2doris.json`'s TRUNCATE+reload shape). Here the rollup is
  * refreshed from the COMMITTED change log instead: each sync recomputes
  * only the groups that actually changed since the last sync and MERGEs the
  * recomputed rows (plus deletes for groups that vanished) into a second
  * lake table.
  *
  * Watermarking reuses the replication trick ([[Replicate]]): the
  * destination's per-writer epoch lineage IS the watermark — each sync
  * merges under `epoch = source snapshot version`, so replays are skipped
  * exactly-once-style and a crashed sync resumes where it left off with no
  * side-channel state.
  *
  * Scale shape (100 TB honesty): the dirty-group set is O(changes in the
  * window) — read from the window's delta files only, never the whole log.
  * The recompute joins live state against the dirty set (left-semi; AQE
  * broadcasts it when small), so only dirty groups' rows shuffle into the
  * aggregate. The live SCAN is pruned when the source's distribution key
  * ([[LakeTable.distCols]]) is a subset of the group columns: each dirty
  * group then lives entirely in one known bucket, so the recompute reads
  * only the dirty groups' buckets — O(dirty buckets), not O(table). With
  * full-key distribution (the default layout) a group's rows spread across
  * every bucket and the scan must read the full live table once per sync;
  * at very large scale either lay the source out with
  * `distCols = groupCols`, or keep additive aggregates (count/sum) that
  * fold directly from the change window — the general non-additive case
  * (max/min/distinct under deletes and updates) REQUIRES re-reading the
  * group's live rows, which is what this does, scoped as tightly as the
  * layout allows.
  */
object Rollup {

  /** One incremental refresh of `dst` from `src`'s committed change log.
    *
    * `dst.keyCols` are the GROUP columns (they must exist in `src`'s
    * payload); `aggs` are named aggregate expressions evaluated over the
    * live rows of each dirty group (e.g. `count(lit(1)).as("n_turns")`).
    * First sync (fresh `dst`) bootstraps with one full aggregate; later
    * syncs recompute only groups with changes in `(lastSynced, head]`.
    * Groups whose live rows all vanished are deleted from the rollup.
    *
    * Returns the destination merge stats; `skipped = true` when `dst` is
    * already at the source head (or lost an epoch race to a replay).
    * Incremental windows read change deltas under the same vacuum-retention
    * contract as [[Replicate.sync]].
    *
    * `toVersion` pins the refresh to a consistent source cut (a time-travel
    * refresh): the rollup lands on the aggregate of snapshot `toVersion`
    * exactly, and the next unpinned sync continues from there. Default is
    * the current source head.
    *
    * GROUP-COLUMN MUTATION: dirty groups are read from the change window's
    * NEW row images, which alone would re-aggregate a group when a row
    * lands IN it but not when a row silently LEAVES it (an update that
    * changes a payload group column, or a delete whose tombstone carries
    * key columns only). Key-derived groups — the transcript `conv_id`
    * rollup, any key prefix — cannot leave a group without a tombstone
    * landing in it, so the new images suffice. For groups with NON-KEY
    * columns the refresh additionally reads the changed keys' PRE-IMAGES
    * at the watermark snapshot (`readVersionBuckets(since, …)`, pruned to
    * the buckets the changed keys hash to — O(changed buckets), never
    * O(table)) and unions their old group values into the dirty set, so
    * moved-out groups recompute and delete-driven vanishes land as
    * deletes. This pre-image read requires snapshot `since` to still be
    * readable: retain snapshots past the sync cadence
    * ([[LakeTable.expireSnapshots]] keep count, or [[LakeTable.tag]] the
    * watermark); an expired watermark fails sharply with the remedy named.
    * Group values may be null (null-safe group joins throughout).
    */
  def sync(src: LakeTable, dst: LakeTable, aggs: Seq[Column],
      writerId: String = "rollup",
      toVersion: Option[Long] = None): LakeTable.MergeStats = {
    require(aggs.nonEmpty, "rollup needs at least one aggregate column")
    val groupCols = dst.keyCols
    // key-derived groups can't lose a row without a tombstone landing in
    // them; non-key groups need the pre-image read (object scaladoc)
    val stableGroups = groupCols.forall(src.keyCols.contains)
    val head = toVersion.getOrElse(src.currentSnapshot().version)
    val since = dst.currentSnapshot().lastEpochFor(writerId)
    if (head <= since)
      return LakeTable.MergeStats(head, skipped = true, 0, 0, 0, 0, 0,
        dst.currentSnapshot().rows, 1.0)
    val events =
      if (since < 0L) {
        // bootstrap: one full aggregate — O(table), exactly once
        val live = toVersion.map(src.readVersion).getOrElse(src.read())
        live.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
          .withColumn("op", lit("U"))
      } else {
        val window = src.readChangesBetween(since, head)
        val dirty =
          if (stableGroups) window.select(groupCols.map(col): _*).distinct()
          else {
            // tombstone tuples are phantoms here (their payload group
            // columns are null by construction, not by value) — the
            // pre-image read below carries each deleted row's REAL old
            // group, so drop them rather than merge null-group deletes
            val dirtyNew = window.where(col(LakeTable.OpCol) =!= "D")
              .select(groupCols.map(col): _*).distinct()
            // mutating-group soundness: the changed keys' OLD group values
            // come from their pre-images at the watermark snapshot — a
            // time-travel read pruned to the buckets the keys hash to
            // (keys carry the distribution columns on every layout), so
            // the cost is O(changed buckets), never O(table)
            val oldGroups = preImages(src, window, since, dst.root)
              .select(groupCols.map(col): _*).distinct()
            dirtyNew.unionByName(oldGroups).distinct()
          }
        // bucket pruning: when the source's distribution key is a subset of
        // the group columns, every dirty group's live rows are confined to
        // the buckets the dirty keys hash to — scan only those (the dirty
        // set itself came from the window's delta files, so computing the
        // bucket set costs O(changes), collected bounded by numBuckets)
        val live =
          if (src.distributionCols.forall(groupCols.contains)) {
            val bs = src.bucketsFor(dirty)
            toVersion.map(v => src.readVersionBuckets(v, bs))
              .getOrElse(src.readBuckets(bs))
          } else {
            // the cost trade documented in the object scaladoc, surfaced at
            // run time: a non-aligned layout forces an O(table) live scan
            // per refresh
            val snap = src.currentSnapshot()
            org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
              s"rollup refresh of ${dst.root}: source distribution key " +
                s"(${src.distributionCols.mkString(",")}) is not a subset of " +
                s"the group columns (${groupCols.mkString(",")}), so the " +
                s"recompute scans the FULL live table (${snap.rows} rows, " +
                s"${snap.files.length} files) every sync; lay the source out " +
                s"with distributionColumns = groupCols for O(dirty-bucket) " +
                s"refreshes, or maintain count/sum aggregates with " +
                s"Rollup.syncAdditive (no live scan on any layout)")
            toVersion.map(src.readVersion).getOrElse(src.read())
          }
        val agg = nullSafe(groupCols, live, dirty, "__d_", "left_semi")
          .groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
        val gone = nullSafe(groupCols, dirty, agg, "__a_", "left_anti")
        agg.withColumn("op", lit("U"))
          .unionByName(gone.withColumn("op", lit("D")), allowMissingColumns = true)
      }
    // lsn = source head version: monotone across syncs and unique per group
    // within one sync, so LWW keeps rollup rows converging even if windows
    // are replayed or applied out of order across writers
    dst.merge(events.withColumn("lsn", lit(head)), epoch = head, writerId = writerId)
  }

  /** Incremental refresh for PURELY ADDITIVE rollups (SUM-shaped
    * aggregates, row count included) — the classic incremental-view-
    * maintenance shape: per-group deltas diff the table's RESOLVED states
    * at head vs at the watermark snapshot for the window's changed keys
    * (state-diff, not window winners — so a late-redelivered lower-lsn
    * change that loses to the watermark state under LWW contributes
    * nothing), then add onto the destination's current values. NO
    * live-table scan on ANY layout: both state reads are pruned to the
    * buckets the changed keys hash to (O(changed buckets)) and the
    * destination read to the
    * buckets the delta groups hash to (O(dirty dst buckets)) — this is the
    * scale escape for rollups whose source layout is not group-aligned,
    * where [[sync]]'s general recompute must scan the full table.
    *
    * `sums` are `(name, rowExpr)` pairs, each maintaining
    * `SUM(rowExpr)` per group (a conditional count is
    * `when(cond, 1).otherwise(0)`); a row count is always maintained as
    * `n_live` (it also drives vanish detection: a group whose count
    * reaches zero is deleted from the rollup — and resurrection restarts
    * it from zero, matching live state). Group columns may be non-key and
    * MUTATING — deltas see both sides of a move by construction. Same
    * watermark/epoch-lineage contract as [[sync]], including the sharp
    * error when the watermark snapshot was expired — plus a commit-time
    * compare-and-set on the writer's lineage (deltas are not idempotent,
    * so an overlapping concurrent refresher aborts with
    * [[LakeTable.ConcurrentRefreshException]] instead of double-counting;
    * recompute from the new watermark and re-run).
    *
    * EXACTNESS: integer/decimal sums are exact. Floating-point sums drift
    * from a from-scratch recompute by accumulation order and cancellation
    * (standard IVM caveat) — prefer integer or decimal measures for
    * rollups that must hash-match an oracle.
    */
  def syncAdditive(src: LakeTable, dst: LakeTable,
      sums: Seq[(String, Column)],
      writerId: String = "rollup",
      toVersion: Option[Long] = None): LakeTable.MergeStats = {
    require(sums.nonEmpty, "additive rollup needs at least one (name, expr) sum")
    val names = sums.map(_._1)
    require(names.distinct == names && !names.contains("n_live"),
      s"sum names must be distinct and not shadow n_live: $names")
    val groupCols = dst.keyCols
    val head = toVersion.getOrElse(src.currentSnapshot().version)
    val since = dst.currentSnapshot().lastEpochFor(writerId)
    if (head <= since)
      return LakeTable.MergeStats(head, skipped = true, 0, 0, 0, 0, 0,
        dst.currentSnapshot().rows, 1.0)
    val measures = sums :+ ("n_live", lit(1L))
    def aggTo(df: DataFrame, pfx: String): DataFrame =
      df.groupBy(groupCols.map(col): _*)
        .agg(sum(measures.head._2).as(pfx + measures.head._1),
          measures.tail.map { case (n, e) => sum(e).as(pfx + n) }: _*)
    val events =
      if (since < 0L) {
        val live = toVersion.map(src.readVersion).getOrElse(src.read())
        aggTo(live, "").withColumn("op", lit("U"))
      } else {
        val window = src.readChangesBetween(since, head)
        val changedKeys = window.select(src.keyCols.map(col): _*).distinct()
        val bs = src.bucketsFor(changedKeys)
        // deltas diff the table's RESOLVED states at head vs watermark for
        // the changed keys — NOT the window's own winners: under LWW a
        // late-redelivered lower-lsn change in the window LOSES to the
        // watermark state and must contribute nothing (the same
        // window-winner trap readChangesForKeys documents). Both reads are
        // pruned to the changed keys' buckets.
        val post = src.readVersionBuckets(head, bs)
          .join(changedKeys, src.keyCols, "left_semi")
        val pre = watermarkRead(src, since, bs, dst.root)
          .join(changedKeys, src.keyCols, "left_semi")
        val plus = aggTo(post, "p_")
        val minus = aggTo(pre, "m_")
        // full-outer on the group (null-safe; right side renamed): delta =
        // window contribution minus watermark contribution per group —
        // groups only inserted into have no minus row, groups only left
        // have no plus row, and a matched group's values are equal so
        // either side's group tuple works
        val mR = minus.select((groupCols.map(c => col(c).as("__m_" + c)) ++
          measures.map { case (n, _) => col("m_" + n) }): _*)
        // missing-side fallbacks are CAST to each measure's resolved sum
        // type, so the exactness contract (integer/decimal sums exact) is
        // structural rather than riding on coalesce's implicit type
        // coercion (a decimal measure must never detour through an int 0)
        val zeroOf: Map[String, Column] = measures.map { case (n, _) =>
          n -> lit(0).cast(plus.schema("p_" + n).dataType)
        }.toMap
        val delta = plus.join(mR,
            groupCols.map(c => col(c) <=> col("__m_" + c)).reduce(_ && _),
            "full_outer")
          .select((groupCols.map(c => coalesce(col(c), col("__m_" + c)).as(c)) ++
            measures.map { case (n, _) =>
              (coalesce(col("p_" + n), zeroOf(n)) - coalesce(col("m_" + n), zeroOf(n)))
                .as("d_" + n)
            }): _*)
        // current rollup values for the delta groups — dst is keyed (and so
        // distributed) by the group columns, so this read is pruned to the
        // dirty groups' own buckets
        val cur = dst.readBuckets(dst.bucketsFor(delta.select(groupCols.map(col): _*)))
        val cR = cur.select((groupCols.map(c => col(c).as("__c_" + c)) ++
          measures.map { case (n, _) => col(n).as("c_" + n) }): _*)
        val next = delta.join(cR,
            groupCols.map(c => col(c) <=> col("__c_" + c)).reduce(_ && _),
            "left_outer")
          .select((groupCols.map(col) ++ measures.map { case (n, _) =>
            // fold in the stored sum type: decimal +/- widens precision
            // transiently (sum(18,3)=28,3; c+(p−m) would be 30,3 and creep
            // +2 per epoch into the schema-evolution guard), and the true
            // folded value always fits the stored type whenever the
            // from-scratch sum does — so the cast is lossless by contract
            (coalesce(col("c_" + n), lit(0).cast(cur.schema(n).dataType))
              + col("d_" + n)).cast(cur.schema(n).dataType).as(n)
          }): _*)
        next.withColumn("op",
          when(col("n_live") === 0L, lit("D")).otherwise(lit("U")))
      }
    // deltas are NOT idempotent at the data level: the epoch CAS makes a
    // racing refresher abort (ConcurrentRefreshException) instead of
    // double-counting an overlapping window
    dst.merge(events.withColumn("lsn", lit(head)), epoch = head, writerId = writerId,
      expectPrevEpoch = if (since >= 0L) Some(since) else None)
  }

  /** Pre-images of `window`'s changed keys at the watermark snapshot
    * `since` — a time-travel read pruned to the buckets the keys hash to
    * (keys always carry the distribution columns), O(changed buckets).
    * Fails sharply when the watermark snapshot was expired, naming the
    * retention remedy.
    */
  private def preImages(src: LakeTable, window: DataFrame, since: Long,
      dstRoot: String): DataFrame = {
    val changedKeys = window.select(src.keyCols.map(col): _*).distinct()
    watermarkRead(src, since, src.bucketsFor(changedKeys), dstRoot)
      .join(changedKeys, src.keyCols, "left_semi")
  }

  /** Bucket-pruned time-travel read at the watermark snapshot, failing
    * sharply (with the retention remedy named) when it was expired.
    */
  private def watermarkRead(src: LakeTable, since: Long, buckets: Set[Int],
      dstRoot: String): DataFrame =
    try src.readVersionBuckets(since, buckets)
    catch {
      case e: IllegalArgumentException => throw new IllegalStateException(
        s"rollup refresh of $dstRoot: watermark snapshot $since " +
          s"of ${src.root} is no longer readable — the incremental " +
          "refresh needs the previous cut's pre-images. Retain source " +
          "snapshots past the sync cadence (expireSnapshots keep count, " +
          "or tag the watermark version), or re-bootstrap the rollup " +
          "into a fresh table", e)
    }

  /** Null-safe (<=>) group join with the right side's group columns
    * renamed under `pfx`, so conditions resolve unambiguously against
    * shared-lineage plans and null group values scope like any other.
    */
  private def nullSafe(groupCols: Seq[String], left: DataFrame,
      right: DataFrame, pfx: String, how: String): DataFrame = {
    val r = right.select(groupCols.map(c => col(c).as(pfx + c)): _*)
    left.join(r, groupCols.map(c => col(c) <=> col(pfx + c))
      .reduce(_ && _), how)
  }

  /** The standard per-conversation rollup for the transcript model
    * ([[graft.core.Model.Turn]]): turn count, character volume, tool-call
    * count, and the latest turn timestamp. Used by the LakeMaint `rollup`
    * command; any other aggregate set goes through [[sync]] directly.
    */
  def transcriptAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_turns"),
    sum(length(col("text"))).as("n_chars"),
    count(col("tool")).as("n_tool_calls"),
    max(col("ts")).as("last_ts"))

  /** The additive subset of [[transcriptAggs]] as (name, per-row expr)
    * pairs for [[syncAdditive]] (which also maintains `n_live`, subsuming
    * n_turns; `last_ts` is NOT additive — a max cannot retract on delete —
    * so the additive rollup drops it). Used by LakeMaint `rollupadd`.
    */
  def transcriptSums: Seq[(String, Column)] = Seq(
    "n_chars" -> coalesce(length(col("text")).cast("long"), lit(0L)),
    "n_tool_calls" -> when(col("tool").isNotNull, 1L).otherwise(0L))
}
