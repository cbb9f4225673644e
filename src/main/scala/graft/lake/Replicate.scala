package graft.lake

import org.apache.spark.sql.functions._

/** Lake→lake incremental replication: ship ONLY the change window between
  * the source versions the destination has already applied and the current
  * source head — the downstream half of a CDC fan-out (one ingest cluster
  * feeding N consumer tables/regions).
  *
  * The replication watermark needs no side-channel state: the destination's
  * per-writer epoch lineage IS the watermark. Each sync merges the change
  * set under `writerId` with `epoch = source snapshot version`; the next
  * sync reads `dst.lastEpochFor(writerId)` to know exactly where it left
  * off. Crash/replay safety falls out of the same guard that makes CDC
  * epochs exactly-once: re-running a sync of an already-applied source
  * version is skipped, and a sync that loses a commit race to the
  * destination's own writers rebases like any other merge.
  *
  * Cost per sync is O(changes in the window) — `readChangesSince` scans the
  * delta files the window's commits added, never the whole table — and the
  * merge is the same single-exchange LWW apply as ingest. Deletes propagate
  * as tombstone rows (`_op` = "D"); LWW by the ORIGINAL `_lsn` means
  * replicating overlapping windows, or windows out of order across
  * destinations, still converges to the source state.
  */
object Replicate {

  /** Continuous committed tail: poll-loop [[sync]] until `idleRounds`
    * consecutive polls find the destination already caught up, then return
    * the total rows applied. This is the push-consumer shape that tracks
    * the COMMITTED head exactly — unlike the file-tail
    * [[LakeTable#readStreamChanges]], versions undone by a rollback and
    * uncommitted-publish orphans are never applied, because every window
    * comes from manifests ([[LakeTable#readChangesBetween]] semantics).
    * Crash-resume for free: the watermark is the destination's epoch
    * lineage, so a restarted follow continues where the last one left off.
    */
  def follow(src: LakeTable, dst: LakeTable, writerId: String = "replication",
      pollMillis: Long = 1000L, idleRounds: Int = 3): Long = {
    require(idleRounds > 0, s"idleRounds=$idleRounds must be positive")
    var applied = 0L
    var idle = 0
    while (idle < idleRounds) {
      val st = sync(src, dst, writerId)
      if (st.skipped) {
        idle += 1
        if (idle < idleRounds) Thread.sleep(pollMillis)
      } else {
        idle = 0
        applied += st.rowsApplied
      }
    }
    applied
  }

  /** Sync `dst` with all source commits since the last replicated version.
    * Returns the merge stats (`skipped = true` when already up to date).
    */
  def sync(src: LakeTable, dst: LakeTable,
      writerId: String = "replication"): LakeTable.MergeStats = {
    require(src.keyCols == dst.keyCols,
      s"key mismatch: src=${src.keyCols.mkString(",")} dst=${dst.keyCols.mkString(",")}")
    val srcVersion = src.currentSnapshot().version
    val since = dst.currentSnapshot().lastEpochFor(writerId)
    if (srcVersion <= since)
      return LakeTable.MergeStats(srcVersion, skipped = true, 0, 0, 0, 0, 0,
        dst.currentSnapshot().rows, 1.0)
    // a FRESH destination bootstraps from the source's CURRENT resolved
    // state (tombstones included) instead of replaying every historical
    // window: O(table) not O(history), and immune to [[LakeTable#vacuum]]
    // having reclaimed old delta files — current-snapshot files exist by
    // definition. Incremental syncs (since >= 0) read change windows under
    // the documented vacuum-retention contract.
    val changes = (if (since < 0) src.readChangesBootstrap() else src.readChangesSince(since))
      .withColumnRenamed(LakeTable.OpCol, "op")
      .withColumnRenamed(LakeTable.LsnCol, "lsn")
    dst.merge(changes, epoch = srcVersion, writerId = writerId)
  }
}
