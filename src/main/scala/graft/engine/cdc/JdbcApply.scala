package graft.engine.cdc

import org.apache.spark.sql.functions.col

import graft.engine.JdbcExec
import graft.lake.LakeTable

/** Incremental lake→live-database catch-up: mirror a lake table's LWW state
  * into an RDBMS, shipping only the keys the source changed since the last
  * sync — the versionless-target counterpart of [[graft.lake.Replicate]].
  *
  * Soundness under reorder: the emission is NOT the change window's own
  * winners (a window resolves LWW only WITHIN itself, so an at-least-once
  * source re-delivering an older change in a later window would regress a
  * versionless target) but the table's CURRENT winner for every touched key
  * ([[LakeTable.readChangesForKeys]]) — current winners only move forward in
  * `_lsn`, so re-applying them is idempotent and monotone. This is why a log
  * with duplicates or cross-epoch reordering should land in the LAKE first
  * and mirror out through this sync (or a [[CdcPipeline.JdbcFollower]]),
  * while the direct [[CdcPipeline.startJdbc]] apply is for logs whose epoch
  * order already follows lsn order.
  *
  * Watermark = the target-side epoch ledger ([[JdbcExec.maxEpoch]] under
  * `dest.writerId`, epochs = source snapshot versions). A crash between the
  * data apply and the ledger record replays a SUPERSET window next sync —
  * idempotent by the argument above. Cost per sync: O(changes in the window)
  * to find touched keys + O(buckets containing them) to resolve winners.
  *
  * Operational notes: keep `dest.writerId` distinct per consumer of one
  * ledger table (a [[CdcPipeline.startJdbc]] stream records micro-batch
  * epochs, this sync records source VERSIONS — crossing them would skip
  * work). Additive schema evolution on the SOURCE surfaces here as a new
  * payload column: with `dest.target.columns` unset the next sync fails sharp at
  * the target's INSERT (unknown column) — ALTER the target, or pin
  * `dest.target.columns` to the pre-evolution list to keep mirroring the old shape.
  */
object JdbcApply {

  final case class Stats(sourceVersion: Long, skipped: Boolean,
      upserts: Long, deletes: Long)

  /** Sync `dest` with all source commits past the ledger watermark; a fresh
    * target bootstraps from the full resolved state (tombstones included).
    */
  def sync(src: LakeTable, dest: CdcPipeline.JdbcDest): Stats = {
    val t = dest.target
    require(t.keys.nonEmpty,
      "JdbcDest.target.keys must be resolved — the mirror dedupes and deletes by key")
    val cur = src.currentSnapshot().version
    val last =
      try JdbcExec.maxEpoch(t.url, t.props, dest.ledgerTable, dest.writerId)
      catch {
        case _: java.sql.SQLException => // first sync: no ledger table yet
          JdbcExec.ensureLedger(t.url, t.props, dest.ledgerTable)
          -1L
      }
    if (cur <= last) return Stats(cur, skipped = true, 0L, 0L)
    val changes =
      (if (last < 0) src.readChangesBootstrap()
       else src.readChangesForKeys(
         src.readChangesBetween(last, cur).select(src.keyCols.map(col): _*)))
        .withColumnRenamed(LakeTable.OpCol, "op")
        .withColumnRenamed(LakeTable.LsnCol, "lsn")
    val (up, del) = JdbcExec.applyChanges(changes, t)
    JdbcExec.recordEpoch(t.url, t.props, dest.ledgerTable, dest.writerId, cur)
    Stats(cur, skipped = false, up, del)
  }
}
