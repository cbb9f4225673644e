package graft.engine.cdc

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, sum, when, xxhash64}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.{LocalFs, Model}
import graft.engine.JdbcExec
import graft.lake.LakeTable
import graft.sources.CdcEnvelope

/** The north-rule flagship: tail a binlog/WAL-shaped change-event log and
  * MERGE-apply it into the snapshot-committed transcript lake table.
  *
  * Replaces go-datax's reader→bounded-channel→writer task-group model
  * (`core/task/taskgroupcontainer.go:39-239`) with Structured Streaming
  * micro-batches: the file source's `maxFilesPerTrigger` plays the role of
  * the bounded channel (backpressure), `foreachBatch`'s epoch id plays the
  * role of the idempotent load label (`starrocks_writer.go:878-892`), and
  * the checkpoint directory carries per-partition offset lineage so the job
  * resumes exactly where it stopped — a replayed epoch after restart is
  * detected by the lake's commit log and skipped (exactly-once end state).
  *
  * Scale notes: the only shuffles per micro-batch are (1) the LWW dedupe
  * window keyed by the FULL key `(conv_id, turn_idx)` — fine-grained, so a
  * hot conversation spreads over its turns rather than hot-spotting one
  * task (this is the salted-repartition: turn_idx acts as the salt within a
  * conversation, while bucket pruning on the table side stays intact because
  * dedupe never changes the key), and (2) the full-outer merge join keyed the
  * same way. Both are batch-sized, never table-sized; the table side is
  * bucket-pruned (see [[graft.lake.LakeTable]]).
  */
object CdcPipeline {

  /** passthrough column carrying the verbatim envelope line to the DLQ */
  private val RawCol = "_raw_envelope"

  /** A downstream lake table co-maintained WITH the stream: after every
    * committed ingest epoch the follower syncs from the source's change
    * log, inside the same `foreachBatch` — so follower lag is bounded by
    * one micro-batch and a periodic source vacuum can never reclaim a
    * delta window the follower still needs (syncs run before the vacuum
    * step each epoch). Exactly-once falls out of the follower machinery
    * itself: [[graft.lake.Replicate.sync]]/[[graft.lake.Rollup.sync]]
    * watermark on the DESTINATION's per-writer epoch lineage, so an epoch
    * replayed after a crash re-syncs as a no-op.
    *
    * Scale shape: each sync is O(changes in the window) for a replica and
    * O(dirty buckets) for a layout-aligned rollup — batch-sized, never
    * table-sized — but it serializes with ingest inside the micro-batch.
    * When follower freshness may lag ingest instead, run
    * [[graft.lake.Replicate.follow]] (or `lakereader` jobs on a schedule)
    * out-of-band against the same tables; the watermark semantics are
    * identical.
    */
  sealed trait Follower
  /** full-fidelity replica: `dst` converges to the source's LWW state
    * (deletes included) after every epoch
    */
  final case class ReplicaFollower(dst: LakeTable,
      writerId: String = "replication") extends Follower
  /** incrementally-maintained rollup: `dst.keyCols` are the group columns,
    * `aggs` the named aggregate expressions (see [[graft.lake.Rollup.sync]])
    */
  final case class RollupFollower(dst: LakeTable,
      aggs: Seq[org.apache.spark.sql.Column],
      writerId: String = "rollup") extends Follower
  /** additive rollup: `sums` are (name, per-row expr) pairs whose SUM is
    * maintained per group with NO live-table scan on any layout — plus an
    * implicit `n_live` row count ([[graft.lake.Rollup.syncAdditive]])
    */
  final case class AdditiveRollupFollower(dst: LakeTable,
      sums: Seq[(String, org.apache.spark.sql.Column)],
      writerId: String = "rollup") extends Follower
  /** live-database mirror co-maintained per epoch via [[JdbcApply.sync]] —
    * sound under arbitrary log reorder/duplication because the lake
    * arbitrates by `_lsn` first and the mirror ships CURRENT winners
    */
  final case class JdbcFollower(dest: JdbcDest) extends Follower
  /** outbound envelope feed maintained per epoch via [[CdcFeed.sync]]: every
    * committed ingest window is re-published as Debezium/Canal/Maxwell JSONL
    * under `dir` for downstream consumers to tail — the broker-less outbox.
    * `keyCols` are required for debezium (delete `before` images).
    */
  final case class FeedFollower(dir: String, format: String,
      keyCols: Seq[String] = Nil) extends Follower
  /** SCD Type-2 history table co-maintained per epoch via
    * [[graft.lake.Scd2.sync]]: one row per (key, epoch that touched it)
    * with `[vf_lsn, vt_lsn)` validity bounds — the audit/warehouse shape.
    * `dst` must carry the [[graft.lake.Scd2.createDst]] layout.
    */
  final case class Scd2Follower(dst: LakeTable,
      writerId: String = "scd2") extends Follower

  final case class CdcConfig(
      logDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 4,
      availableNow: Boolean = true,
      toolColumn: Boolean = true,
      /** remove snapshot-unreferenced data files every N epochs (0 = never).
        * Old-version files exist for snapshot isolation of concurrent
        * readers; a retention of a few epochs is the streaming-ingest
        * default (Iceberg's expire-snapshots analog).
        */
      vacuumEvery: Int = 0,
      /** snapshot versions whose delta files periodic vacuum keeps for
        * lagging incremental consumers (readChangesSince / Replicate)
        */
      vacuumRetainVersions: Int = 8,
      /** GC tombstones every N epochs (0 = never): rewrites only the
        * buckets holding expirable tombstones
        * ([[graft.lake.LakeTable.expireTombstones]]). Without it a
        * delete-heavy 10^10-event stream accumulates tombstone rows
        * forever — they survive compaction BY DESIGN (late re-delivered
        * older duplicates must stay shadowed), so bounding them is a
        * policy decision, not a compaction side effect.
        */
      expireTombstonesEvery: Int = 0,
      /** the re-delivery horizon: tombstones within `retainLsns` of the
        * table's max applied lsn are kept. Must exceed the source's
        * worst-case duplicate lag (how far back the log can re-send an
        * already-applied change) — an expired tombstone cannot shadow a
        * duplicate OLDER than itself arriving later.
        */
      tombstoneRetainLsns: Long = 0L,
      /** epoch-lineage scope in the lake's commit log. Distinct ids let
        * INDEPENDENT streams (own log + own checkpoint) merge into ONE
        * table without deduping each other's epochs; replays within a
        * stream stay exactly-once. Matches the writer's checkpoint — one
        * checkpoint dir, one writerId.
        */
      writerId: String = LakeTable.DefaultWriter,
      /** wire format of the tailed log: `parquet` (canonical change events),
        * or a JSONL envelope format — `debezium`, `canal`, `maxwell`
        * (decoded per-microbatch by [[graft.sources.CdcEnvelope]]; the
        * decode is a narrow map inside the scan stage, so backpressure and
        * offset lineage behave exactly as in the parquet path).
        */
      format: String = "parquet",
      /** dead-letter dir for envelope formats: malformed lines (null lsn
        * after decode) are kept here verbatim as `epoch=<n>/` text files
        * (on a routed tail: unroutable lines in `epoch=<n>/`, a route's
        * dirty lines in `epoch=<n>-<route>/`) — the reference's
        * dirty-record collection (go-datax error limiter keeps dirty
        * records + messages) — instead of being silently dropped. Every
        * tail (lake, routed, JDBC) keeps one AT-LEAST-ONCE rule: an
        * epoch's dirty lines are written after its apply commits, only
        * when there are any, and a replayed epoch whose apply the lineage
        * or ledger skips probes and re-writes them (overwrite, so never
        * duplicated) — a crash between the commit and the write loses
        * nothing. None ⇒ drop-only policy.
        */
      dlqDir: Option[String] = None,
      /** TIME-based flush threshold for a continuous (availableNow=false)
        * tail: micro-batches fire on this interval (e.g. "300 seconds" —
        * the starrocks/doris writers' third flush dimension,
        * `starrocks_writer.go:27-31` flushInterval default 300 s, alongside
        * rows/bytes). None ⇒ Spark's as-fast-as-possible default trigger.
        */
      triggerInterval: Option[String] = None,
      /** downstream tables co-maintained per epoch (replicas / rollups);
        * see [[Follower]] for the freshness/cost trade
        */
      followers: Seq[Follower] = Nil,
      /** payload columns of the tailed change events (everything but
        * `op`/`lsn`). None ⇒ the transcript shape ([[Model.changeEventSchema]],
        * honoring [[toolColumn]]); set it to tail a log of any other table
        * shape — the `cdcreader` JSON surface exposes it as named, typed
        * `column` specs like the reference's readers.
        */
      payloadSchema: Option[StructType] = None,
      /** single-table consumption of a MULTI-TABLE envelope stream: a real
        * binlog/WAL tail interleaves every table's changes, and decoding a
        * foreign table's envelope against this table's payload schema
        * would quietly null-fill its columns (or worse, alias same-named
        * ones) — so with a filter set (`"db.table"` or `"table"`,
        * [[graft.sources.CdcEnvelope.tableMatches]]), only matching lines
        * reach the decoder. Lines WITHOUT table metadata are kept (a
        * single-table feed synthesized without stamping stays consumable);
        * malformed lines still decode to null lsn and divert to the DLQ.
        * Envelope formats only. For N destinations out of one stream, see
        * [[startRouted]].
        */
      tableFilter: Option[String] = None,
      /** [[startRouted]] only: max routes whose merges overlap within one
        * epoch (each is an independent table/lineage; Spark runs actions
        * submitted from multiple threads concurrently). 1 = sequential.
        * Epoch latency tends to max(route) instead of sum(route) — size it
        * so the overlapped merges' shuffles fit the cluster, not at the
        * route count.
        */
      routeParallelism: Int = 1,
      /** auto-pin a snapshot TAG every N epochs (0 = never): right after
        * the epoch's merge + follower syncs, the head is tagged
        * `<tagPrefix><writerId>-<epoch>` ([[graft.lake.LakeTable.tag]];
        * writer-scoped so concurrent streams' rings and hand-made tags
        * never collide) — durable restore/reproducibility points on the
        * stream DEEPER than the vacuum window (the tag lands before the
        * same epoch's vacuum/tombstone-GC steps, so the pinned cut is
        * never the one being swept). Bounded by [[tagKeep]] — a ring of
        * pins, not a leak.
        */
      tagEvery: Int = 0,
      tagPrefix: String = "epoch-",
      /** newest auto-tags retained (same prefix, numeric suffix); older
        * ones are dropped as each new pin lands
        */
      tagKeep: Int = 8)

  /** The tailed log's full change-event schema: `op`/`lsn` + payload. */
  private def eventSchema(cfg: CdcConfig): StructType =
    cfg.payloadSchema match {
      case Some(ps) => StructType(StructField("op", StringType, nullable = false) +:
        StructField("lsn", LongType, nullable = false) +: ps.fields)
      case None =>
        if (cfg.toolColumn) Model.changeEventSchema else Model.changeEventSchemaV1
    }

  /** One epoch's follower syncs. Runs BEFORE the vacuum step so a reclaimed
    * delta window can never be one a follower still needs (lag stays ≤ 1
    * epoch).
    */
  private def syncFollowers(table: LakeTable, followers: Seq[Follower]): Unit =
    followers.foreach {
      case ReplicaFollower(dst, wid) => graft.lake.Replicate.sync(table, dst, wid)
      case RollupFollower(dst, aggs, wid) => graft.lake.Rollup.sync(table, dst, aggs, wid)
      case AdditiveRollupFollower(dst, sums, wid) =>
        graft.lake.Rollup.syncAdditive(table, dst, sums, wid)
      case JdbcFollower(dest) => JdbcApply.sync(table, dest)
      case FeedFollower(dir, format, keys) => CdcFeed.sync(table, dir, format, keys)
      case Scd2Follower(dst, wid) => graft.lake.Scd2.sync(table, dst, wid)
    }

  /** The [[CdcConfig.tagEvery]] cadence: pin `<tagPrefix><writerId>-<epoch>`
    * on the head, then drop ring tags beyond the newest [[CdcConfig.tagKeep]].
    * The ring is namespaced by WRITER (`<prefix><writerId>-<number>` exactly),
    * so the prune can never drop another stream's pins or a hand-made tag
    * that shares the prefix — tag names are a shared global namespace on
    * the table, and a stateless prune that pattern-matched the bare prefix
    * would reclaim files other owners still rely on.
    *
    * Tagging is gated on the epoch's merge having APPLIED: a lineage-skipped
    * replay (lost checkpoint re-reading the log from batch 0) must NOT
    * re-point historic pins at the caught-up head — that would silently
    * move every restore point to the same state and expose the formerly
    * pinned files to the very vacuum cadence the ring rides with. The one
    * skipped shape that does re-tag is `lastEpochFor(writerId) == epoch`
    * (a crash between the merge commit and the checkpoint): the head IS
    * this epoch's state, so the re-point is the idempotent completion of
    * the interrupted cadence step.
    */
  private def autoTag(table: LakeTable, cfg: CdcConfig, writerId: String,
      epoch: Long, merged: LakeTable.MergeStats): Unit =
    if (cfg.tagEvery > 0 && epoch > 0 && epoch % cfg.tagEvery == 0 &&
        (!merged.skipped ||
          table.currentSnapshot().lastEpochFor(writerId) == epoch)) {
      val ring = s"${cfg.tagPrefix}$writerId-"
      table.tag(s"$ring$epoch", replace = true)
      table.tags().keys
        .filter(_.startsWith(ring))
        .flatMap(n => scala.util.Try(n.stripPrefix(ring).toLong)
          .toOption.map(e => (n, e)))
        .toSeq.sortBy(-_._2).drop(math.max(1, cfg.tagKeep))
        .foreach { case (n, _) => table.dropTag(n) }
    }

  /** [[CdcConfig.tagEvery]] plan-time guard: every ring-tag name component
    * must satisfy [[graft.lake.LakeTable.tag]]'s name rule NOW — inside
    * foreachBatch the same require would fail the cadence epoch and the
    * deterministic failure would replay forever.
    */
  private def validateRing(cfg: CdcConfig, writerIds: Seq[String]): Unit =
    if (cfg.tagEvery > 0) (cfg.tagPrefix +: writerIds).foreach { s =>
      require(LakeTable.tagSafe(s),
        s"auto-tag ring: '$s' must be [A-Za-z0-9._-]* — tagPrefix and " +
          "writerId become part of tag ref file names")
    }

  /** `df` counting its `isDirty` rows into `obs`: the count rides the first
    * job over the returned plan (or over a cache of it), never a job of its own.
    */
  private def observeDirty(df: DataFrame, isDirty: Column, obs: Observation): DataFrame =
    df.observe(obs, sum(when(isDirty, 1L).otherwise(0L)).as("dirty"))

  /** THE dead-letter rule of every tail, run after the epoch's apply.
    * `obs` holds the dirty count ([[observeDirty]]); `jobRan` says whether
    * the apply ran a job over the observed plan (a lineage- or ledger-skipped
    * replay runs none, and `obs.get` would block forever). A count above 0
    * writes `lines` (one verbatim envelope per row) to `path`; 0 writes
    * nothing. No count — nothing ran, or the job ran no task over the input
    * — proves nothing, so the lines are probed and written if there are any:
    * that restores what a crash between the commit and the write lost.
    * Overwrite ⇒ a replayed epoch rewrites the same lines, never duplicates.
    */
  private def deadLetter(obs: Observation, jobRan: Boolean, lines: DataFrame,
      path: String): Unit = {
    // a null sum (tasks ran, no row observed) counts as 0
    val observed = (if (jobRan) obs.get.get("dirty") else None).map {
      case n: java.lang.Number => n.longValue
      case _ => 0L
    }
    if (observed.fold(!lines.isEmpty)(_ > 0)) lines.write.mode("overwrite").text(path)
  }

  /** Run `apply` on an epoch's decoded `events` under [[deadLetter]]'s rule.
    * With `dlq` (the epoch's dead-letter path) set the events still hold the
    * dirty, null-lsn rows, whose verbatim line rides in [[RawCol]]: `apply`
    * gets the clean rows with the dirty count riding its job, and `ran`
    * says whether it ran one. Without `dlq` the events are clean already.
    */
  private def applyDeadLettered[T](events: DataFrame, dlq: Option[String])(
      apply: DataFrame => T)(ran: T => Boolean): T = dlq match {
    case None => apply(events)
    case Some(path) =>
      val obs = Observation()
      val out = apply(observeDirty(events, col("lsn").isNull, obs)
        .filter(col("lsn").isNotNull).drop(RawCol))
      deadLetter(obs, ran(out), events.filter(col("lsn").isNull).select(RawCol), path)
      out
  }

  /** ONE destination's epoch, shared by [[start]] and every route of
    * [[startRouted]]: the MERGE, then the follower syncs, the auto-tag
    * cadence, tombstone GC and vacuum — in that order (followers before
    * vacuum so a reclaimed delta window is never one a follower still
    * needs; the tag before the sweeps so the pinned cut is never the one
    * being swept; tombstone GC before vacuum so the rewrite's orphaned
    * inputs go in the same sweep).
    *
    * `events` are the epoch's change events, dead-lettered to `dlq` by
    * [[applyDeadLettered]] (the dirty count rides the merge's write job).
    * Returns the merge's stats.
    */
  private def applyEpoch(cfg: CdcConfig, dest: LakeTable, writerId: String,
      followers: Seq[Follower], events: DataFrame, epoch: Long,
      dlq: Option[String]): LakeTable.MergeStats = {
    val merged =
      applyDeadLettered(events, dlq)(dest.merge(_, epoch, writerId))(!_.skipped)
    syncFollowers(dest, followers)
    autoTag(dest, cfg, writerId, epoch, merged)
    // a tombstone-GC commit conflict (another writerId's stream won the
    // version) must not kill THIS stream — expireTombstones has no rebase
    // (by design: a maintenance rewrite of a stale file list), so skip and
    // let the next cadence retry. Tables under one routed subscription
    // share a source, so one re-delivery horizon is the honest shape.
    if (cfg.expireTombstonesEvery > 0 && epoch > 0 &&
        epoch % cfg.expireTombstonesEvery == 0) {
      val maxLsn = dest.currentSnapshot().maxLsn
      if (maxLsn >= 0)
        try dest.expireTombstones(maxLsn - cfg.tombstoneRetainLsns)
        catch {
          case e: LakeTable.CommitConflictException =>
            org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
              s"${dest.root}: tombstone GC at epoch $epoch lost a commit race " +
                s"(${e.getMessage}); retrying at the next cadence")
        }
    }
    if (cfg.vacuumEvery > 0 && epoch > 0 && epoch % cfg.vacuumEvery == 0)
      dest.vacuum(cfg.vacuumRetainVersions)
    merged
  }

  /** Start the streaming MERGE; caller awaits termination. */
  def start(spark: SparkSession, table: LakeTable, cfg: CdcConfig): StreamingQuery = {
    validateRing(cfg, Seq(cfg.writerId))
    startWith(spark, cfg, table.keyCols) { (events, epoch, dlq) =>
      applyEpoch(cfg, table, cfg.writerId, cfg.followers, events, epoch, dlq)
    }
  }

  /** One envelope format's decode: raw JSON-line column `value` →
    * canonical (op, lsn, payload...). Canal/maxwell get the destination's
    * key columns so key-changing updates fan out into tombstone+upsert
    * (debezium emits the pair natively). With `keepDirty` the null-lsn
    * rows stay and carry their verbatim line in [[RawCol]] (renamed up
    * front — a payload schema may legitimately contain a column named
    * `value`, the text source's default name); without it they are
    * dropped here.
    */
  private def decodeEnvelope(format: String, lines: DataFrame,
      payloadSchema: StructType,
      keyCols: Seq[String], keepDirty: Boolean): DataFrame = {
    val (df, passthrough) =
      if (keepDirty) (lines.withColumn(RawCol, col("value")), Seq(RawCol)) else (lines, Nil)
    val decoded = CdcEnvelope.decode(format, df, "value", payloadSchema, passthrough, keyCols)
    if (keepDirty) decoded else decoded.filter(col("lsn").isNotNull)
  }

  /** Run `body` on every micro-batch of `src` under the config's checkpoint
    * and trigger (AvailableNow, a processing-time interval, or Spark's
    * as-fast-as-possible default). The only stream sink in the engine.
    *
    * Session contract: `body` sees each micro-batch rebound to the session
    * that built `src`, so every merge, LWW and compaction job runs under
    * the caller's conf (AQE, shuffle partitions, time zone), not a
    * checkpoint's restored `spark.sql.shuffle.partitions` (harmless: the
    * merge partitions by the table's bucket count). The stream's own
    * cloned session misses Spark's generated-class cache, so the apply
    * path would re-compile at every stream start; here it compiles once
    * per JVM.
    */
  private def runBatches(src: DataFrame, cfg: CdcConfig)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    // before start(): the stream's cloned session copies the conf, so its
    // checkpoint logs are written spawn-free too
    LocalFs.install(src.sparkSession)
    val writer = src.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        body(SessionBridge.rebind(src.sparkSession, batch), epoch)
      }
    ((cfg.availableNow, cfg.triggerInterval) match {
      case (true, _) => writer.trigger(Trigger.AvailableNow())
      case (false, Some(interval)) => writer.trigger(Trigger.ProcessingTime(interval))
      case (false, None) => writer
    }).start()
  }

  /** Shared single-table harness: build the tail source (per
    * [[CdcConfig.format]]) and hand each micro-batch to `apply` with the
    * epoch and its dead-letter path — the lake step for [[start]], the
    * live-database apply for [[startJdbc]]. Envelope batches keep their
    * malformed (null-lsn) lines when a DLQ is configured (the path is then
    * set), and arrive clean otherwise. `keyCols` feed the canal/maxwell
    * decoders' key-changing-update fan-out.
    */
  private def startWith(spark: SparkSession, cfg: CdcConfig, keyCols: Seq[String])(
      apply: (DataFrame, Long, Option[String]) => Unit): StreamingQuery = {
    // fixed unified schema: chunks written before `tool` existed are
    // null-filled by the parquet reader (additive evolution on the source
    // side; the lake handles it on the sink side too for batch callers)
    val schema = eventSchema(cfg)
    val payloadSchema = StructType(schema.fields.filterNot(f => f.name == "op" || f.name == "lsn"))
    require(cfg.tableFilter.isEmpty || cfg.format != "parquet",
      "tableFilter reads envelope table metadata — parquet change logs " +
        "carry none (tail one log per table instead)")
    val src = cfg.format match {
      case "parquet" =>
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
          .parquet(cfg.logDir)
      case env if CdcEnvelope.Formats(env) =>
        // envelope tail: each line is one JSON envelope; keep it an opaque
        // string at the source and decode with an explicit schema so a
        // malformed line nulls out (PERMISSIVE from_json → null lsn)
        // instead of poisoning schema inference
        val raw = spark.readStream
          .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
          .text(cfg.logDir)
        // multi-table stream, single-table consumer: drop OTHER tables'
        // well-formed envelopes before the decode (they are valid changes,
        // not dirty records — never DLQ'd); metadata-less and malformed
        // lines pass through so compat and the DLQ policy are unchanged
        val scoped = cfg.tableFilter match {
          case Some(ref) =>
            val (_, tbl) = CdcEnvelope.tableRefs(env, col("value"))
            raw.filter(CdcEnvelope.tableMatches(env, col("value"), ref) || tbl.isNull)
          case None => raw
        }
        decodeEnvelope(env, scoped, payloadSchema, keyCols, cfg.dlqDir.isDefined)
      case other => throw new IllegalArgumentException(
        s"unsupported CDC log format '$other' (parquet|${CdcEnvelope.Formats.mkString("|")})")
    }
    val dlq = cfg.dlqDir.filter(_ => cfg.format != "parquet")
    runBatches(src, cfg) { (events, epoch) =>
      apply(events, epoch, dlq.map(d => s"$d/epoch=$epoch"))
    }
  }

  /** Run the full replay to completion (AvailableNow) and return the number
    * of committed epochs.
    */
  def replayAll(spark: SparkSession, table: LakeTable, cfg: CdcConfig): Long = {
    val q = start(spark, table, cfg.copy(availableNow = true))
    q.awaitTermination()
    table.currentSnapshot().lastEpochFor(cfg.writerId) + 1
  }

  /** One destination of a routed (multi-table) tail: envelopes whose table
    * metadata matches `table` ("db.table" or bare "table",
    * [[graft.sources.CdcEnvelope.tableMatches]]) decode against
    * `payloadSchema` and MERGE into `dest`.
    */
  final case class Route(table: String, dest: LakeTable,
      payloadSchema: StructType,
      writerId: String = LakeTable.DefaultWriter,
      /** downstream tables co-maintained per epoch for THIS destination —
        * replicas / rollups / mirrors / feeds / SCD2, the same machinery
        * as a single-table tail's [[CdcConfig.followers]]
        */
      followers: Seq[Follower] = Nil)

  /** The routed tail's plan rule over `(table ref, destination root,
    * writerId)` triples, checked by [[startRouted]] and by the job spec's
    * translate (before any destination is opened). Two routes may not claim
    * the same envelopes: exact duplicates aside, a BARE route ("orders")
    * matches its table under ANY database, so it overlaps every qualified
    * route of that table ("shop.orders"). And two routes may not share a
    * `(destination, writerId)` epoch lineage, or one would skip the
    * other's epochs.
    */
  def validateRoutes(routes: Seq[(String, String, String)]): Unit = {
    val overlap = routes.map(_._1).groupBy(CdcEnvelope.refTablePart).collect {
      case (t, ts) if ts.size > 1 && (ts.distinct.size < ts.size || ts.exists(!_.contains('.'))) => t
    }
    require(overlap.isEmpty,
      s"overlapping route table(s) on ${overlap.mkString(", ")} — a bare " +
        "table name matches any database, so it cannot coexist with " +
        "another route of the same table (qualify both as db.table), and " +
        "one destination per table (a second consumer is its own stream)")
    val destDup = routes.groupBy { case (_, root, writerId) => (root, writerId) }
      .collect { case (k, rs) if rs.size > 1 => k }
    require(destDup.isEmpty,
      s"routes share a (destination, writerId) lineage: ${destDup.mkString(", ")} — " +
        "two routes merging into one table need distinct writerIds")
  }

  /** DEMULTIPLEX one multi-table envelope tail into N lake tables — the
    * shape a real binlog/WAL subscription has (Canal and Maxwell publish
    * one stream per INSTANCE; Debezium Server's single-topic mode likewise),
    * where every table's changes arrive interleaved in one total order.
    *
    * Per micro-batch: the raw lines are staged once (persist), the table
    * name is extracted per line with a native JSON-path expression (no full
    * decode), and each route filters its own lines and decodes them against
    * its OWN payload schema before the same per-destination epoch step as a
    * single-table tail (merge, followers, auto-tag, tombstone GC, vacuum).
    * Lines of tables no route claims are skipped (valid changes for tables
    * this consumer doesn't maintain — the Debezium `table.include.list`
    * analog).
    *
    * DEAD LETTERS, the one rule of every tail ([[CdcConfig.dlqDir]]): lines
    * with no parseable table metadata are unroutable (a routed stream
    * REQUIRES table stamps — nothing else says which schema applies). Their
    * count rides the first route job, the one that builds the staged
    * batch's cache, and they land in `epoch=<n>/` after the routes, only
    * when there are any; when every route's merge was lineage-skipped they
    * are probed instead. A tabled line whose body fails to decode (missing
    * lsn, truncate/DDL envelope) is dirty for ITS route and lands in
    * `epoch=<n>-<route>/` after that route's merge commits. Both are
    * re-written when a replay finds the merges already committed.
    *
    * EXACTLY-ONCE per destination falls out of the same epoch-lineage
    * contract as everything else: each route's merge commits under its
    * destination's `(writerId, epoch)` lineage, so a crash BETWEEN routes
    * replays the epoch and the already-committed destinations skip it —
    * no cross-table transaction is needed because each table's end state
    * is independently idempotent. Destinations therefore must be DISTINCT
    * tables (or distinct writerIds on a shared table).
    *
    * Scale shape: R routes cost R narrow filter+decode passes over the
    * PERSISTED micro-batch (one storage read total) plus R batch-sized
    * merges; nothing is table-sized. The routes' merges run sequentially
    * inside the epoch unless [[CdcConfig.routeParallelism]] overlaps them —
    * at very large R, split the subscription into several routed streams
    * (own checkpoint each) rather than one giant route list.
    */
  def startRouted(spark: SparkSession, cfg: CdcConfig,
      routes: Seq[Route]): StreamingQuery = {
    require(routes.nonEmpty, "routed tail needs at least one route")
    validateRing(cfg, routes.map(_.writerId))
    require(cfg.format != "parquet",
      "routing reads envelope table metadata — parquet change logs carry " +
        "none (tail one log per table instead)")
    validateRoutes(routes.map(r => (r.table, r.dest.root, r.writerId)))

    val raw = spark.readStream
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .text(cfg.logDir)
    // one pool for the stream's lifetime (NOT per micro-batch — a
    // continuous tail would churn threads every epoch); daemon threads so
    // an abandoned query never blocks JVM exit
    lazy val routePool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(cfg.routeParallelism, routes.size),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-route-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    runBatches(raw, cfg) { (batch0, epoch) =>
      val (db, tbl) = CdcEnvelope.tableRefs(cfg.format, col("value"))
      val tabled = batch0.select(col("value"), db.as("_db"), tbl.as("_tbl"))
      val unroutable = Observation()
      // observed BEFORE the persist: the job that builds the cache reports it
      val batch = (if (cfg.dlqDir.isEmpty) tabled
                   else observeDirty(tabled, col("_tbl").isNull, unroutable)).persist()
      try {
        def applyOne(r: Route): LakeTable.MergeStats = {
          val lines = batch.filter(CdcEnvelope.refMatches(
            r.table, col("_db"), col("_tbl"))).select("value")
          applyEpoch(cfg, r.dest, r.writerId, r.followers,
            decodeEnvelope(cfg.format, lines, r.payloadSchema, r.dest.keyCols,
              keepDirty = cfg.dlqDir.isDefined),
            epoch, cfg.dlqDir.map(d => s"$d/epoch=$epoch-${r.table}"))
        }
        // the routes' merges are INDEPENDENT (distinct tables / lineages),
        // so they may overlap: with routeParallelism > 1 they run on a
        // bounded pool and epoch latency approaches max(route) instead of
        // sum(route) — Spark schedules concurrent actions from multiple
        // threads. Any route's failure fails the epoch (it replays; the
        // committed routes skip by lineage), preserving exactly-once.
        val merged =
          if (cfg.routeParallelism <= 1 || routes.size == 1) routes.map(applyOne)
          else {
            val ec = scala.concurrent.ExecutionContext.fromExecutor(routePool)
            val fs = routes.map(r => scala.concurrent.Future(applyOne(r))(ec))
            // await EVERY route before leaving the epoch — fail-fast
            // (Future.sequence) would let in-flight stragglers outlive a
            // failed epoch and race the restarted stream's replay of the
            // same (table, writerId, epoch); only after all settle is the
            // FIRST failure surfaced (it fails the epoch, which replays;
            // committed routes skip by lineage)
            fs.foreach(f => scala.concurrent.Await.ready(f,
              scala.concurrent.duration.Duration.Inf))
            fs.map(f => f.value.get.get)
          }
        cfg.dlqDir.foreach { dlq =>
          deadLetter(unroutable, jobRan = merged.exists(!_.skipped),
            batch.filter(col("_tbl").isNull).select("value"), s"$dlq/epoch=$epoch")
        }
      } finally { batch.unpersist(); () }
    }
  }

  /** Run a routed replay to completion (AvailableNow). */
  def replayAllRouted(spark: SparkSession, cfg: CdcConfig,
      routes: Seq[Route]): Unit = {
    startRouted(spark, cfg.copy(availableNow = true), routes).awaitTermination()
  }

  /** Initial-snapshot ONBOARDING (the Debezium snapshot-mode analog; the
    * reference's closest shape is a full-table batch job followed by
    * re-running it with a `where` watermark): seed the lake table with a
    * consistent full snapshot of the source, stamped `snapshotLsn`, as ONE
    * idempotent merge epoch under its own writer lineage — then start the
    * tail ([[start]]) as usual. This is how an EXISTING 100 TB table moves
    * onto the CDC pipeline: a massively parallel bulk read (the JSON
    * surface routes it through the same split machinery as any batch job,
    * splitPk range probe included) instead of replaying years of log.
    *
    * CONVERGENCE CONTRACT (why bootstrap + tail equals a full replay):
    *  - `snapshot` must be transactionally consistent at `snapshotLsn` L₀:
    *    it reflects exactly the changes with lsn ≤ L₀ (live rows only — a
    *    snapshot has no tombstones).
    *  - the tailed log must be a CONTIGUOUS tail of the change stream
    *    reaching back at least to L₀ (its first retained lsn s ≤ L₀ + 1)
    *    — i.e. no change after L₀ is missing. OVERLAP IS SAFE, any s:
    *    (a) a key the snapshot holds carries lsn L₀, outranking every
    *        overlapped change of that key (all ≤ L₀) by LWW; a tie AT L₀
    *        is payload-identical by the consistency premise (the snapshot
    *        row IS that change's after-image), so either winner reads the
    *        same;
    *    (b) a key the snapshot omits was deleted at some d ≤ L₀; an
    *        overlapped insert of that key has lsn i < d, and a contiguous
    *        window that retains lsn i retains every later lsn, so the
    *        delete d is in the window too and its tombstone outranks the
    *        insert — a truncated-START tail can never resurrect a deleted
    *        key (truncation only ever removes a PREFIX; the dangerous
    *        shape, insert retained but its later delete dropped, would
    *        need a hole in the middle).
    *  - the bootstrap epoch commits under `writerId`'s OWN lineage
    *    (epoch 0), so a crashed onboarding re-run skips the load
    *    (exactly-once) and never dedupes against the tail's epochs.
    *
    * `snapshot` carries payload columns only (no `op`/`lsn` — they are
    * stamped here). Returns the merge stats; `skipped = true` means the
    * bootstrap had already committed.
    *
    * WRITE PATH: one [[graft.lake.LakeTable.merge]]. On an empty table it
    * lands the load as ONE clustered base-file publish (merge's first
    * commit — no delta publish and compaction writing the data twice); on
    * a table that already holds rows its MOR read arbitrates the snapshot
    * against stored state.
    */
  def bootstrap(table: LakeTable, snapshot: DataFrame,
      snapshotLsn: Long, writerId: String = "bootstrap"): LakeTable.MergeStats = {
    require(!snapshot.columns.contains("op") && !snapshot.columns.contains("lsn"),
      "bootstrap snapshot must carry payload columns only — op/lsn are " +
        "stamped by the onboarding (op=I, lsn=snapshotLsn)")
    val evs = snapshot
      .withColumn("op", org.apache.spark.sql.functions.lit("I"))
      .withColumn("lsn", org.apache.spark.sql.functions.lit(snapshotLsn))
    table.merge(evs, epoch = 0L, writerId)
  }

  /** A LIVE DATABASE as the streaming destination — the reference's flagship
    * `mysql2mysql` incremental-sync shape (it approximates it by re-running a
    * batch job with a `where` watermark; graft tails the change log and
    * MERGE-applies). `target.keys` are the conflict columns: each
    * micro-batch is LWW-deduped on them (`lsn` desc) and applied as
    * key-ranged DELETEs (tombstones) plus upserts — the dialect's native
    * conflict form where one exists ([[graft.engine.Dialect.nativeUpsert]]),
    * a delete-then-insert pair inside the same transaction everywhere else.
    *
    * Exactly-once contract: epochs are recorded in `ledgerTable`
    * (`(writer_id, epoch)` PK) on the TARGET database after each applied
    * batch — a replayed epoch (restart with a rebuilt checkpoint) is skipped
    * whole. A crash BETWEEN the data apply and the ledger insert re-applies
    * that one epoch, which converges to the same end state because the
    * deduped apply is idempotent per key (same deletes, same upserted
    * values) — the exactly-once END-STATE guarantee, same as the lake's
    * epoch lineage. Cross-epoch lsn regressions (a LATER epoch delivering an
    * OLDER lsn for a key) apply in arrival order, exactly like the
    * reference's upsert writers; logs that can reorder across epochs should
    * land in a lake table (lsn-arbitrated) and fan out via followers.
    */
  final case class JdbcDest(
      /** the live table; its `keys` are the conflict/key columns (target
        * names), resolved by the caller ([[JdbcExec.requireKeys]])
        */
      target: JdbcExec.Target,
      writerId: String = "cdc",
      ledgerTable: String = "graft_cdc_epochs")

  /** Live handles on a [[startJdbc]] stream: the query plus driver-side
    * apply counters (upserted rows, delete statements, ledger-skipped
    * epochs).
    */
  final case class JdbcStream(query: StreamingQuery,
      upserts: java.util.concurrent.atomic.AtomicLong,
      deletes: java.util.concurrent.atomic.AtomicLong,
      skippedEpochs: java.util.concurrent.atomic.AtomicLong)

  /** Start the streaming apply into a live JDBC target; see [[JdbcDest]]. */
  def startJdbc(spark: SparkSession, cfg: CdcConfig, dest: JdbcDest): JdbcStream = {
    val t = dest.target
    require(t.keys.nonEmpty,
      "JdbcDest.target.keys must be resolved (onConflictColumn or target PK metadata) " +
        "— the CDC apply dedupes and deletes by key")
    val upserts = new java.util.concurrent.atomic.AtomicLong()
    val deletes = new java.util.concurrent.atomic.AtomicLong()
    val skipped = new java.util.concurrent.atomic.AtomicLong()
    // the target's keys name TARGET columns; the stream's rows carry PAYLOAD
    // names — map through the positional column list (applyChanges binds the
    // same way) so dedupe and the decoders' key fan-out see payload names
    val payloadNames = eventSchema(cfg).fieldNames.filterNot(n => n == "op" || n == "lsn").toSeq
    val targetCols = t.columnsOr(payloadNames)
    val payloadKeys = t.keys.map { k =>
      val i = targetCols.indexOf(k)
      require(i >= 0 && i < payloadNames.length,
        s"key column '$k' is not among the target columns (${targetCols.mkString(", ")})")
      payloadNames(i)
    }
    JdbcExec.ensureLedger(t.url, t.props, dest.ledgerTable)
    /** Apply one epoch unless the ledger already holds it; true if applied. */
    def applyBatch(batch: DataFrame, epoch: Long): Boolean =
      if (JdbcExec.epochApplied(t.url, t.props, dest.ledgerTable, dest.writerId, epoch)) {
        skipped.incrementAndGet()
        false
      } else {
        // per-epoch LWW dedupe on the key with the lake's kernel — one final
        // image per key reaches the target. The log contract gives unique
        // lsns per key within an epoch; the row-hash tie-break still picks
        // the same winner on every replay if a log breaks it
        val winners = LakeTable.lwwWinners(batch, payloadKeys,
          Seq(col("lsn").desc, xxhash64(batch.columns.toSeq.map(col): _*).desc))
        val (up, del) = JdbcExec.applyChanges(winners, t)
        upserts.addAndGet(up)
        deletes.addAndGet(del)
        // recorded AFTER the apply: a crash in between replays the epoch,
        // which is idempotent (see the exactly-once contract above)
        JdbcExec.recordEpoch(t.url, t.props, dest.ledgerTable, dest.writerId, epoch)
        true
      }
    // the dirty count rides applyChanges' one write job; the lines are
    // written after the apply and the ledger record
    val q = startWith(spark, cfg, payloadKeys) { (events, epoch, dlq) =>
      applyDeadLettered(events, dlq)(applyBatch(_, epoch))(identity)
    }
    JdbcStream(q, upserts, deletes, skipped)
  }
}
