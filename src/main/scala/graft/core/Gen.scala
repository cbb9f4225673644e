package graft.core

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.Model._

/** Deterministic, seed-splittable change-event / transcript generator.
  *
  * Spark-native analog of the reference's synthetic `streamreader`
  * (go-datax `plugins/reader/streamreader/stream_reader.go:150-249`, which
  * generates N slices x sliceRecordCount rows of fixed-or-random typed
  * columns). Here every event is a pure function of `(seed, i)` via a
  * splitmix64 mix, so any partition of `spark.range` regenerates identical
  * data regardless of parallelism — the property that lets us run the same
  * input at local[8] and local[32] for the scaling benchmark.
  *
  * Workload features injected for the CDC north-rule:
  *  - Zipf-ish hot conversations (conv = floor(nConvs^u), u uniform) so a few
  *    conv_ids dominate — exercises skew handling / salting.
  *  - Out-of-order delivery: lsn is a block-local permutation of arrival
  *    order (xor within 64-event blocks).
  *  - Duplicate delivery: every `dupEvery`-th event re-emits an earlier event
  *    verbatim (same lsn) — the at-least-once re-delivery the LWW dedupe and
  *    idempotent commits must absorb (reference conflict-replay tests,
  *    `test-data/config-conflict-duplicate-test.json`).
  *  - Deletes: `deletePct` of events are `D` with null payload.
  *  - Late schema: `tool` is only populated for lsn >= toolFromLsn, and the
  *    file-writer util below drops the column entirely for early chunks
  *    (additive schema evolution resolved at merge time).
  */
object Gen {

  final case class GenConfig(
      seed: Long = 42L,
      nEvents: Long = 100000L,
      nConvs: Long = 1000L,
      maxTurns: Int = 64,
      deletePct: Double = 0.05,
      dupEvery: Long = 50L,
      dupLag: Long = 100L,
      baseEpochSec: Long = 1704067200L, // 2024-01-01T00:00:00Z
      partitions: Int = 32) {
    def toolFromLsn: Long = nEvents / 2
  }

  /** splitmix64 finalizer — a public-domain mixing function. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Uniform double in [0,1) from a long. */
  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  private val roles = Array("user", "assistant", "system", "tool")
  private val tools = Array("search", "browser", "python", "calculator", "sql")
  private val words = Array(
    "the", "model", "replied", "with", "a", "plan", "for", "data", "sync",
    "and", "asked", "about", "schema", "keys", "then", "ran", "tool", "calls",
    "to", "verify", "results", "before", "commit", "of", "batch", "stream",
    "merge", "state", "table", "rows")

  /** The event at arrival position `i` — pure function of (seed, i). */
  def eventAt(cfg: GenConfig, i: Long): ChangeEvent = {
    // duplicate delivery: re-emit the event from dupLag positions ago
    val src =
      if (cfg.dupEvery > 0 && i > cfg.dupLag && i % cfg.dupEvery == 0) i - cfg.dupLag
      else i
    primaryEventAt(cfg, src)
  }

  private def primaryEventAt(cfg: GenConfig, i: Long): ChangeEvent = {
    val h1 = mix64(cfg.seed ^ i)
    val h2 = mix64(h1 ^ 0x5851f42d4c957f2dL)
    val h3 = mix64(h2 ^ 0x14057b7ef767814fL)
    // lsn: block-local permutation of arrival order => bounded out-of-order
    val lsn = (i & ~63L) | ((i & 63L) ^ 42L)
    // Zipf-ish: conv = floor(nConvs^u); small indices are hot
    val conv = math.min(cfg.nConvs - 1,
      math.floor(math.pow(cfg.nConvs.toDouble, unit(h1))).toLong - 1L).max(0L)
    val convId = f"conv-$conv%08d"
    val turn = (Math.floorMod(h2, cfg.maxTurns.toLong)).toInt
    val isDelete = unit(h3) < cfg.deletePct
    val ts = new Timestamp((cfg.baseEpochSec + lsn) * 1000L)
    if (isDelete)
      ChangeEvent(OpDelete, lsn, ts, convId, turn, None, None, None)
    else {
      val role = roles((h3 >>> 8).toInt & 3)
      val nWords = 5 + ((h3 >>> 16) & 15).toInt
      val sb = new StringBuilder(s"c$conv t$turn r$lsn:")
      var k = 0
      while (k < nWords) {
        sb.append(' ').append(words((((mix64(h3 + k) >>> 7) & 0x7fffffffL) % words.length).toInt))
        k += 1
      }
      val tool =
        if (lsn >= cfg.toolFromLsn && role == "tool")
          Some(tools((h3 >>> 24).toInt & 3))
        else None
      val op = if (((h3 >>> 4) & 7) == 0L) OpInsert else OpUpdate
      ChangeEvent(op, lsn, ts, convId, turn, Some(role), Some(sb.toString), tool)
    }
  }

  /** Distributed generation: identical output at any parallelism. */
  def changeEvents(spark: SparkSession, cfg: GenConfig): Dataset[ChangeEvent] = {
    import spark.implicits._
    spark.range(0L, cfg.nEvents, 1L, cfg.partitions).map(i => eventAt(cfg, i))
  }

  /** Writes the change log as `nChunks` groups of `filesPerChunk` parquet
    * segment files in arrival order — the binlog/WAL shape the streaming
    * source tails (real WALs ship many bounded segments, and the per-trigger
    * scan parallelism of the MERGE stage comes from segment count × input
    * splits, so a monolithic file per chunk would serialize the scan at any
    * cluster size). Chunks whose max lsn precedes `toolFromLsn` are written
    * WITHOUT the `tool` column (schema v1) so the merge stage must do
    * additive evolution. Installs [[LocalFs]] first: the log is written
    * before any lake table exists to do it.
    */
  def writeChangeLog(
      spark: SparkSession,
      cfg: GenConfig,
      dir: String,
      nChunks: Int,
      filesPerChunk: Int = 8): Unit = {
    LocalFs.install(spark)
    val per = math.max(1L, cfg.nEvents / nChunks)
    var c = 0
    while (c < nChunks) {
      val lo = c * per
      val hi = if (c == nChunks - 1) cfg.nEvents else math.min(cfg.nEvents, lo + per)
      if (lo < hi) {
        import spark.implicits._
        val ds = spark.range(lo, hi, 1L, cfg.partitions).map(i => eventAt(cfg, i))
        // lsn is permuted only within 64-event blocks, so lsn < hi+63 for any
        // event in this chunk; +64 margin guarantees no non-null `tool` is
        // dropped by the v1 schema.
        val df =
          if (hi + 64 <= cfg.toolFromLsn) ds.drop("tool") // schema v1: pre-evolution
          else ds.toDF()
        df.repartition(filesPerChunk).write.mode("append").parquet(dir)
      }
      c += 1
    }
  }

  /** Independent oracle for the expected final table state: global
    * last-writer-wins per key over the FULL log, computed by a reduce (a
    * different code path from the merge's window row_number), deletes
    * dropped. Used by tests to check replay correctness.
    */
  def expectedState(spark: SparkSession, cfg: GenConfig): Dataset[Turn] = {
    import spark.implicits._
    changeEvents(spark, cfg)
      .groupByKey(e => (e.conv_id, e.turn_idx))
      .reduceGroups { (a, b) =>
        if (a.lsn > b.lsn) a
        else if (a.lsn < b.lsn) b
        else if (a.ts.getTime >= b.ts.getTime) a
        else b
      }
      .map(_._2)
      .filter(_.op != OpDelete)
      .map(e => Turn(e.conv_id, e.turn_idx, e.role.orNull, e.text.orNull, e.tool, e.ts))
  }
}
