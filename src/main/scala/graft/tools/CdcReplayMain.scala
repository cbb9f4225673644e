package graft.tools

import graft.core.{Gen, Model}
import graft.engine.cdc.CdcPipeline
import graft.lake.LakeTable

/** CLI driver for the CDC replay pipeline — the Spark-native analog of
  * `datax -job config.json` (go-datax `cmd/datax/main.go:52-55`).
  *
  * Usage: CdcReplayMain <workDir> [nEvents] [cores] [numBuckets] [format] [distCols]
  * `cores` sizes the local session and the generator (default: see
  * [[Session]]).
  * `format` = parquet (default) | debezium | canal | maxwell — the envelope
  * formats generate the log as JSONL binlog envelopes and exercise the
  * decode tail (dead-lettering malformed lines under <workDir>/dlq-<format>).
  * `distCols` = comma-separated distribution-key subset (e.g. `conv_id`)
  * to bucket on a key prefix instead of the full key (group locality —
  * see [[graft.lake.LakeTable.distCols]]).
  * Generates a deterministic change log under <workDir>/log-<format>
  * (unless it exists), replays it through the streaming MERGE into the
  * per-format lake (<workDir>/lake for parquet), and
  * prints per-epoch metrics plus a final-state sample. Re-running with the
  * same workDir resumes from the checkpoint and skips committed epochs.
  */
object CdcReplayMain {
  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft-cdc-demo")
    val nEvents = if (args.length > 1) args(1).toLong else 100000L
    val cores = if (args.length > 2) args(2).toInt else Session.defaultCores
    val buckets = if (args.length > 3) args(3).toInt else 16
    val format = if (args.length > 4) args(4) else "parquet"
    val distCols: Seq[String] =
      if (args.length > 5) args(5).split(',').toSeq else Nil

    val spark = Session(cores)

    val cfg = Gen.GenConfig(nEvents = nEvents, nConvs = math.max(10L, nEvents / 100), partitions = cores)
    val logDir = s"$workDir/log-$format"
    if (!new java.io.File(logDir).exists()) {
      println(s"[gen] writing ${cfg.nEvents} change events ($format) -> $logDir")
      if (format == "parquet") Gen.writeChangeLog(spark, cfg, logDir, nChunks = 20)
      else {
        import graft.sources.CdcEnvelope
        val ev = Gen.changeEvents(spark, cfg).toDF()
        val payloadCols = Seq("ts", "conv_id", "turn_idx", "role", "text", "tool")
        val enc = format match {
          case "debezium" => CdcEnvelope.encodeDebezium(ev, payloadCols, Model.keyCols)
          case "canal" => CdcEnvelope.encodeCanal(ev, payloadCols)
          case "maxwell" => CdcEnvelope.encodeMaxwell(ev, payloadCols)
          case other => throw new IllegalArgumentException(s"unknown format '$other'")
        }
        enc.repartition(20).write.text(logDir)
      }
    } else println(s"[gen] reusing existing log at $logDir")

    // per-format lake + checkpoint: replaying another wire format is a NEW
    // pipeline, not a resume of the parquet one's epochs
    val lakeDir = if (format == "parquet") s"$workDir/lake" else s"$workDir/lake-$format"
    val table = LakeTable.create(spark, lakeDir, Model.keyCols, buckets,
      distCols = distCols)
    val t0 = System.nanoTime()
    val epochs = CdcPipeline.replayAll(spark, table,
      // 8 segment files per chunk -> 4 chunks per trigger
      CdcPipeline.CdcConfig(logDir, s"$workDir/checkpoint-$format", maxFilesPerTrigger = 32,
        format = format,
        dlqDir = if (format == "parquet") None else Some(s"$workDir/dlq-$format")))
    val secs = (System.nanoTime() - t0) / 1e9

    val snap = table.currentSnapshot()
    println(f"[replay] done: epochs=$epochs rows=${snap.rows} version=${snap.version} in $secs%.1f s (${nEvents / secs}%.0f events/s incl. startup)")
    println("[metrics] per-epoch ingest metrics:")
    table.metrics().show(50, truncate = false)
    println("[state] sample (ordered by conv_id, turn_idx):")
    table.read().orderBy("conv_id", "turn_idx").show(10, truncate = 60)
    spark.stop()
  }
}
