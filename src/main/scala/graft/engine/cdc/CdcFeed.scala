package graft.engine.cdc

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.graftbridge.SessionBridge

import graft.lake.LakeTable
import graft.sources.CdcEnvelope

/** CDC-out as a maintained FEED: incrementally export a lake table's change
  * log as envelope JSONL files (Debezium/Canal/Maxwell) into a directory any
  * downstream consumer tails — another graft job's `cdcreader`, or a real
  * binlog-envelope consumer. This is the broker-less outbox: the lake is the
  * arbitrated change source, the feed directory is the topic.
  *
  * Unlike a one-shot `lakereader fromVersion` export (which the caller must
  * re-point at the next window), [[sync]] keeps its OWN watermark in the feed
  * directory itself, so a scheduler (or a [[CdcPipeline.FeedFollower]] inside
  * the ingest stream) just calls it repeatedly and each call ships exactly
  * the source commits not yet exported.
  *
  * Layout and watermark protocol (single producer per feed directory, like
  * one checkpoint dir per stream):
  *   - window files: `w<from>-<to>-<part>.jsonl`, one JSONL envelope per
  *     line, covering source versions [from, to] — visible to consumers
  *     (Spark file sources list them; names sort in version order).
  *   - markers: `_w<from>-<to>.ok` written AFTER every window file of that
  *     range is in place (content = line count). The `_` prefix keeps them
  *     invisible to Spark file sources. The watermark is the max `to` over
  *     markers; a crash between file moves and the marker re-exports the
  *     same window (stale same-`from` files are swept first).
  *
  * Delivery contract: exactly-once per WINDOW under clean operation;
  * at-least-once per LINE across producer crashes (a consumer may have read
  * part of an unmarked window that is then re-shipped). Both lake and JDBC
  * replay destinations converge regardless — the lake arbitrates by lsn and
  * the apply paths dedupe per key — and envelope consumers are at-least-once
  * by convention (a real Debezium topic has the same contract).
  *
  * Scale shape: each sync is O(changes in the window) — the change set comes
  * from the window's delta files ([[LakeTable#readChangesSince]]), never the
  * whole table; encoding is one narrow codegen'd `to_json` projection; no
  * shuffle at all. A fresh feed bootstraps from the CURRENT resolved state
  * (O(table), tombstones included) exactly like [[graft.lake.Replicate]], so
  * it is immune to vacuumed history.
  */
object CdcFeed {

  final case class FeedStats(fromVersion: Long, toVersion: Long, rows: Long,
      files: Int, skipped: Boolean)

  private val Marker = """_w(\d+)-(\d+)\.ok""".r
  private val Window = """w(\d+)-(\d+)-p\d+\.jsonl""".r

  /** Highest source version already shipped to `dir` (−1 = fresh feed). */
  def watermark(fs: FileSystem, dir: String): Long = {
    val p = new Path(dir)
    if (!fs.exists(p)) return -1L
    fs.listStatus(p).iterator.map(_.getPath.getName).collect {
      case Marker(_, to) => to.toLong
    }.foldLeft(-1L)(math.max)
  }

  /** Ship all source commits since the feed's watermark; see object docs. */
  def sync(src: LakeTable, dir: String, format: String,
      keyCols: Seq[String] = Nil): FeedStats = {
    require(CdcEnvelope.Formats(format),
      s"feed format must be ${CdcEnvelope.Formats.mkString("|")} (got '$format')")
    require(format != "debezium" || keyCols.nonEmpty,
      "a debezium feed needs key columns — a delete event's `before` image " +
        "is the key (REPLICA IDENTITY DEFAULT); pass the table's primary key")
    val spark = src.spark
    val fs = new Path(dir).getFileSystem(SessionBridge.hadoopConf(spark))
    fs.mkdirs(new Path(dir))
    val srcVersion = src.currentSnapshot().version
    val since = watermark(fs, dir)
    if (srcVersion <= since)
      return FeedStats(since, srcVersion, 0L, 0, skipped = true)
    val from = since + 1

    // PIN the window at srcVersion: the marker will record `to=srcVersion`,
    // so the scan must read exactly that cut — an unpinned head read would
    // include a concurrent writer's later commits and re-export them when
    // the next window starts past the marker (duplicate delivery with no
    // crash involved)
    val changes = (if (since < 0) src.readChangesBootstrap(srcVersion)
                   else src.readChangesBetween(since, srcVersion))
      .withColumnRenamed(LakeTable.OpCol, "op")
      .withColumnRenamed(LakeTable.LsnCol, "lsn")
    val payloadCols = changes.columns.toSeq.filterNot(c => c == "op" || c == "lsn")
    val encoded = CdcEnvelope.encode(format, changes, payloadCols, keyCols)

    // stage → sweep stale same-`from` files (a crashed attempt's partial
    // window, possibly with a smaller `to`) → move parts in → marker last
    val staging = new Path(dir, s".staging-w$from-$srcVersion")
    encoded.write.mode("overwrite").text(staging.toString)
    fs.listStatus(new Path(dir)).foreach { st =>
      st.getPath.getName match {
        case Window(f, _) if f.toLong == from => fs.delete(st.getPath, false)
        case _ => ()
      }
    }
    val parts = fs.listStatus(staging)
      .filter(st => st.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    var rows = 0L
    parts.zipWithIndex.foreach { case (st, i) =>
      val dst = new Path(dir, f"w$from-$srcVersion-p$i%04d.jsonl")
      if (!fs.rename(st.getPath, dst))
        throw new java.io.IOException(s"feed rename failed: ${st.getPath} -> $dst")
      rows += countLines(fs, dst)
    }
    fs.delete(staging, true)
    val out = fs.create(new Path(dir, s"_w$from-$srcVersion.ok"), true)
    try out.write(rows.toString.getBytes("UTF-8")) finally out.close()
    FeedStats(from, srcVersion, rows, parts.length, skipped = false)
  }

  /** Retention GC for a feed directory: drop every window whose `to` is at
    * or below `uptoVersion` — safe once all consumers have read past it (a
    * Spark file-source consumer's checkpoint pins the files it has seen, so
    * the horizon is operational knowledge, exactly like the lake vacuum's
    * retention contract). The marker goes FIRST, then the window files: a
    * crash mid-expire leaves markerless files a later expire re-sweeps,
    * never a marker whose files are gone (the watermark stays truthful).
    * Returns the number of windows removed. The HEAD window (highest `to`)
    * always survives, whatever the horizon: it carries the watermark, and
    * expiring it would reset a live feed to −1 so the next [[sync]] would
    * re-bootstrap the full state into the feed (decommission by deleting
    * the directory instead).
    */
  def expire(src: LakeTable, dir: String, uptoVersion: Long): Int = {
    val fs = new Path(dir).getFileSystem(SessionBridge.hadoopConf(src.spark))
    if (!fs.exists(new Path(dir))) return 0
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
    val head = watermark(fs, dir)
    val expirable = names.collect {
      case m @ Marker(f, to) if to.toLong <= math.min(uptoVersion, head - 1) =>
        (f.toLong, to.toLong, m)
    }
    expirable.foreach { case (f, to, marker) =>
      fs.delete(new Path(dir, marker), false)
      names.foreach {
        case w @ Window(wf, wt) if wf.toLong == f && wt.toLong == to =>
          fs.delete(new Path(dir, w), false)
        case _ => ()
      }
    }
    expirable.length
  }

  private def countLines(fs: FileSystem, p: Path): Long = {
    val in = fs.open(p)
    try {
      var n = 0L
      val buf = new Array[Byte](1 << 16)
      var read = in.read(buf)
      while (read > 0) {
        var i = 0
        while (i < read) { if (buf(i) == '\n') n += 1; i += 1 }
        read = in.read(buf)
      }
      n
    } finally in.close()
  }
}
