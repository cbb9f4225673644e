package graft.tools

import org.apache.spark.sql.graftbridge.SessionBridge

import graft.lake.LakeTable

/** Lake-table maintenance CLI — the ops surface of the snapshot table
  * (Iceberg's maintenance procedures analog: rewrite_data_files,
  * expire_snapshots, table history/metrics inspection).
  *
  * Usage: LakeMaint <tableRoot> <cmd> [args]
  *   history                    — print the snapshot history
  *   metrics                    — print the per-epoch ingest metrics table
  *   state [count]              — print current version/files summary.
  *                                 `physicalRows` is the manifest stat
  *                                 (includes tombstones and superseded MOR
  *                                 delta rows — a metadata read, no scan);
  *                                 `state count` adds the live row count
  *                                 (one merged-read scan)
  *   compact                    — fold ALL delta files into base files
  *   cluster <c1,c2|none>       — retrofit sort-order clustering: rewrite
  *                                 every bucket re-sorted by the given
  *                                 payload columns (`none` reverts to key
  *                                 order) and record the layout in the
  *                                 manifest — ts-window scans then file-skip
  *                                 (Iceberg rewrite_data_files with a new
  *                                 sort-order analog; needs a targetFileRows
  *                                 layout)
  *   cluster zorder:<c1,c2>     — multi-dimensional variant
  *                                 ([[LakeTable.reclusterZOrder]], the Delta
  *                                 OPTIMIZE ZORDER analog): rewrite sorted
  *                                 by the Morton interleave of 2–4 columns
  *                                 so windows on ANY of them file-skip;
  *                                 NON-STICKY (manifest sortCols untouched —
  *                                 re-run after heavy ingest)
  *   expire <horizonLsn>        — GC tombstones older than the lsn horizon
  *   vacuum [retainVersions]    — delete unreferenced data files
  *   tag <name> [version] [replace]
  *                              — pin a committed version under a stable
  *                                 name (Iceberg tag analog): the pinned
  *                                 manifest survives expiresnapshots and
  *                                 its data files survive vacuum, so the
  *                                 exact tagged state (a training-corpus
  *                                 cut, an audit baseline) stays readable
  *                                 forever; default version = current head
  *   tags                       — list tags (name -> version)
  *   droptag <name>             — unpin: the version rejoins the normal
  *                                 retention window on the next vacuum
  *   readtag <name> [limit]     — print the tagged state (readVersion
  *                                 pinned by name)
  *   asof <ts> [limit]          — print the state as of a wall-clock commit
  *                                 time ('yyyy-MM-ddTHH:mm:ss', T-separated
  *                                 so it survives arg splitting — the
  *                                 TIMESTAMP AS OF analog, readAsOf)
  *   where <pred> [limit]       — pruned predicate scan (readWhere): prints
  *                                 how many files the manifest's key-column
  *                                 bounds skipped, then the matching rows
  *                                 (default 20)
  *   delete <sqlPredicate>      — tombstone all rows matching the SQL
  *                                 predicate (GDPR erasure / retention)
  *   set <pred> <col> <expr>    — rewrite one column for matching rows
  *                                 (in-place redaction / backfill)
  *   rollback <version>         — move the head back to a snapshot (new
  *                                 commit; history stays readable)
  *   rebucket <dstRoot> <n>     — rewrite into a NEW table with n buckets
  *                                 (epoch lineage + maxLsn carried, so the
  *                                 same stream resumes against the copy)
  *   export <fmt> <dst> [since] — write the committed change window since
  *                                 snapshot `since` (default: full history)
  *                                 as debezium|canal|maxwell JSONL — feeds
  *                                 any external binlog-envelope consumer
  *   feed <fmt> <dir> [upto]    — incrementally MAINTAIN an envelope feed:
  *                                 ships exactly the commits since the feed
  *                                 directory's own watermark on every run
  *                                 ([[graft.engine.cdc.CdcFeed]] — the
  *                                 cron-able broker-less outbox; `export`
  *                                 is the one-shot form); with `upto`,
  *                                 expires consumed windows afterwards
  *   rollup <dstRoot> [group]   — incrementally refresh a per-group
  *                                 aggregate table (turns/chars/tool calls/
  *                                 last ts; default group conv_id) from the
  *                                 committed change log — only groups
  *                                 changed since the last refresh recompute
  *   rollupadd <dstRoot> [group] — additive variant (turns/chars/tool
  *                                 calls as SUMs + n_live): state-diff
  *                                 deltas, NO live scan on any layout
  *                                 ([[graft.lake.Rollup.syncAdditive]])
  *   scd2 <dstRoot>             — incrementally extend an SCD Type-2
  *                                 history table ([[graft.lake.Scd2]]): one
  *                                 row per (key, commit that touched it)
  *                                 with [vf_lsn, vt_lsn) validity bounds;
  *                                 re-running appends only commits since the
  *                                 last run
  *   stateat <lsn> [limit]      — (on an scd2 HISTORY table) print the
  *                                 source state as of a source lsn,
  *                                 reconstructed from validity intervals
  *                                 alone ([[graft.lake.Scd2.stateAt]] — no
  *                                 retained snapshots needed)
  *   mirror <jdbcUrl> <table> <dialect> [k1,k2]
  *                              — incremental catch-up of a LIVE database
  *                                 mirror ([[graft.engine.cdc.JdbcApply]]):
  *                                 ships the table's CURRENT winners for
  *                                 keys changed since the target-side epoch
  *                                 ledger watermark (sound under log
  *                                 reorder); keys from the arg or the
  *                                 target's PK metadata
  *   parity <other> [exact]     — content-complete migration validation
  *                                 ([[graft.lake.Parity]]): diff this
  *                                 table's resolved state against `other`
  *                                 (another lake root, or any
  *                                 Spark-readable parquet path) on the key
  *                                 columns. Prints the per-status summary
  *                                 and up to 20 violating keys; exit 2 when
  *                                 any key is not `equal`. Default compares
  *                                 via per-row payload hashes (the 100 TB
  *                                 shape); `exact` ships full payloads
  *   tail <dstRoot>             — apply the committed change log to another
  *                                 lake table (manifest-driven catch-up;
  *                                 the watermark is the destination's
  *                                 per-writer epoch lineage, so reruns
  *                                 resume where they left off and rollback/
  *                                 orphan phantoms are never applied)
  *
  * The table's key columns and bucket count are read from the MANIFEST
  * (every commit records the layout), so the CLI works on any graft lake
  * table regardless of how it was created; a handle with a mismatched
  * layout is rejected by the table itself.
  */
object LakeMaint {
  /** One command's required argument count (after the command), its usage,
    * and the check each numeric argument must pass, keyed by its position
    * after the command.
    */
  private final case class Cmd(min: Int, usage: String,
      numeric: Map[Int, String => Boolean] = Map.empty)

  private val int: String => Boolean = _.toIntOption.isDefined
  private val long: String => Boolean = _.toLongOption.isDefined
  /** `tag`'s optional version and `replace` flag come in either order */
  private val versionOrReplace: String => Boolean = a => a == "replace" || long(a)

  private val Commands: Map[String, Cmd] = Map(
    "history" -> Cmd(0, "history"),
    "metrics" -> Cmd(0, "metrics"),
    "state" -> Cmd(0, "state [count]"),
    "compact" -> Cmd(0, "compact"),
    "cluster" -> Cmd(1, "cluster <c1,c2|zorder:c1,c2|none>"),
    "expire" -> Cmd(1, "expire <horizonLsn>", Map(0 -> long)),
    "vacuum" -> Cmd(0, "vacuum [retainVersions]", Map(0 -> int)),
    "tag" -> Cmd(1, "tag <name> [version] [replace]",
      Map(1 -> versionOrReplace, 2 -> versionOrReplace)),
    "tags" -> Cmd(0, "tags"),
    "droptag" -> Cmd(1, "droptag <name>"),
    "readtag" -> Cmd(1, "readtag <name> [limit]", Map(1 -> int)),
    "asof" -> Cmd(1, "asof <yyyy-MM-ddTHH:mm:ss> [limit]", Map(1 -> int)),
    "expiresnapshots" -> Cmd(1, "expiresnapshots <retainVersions>", Map(0 -> int)),
    "check" -> Cmd(0, "check [retainVersions]", Map(0 -> int)),
    "where" -> Cmd(1, "where <sqlPredicate> [limit]", Map(1 -> int)),
    "delete" -> Cmd(1, "delete <sqlPredicate>"),
    "set" -> Cmd(3, "set <sqlPredicate> <col> <sqlExpr>"),
    "rollback" -> Cmd(1, "rollback <version>", Map(0 -> long)),
    "export" -> Cmd(2, "export <debezium|canal|maxwell> <dstDir> [sinceVersion]",
      Map(2 -> long)),
    "feed" -> Cmd(2, "feed <debezium|canal|maxwell> <feedDir> [expireUpto]", Map(2 -> long)),
    "rebucket" -> Cmd(2, "rebucket <dstRoot> <newBuckets>", Map(1 -> int)),
    "rollup" -> Cmd(1, "rollup <dstRoot> [groupCol]"),
    "rollupadd" -> Cmd(1, "rollupadd <dstRoot> [groupCol]"),
    "stateat" -> Cmd(1, "stateat <lsnCut> [limit] - run against an scd2 history table",
      Map(0 -> long, 1 -> int)),
    "scd2" -> Cmd(1, "scd2 <dstRoot>"),
    "mirror" -> Cmd(3, "mirror <jdbcUrl> <table> <dialect> [k1,k2]"),
    "parity" -> Cmd(1, "parity <otherLakeRootOrParquetPath> [exact]"),
    "tail" -> Cmd(1, "tail <dstRoot>"))

  /** Why `args` cannot run (unknown command, too few arguments, a
    * non-numeric count, version or lsn), checked before any session
    * starts; None when they can.
    */
  def usageError(args: Seq[String]): Option[String] = args match {
    case Seq(_, cmd, rest @ _*) => Commands.get(cmd) match {
      case None => Some(s"unknown command '$cmd'; one of: " +
        Commands.keys.toSeq.sorted.mkString(", "))
      case Some(c) =>
        val usage = s"usage: LakeMaint <tableRoot> ${c.usage}"
        if (rest.length < c.min) Some(usage)
        else c.numeric.toSeq.sortBy(_._1).collectFirst {
          case (i, ok) if i < rest.length && !ok(rest(i)) =>
            s"not a number: '${rest(i)}'\n$usage"
        }
    }
    case _ => Some("usage: LakeMaint <tableRoot> <cmd> [args]")
  }

  def main(args: Array[String]): Unit = {
    usageError(args.toSeq).foreach { msg => System.err.println(msg); sys.exit(2) }
    val root = args(0)
    val cmd = args(1)
    val spark = Session()

    val table = LakeTable.open(spark, root)
    cmd match {
      case "history" => table.history().show(100, truncate = false)
      case "metrics" => table.metrics().show(100, truncate = false)
      case "state" =>
        val s = table.currentSnapshot()
        val live = if (args.length >= 3 && args(2) == "count")
          s" liveRows=${table.read().count()}" else ""
        println(s"version=${s.version} physicalRows=${s.rows} " +
          s"baseFiles=${s.files.count(_.kind == "b")} " +
          s"deltaFiles=${s.files.count(_.kind == "d")} " +
          s"writers=${s.epochs.map { case (w, e) => s"$w:$e" }.mkString(",")}" + live)
      case "compact" =>
        table.compactAll()
        println(s"compacted -> version ${table.currentSnapshot().version}")
      case "cluster" =>
        if (args(2).startsWith("zorder:")) {
          // multi-dimensional rewrite (LakeTable.reclusterZOrder): NON-STICKY
          // — the manifest's linear sortCols stays; re-run after heavy ingest
          val zcols = args(2).stripPrefix("zorder:").split(",").toSeq.filter(_.nonEmpty)
          table.reclusterZOrder(zcols)
          val s = table.currentSnapshot()
          println(s"z-order clustered by [${zcols.mkString(",")}] -> version " +
            s"${s.version} files=${s.files.size} rows=${s.rows}")
        } else {
          val cols = if (args(2) == "none") Nil
            else args(2).split(",").toSeq.filter(_.nonEmpty)
          // a FRESH handle with the override — `table`'s layout stays whatever
          // the manifest recorded until recluster commits the new one
          val t = LakeTable.open(spark, root, sortColsOverride = Some(cols))
          t.recluster()
          val s = t.currentSnapshot()
          println(s"clustered by [${cols.mkString(",")}] -> version ${s.version} " +
            s"files=${s.files.size} rows=${s.rows}")
        }
      case "expire" =>
        table.expireTombstones(args(2).toLong)
        println(s"expired tombstones < ${args(2)} -> version ${table.currentSnapshot().version}")
      case "vacuum" =>
        val retain = if (args.length >= 3) args(2).toInt else 0
        val n = table.vacuum(retain)
        println(s"vacuumed $n unreferenced files (retained $retain versions of deltas)")
      case "tag" =>
        val rest = args.drop(3)
        val replace = rest.contains("replace")
        val version = rest.filterNot(_ == "replace").headOption.map(_.toLong).getOrElse(-1L)
        val v = table.tag(args(2), version, replace)
        println(s"tag '${args(2)}' -> version $v (pinned against vacuum/expiresnapshots)")
      case "tags" =>
        val ts = table.tags()
        if (ts.isEmpty) println("(no tags)")
        else ts.toSeq.sortBy(_._1).foreach { case (n, v) => println(s"$n -> v$v") }
      case "droptag" =>
        println(if (table.dropTag(args(2))) s"dropped tag '${args(2)}'"
          else s"no tag '${args(2)}'")
      case "readtag" =>
        val limit = if (args.length >= 4) args(3).toInt else 20
        val v = table.tagVersion(args(2))
        println(s"tag '${args(2)}' = version $v")
        table.readTag(args(2)).show(limit, truncate = false)
      case "asof" =>
        val ts = LakeTable.parseTimestamp(args(2))
        val limit = if (args.length >= 4) args(3).toInt else 20
        val v = table.versionAsOf(ts)
        println(s"as of $ts = version $v")
        table.readVersion(v).show(limit, truncate = false)
      case "expiresnapshots" =>
        val n = table.expireSnapshots(args(2).toInt)
        println(s"expired $n manifests (retained newest ${args(2)})")
      case "check" =>
        val retain = if (args.length >= 3) args(2).toInt else 8
        val r = table.fsck(retain)
        println(s"v${r.version}: ${r.filesOk} files ok, " +
          s"${r.missing.size} missing, ${r.rowMismatches.size} row mismatches, " +
          s"${r.orphans} orphan data files (vacuum candidates), " +
          s"${r.stagingDirs} staging dirs")
        (r.missing ++ r.rowMismatches).foreach(m => println(s"  CORRUPT: $m"))
        if (!r.clean) sys.exit(2)
      case "where" =>
        val r = table.scanWhere(org.apache.spark.sql.functions.expr(args(2)))
        println(s"scan: ${r.filesKept} of ${r.filesTotal} files after " +
          s"manifest-bounds skipping (snapshot v${r.version})")
        r.df.show(if (args.length >= 4) args(3).toInt else 20, truncate = false)
      case "delete" =>
        val st = table.deleteWhere(org.apache.spark.sql.functions.expr(args(2)),
          epoch = table.currentSnapshot().lastEpochFor("maint") + 1, writerId = "maint")
        println(s"deleted ${st.deletes} rows -> version ${table.currentSnapshot().version}")
      case "set" =>
        import org.apache.spark.sql.functions.expr
        val st = table.updateWhere(expr(args(2)), Map(args(3) -> expr(args(4))),
          epoch = table.currentSnapshot().lastEpochFor("maint") + 1, writerId = "maint")
        println(s"rewrote ${st.rowsApplied} rows -> version ${table.currentSnapshot().version}")
      case "rollback" =>
        table.rollbackTo(args(2).toLong)
        println(s"rolled back to snapshot ${args(2)} -> version ${table.currentSnapshot().version}")
      case "export" =>
        val since = if (args.length >= 5) args(4).toLong else -1L
        val changes = table.readChangesSince(since)
          .withColumnRenamed(LakeTable.OpCol, "op")
          .withColumnRenamed(LakeTable.LsnCol, "lsn")
        graft.engine.SyncJob.write(spark, changes,
          graft.engine.SyncJob.Sink(args(2), args(3), keyCols = table.keyCols))
        println(s"exported changes since version $since as ${args(2)} -> ${args(3)}")
      case "feed" =>
        // incrementally maintained envelope feed (CdcFeed scaladoc): the
        // watermark lives in the feed directory, so re-running this command
        // ships exactly the commits since the last run (cron-able outbox).
        // The optional horizon expires consumed windows (to ≤ upto; the
        // head window always survives — it carries the watermark)
        val st = graft.engine.cdc.CdcFeed.sync(table, args(3), args(2),
          keyCols = table.keyCols)
        println(if (st.skipped) s"feed ${args(3)} already at source version ${st.toVersion}"
          else s"fed -> ${args(3)} window=v${st.fromVersion}..v${st.toVersion} " +
            s"rows=${st.rows} files=${st.files}")
        if (args.length >= 5) {
          val n = graft.engine.cdc.CdcFeed.expire(table, args(3), args(4).toLong)
          println(s"expired $n consumed window(s) up to v${args(4)}")
        }
      case "rebucket" =>
        val dst = table.rebucketTo(args(2), args(3).toInt)
        val s = dst.currentSnapshot()
        println(s"rebucketed -> ${args(2)} buckets=${args(3)} rows=${s.rows} " +
          s"writers=${s.epochs.map { case (w, e) => s"$w:$e" }.mkString(",")}")
      case "rollup" =>
        // incrementally maintained per-group aggregate (Rollup scaladoc):
        // the destination's epoch lineage is the watermark, so re-running
        // this command refreshes only groups changed since the last run
        val groupCol = if (args.length >= 4) args(3) else "conv_id"
        val dst = LakeTable.create(spark, args(2), Seq(groupCol),
          math.max(8, table.numBuckets / 4), targetFileRows = table.targetFileRows)
        val st = graft.lake.Rollup.sync(table, dst, graft.lake.Rollup.transcriptAggs)
        println(if (st.skipped) s"rollup ${args(2)} already at source head"
          else s"rollup -> ${args(2)} group=$groupCol refreshed=${st.rowsApplied} " +
            s"groups physicalRows=${dst.currentSnapshot().rows}")
      case "rollupadd" =>
        // additive variant (Rollup.syncAdditive): per-group SUMs folded
        // from state diffs of the changed keys — NO live-table scan on any
        // layout, so it stays O(changes) even when the group column is not
        // the source's distribution key (e.g. role)
        val groupCol = if (args.length >= 4) args(3) else "conv_id"
        val dst = LakeTable.create(spark, args(2), Seq(groupCol),
          math.max(8, table.numBuckets / 4), targetFileRows = table.targetFileRows)
        val st = graft.lake.Rollup.syncAdditive(table, dst,
          graft.lake.Rollup.transcriptSums)
        println(if (st.skipped) s"rollupadd ${args(2)} already at source head"
          else s"rollupadd -> ${args(2)} group=$groupCol refreshed=${st.rowsApplied} " +
            s"groups physicalRows=${dst.currentSnapshot().rows}")
      case "stateat" =>
        require(table.keyCols.lastOption.contains(graft.lake.Scd2.SeqCol),
          s"stateat reads an SCD2 history table (key ending in " +
            s"${graft.lake.Scd2.SeqCol}); this table is keyed " +
            s"${table.keyCols.mkString(",")} - point at the history root")
        val cutState = graft.lake.Scd2.stateAt(table, args(2).toLong)
        println(s"state as of lsn ${args(2)}: ${cutState.count()} rows")
        cutState.show(if (args.length >= 4) args(3).toInt else 20, truncate = false)
      case "scd2" =>
        // incrementally maintained SCD Type-2 history (Scd2 scaladoc): the
        // destination's epoch lineage is the watermark, so re-running this
        // command extends the history only with commits since the last run
        val dstRoot = args(2)
        val dfs = new org.apache.hadoop.fs.Path(dstRoot)
          .getFileSystem(SessionBridge.hadoopConf(spark))
        val dst =
          if (dfs.exists(new org.apache.hadoop.fs.Path(s"$dstRoot/_snapshots/snap-0.txt")))
            LakeTable.open(spark, dstRoot)
          else graft.lake.Scd2.createDst(table, dstRoot)
        val st = graft.lake.Scd2.sync(table, dst)
        println(if (st.skipped) s"scd2 $dstRoot already at source head"
          else s"scd2 -> $dstRoot @epoch ${st.epoch} rowsApplied=${st.rowsApplied} " +
            s"historyRows=${dst.currentSnapshot().rows}")
      case "mirror" =>
        val tbl = args(3)
        val target = graft.engine.JdbcExec.requireKeys(s"mirror $tbl",
          graft.engine.JdbcExec.Target(graft.engine.Dialect.byName(args(4)), args(2), tbl,
            keys = if (args.length >= 6) args(5).split(",").toSeq.filter(_.nonEmpty) else Nil))
        val st = graft.engine.cdc.JdbcApply.sync(table,
          graft.engine.cdc.CdcPipeline.JdbcDest(target, writerId = "lake-mirror"))
        println(if (st.skipped) s"mirror $tbl already at source version ${st.sourceVersion}"
          else s"mirrored -> $tbl @v${st.sourceVersion} upserts=${st.upserts} deletes=${st.deletes}")
      case "parity" =>
        val exact = args.length >= 4 && args(3) == "exact"
        // `other` is a lake root when it carries a manifest dir; anything
        // else is read as plain parquet (an export, an RDBMS dump staged to
        // parquet, a foreign table's files)
        val other =
          try LakeTable.open(spark, args(2)).readInternal()
          catch { case _: Exception => spark.read.parquet(args(2)) }
        val keys = table.keyCols
        val summary = graft.lake.Parity
          .summary(table.readInternal(), other, keys, exact = exact)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val bad = summary.filterNot(_._1 == graft.lake.Parity.Equal)
        println(s"parity vs ${args(2)} (keys=${keys.mkString(",")}, " +
          s"${if (exact) "exact" else "hash"}): " +
          s"equal=${summary.getOrElse(graft.lake.Parity.Equal, 0L)} " +
          bad.map { case (k, v) => s"$k=$v" }.mkString(" "))
        if (bad.values.sum > 0) {
          graft.lake.Parity.diff(table.readInternal(), other, keys, exact = exact)
            .show(20, truncate = false)
          sys.exit(2)
        }
      case "tail" =>
        // committed-manifest-driven (NOT readStreamChanges): change windows
        // respect rollbacks and never see uncommitted-publish orphans, and
        // the destination's epoch lineage is the watermark. The writerId is
        // "lake-tail", DELIBERATELY distinct from the round-2 file tail's
        // "cdc-tail": that released binary's lineage recorded STREAMING
        // MICRO-BATCH ids, not source versions — reusing the name would
        // silently skip source versions at or below the old batch counter.
        // A destination previously fed by the file tail resyncs once via
        // the bootstrap path (current snapshot state, vacuum-proof) and
        // converges by LWW — never duplicates.
        // mirror the source's full layout (distribution key + slicing knob),
        // not just keys/buckets, so the replica prunes like the original
        val dst = LakeTable.create(spark, args(2), table.keyCols, table.numBuckets,
          distCols = table.distCols, targetFileRows = table.targetFileRows,
          sortCols = table.sortCols)
        val applied = graft.lake.Replicate.follow(table, dst, writerId = "lake-tail",
          pollMillis = 500L, idleRounds = 2)
        println(s"tailed -> ${args(2)} physicalRows=${dst.currentSnapshot().rows} applied=$applied")
    }
    spark.stop()
  }
}
