package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge

import graft.engine.{JdbcExec, JobConfig, SyncJob, Transformers}
import graft.engine.cdc.CdcPipeline
import graft.sources.SyntheticSource

/** `datax -job config.json`, graft edition:
  * `runMain graft.tools.RunJob <config.json> [--dry-run]`.
  *
  * Parses the reference's JSON job shape ([[JobConfig]]) and executes each
  * content block through the ordinary engine machinery ([[SyncJob.runFrom]]
  * → transform chain → error limiter → sink), so a config written for
  * go-datax runs against graft unchanged. `--dry-run` prints the translated
  * plan (source, split predicates, writer SQL) without touching any system —
  * every config in the reference's own `test-data/` translates this way in
  * the JobSpecSpec conformance suite.
  *
  * [[Overrides]] substitutes unreachable endpoints (a JDBC source in the
  * zero-egress sandbox, a mongo sink) with local equivalents while keeping
  * the rest of the translated pipeline intact — the mechanism the E2E specs
  * use to replay the reference's conformance configs end to end.
  *
  * One graft-native plugin pair extends the shape: `cdcreader` +
  * `lakewriter` run the streaming CDC MERGE ([[graft.engine.cdc.CdcPipeline]])
  * from the same JSON surface — the reference approximates incremental sync
  * by re-running a batch job with a `where` watermark; graft's analog is a
  * resumable change-log tail with exactly-once epochs.
  */
object RunJob {

  final case class Overrides(
      /** replaces the translated reader's input plan */
      source: Option[SparkSession => DataFrame] = None,
      /** replaces the translated writer's sink */
      sink: Option[SyncJob.Sink] = None,
      /** where streamwriter lines land (default: a temp dir) */
      streamPath: Option[String] = None,
      /** longest-prefix path rewrites applied to file reader/writer paths —
        * rebases a config's absolute paths onto local fixtures
        */
      rebase: Seq[(String, String)] = Nil)

  private def rebasePath(p: String, rules: Seq[(String, String)]): String =
    rules.filter { case (from, _) => p.startsWith(from) }
      .sortBy(-_._1.length).headOption
      .map { case (from, to) => to + p.stripPrefix(from) }
      .getOrElse(p)

  def buildInput(spark: SparkSession, plan: JobConfig.ReaderPlan, ov: Overrides): DataFrame =
    ov.source.map(_(spark)).getOrElse(plan match {
      case JobConfig.FileRead(src) =>
        val paths = src.path.split(",").map(rebasePath(_, ov.rebase)).mkString(",")
        SyncJob.read(spark, src.copy(path = paths))
      case JobConfig.StreamRead(cols, perSlice, slices) =>
        SyntheticSource.generate(spark, cols, perSlice, slices)
      case JobConfig.JdbcRead(dialect, url, table, predicates, session, props,
          splitPk, splitN) =>
        val opts = dialect.readerOptions(url, table, session) ++
          props.filter(_._2.nonEmpty)
        // Split-probe upgrade (the reference's Split phase, the one place
        // that needs a live connection): replace the static hash cover —
        // each predicate an unindexable full scan at the source — with
        // sargable range predicates. A failed probe degrades to the static
        // plan like the reference's fallback-to-single-task
        // (`mysql_reader.go:112-121`), never fails the job.
        val effective: Seq[String] =
          if (splitPk.isEmpty || splitN <= 1) predicates
          else try JdbcExec.probeSplit(url, props, dialect, table, splitPk, splitN) match {
            case JdbcExec.SplitPlan.Probed(p) => p
            case JdbcExec.SplitPlan.SingleTask => Nil
            case JdbcExec.SplitPlan.UseHash => predicates
          } catch {
            case e: Exception =>
              org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
                s"splitPk probe on $table failed (${e.getMessage}); " +
                  s"falling back to the static split plan")
              predicates
          }
        if (effective.nonEmpty) {
          val p = new java.util.Properties()
          opts.foreach { case (k, v) => p.setProperty(k, v) }
          spark.read.jdbc(opts("url"), table, effective.toArray, p)
        } else spark.read.format("jdbc").options(opts).load()
      case lr: JobConfig.LakeRead if lr.fromVersion.nonEmpty =>
        // CDC-out export: the change set — bootstrap (full LWW state,
        // tombstones included) or a committed window — as canonical
        // (op, lsn, payload...) rows; pair with `cdcwriter` for an envelope
        // JSONL feed any downstream CDC consumer can replay.
        import org.apache.spark.sql.functions.col
        val table = graft.lake.LakeTable.open(spark, rebasePath(lr.root, ov.rebase))
        val fv = lr.fromVersion.get
        val changes0 =
          (if (fv < 0) table.readChangesBootstrap()
           else table.readChangesBetween(fv,
             pinnedVersion(table, lr).getOrElse(table.currentSnapshot().version)))
            .withColumnRenamed(graft.lake.LakeTable.OpCol, "op")
            .withColumnRenamed(graft.lake.LakeTable.LsnCol, "lsn")
        val payloadCols = changes0.columns.filterNot(c => c == "op" || c == "lsn").toSeq
        changes0.select((col("op") +: col("lsn") +: payloadCols.map(col)): _*)

      case lr: JobConfig.LakeRead =>
        // snapshot export: the table's resolved state (optionally pinned to
        // a version) as an ordinary batch input — lake→file/jdbc/stream
        // jobs. A `where` on the HEAD version goes through the manifest's
        // stats-pruned scan (file skipping); a pinned version filters the
        // snapshot read (pruning metadata describes the head only).
        val table = graft.lake.LakeTable.open(spark, rebasePath(lr.root, ov.rebase))
        val base = (lr.where, pinnedVersion(table, lr)) match {
          case (Some(w), None) =>
            table.readWhere(org.apache.spark.sql.functions.expr(w))
          case (Some(w), Some(v)) =>
            table.readVersion(v).filter(org.apache.spark.sql.functions.expr(w))
          case (None, Some(v)) => table.readVersion(v)
          case (None, None) => table.read()
        }
        if (lr.columns.isEmpty) base
        else base.select(lr.columns.map(org.apache.spark.sql.functions.col): _*)
      case _: JobConfig.CdcRead => throw new IllegalArgumentException(
        "cdcreader is a streaming tail, not a batch input - it pairs with " +
          "lakewriter or an RDBMS writer")
    })

  def runContent(spark: SparkSession, t: JobConfig.Translated,
      ov: Overrides = Overrides()): SyncJob.JobResult = (t.reader, t.writer) match {
    // lake→lake: replication catch-up or rollup refresh, one epoch-guarded
    // merge — never through buildInput (the window math IS the job)
    case (lr: JobConfig.LakeRead, lw: JobConfig.LakeWrite) =>
      runLakePair(spark, lr, lw.dests.head, ov) // translate() rejects routes here
    // the streaming pairs never go through buildInput — the change log is
    // tailed by the pipeline's own readStream, not materialized as a batch
    case (_, lw: JobConfig.LakeWrite) => runCdcContent(spark, t, lw, ov)
    case (c: JobConfig.CdcRead, jw: JobConfig.JdbcWrite) =>
      runCdcJdbcContent(spark, c, jw, ov)
    case _ => runBatchContent(spark, t, ov)
  }

  /** cdcreader→RDBMS-writer content: the streaming MERGE-apply into a live
    * database ([[CdcPipeline.startJdbc]]) — per-epoch LWW dedupe, key-ranged
    * DELETEs for tombstones, dialect-native upsert (or the portable
    * same-transaction DELETE+INSERT), and an epoch ledger on the TARGET for
    * exactly-once end state across checkpoint rebuilds.
    */
  private def runCdcJdbcContent(spark: SparkSession, cdc: JobConfig.CdcRead,
      jw: JobConfig.JdbcWrite, ov: Overrides): SyncJob.JobResult = {
    val t = jw.target
    JdbcExec.execStatements(t.url, t.props, jw.preSql)
    val dest = CdcPipeline.JdbcDest(
      JdbcExec.requireKeys(s"cdc apply into ${t.table}", t), jw.writerId, jw.ledgerTable)
    val t0 = System.nanoTime()
    val stream = CdcPipeline.startJdbc(spark, tailConfig(cdc, ov), dest)
    stream.query.awaitTermination()
    JdbcExec.execStatements(t.url, t.props, jw.postSql)
    SyncJob.JobResult(
      rowsWritten = stream.upserts.get() + stream.deletes.get(),
      rowsBad = 0L, seconds = (System.nanoTime() - t0) / 1e9)
  }

  /** The one tail config: the cdcreader's log, checkpoint and decode
    * settings, the lakewriter's stream-level cadence (a jdbc tail has none:
    * the defaults), and the single-table writer's lineage and followers.
    */
  private def tailConfig(cdc: JobConfig.CdcRead, ov: Overrides,
      lw: JobConfig.LakeWrite = JobConfig.LakeWrite(Right(Nil)),
      writerId: String = graft.lake.LakeTable.DefaultWriter,
      followers: Seq[CdcPipeline.Follower] = Nil): CdcPipeline.CdcConfig =
    CdcPipeline.CdcConfig(
      logDir = rebasePath(cdc.logDir, ov.rebase),
      checkpointDir = rebasePath(cdc.checkpoint, ov.rebase),
      maxFilesPerTrigger = cdc.maxFilesPerTrigger,
      availableNow = !cdc.continuous,
      toolColumn = cdc.toolColumn,
      vacuumEvery = lw.vacuumEvery,
      vacuumRetainVersions = lw.vacuumRetainVersions,
      expireTombstonesEvery = lw.expireTombstonesEvery,
      tombstoneRetainLsns = lw.tombstoneRetainLsns,
      tagEvery = lw.tagEvery,
      tagPrefix = lw.tagPrefix,
      tagKeep = lw.tagKeep,
      writerId = writerId,
      format = cdc.format,
      dlqDir = cdc.dlqDir.map(rebasePath(_, ov.rebase)),
      triggerInterval = cdc.triggerInterval,
      followers = followers,
      payloadSchema = cdc.payload,
      tableFilter = cdc.tableFilter,
      routeParallelism = lw.routeParallelism)

  /** lakereader→lakewriter content: [[graft.lake.Replicate.sync]] (no
    * aggregations — a lake→lake catch-up that converges the destination to
    * the source state in one epoch-guarded merge) or
    * [[graft.lake.Rollup.sync]] (aggregations configured — the destination
    * is an incrementally-maintained rollup grouped by its primaryKey).
    * Replays are exactly-once by the same watermark the programmatic APIs
    * use: the destination's per-writer epoch lineage.
    */
  /** A lakereader's version pin: `tag` resolved against the live table
    * ([[graft.lake.LakeTable.tagVersion]] — sharp error on an unknown
    * name), else `asOf` wall-clock commit time
    * ([[graft.lake.LakeTable.versionAsOf]] — sharp error before the
    * retention horizon), else the literal `toVersion`.
    */
  private def pinnedVersion(table: graft.lake.LakeTable,
      lr: JobConfig.LakeRead): Option[Long] =
    lr.tag.map(table.tagVersion)
      .orElse(lr.asOf.map(s =>
        table.versionAsOf(graft.lake.LakeTable.parseTimestamp(s))))
      .orElse(lr.toVersion)

  private def runLakePair(spark: SparkSession, lr: JobConfig.LakeRead,
      d: JobConfig.LakeDest, ov: Overrides): SyncJob.JobResult = {
    val src = graft.lake.LakeTable.open(spark, rebasePath(lr.root, ov.rebase))
    val rollup = lr.aggregations.nonEmpty
    if (rollup) require(d.keyCols.nonEmpty,
      "lakewriter primaryKey is required for a rollup destination (the group columns)")
    val dst = openOrCreateLake(spark,
      if (d.keyCols.nonEmpty) d else d.copy(keyCols = src.keyCols), ov)
    // the ingest-default writerId would cross the replication watermark with
    // the table's own ingest epochs (different epoch spaces) — scope it by
    // role unless the config names one explicitly
    val wid =
      if (d.writerId != graft.lake.LakeTable.DefaultWriter) d.writerId
      else if (rollup) "rollup" else "replication"
    val st =
      if (rollup && lr.additive) {
        val sums = lr.aggregations.map { case (n, e) =>
          (n, org.apache.spark.sql.functions.expr(e))
        }
        graft.lake.Rollup.syncAdditive(src, dst, sums, writerId = wid,
          toVersion = pinnedVersion(src, lr))
      } else if (rollup) {
        val aggs = lr.aggregations.map { case (n, e) =>
          org.apache.spark.sql.functions.expr(e).as(n)
        }
        graft.lake.Rollup.sync(src, dst, aggs, writerId = wid,
          toVersion = pinnedVersion(src, lr))
      } else {
        require(lr.toVersion.isEmpty && lr.tag.isEmpty && lr.asOf.isEmpty,
          "toVersion/tag/asOf pinning is a rollup feature - replication always tracks the head")
        graft.lake.Replicate.sync(src, dst, writerId = wid)
      }
    SyncJob.JobResult(rowsWritten = st.rowsApplied, rowsBad = 0L,
      seconds = st.seconds, bytesWritten = st.bytesIn)
  }

  private def runBatchContent(spark: SparkSession, t: JobConfig.Translated,
      ov: Overrides): SyncJob.JobResult = {
    val input = buildInput(spark, t.reader, ov)
    val transformed = Transformers.chain(input, t.transforms)

    t.writer match {
      case JobConfig.FileWrite(sink0, header, preSql, postSql) =>
        val sink = ov.sink.getOrElse(
          sink0.copy(path = rebasePath(sink0.path, ov.rebase)))
        // header list renames output columns positionally (the reference
        // writes the given header line verbatim, `txtfile_writer.go:84-88`).
        // Text mode writes the header through the sink's headerLine option
        // instead — there the reference does not require the list to match
        // the column count, so no rename
        val renamed =
          if (header.isEmpty || ov.sink.isDefined || sink.format == "stream-text") transformed
          else {
            val cols = transformed.columns
            require(header.length == cols.length,
              s"header has ${header.length} names for ${cols.length} columns")
            transformed.toDF(header: _*)
          }
        SyncJob.runFrom(spark, renamed, Nil, sink,
          errorLimit = t.errorLimit, preSql = preSql, postSql = postSql)

      case JobConfig.StreamWrite(delim, print) =>
        val path = ov.sink.map(_.path).orElse(ov.streamPath).getOrElse(
          java.nio.file.Files.createTempDirectory("graft-stream-").toString + "/out")
        val sink = ov.sink.getOrElse(SyncJob.Sink(format = "stream-text", path = path,
          writeMode = SyncJob.WriteMode.Truncate,
          options = Map("sep" -> delim, "nullValue" -> "")))
        val res = SyncJob.runFrom(spark, transformed, Nil, sink, errorLimit = t.errorLimit)
        if (print)
          // the reference prints every line to the console; a bounded echo
          // keeps the observable behavior without a driver-side collect of
          // the whole output
          spark.read.text(path).take(20).foreach(r => println(r.getString(0)))
        res

      case jw: JobConfig.JdbcWrite =>
        ov.sink match {
          case Some(sink) =>
            // substituted target (e.g. lake upsert in the sandbox): writeMode
            // update/replace keep their per-key replace semantics via the
            // lake MERGE; preSql/postSql are target-side and dropped
            SyncJob.runFrom(spark, transformed, Nil, sink, errorLimit = t.errorLimit)
          case None =>
            val target = jw.target
            JdbcExec.execStatements(target.url, target.props, jw.preSql)
            val res = SyncJob.runFrom(spark, transformed, Nil,
              SyncJob.Sink(format = "jdbc", path = target.table, jdbc = Some(jw)),
              errorLimit = t.errorLimit)
            JdbcExec.execStatements(target.url, target.props, jw.postSql)
            res
        }

      case _: JobConfig.LakeWrite => throw new IllegalStateException(
        "lakewriter content is dispatched by runContent") // unreachable
    }
  }

  /** cdcreader→lakewriter content: every destination opens
    * ([[openDest]]), then the log is tailed into the one table
    * ([[CdcPipeline.start]]) or demultiplexed into the routes
    * ([[CdcPipeline.startRouted]]). Job stats are the manifest-stat delta
    * across the run summed over the destinations: metadata reads, no table
    * scan (the 100 TB-safe way to count).
    */
  private def runCdcContent(spark: SparkSession, t: JobConfig.Translated,
      lw: JobConfig.LakeWrite, ov: Overrides): SyncJob.JobResult = {
    val cdc = t.reader match {
      case c: JobConfig.CdcRead => c
      case other => throw new IllegalArgumentException(
        s"lakewriter requires cdcreader (got $other)") // translate() guards this
    }
    val opened = lw.dests.map(openDest(spark, _, ov))
    def statTotals(): (Long, Long) = opened.map { case (table, _) =>
      val m = table.metrics()
        .agg(org.apache.spark.sql.functions.sum("rowsApplied"),
          org.apache.spark.sql.functions.sum("bytesIn")).head()
      (if (m.isNullAt(0)) 0L else m.getLong(0), if (m.isNullAt(1)) 0L else m.getLong(1))
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val (rows0, bytes0) = statTotals()
    val t0 = System.nanoTime()
    val q = lw.target match {
      case Left(d) =>
        val (table, followers) = opened.head
        CdcPipeline.start(spark, table, tailConfig(cdc, ov, lw, d.writerId, followers))
      case Right(routes) =>
        val base = if (cdc.toolColumn) graft.core.Model.changeEventSchema
          else graft.core.Model.changeEventSchemaV1
        val transcript = org.apache.spark.sql.types.StructType(
          base.fields.filterNot(f => f.name == "op" || f.name == "lsn"))
        CdcPipeline.startRouted(spark, tailConfig(cdc, ov, lw),
          routes.zip(opened).map { case (r, (table, followers)) =>
            CdcPipeline.Route(r.table, table, r.payload.getOrElse(transcript),
              r.dest.writerId, followers)
          })
    }
    q.awaitTermination() // availableNow stops at end-of-log; continuous tails until killed
    val secs = (System.nanoTime() - t0) / 1e9
    val (rows1, bytes1) = statTotals()
    SyncJob.JobResult(rowsWritten = rows1 - rows0, rowsBad = 0L,
      seconds = secs, bytesWritten = bytes1 - bytes0)
  }

  /** One lake destination of a tail (the single-table writer's or a
    * route's): open-or-create it with its layout, onboard it from its
    * bootstrap source, and build its followers.
    */
  private def openDest(spark: SparkSession, d: JobConfig.LakeDest,
      ov: Overrides): (graft.lake.LakeTable, Seq[CdcPipeline.Follower]) = {
    val table = openOrCreateLake(spark, d, ov)
    // initial-snapshot onboarding: seed the table through the ordinary
    // batch-input machinery (splitPk probe included) BEFORE the tail starts.
    // The bootstrap lineage is scoped off the stream's writerId, so the
    // load is exactly-once across onboarding re-runs and never collides
    // with the tail's epochs. See CdcPipeline.bootstrap for the
    // convergence contract.
    d.bootstrap.foreach { bs =>
      val bwid = s"${d.writerId}-bootstrap"
      if (table.currentSnapshot().lastEpochFor(bwid) < 0L)
        CdcPipeline.bootstrap(table, buildInput(spark, bs.plan, ov), bs.lsn, bwid)
    }
    (table, buildFollowers(spark, table, d.followers, ov))
  }

  /** Follower specs → live followers: same open-or-create + role-scoped
    * writerId defaults as a standalone lakereader→lakewriter job
    * (runLakePair), attached per epoch. `table` is the ingest destination
    * the followers trail (key defaults derive from it).
    */
  private def buildFollowers(spark: SparkSession, table: graft.lake.LakeTable,
      followers: Seq[JobConfig.FollowerSpec],
      ov: Overrides): Seq[CdcPipeline.Follower] =
    followers.map { f =>
      if (f.jdbc.nonEmpty)
        // live-database mirror
        CdcPipeline.JdbcFollower(CdcPipeline.JdbcDest(
          JdbcExec.requireKeys(s"jdbc follower on ${f.jdbc.get.table}", f.jdbc.get),
          writerId = if (f.writerId.nonEmpty) f.writerId else "cdc-mirror"))
      else if (f.feedFormat.nonEmpty) {
        // outbound envelope feed: debezium delete images need the keys —
        // default to the ingest table's primary key, like the mirror does
        val keys = if (f.keyCols.nonEmpty) f.keyCols else table.keyCols
        CdcPipeline.FeedFollower(rebasePath(f.root, ov.rebase), f.feedFormat, keys)
      } else if (f.history) {
        // SCD2 history table: layout is DERIVED from the ingest table
        // (keys + scd_seq sentinel, distributed by the ingest key) so the
        // open-row lookup stays bucket-pruned — see Scd2.createDst
        val dst = openOrCreateLake(spark, JobConfig.LakeDest(f.root,
          table.keyCols :+ graft.lake.Scd2.SeqCol, table.numBuckets,
          distCols = table.keyCols, targetFileRows = f.targetFileRows), ov)
        CdcPipeline.Scd2Follower(dst, if (f.writerId.nonEmpty) f.writerId else "scd2")
      } else {
        val rollup = f.aggregations.nonEmpty
        val dst = openOrCreateLake(spark, JobConfig.LakeDest(f.root,
          if (f.keyCols.nonEmpty) f.keyCols else table.keyCols, f.buckets,
          distCols = f.distCols, targetFileRows = f.targetFileRows), ov)
        val wid = if (f.writerId.nonEmpty) f.writerId
          else if (rollup) "rollup" else "replication"
        if (rollup && f.additive) {
          val sums = f.aggregations.map { case (n, e) =>
            (n, org.apache.spark.sql.functions.expr(e))
          }
          CdcPipeline.AdditiveRollupFollower(dst, sums, wid)
        } else if (rollup) {
          val aggs = f.aggregations.map { case (n, e) =>
            org.apache.spark.sql.functions.expr(e).as(n)
          }
          CdcPipeline.RollupFollower(dst, aggs, wid)
        } else CdcPipeline.ReplicaFollower(dst, wid)
      }
    }

  /** Open the lake table with its manifest-recorded layout when it exists;
    * create it with the config's layout otherwise. Config keys that
    * contradict an existing table's manifest fail fast rather than silently
    * merging on the wrong key.
    */
  private def openOrCreateLake(spark: SparkSession, d: JobConfig.LakeDest,
      ov: Overrides): graft.lake.LakeTable = {
    val root = rebasePath(d.root, ov.rebase)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(SessionBridge.hadoopConf(spark))
    val exists = fs.exists(new org.apache.hadoop.fs.Path(s"$root/_snapshots/snap-0.txt"))
    if (exists) {
      val table = graft.lake.LakeTable.open(spark, root, targetFileRows = d.targetFileRows)
      require(d.keyCols.isEmpty || d.keyCols == table.keyCols,
        s"lakewriter primaryKey ${d.keyCols.mkString(",")} contradicts the existing " +
          s"table's manifest layout ${table.keyCols.mkString(",")} at $root")
      require(d.distCols.isEmpty || d.distCols == table.distributionCols,
        s"lakewriter distributionColumns ${d.distCols.mkString(",")} contradicts " +
          s"the existing table's manifest layout " +
          s"${table.distributionCols.mkString(",")} at $root")
      table
    } else graft.lake.LakeTable.create(spark, root,
      if (d.keyCols.nonEmpty) d.keyCols else graft.core.Model.keyCols, d.buckets,
      distCols = d.distCols, targetFileRows = d.targetFileRows, sortCols = d.sortCols)
  }

  def run(spark: SparkSession, spec: JobConfig.Spec,
      ov: Overrides = Overrides()): Seq[SyncJob.JobResult] =
    JobConfig.translate(spec).map(runContent(spark, _, ov))

  def describe(t: JobConfig.Translated): String = {
    def reader(plan: JobConfig.ReaderPlan): String = plan match {
      case JobConfig.FileRead(src) => s"file[${src.format}] ${src.path}"
      case JobConfig.StreamRead(cols, n, s) => s"stream ${cols.length} cols x $n rows x $s slices"
      case JobConfig.JdbcRead(d, url, table, preds, _, _, splitPk, splitN) =>
        s"jdbc[${d.name}] $url $table" +
          (if (splitPk.nonEmpty && splitN > 1)
             s" splitPk=${splitPk}x$splitN (range/dictionary probe at run time;" +
               s" static fallback${if (preds.nonEmpty) s": ${preds.head} ..." else ": single task"})"
           else if (preds.nonEmpty) s" split=${preds.length}: ${preds.head} ..." else "")
      case lr: JobConfig.LakeRead =>
        s"lake ${lr.root} " +
          (if (lr.aggregations.nonEmpty)
             s"rollup[${lr.aggregations.map { case (n, e) => s"$n=$e" }.mkString(", ")}]"
           else if (lr.fromVersion.nonEmpty)
             s"changes[${if (lr.fromVersion.get < 0) "bootstrap"
               else s"(${lr.fromVersion.get}, ${lr.tag.map("tag:" + _)
                 .orElse(lr.asOf.map("asOf:" + _))
                 .orElse(lr.toVersion.map(_.toString)).getOrElse("head")}]"}]"
           else "replicate/export") +
          (if (lr.fromVersion.isEmpty)
             lr.tag.map(t => s" @tag:$t")
               .orElse(lr.asOf.map(t => s" @asOf:$t"))
               .orElse(lr.toVersion.map(v => s" @v$v")).getOrElse("")
           else "") +
          lr.where.map(w => s" where[$w]").getOrElse("") +
          (if (lr.columns.nonEmpty) s" cols=(${lr.columns.mkString(",")})" else "")
      case c: JobConfig.CdcRead =>
        s"cdc-tail[${c.format}] ${c.logDir} ckpt=${c.checkpoint} " +
          s"maxFilesPerTrigger=${c.maxFilesPerTrigger} " +
          s"mode=${if (c.continuous) "continuous" else "availableNow"}" +
          c.triggerInterval.map(i => s" trigger='$i'").getOrElse("") +
          c.dlqDir.map(d => s" dlq=$d").getOrElse("") +
          c.payload.map(ps => s" payload=(${ps.fieldNames.mkString(",")})")
            .getOrElse(if (!c.toolColumn) " schema=v1(no tool col)" else "")
    }
    def follower(f: JobConfig.FollowerSpec): String = f.jdbc match {
      case Some(j) => s"jdbc-mirror[${j.dialect.name}] ${j.url} ${j.table}"
      case None =>
        if (f.feedFormat.nonEmpty) s"feed[${f.feedFormat}] ${f.root}"
        else if (f.history) s"scd2 ${f.root}"
        else if (f.aggregations.isEmpty) s"replica ${f.root}"
        else s"rollup ${f.root} group=(${f.keyCols.mkString(",")}) " +
          f.aggregations.map { case (n, e) => s"$n=$e" }.mkString(",")
    }
    // a lake destination: its layout (then `more`) on one line, one line
    // below it per onboarding source and follower
    def dest(d: JobConfig.LakeDest, more: String, indent: String): String =
      s"${d.root} key=(${d.keyCols.mkString(",")}) buckets=${d.buckets} writerId=${d.writerId}" +
        (if (d.distCols.nonEmpty) s" dist=(${d.distCols.mkString(",")})" else "") +
        d.targetFileRows.map(n => s" targetFileRows=$n").getOrElse("") +
        (if (d.sortCols.nonEmpty) s" sort=(${d.sortCols.mkString(",")})" else "") + more +
        d.bootstrap.map(b => s"\n${indent}bootstrap[lsn=${b.lsn}]: ${reader(b.plan)}").getOrElse("") +
        d.followers.map(f => s"\n${indent}follower: ${follower(f)}").mkString
    val r = reader(t.reader)
    val w = t.writer match {
      case JobConfig.FileWrite(sink, header, _, _) =>
        s"file[${sink.format}] ${sink.path} mode=${sink.writeMode}" +
          (if (header.nonEmpty) s" header=${header.mkString(",")}" else "")
      case JobConfig.StreamWrite(d, p) => s"stream delim='$d' print=$p"
      case jw: JobConfig.JdbcWrite =>
        val jt = jw.target
        val c = jt.columnsOr(Seq("c1", "c2"))
        val sql = jw.writeMode match {
          case "replace" => jt.dialect.replaceSql(jt.table, c, jt.keys)
          case "update" => jt.dialect.upsertSql(jt.table, c,
            if (jt.keys.nonEmpty) jt.keys else Seq(c.head))
          case _ => jt.dialect.upsertSql(jt.table, c, Nil)
        }
        s"jdbc[${jt.dialect.name}] ${jt.url} ${jt.table} mode=${jw.writeMode} batch=${jt.batchSize}" +
          s"\n    sql: $sql" +
          (if (jw.preSql.nonEmpty) s"\n    preSql: ${jw.preSql.mkString("; ")}" else "")
      case lw: JobConfig.LakeWrite =>
        val cadence =
          (if (lw.vacuumEvery > 0)
            s" vacuumEvery=${lw.vacuumEvery} retain=${lw.vacuumRetainVersions}" else "") +
          (if (lw.expireTombstonesEvery > 0)
            s" expireTombstonesEvery=${lw.expireTombstonesEvery}" +
              s" retainLsns=${lw.tombstoneRetainLsns}" else "") +
          (if (lw.tagEvery > 0)
            s" tagEvery=${lw.tagEvery} prefix=${lw.tagPrefix} keep=${lw.tagKeep}" else "")
        lw.target match {
          case Left(d) => s"lake-merge ${dest(d, cadence, "    ")}"
          case Right(routes) =>
            s"lake-route (${routes.length} tables, one epoch lineage each" +
              (if (lw.routeParallelism > 1) s", parallelism=${lw.routeParallelism}" else "") +
              ")" + cadence +
              routes.map(r => s"\n    route: ${r.table} -> " + dest(r.dest,
                r.payload.map(ps => s" cols=${ps.fieldNames.length}").getOrElse(""),
                "      ")).mkString
        }
    }
    val tr = if (t.transforms.isEmpty) "" else
      s"\n  transform: ${t.transforms.map(_.getClass.getSimpleName).mkString(" -> ")}"
    s"  read:  $r$tr\n  write: $w\n  channel=${t.channel} errorLimit=${t.errorLimit}"
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunJob <config.json> [--dry-run]")
    val spec = JobConfig.fromFile(args(0))
    val dryRun = args.contains("--dry-run")
    val translated = JobConfig.translate(spec)
    translated.zipWithIndex.foreach { case (t, i) =>
      println(s"content[$i]:\n${describe(t)}")
    }
    if (!dryRun) {
      val spark = Session()
      try {
        val results = translated.map(runContent(spark, _))
        results.zipWithIndex.foreach { case (r, i) =>
          val rate = if (r.seconds > 0) (r.rowsWritten / r.seconds).toLong else 0L
          println(f"content[$i]: ${r.rowsWritten} rows (${r.rowsBad} bad) in " +
            f"${r.seconds}%.2f s - $rate rows/s, ${r.bytesWritten} bytes")
        }
      } finally spark.stop()
    }
  }
}
