package graft.engine

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.sources.{CdcEnvelope, SyntheticSource}

/** The reference's ONLY user entry point is a JSON job config — `datax -job
  * config.json` (`core/engine/engine.go:34-81`) parsed into a dotted-path
  * store (`common/config/configuration.go:60-105`) with the shape
  * `job.content[0].{reader,transformer,writer}` + `job.setting.{speed.
  * channel, errorLimit}`. This module parses that exact shape and translates
  * each plugin block into graft's programmatic surface ([[SyncJob]],
  * [[Dialect]], [[JdbcExec]], [[SyntheticSource]]), so a go-datax user's
  * existing config runs unchanged (`graft.tools.RunJob <config.json>`); the
  * JSON configs under the reference's own `test-data/` directory are the
  * conformance suite (JobSpecSpec parses and translates every one of them).
  *
  * Translation is PLAN construction only — pure, driver-side, testable
  * without any live system. Execution lives in [[graft.tools.RunJob]].
  */
object JobConfig {

  /** Dotted-path accessor over a parsed JSON tree — the semantics of the
    * reference's `DefaultConfiguration.Get` (`configuration.go:88-105`):
    * descend map keys; a missing key yields the zero value, and scalars
    * stringify like Go's `fmt.Sprintf("%v")` (`GetString`,
    * `configuration.go:107-117`).
    */
  final class Conf(val node: JsonNode) {
    def get(path: String): Option[JsonNode] = {
      var cur = node
      for (k <- path.split('.')) {
        if (cur == null) return None
        cur = cur.get(k)
      }
      Option(cur).filterNot(_.isNull)
    }
    def str(path: String, default: String = ""): String =
      get(path).map(n => if (n.isTextual) n.asText else n.toString).filter(_.nonEmpty).getOrElse(default)
    def int(path: String, default: Int = 0): Int = get(path).map(_.asInt(default)).getOrElse(default)
    def long(path: String, default: Long = 0L): Long = get(path).map(_.asLong(default)).getOrElse(default)
    def bool(path: String, default: Boolean = false): Boolean =
      get(path).map(_.asBoolean(default)).getOrElse(default)
    def has(path: String): Boolean = get(path).isDefined
    /** GetStringList: a JSON array of scalars as strings; non-array → empty. */
    def strList(path: String): Seq[String] = get(path) match {
      case Some(n) if n.isArray =>
        n.elements().asScala.map(e => if (e.isTextual) e.asText else e.toString).toSeq
      case _ => Nil
    }
    def listConf(path: String): Seq[Conf] = get(path) match {
      case Some(n) if n.isArray => n.elements().asScala.map(new Conf(_)).toSeq
      case _ => Nil
    }
    /** path params may be a single string OR a list (`txtfile_reader.go:56-69`). */
    def pathList(path: String): Seq[String] = get(path) match {
      case Some(n) if n.isArray => n.elements().asScala.map(_.asText).toSeq
      case Some(n) => Seq(n.asText)
      case None => Nil
    }
  }

  final case class Content(
      readerName: String,
      reader: Conf,
      writerName: String,
      writer: Conf,
      transforms: Seq[Transformers.Transform])

  final case class Spec(
      channel: Int,
      errorLimit: SyncJob.ErrorLimit,
      contents: Seq[Content])

  def parse(json: String): Spec = {
    val root = new Conf(new ObjectMapper().readTree(json))
    val channel = math.max(1, root.int("job.setting.speed.channel", 1))
    // error_limiter.go:27-28: record<=0 disables the count check; percentage
    // is an INT percent, default 100 (=1.0, disabled)
    val rec = root.int("job.setting.errorLimit.record", 0)
    val pct = root.int("job.setting.errorLimit.percentage", 100)
    val limit = SyncJob.ErrorLimit(
      record = if (rec > 0) rec.toLong else Long.MaxValue,
      percentage = pct / 100.0)
    val contents = root.listConf("job.content").map { c =>
      Content(
        readerName = c.str("reader.name"),
        reader = new Conf(c.get("reader.parameter").orNull),
        writerName = c.str("writer.name"),
        writer = new Conf(c.get("writer.parameter").orNull),
        transforms = c.listConf("transformer").map(parseTransform))
    }
    require(contents.nonEmpty, "job.content is empty")
    Spec(channel, limit, contents)
  }

  def fromFile(path: String): Spec =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** `{name, parameter: {columnIndex, paras: [...]}}` (docs/TRANSFORMER.md). */
  def parseTransform(t: Conf): Transformers.Transform = {
    val ci = Left(t.int("parameter.columnIndex")): Either[Int, String]
    val paras = t.strList("parameter.paras")
    def para(i: Int): String =
      if (i < paras.length) paras(i)
      else throw new IllegalArgumentException(s"${t.str("name")}: missing paras[$i]")
    t.str("name") match {
      case "dx_filter" => Transformers.DxFilter(ci, para(0), para(1))
      case "dx_substr" => Transformers.DxSubstr(ci, para(0).toInt, para(1).toInt)
      case "dx_replace" => Transformers.DxReplace(ci, para(0), para(1))
      case "dx_pad" => Transformers.DxPad(ci, para(0), para(1).toInt, para(2))
      case "dx_digest" => Transformers.DxDigest(ci, para(0))
      case other => throw new IllegalArgumentException(s"unknown transformer '$other'")
    }
  }

  // ---------------------------------------------------------------- plans

  sealed trait ReaderPlan
  /** File-backed readers ride [[SyncJob.read]] unchanged. */
  final case class FileRead(src: SyncJob.Source) extends ReaderPlan
  /** streamreader: channel slices × sliceRecordCount generated rows
    * (`stream_reader.go:67-81,122-143`).
    */
  final case class StreamRead(cols: Seq[SyntheticSource.ColumnGen], perSlice: Long,
      slices: Int) extends ReaderPlan
  /** RDBMS readers: Spark JDBC options + optional split predicates. `table`
    * is a dbtable EXPRESSION (possibly a pushdown subquery). `predicates` is
    * the STATIC plan — the dialect's hash-split cover, computable without a
    * live connection (what `--dry-run` shows, `mysql_reader.go:432-444`).
    * When `splitPk` is set, the runner upgrades it at execution time via the
    * reference's Split probe ([[JdbcExec.probeSplit]]): MIN/MAX → sargable
    * range predicates for numeric keys, a sorted-distinct boundary sample
    * for text keys — N index range scans instead of the hash cover's N full
    * table scans on the source.
    */
  final case class JdbcRead(dialect: Dialect, url: String, table: String,
      predicates: Seq[String], session: Seq[String],
      props: Map[String, String], splitPk: String = "",
      splitN: Int = 1) extends ReaderPlan
  /** cdcreader (graft-native extension — the reference has no streaming
    * reader; its closest analog is restarting a batch job on a schedule):
    * tail a binlog/WAL-shaped change-event log directory through
    * [[graft.engine.cdc.CdcPipeline]]. `mode=availableNow` drains the log
    * and stops (the batch-job shape RunJob can await); `mode=continuous`
    * keeps tailing on `triggerInterval`. Must pair with `lakewriter`.
    */
  final case class CdcRead(logDir: String, format: String, checkpoint: String,
      maxFilesPerTrigger: Int, continuous: Boolean, triggerInterval: Option[String],
      dlqDir: Option[String], toolColumn: Boolean,
      /** payload schema from named, typed `column` specs (the reference's
        * reader column shape) — None ⇒ the transcript default; set it to
        * tail change logs of any table shape
        */
      payload: Option[org.apache.spark.sql.types.StructType] = None,
      /** initial-snapshot onboarding: before the tail starts, the nested
        * batch reader loads the source's consistent state and it merges as
        * one insert epoch stamped `lsn` ([[graft.engine.cdc.CdcPipeline.bootstrap]]);
        * [[translate]] moves it onto the lakewriter's [[LakeDest]]
        */
      bootstrap: Option[CdcBootstrap] = None,
      /** single-table filter over a MULTI-TABLE envelope stream
        * (`"db.table"` or `"table"`) — only matching envelopes decode;
        * see [[graft.engine.cdc.CdcPipeline.CdcConfig.tableFilter]]
        */
      tableFilter: Option[String] = None) extends ReaderPlan
  /** `cdcreader.parameter.bootstrap`: `{lsn, reader: {name, parameter}}` —
    * the Debezium snapshot-mode analog for onboarding an EXISTING table
    * onto the tail. `plan` is any batch reader (jdbc with splitPk probe,
    * files, a lake state export); `lsn` is the consistent point the
    * snapshot reflects (changes with lsn ≤ it) — the tailed log must reach
    * back at least that far (see the convergence contract on
    * [[graft.engine.cdc.CdcPipeline.bootstrap]]).
    */
  final case class CdcBootstrap(plan: ReaderPlan, lsn: Long)
  /** lakereader (graft-native extension): a committed lake table as a
    * source. Paired with `lakewriter` it runs the incremental lake→lake
    * machinery from the JSON surface — [[graft.lake.Replicate.sync]] (one
    * catch-up merge of every source commit past the destination's epoch
    * watermark), or [[graft.lake.Rollup.sync]] when `aggregations` are
    * configured (the destination's `primaryKey` are the GROUP columns).
    * Paired with any other writer it exports the table's current resolved
    * state as an ordinary batch source (transform chains apply as usual).
    * `toVersion` pins replication/rollup to a source snapshot (time travel).
    */
  final case class LakeRead(root: String,
      aggregations: Seq[(String, String)] = Nil,
      toVersion: Option[Long] = None,
      /** export-only SQL predicate — served by the manifest's stats-pruned
        * scan ([[graft.lake.LakeTable.readWhere]]), so a selective filter
        * skips whole files before Spark lists them
        */
      where: Option[String] = None,
      /** export-only projection (`column`, other readers' param name) */
      columns: Seq[String] = Nil,
      /** CDC-out: export the CHANGE SET instead of the resolved state —
        * `-1` the bootstrap feed (current LWW state, tombstones included,
        * the fresh-consumer start), `k ≥ 0` the committed window
        * `(k, toVersion|head]` ([[graft.lake.LakeTable.readChangesBetween]]
        * semantics: O(window), rollback-reverted versions skipped). Rows
        * are canonical `(op, lsn, payload...)` — pair with `cdcwriter` for
        * an envelope JSONL feed any downstream CDC consumer can replay.
        */
      fromVersion: Option[Long] = None,
      /** pin by TAG name instead of a version number ([[graft.lake.LakeTable.tag]]):
        * resolved to the tagged version at run time, then used exactly as
        * `toVersion` (snapshot export, rollup cut, change-window upper
        * bound) — the config names the REPRODUCIBLE CUT ("train-cut-r3")
        * rather than a number nobody remembers. Mutually exclusive with
        * toVersion. NOTE the pin's scope: a tag protects the tagged
        * version's STATE (its manifest + data files) forever, but a
        * `fromVersion` change-window read bounded by it also needs the
        * intermediate versions' manifests and delta files, which live by
        * the NORMAL retention contract (vacuumRetainVersions /
        * expireSnapshots) — the tag names a durable upper bound, it does
        * not make an expired window readable (sharp missing-manifest
        * error, never silent truncation).
        */
      tag: Option[String] = None,
      /** pin by WALL-CLOCK commit time ([[graft.lake.LakeTable.versionAsOf]],
        * the `TIMESTAMP AS OF` analog): `"yyyy-MM-dd HH:mm:ss[.fff]"` or ISO
        * instant, resolved at run time to the newest version committed at or
        * before it, then used exactly as `toVersion`. Mutually exclusive
        * with toVersion/tag — one pin per read.
        */
      asOf: Option[String] = None,
      /** `additive: true` — aggregation exprs are PER-ROW expressions whose
        * SUM the rollup maintains per group with no live-table scan
        * ([[graft.lake.Rollup.syncAdditive]]; `n_live` row count implicit)
        */
      additive: Boolean = false) extends ReaderPlan

  sealed trait WriterPlan
  final case class FileWrite(sink: SyncJob.Sink, header: Seq[String],
      preSql: Seq[String], postSql: Seq[String]) extends WriterPlan
  /** streamwriter: canonical-formatted delimiter-joined lines
    * (`stream_writer.go:215-250`). The reference prints to the console; a
    * distributed engine writes the same lines as text files (plus an optional
    * bounded console echo), so `path` is filled by the runner.
    */
  final case class StreamWrite(fieldDelimiter: String, print: Boolean) extends WriterPlan
  /** RDBMS writer: the target, the batch writer's `writeMode` and the
    * target-side `preSql`/`postSql` run around the job. Paired with a
    * cdcreader it is the streaming apply's destination, whose epoch ledger
    * is `ledgerTable` scoped by `writerId`
    * ([[graft.engine.cdc.CdcPipeline.JdbcDest]]).
    */
  final case class JdbcWrite(target: JdbcExec.Target, writeMode: String,
      preSql: Seq[String], postSql: Seq[String],
      writerId: String, ledgerTable: String) extends WriterPlan
  /** lakewriter (graft-native extension): MERGE-apply the paired
    * [[CdcRead]]'s change events into one lake table (`target` Left) or,
    * with `routes` set, fan the stream out into one lake table per route
    * (`target` Right, [[graft.engine.cdc.CdcPipeline.startRouted]]). The
    * remaining fields are stream-level: they apply to every destination.
    */
  final case class LakeWrite(target: Either[LakeDest, Seq[RouteSpec]],
      vacuumEvery: Int = 0, vacuumRetainVersions: Int = 8,
      /** GC tombstones every N epochs / keep those within `retainLsns` of
        * the max applied lsn — the source's re-delivery horizon
        * ([[graft.engine.cdc.CdcPipeline.CdcConfig.expireTombstonesEvery]])
        */
      expireTombstonesEvery: Int = 0,
      tombstoneRetainLsns: Long = 0L,
      /** auto-pin a snapshot tag every N epochs, keep the newest `tagKeep`
        * (`tagEvery`/`tagPrefix`/`tagKeep` —
        * [[graft.engine.cdc.CdcPipeline.CdcConfig.tagEvery]]): durable
        * reproducibility points on the stream, GC-exempt until rotated out
        */
      tagEvery: Int = 0,
      tagPrefix: String = "epoch-",
      tagKeep: Int = 8,
      /** routed mode: max routes whose merges overlap within one epoch
        * (`routeParallelism`; 1 = sequential) — see
        * [[graft.engine.cdc.CdcPipeline.CdcConfig.routeParallelism]]
        */
      routeParallelism: Int = 1) extends WriterPlan {
    def dests: Seq[LakeDest] = target.fold(Seq(_), _.map(_.dest))
  }

  /** One lake destination — the lakewriter's own table or one `routes`
    * entry. An existing table is opened with its manifest layout;
    * `primaryKey`/`buckets` are the create-time layout for a fresh table.
    */
  final case class LakeDest(root: String, keyCols: Seq[String], buckets: Int,
      /** optional distribution-key subset (`distributionColumns`) — bucket
        * on a key prefix for group locality ([[graft.lake.LakeTable.distCols]])
        */
      distCols: Seq[String] = Nil,
      /** optional per-file row cap (`targetFileRows`) — published files
        * slice into contiguous key ranges so footer-stat file skipping
        * survives compaction ([[graft.lake.LakeTable.targetFileRows]])
        */
      targetFileRows: Option[Long] = None,
      /** optional clustering columns (`sortColumns`) — compaction re-sorts
        * each bucket by them so sliced base files carry tight footer
        * bounds on NON-key scan columns like `ts`
        * ([[graft.lake.LakeTable.sortCols]]; needs `targetFileRows`)
        */
      sortCols: Seq[String] = Nil,
      writerId: String = graft.lake.LakeTable.DefaultWriter,
      /** downstream tables co-maintained per streaming epoch (`followers`)
        * — replicas (no aggregations) or rollups (aggregations set, the
        * follower's `primaryKey` are the group columns); see
        * [[graft.engine.cdc.CdcPipeline.Follower]]
        */
      followers: Seq[FollowerSpec] = Nil,
      /** initial-snapshot onboarding before the tail starts (the
        * cdcreader's `bootstrap` for the single-table writer, a route's own
        * `bootstrap` otherwise; see [[graft.engine.cdc.CdcPipeline.bootstrap]])
        */
      bootstrap: Option[CdcBootstrap] = None)

  /** one `followers` entry on a lakewriter (the streaming analog of a
    * standalone lakereader→lakewriter job, sharing its config shape).
    * An entry with `jdbcUrl` set is instead a LIVE-DATABASE mirror
    * ([[graft.engine.cdc.CdcPipeline.JdbcFollower]]) into `jdbc`:
    * `table` + `dialect` name the target, `onConflictColumn` (or the
    * target's PK metadata) the keys — sound under log reorder because the
    * lake arbitrates first.
    * An entry with `format` set is an outbound ENVELOPE FEED
    * ([[graft.engine.cdc.CdcPipeline.FeedFollower]]): `path` is the feed
    * directory, `format` debezium|canal|maxwell, `onConflictColumn` the
    * delete-image keys (debezium; defaults to the table's primary key).
    */
  final case class FollowerSpec(root: String,
      keyCols: Seq[String], buckets: Int, distCols: Seq[String],
      targetFileRows: Option[Long], writerId: String,
      aggregations: Seq[(String, String)],
      jdbc: Option[JdbcExec.Target] = None,
      feedFormat: String = "",
      /** `history: true` — SCD Type-2 validity-interval table
        * ([[graft.engine.cdc.CdcPipeline.Scd2Follower]]); layout derived
        * from the ingest table ([[graft.lake.Scd2.createDst]])
        */
      history: Boolean = false,
      /** `additive: true` — aggregation exprs are PER-ROW expressions whose
        * SUM is maintained per group with no live scan
        * ([[graft.lake.Rollup.syncAdditive]]; `n_live` row count implicit)
        */
      additive: Boolean = false)

  /** one `routes` entry on a lakewriter — a destination of the MULTI-TABLE
    * demultiplex ([[graft.engine.cdc.CdcPipeline.Route]]): envelopes whose
    * table metadata matches `table` merge into `dest` with their OWN
    * payload schema (`column` typed specs; omitted ⇒ the transcript shape)
    */
  final case class RouteSpec(table: String,
      payload: Option[org.apache.spark.sql.types.StructType], dest: LakeDest)

  final case class Translated(
      reader: ReaderPlan,
      transforms: Seq[Transformers.Transform],
      writer: WriterPlan,
      errorLimit: SyncJob.ErrorLimit,
      channel: Int)

  def translate(spec: Spec): Seq[Translated] = spec.contents.map { c =>
    val reader = translateReader(c.readerName, c.reader, spec.channel)
    val writer = translateWriter(c.writerName, c.writer, spec.channel)
    // the streaming pair is all-or-nothing: change events only make sense
    // MERGE-applied by key, and the lake sink only accepts change events
    // (or a lakereader's replication/rollup window)
    val (r, w) = (reader, writer) match {
      case (cr: CdcRead, lw: LakeWrite) =>
        require(c.transforms.isEmpty,
          "cdcreader content takes no transformer chain — change events are " +
            "applied verbatim (transform downstream of the lake table instead)")
        lw.target match {
          // the single-table writer onboards from the cdcreader's
          // bootstrap: the plan carries it on the destination it seeds
          case Left(d) =>
            (cr.copy(bootstrap = None), lw.copy(target = Left(d.copy(bootstrap = cr.bootstrap))))
          case Right(routes) =>
            require(cr.format != "parquet",
              "lakewriter routes read envelope table metadata — parquet " +
                "change logs carry none (run one content per table instead)")
            require(cr.tableFilter.isEmpty,
              "cdcreader table filter and lakewriter routes are exclusive — " +
                "routes already scope each destination to its table")
            require(cr.bootstrap.isEmpty,
              "bootstrap onboarding targets a single-table lakewriter — " +
                "onboard each routed destination with its own job, then " +
                "start the routed tail")
            require(cr.payload.isEmpty,
              "a routed cdcreader takes no top-level column specs — each " +
                "route carries its own payload schema")
            // the routed tail's own rule, checked before any destination
            // is opened or onboarded
            graft.engine.cdc.CdcPipeline.validateRoutes(
              routes.map(r => (r.table, r.dest.root, r.dest.writerId)))
            (cr, lw)
        }
      case (cr: CdcRead, jw: JdbcWrite) =>
        // live-database destination: the streaming MERGE-apply
        // ([[graft.engine.cdc.CdcPipeline.startJdbc]]) — the reference's
        // incremental mysql2mysql sync shape
        require(c.transforms.isEmpty,
          "cdcreader content takes no transformer chain — change events are " +
            "applied verbatim")
        require(cr.bootstrap.isEmpty,
          "bootstrap onboarding targets a lakewriter (the lake's epoch " +
            "lineage makes it exactly-once) — seed a live database with an " +
            "ordinary batch job instead")
        require(jw.writeMode != "insert",
          "cdc apply into a live database is a per-key MERGE — set " +
            "writeMode update (or replace); plain insert would duplicate on replay")
        require(jw.target.dialect.name != "clickhouse",
          "clickhouse has no conflict clause and no standard DELETE (dedup " +
            "is engine-side ReplacingMergeTree) — land the stream in a lake " +
            "table and export, instead of the per-key CDC apply")
        (cr, jw)
      case (_: CdcRead, _) => throw new IllegalArgumentException(
        s"cdcreader must pair with lakewriter or an RDBMS writer (got ${c.writerName})")
      case (lr: LakeRead, lw: LakeWrite) =>
        require(lw.target.isLeft,
          "lakewriter routes demultiplex a cdcreader envelope stream — a " +
            "lakereader source is single-table (run one content per " +
            "destination instead)")
        require(c.transforms.isEmpty,
          "lakereader→lakewriter content takes no transformer chain — the " +
            "change window is applied verbatim (transform downstream, or " +
            "export through a file/jdbc writer instead)")
        require(lw.dests.forall(_.followers.isEmpty),
          "followers are a streaming (cdcreader→lakewriter) feature — for a " +
            "batch lake→lake chain, run one lakereader job per destination")
        require(lr.where.isEmpty && lr.columns.isEmpty,
          "lakereader where/column are export features — replication and " +
            "rollups consume the change window verbatim (a filtered replica " +
            "would silently diverge from the source)")
        require(lr.fromVersion.isEmpty,
          "lakereader fromVersion is a CDC-out export feature — a " +
            "lakewriter destination already ships the incremental window " +
            "(Replicate.sync watermarks on the destination's epoch lineage)")
        (lr, lw)
      case (lr: LakeRead, _) =>
        require(lr.aggregations.isEmpty,
          s"lakereader aggregations need a lakewriter destination (the " +
            s"rollup is an incrementally-maintained lake table; got " +
            s"${c.writerName})")
        require(lr.fromVersion.isEmpty || (lr.where.isEmpty && lr.columns.isEmpty),
          "a change export (fromVersion) ships the window verbatim — " +
            "where/column apply to state exports only (a filtered feed would " +
            "drop tombstones whose payload is null)")
        (lr, writer)
      case (_, _: LakeWrite) => throw new IllegalArgumentException(
        s"lakewriter must pair with cdcreader or lakereader (got ${c.readerName})")
      case rw => rw
    }
    Translated(reader = r, transforms = c.transforms, writer = w,
      errorLimit = spec.errorLimit, channel = spec.channel)
  }

  /** Plugins that exist in the reference but cannot run here (zero-egress
    * sandbox / no bundled client): translation fails with a sharp reason
    * instead of a generic parse error.
    */
  private val outOfScope = Map(
    "ossreader" -> "object-store client (zero-egress sandbox)",
    "ftpreader" -> "ftp client (zero-egress sandbox)",
    "ftpwriter" -> "ftp client (zero-egress sandbox)",
    "sftpreader" -> "sftp client (zero-egress sandbox)",
    "mongoreader" -> "mongo wire client not bundled; supply an Overrides.source",
    "mongowriter" -> "mongo wire client not bundled; supply an Overrides.sink",
    "cassandrareader" -> "cassandra client not bundled; supply an Overrides.source",
    "cassandrawriter" -> "cassandra client not bundled; supply an Overrides.sink",
    "tdenginereader" -> "tdengine client not bundled; supply an Overrides.source",
    "tdenginewriter" -> "tdengine client not bundled; supply an Overrides.sink",
    "neo4jwriter" -> "bolt client not bundled; wire BatchedExec with your driver",
    "elasticsearchwriter" -> "http client stubbed; wire EsBulk payloads to your client")

  final class UnsupportedPlugin(val plugin: String, reason: String)
    extends IllegalArgumentException(s"$plugin: $reason")

  def translateReader(name: String, p: Conf, channel: Int): ReaderPlan = name match {
    case "streamreader" =>
      val n = p.long("sliceRecordCount")
      require(n > 0, "sliceRecordCount must be greater than 0") // stream_reader.go:36-38
      val cols = p.listConf("column").zipWithIndex.map { case (c, i) =>
        SyntheticSource.ColumnGen(
          name = s"col$i",
          colType = c.str("type", "string"),
          value = c.get("value").map(v => if (v.isTextual) v.asText else v.toString))
      }
      require(cols.nonEmpty, "no valid columns configured")
      StreamRead(cols, n, channel)

    case "txtfilereader" =>
      val cols = p.get("column") match {
        case Some(n) if n.isArray && n.elements().asScala.forall(_.isTextual) => Nil // ["*"]
        case Some(_) => p.listConf("column").zipWithIndex.map { case (c, i) =>
          SyncJob.ColumnSpec(
            index = c.int("index", -1),
            value = c.get("value").map(_.asText).orNull,
            colType = c.str("type", "string"),
            format = goDateFormat(c.str("format")))
        }
        case None => Nil
      }
      FileRead(SyncJob.Source(
        format = "csv",
        path = p.pathList("path").mkString(","),
        options = Map(
          "sep" -> p.str("fieldDelimiter", ","),
          "encoding" -> p.str("encoding", "UTF-8"),
          // skipHeader consumes the first line of each file (txtfile_reader.go:112)
          "header" -> p.bool("skipHeader").toString),
        columns = cols,
        nullFormat = p.str("nullFormat", "\\N")))

    case "jsonfilereader" =>
      // dotted-path named columns ride Source.columns with `name` set; the
      // typed projection resolves names (jsonfile_reader.go dotted access).
      // A column may instead carry a constant `value`, or an `index` that
      // the reference coerces to a string key (`jsonfile_reader.go:
      // 1042-1058`); a column with none of the three is an error there too.
      // inferMode="datax" opts into the reference's SAMPLING schema
      // inference ([[JsonInfer]]): a column with NO explicit type then
      // stays blank for the inference merge to fill (the reference's
      // mergeInferredColumns rule); otherwise absent types default to
      // string as before.
      val inferDatax = p.str("inferMode") == "datax"
      val cols = p.get("column") match {
        case Some(n) if n.isArray && n.elements().asScala.forall(_.isTextual) => Nil // ["*"]
        case _ => p.listConf("column").map { c =>
          val name =
            if (c.str("name").nonEmpty) c.str("name")
            else if (!c.has("value") && c.has("index")) c.int("index").toString
            else ""
          require(name.nonEmpty || c.has("value"),
            "jsonfilereader column must have 'name', 'index' or 'value'")
          SyncJob.ColumnSpec(index = -1,
            colType = if (inferDatax) c.str("type") else c.str("type", "string"),
            format = goDateFormat(c.str("format")),
            name = name,
            value = c.get("value").map(v => if (v.isTextual) v.asText else v.toString).orNull)
        }
      }
      FileRead(SyncJob.Source(format = "json-auto", path = p.pathList("path").mkString(","),
        columns = cols,
        options = if (inferDatax) Map("inferMode" -> "datax") else Map.empty))

    case "hdfsreader" =>
      val fmt = p.str("fileType", "text").toLowerCase match {
        case "orc" => "orc"
        case "parquet" => "parquet"
        case _ => "text"
      }
      val fs = p.str("defaultFS")
      val paths = p.pathList("path").map(pp => if (fs.nonEmpty && !pp.contains("://")) fs + pp else pp)
      FileRead(SyncJob.Source(format = fmt, path = paths.mkString(",")))

    case "cdcreader" =>
      val path = p.str("path")
      require(path.nonEmpty, "cdcreader: path (the change-log directory) is required")
      val fmt = p.str("format", "parquet").toLowerCase
      require(fmt == "parquet" || CdcEnvelope.Formats(fmt),
        s"cdcreader format must be parquet|${CdcEnvelope.Formats.mkString("|")} (got '$fmt')")
      val ckpt = p.str("checkpoint")
      require(ckpt.nonEmpty,
        "cdcreader: checkpoint is required — offset lineage is what makes the tail resumable")
      val continuous = p.str("mode", "availableNow") match {
        case "availableNow" => false
        case "continuous" => true
        case other => throw new IllegalArgumentException(
          s"cdcreader mode must be availableNow|continuous (got '$other')")
      }
      // named, typed column specs (the readers' standard shape) define the
      // payload schema for NON-transcript change logs; omitted ⇒ transcript
      val payload = parsePayloadSchema(p, "cdcreader")
      // initial-snapshot onboarding: a nested BATCH reader seeds the lake
      // before the tail starts (Debezium snapshot mode; the reference's
      // closest shape is a full batch job re-run with a where watermark)
      val bootstrap = parseBootstrap(p, channel)
      val tableFilter = Some(p.str("table")).filter(_.nonEmpty)
      require(tableFilter.isEmpty || fmt != "parquet",
        "cdcreader table filter reads envelope table metadata — parquet " +
          "change logs carry none (tail one log per table instead)")
      CdcRead(path, fmt, ckpt,
        maxFilesPerTrigger = p.int("maxFilesPerTrigger", 4),
        continuous = continuous,
        triggerInterval = Some(p.str("triggerInterval")).filter(_.nonEmpty),
        dlqDir = Some(p.str("dlqPath")).filter(_.nonEmpty),
        toolColumn = p.bool("toolColumn", default = true),
        payload = payload,
        bootstrap = bootstrap,
        tableFilter = tableFilter)

    case "lakereader" =>
      val root = p.str("path")
      require(root.nonEmpty, "lakereader: path (the lake table root) is required")
      val aggs = p.listConf("aggregations").map { a =>
        val (n, e) = (a.str("name"), a.str("expr"))
        require(n.nonEmpty && e.nonEmpty,
          "lakereader aggregation entries need both 'name' and 'expr'")
        (n, e)
      }
      val fromVersion = Some(p.long("fromVersion", Long.MinValue)).filter(_ >= -1L)
      val tagPin = Some(p.str("tag")).filter(_.nonEmpty)
      val asOfPin = Some(p.str("asOf")).filter(_.nonEmpty)
      require(Seq(tagPin.nonEmpty, asOfPin.nonEmpty, p.long("toVersion", -1L) >= 0L)
          .count(identity) <= 1,
        "lakereader toVersion, tag and asOf are all version pins — set one")
      require(!(fromVersion.contains(-1L) &&
          (p.long("toVersion", -1L) >= 0L || tagPin.nonEmpty || asOfPin.nonEmpty)),
        "bootstrap export (fromVersion -1) reads the current head — " +
          "toVersion/tag/asOf bound windows (fromVersion ≥ 0) and rollup cuts")
      val additive = p.bool("additive")
      require(!additive || aggs.nonEmpty,
        "lakereader additive: true needs aggregations (per-row exprs whose " +
          "SUM is maintained per group)")
      LakeRead(root, aggs,
        toVersion = Some(p.long("toVersion", -1L)).filter(_ >= 0L),
        where = Some(p.str("where")).filter(_.nonEmpty),
        columns = p.strList("column").filterNot(_ == "*"),
        fromVersion = fromVersion,
        tag = tagPin,
        asOf = asOfPin,
        additive = additive)

    case r if outOfScope.contains(r) => throw new UnsupportedPlugin(r, outOfScope(r))

    case r if r.endsWith("reader") =>
      val dialect = Dialect.byName(r.stripSuffix("reader"))
      val conn = p.listConf("connection").headOption
        .getOrElse(throw new IllegalArgumentException(s"$r: connection is required"))
      val url = conn.pathList("jdbcUrl").headOption
        .getOrElse(throw new IllegalArgumentException(s"$r: jdbcUrl is required"))
      val querySql = p.str("querySql")
      val columns = p.strList("column")
      val where = p.str("where")
      val splitPk = p.str("splitPk")
      val table = conn.strList("table").headOption.getOrElse("")
      // pushdown shape (mysql_reader.go:70-81): raw querySql wins; else
      // column projection + where fold into a dbtable subquery
      val tableExpr =
        if (querySql.nonEmpty) s"($querySql) graft_q"
        else {
          require(table.nonEmpty, s"$r: table or querySql is required")
          val proj = if (columns.isEmpty || columns == Seq("*")) "*"
            else columns.map(dialect.quote).mkString(", ")
          if (proj == "*" && where.isEmpty) table
          else s"(SELECT $proj FROM ${dialect.quote(table)}" +
            (if (where.nonEmpty) s" WHERE $where" else "") + s") graft_q"
        }
      val predicates =
        if (splitPk.isEmpty || channel <= 1) Nil
        else dialect.hashSplitPredicates(splitPk, channel).map(_.toSeq).getOrElse(Nil)
      JdbcRead(dialect, url, tableExpr, predicates,
        session = p.strList("session"),
        props = Map("user" -> p.str("username"), "password" -> p.str("password"),
          "fetchsize" -> p.int("fetchSize", dialect.defaultFetchSize).toString),
        splitPk = splitPk, splitN = channel)

    case other => throw new UnsupportedPlugin(other, "unknown reader plugin")
  }

  /** `{lsn, reader: {name, parameter}}` under `p.bootstrap` — the
    * initial-snapshot onboarding shape, shared by the cdcreader and by
    * routed lakewriter entries (each routed destination onboards from its
    * own batch source).
    */
  private def parseBootstrap(p: Conf, channel: Int): Option[CdcBootstrap] =
    p.get("bootstrap").map { _ =>
      val b = new Conf(p.get("bootstrap").orNull)
      val rName = b.str("reader.name")
      require(rName.nonEmpty,
        "bootstrap needs a nested reader ({name, parameter})")
      require(b.has("lsn"),
        "bootstrap needs 'lsn' — the consistent point the " +
          "snapshot reflects (changes with lsn <= it); the tailed log " +
          "must reach back at least that far")
      val plan = translateReader(rName, new Conf(b.get("reader.parameter").orNull), channel)
      plan match {
        case _: CdcRead => throw new IllegalArgumentException(
          "bootstrap reader must be a batch source (the " +
            "snapshot load), not another cdcreader")
        case lr: LakeRead =>
          require(lr.aggregations.isEmpty && lr.fromVersion.isEmpty,
            "bootstrap lakereader must be a plain state export " +
              "(no aggregations, no fromVersion) — the snapshot is payload " +
              "rows, not a change set")
        case _ => ()
      }
      CdcBootstrap(plan, b.long("lsn"))
    }

  /** named, typed `column` specs → change-event payload schema — shared by
    * the cdcreader and by routed lakewriter entries (each route carries its
    * own table shape); absent/empty ⇒ None (the transcript default)
    */
  private def parsePayloadSchema(p: Conf, what: String): Option[org.apache.spark.sql.types.StructType] =
    p.get("column") match {
      case Some(n) if n.isArray && n.elements().asScala.nonEmpty =>
        val cols = p.listConf("column").map { c =>
          require(c.str("name").nonEmpty,
            s"$what column specs need a 'name' (and optionally a 'type')")
          SyncJob.ColumnSpec(index = -1, name = c.str("name"),
            colType = c.str("type", "string"))
        }
        Some(SyncJob.schemaFor(cols))
      case _ => None
    }

  /** `followers` entries — shared by the lakewriter and by routed entries
    * (each routed destination may co-maintain its own downstreams).
    */
  private def parseFollowers(p: Conf): Seq[FollowerSpec] =
    p.listConf("followers").map { f =>
      if (f.str("jdbcUrl").nonEmpty) {
        // live-database mirror follower
        require(f.str("table").nonEmpty && f.str("dialect").nonEmpty,
          "a jdbc follower needs table and dialect alongside jdbcUrl")
        FollowerSpec("", keyCols = Nil,
          buckets = 0, distCols = Nil, targetFileRows = None,
          writerId = f.str("writerId"), aggregations = Nil,
          jdbc = Some(JdbcExec.Target(Dialect.byName(f.str("dialect")),
            f.str("jdbcUrl"), f.str("table"), keys = f.strList("onConflictColumn"),
            props = Map("user" -> f.str("username"), "password" -> f.str("password")))))
      } else if (f.str("format").nonEmpty) {
        // outbound envelope feed follower (broker-less outbox)
        val fdir = f.str("path")
        require(fdir.nonEmpty, "a feed follower needs path (the feed directory)")
        val fmt = f.str("format").toLowerCase
        require(CdcEnvelope.Formats(fmt),
          s"feed follower format must be ${CdcEnvelope.Formats.mkString("|")} (got '$fmt')")
        FollowerSpec(fdir, keyCols = f.strList("onConflictColumn"),
          buckets = 0, distCols = Nil, targetFileRows = None,
          writerId = "", aggregations = Nil, feedFormat = fmt)
      } else {
        val froot = f.str("path")
        require(froot.nonEmpty,
          "lakewriter follower: path (or jdbcUrl for a mirror, or " +
            "format for an envelope feed) is required")
        val aggs = f.listConf("aggregations").map { a =>
          val (n, e) = (a.str("name"), a.str("expr"))
          require(n.nonEmpty && e.nonEmpty,
            "follower aggregation entries need both 'name' and 'expr'")
          (n, e)
        }
        val keys = f.strList("primaryKey")
        require(aggs.isEmpty || keys.nonEmpty,
          "a rollup follower needs primaryKey (the group columns)")
        val history = f.bool("history")
        require(!history || (aggs.isEmpty && keys.isEmpty),
          "a history (SCD2) follower derives its layout from the ingest " +
            "table — it takes no aggregations or primaryKey")
        val additive = f.bool("additive")
        require(!additive || aggs.nonEmpty,
          "additive: true needs aggregations (per-row exprs whose SUM is " +
            "maintained per group)")
        FollowerSpec(froot, keys,
          buckets = f.int("buckets", 32),
          distCols = f.strList("distributionColumns"),
          targetFileRows = Some(f.long("targetFileRows", 0L)).filter(_ > 0L),
          writerId = f.str("writerId"),
          aggregations = aggs,
          history = history,
          additive = additive)
      }
    }

  /** One lake destination's keys — shared by the lakewriter and by its
    * `routes` entries.
    */
  private def parseDest(p: Conf, what: String,
      bootstrap: Option[CdcBootstrap]): LakeDest = {
    val targetFileRows = Some(p.long("targetFileRows", 0L)).filter(_ > 0L)
    val sortCols = p.strList("sortColumns")
    require(sortCols.isEmpty || targetFileRows.nonEmpty,
      s"$what sortColumns needs targetFileRows — clustering only " +
        "tightens bounds when buckets slice into multiple files")
    LakeDest(p.str("path"),
      keyCols = p.strList("primaryKey"),
      buckets = p.int("buckets", 32),
      distCols = p.strList("distributionColumns"),
      targetFileRows = targetFileRows,
      sortCols = sortCols,
      writerId = p.str("writerId", graft.lake.LakeTable.DefaultWriter),
      followers = parseFollowers(p),
      bootstrap = bootstrap)
  }

  def translateWriter(name: String, p: Conf, channel: Int = 1): WriterPlan = name match {
    case "streamwriter" =>
      StreamWrite(p.str("fieldDelimiter", "\t"), p.bool("print"))

    case "txtfilewriter" =>
      val fileFormat = p.str("fileFormat", "text")
      val mode = parseFileWriteMode(p.str("writeMode"))
      val compress = p.str("compress")
      val dateFmt = goDateFormat(p.str("dateFormat"))
      val sep = p.str("fieldDelimiter", ",")
      val header = p.strList("header")
      val opts = Map(
        "sep" -> sep,
        "nullValue" -> p.str("nullFormat", "\\N"),
        "encoding" -> p.str("encoding", "UTF-8"),
        // a header line is written only when the config names one
        "header" -> header.nonEmpty.toString) ++
        (if (compress.nonEmpty) Map("compression" -> compress) else Map.empty) ++
        (if (dateFmt.nonEmpty) Map("timestampFormat" -> dateFmt, "dateFormat" -> dateFmt)
         else Map.empty) ++
        // text mode writes the header verbatim as each file's first line
        // (`txtfile_writer.go:252-258`); csv mode uses the native option
        (if (fileFormat != "csv" && header.nonEmpty)
           Map("headerLine" -> header.mkString(sep))
         else Map.empty)
      FileWrite(
        SyncJob.Sink(format = if (fileFormat == "csv") "csv" else "stream-text",
          path = s"${p.str("path")}/${p.str("fileName", "result")}",
          writeMode = mode, options = opts),
        header = p.strList("header"), preSql = Nil, postSql = Nil)

    case "jsonfilewriter" =>
      FileWrite(
        SyncJob.Sink(format = "json",
          path = s"${p.str("path")}/${p.str("fileName", "result")}",
          writeMode = parseFileWriteMode(p.str("writeMode"))),
        header = p.listConf("column").map(_.str("name")).filter(_.nonEmpty),
        preSql = Nil, postSql = Nil)

    case "hdfswriter" =>
      val fmt = p.str("fileType", "text").toLowerCase match {
        case "orc" => "orc"
        case "parquet" => "parquet"
        case _ => "stream-text"
      }
      val fs = p.str("defaultFS")
      val dir = p.str("path")
      FileWrite(
        SyncJob.Sink(format = fmt,
          path = (if (fs.nonEmpty && !dir.contains("://")) fs + dir else dir) +
            s"/${p.str("fileName", "result")}",
          writeMode = parseFileWriteMode(p.str("writeMode")),
          options = Map("sep" -> p.str("fieldDelimiter", ","))),
        header = Nil, preSql = Nil, postSql = Nil)

    case "cdcwriter" =>
      // graft-native, the produce direction of cdcreader: encode canonical
      // (op, lsn, payload...) rows — a lakereader fromVersion export, or any
      // reader shaped that way — as envelope JSONL any Debezium/Canal/
      // Maxwell consumer (or another graft job's cdcreader) replays.
      // Encoders are [[graft.sources.CdcEnvelope]]'s, riding the ordinary
      // text sink (writeModes, flush caps, staged error-limit publish all
      // apply unchanged).
      val dir = p.str("path")
      require(dir.nonEmpty, "cdcwriter: path (the feed directory) is required")
      val fmt = p.str("format", "debezium").toLowerCase
      require(CdcEnvelope.Formats(fmt),
        s"cdcwriter format must be ${CdcEnvelope.Formats.mkString("|")} (got '$fmt')")
      val keys = p.strList("onConflictColumn")
      require(fmt != "debezium" || keys.nonEmpty,
        "cdcwriter format=debezium needs onConflictColumn — the key columns " +
          "form a delete event's `before` image (REPLICA IDENTITY DEFAULT)")
      FileWrite(
        SyncJob.Sink(format = fmt,
          path = s"$dir/${p.str("fileName", "feed")}",
          writeMode = parseFileWriteMode(p.str("writeMode")),
          keyCols = keys),
        header = Nil, preSql = Nil, postSql = Nil)

    case "lakewriter" =>
      // multi-table demultiplex: each route is its own destination table
      // with its own layout and payload schema (column typed specs)
      val routes = p.listConf("routes").map { r =>
        require(r.str("table").nonEmpty && r.str("path").nonEmpty,
          "lakewriter route entries need 'table' (the envelope's db.table " +
            "or table) and 'path' (the destination lake root)")
        require(r.strList("primaryKey").nonEmpty,
          s"route ${r.str("table")}: primaryKey is required — a routed " +
            "destination carries its own payload shape, so there is no " +
            "sensible default merge key")
        RouteSpec(r.str("table"), parsePayloadSchema(r, "route"),
          parseDest(r, "route", parseBootstrap(r, channel)))
      }
      // the single-table writer's bootstrap is the cdcreader's (translate)
      val own = parseDest(p, "lakewriter", bootstrap = None)
      require(own.root.nonEmpty || routes.nonEmpty,
        "lakewriter: path (the lake table root) is required (or 'routes' " +
          "for a multi-table demultiplex)")
      require(own.root.isEmpty || routes.isEmpty,
        "lakewriter: path and routes are exclusive — a routed writer's " +
          "destinations are the route entries")
      require(routes.isEmpty || own.followers.isEmpty,
        "a routed lakewriter takes no top-level followers — put each " +
          "follower on its route entry (routes[].followers)")
      val lw = LakeWrite(if (routes.isEmpty) Left(own) else Right(routes),
        vacuumEvery = p.int("vacuumEvery", 0),
        vacuumRetainVersions = p.int("vacuumRetainVersions", 8),
        expireTombstonesEvery = {
          val n = p.int("expireTombstonesEvery", 0)
          require(n == 0 || p.has("tombstoneRetainLsns"),
            "lakewriter expireTombstonesEvery needs tombstoneRetainLsns — " +
              "the source's re-delivery horizon is a policy decision; an " +
              "implicit 0 would let any late duplicate resurrect a deleted key")
          n
        },
        tombstoneRetainLsns = p.long("tombstoneRetainLsns", 0L),
        tagEvery = p.int("tagEvery", 0),
        tagPrefix = p.str("tagPrefix", "epoch-"),
        tagKeep = {
          val k = p.int("tagKeep", 8)
          require(k >= 1, s"lakewriter tagKeep must be >= 1 (got $k)")
          k
        },
        routeParallelism = {
          val n = p.int("routeParallelism", 1)
          require(n >= 1, s"lakewriter routeParallelism must be >= 1 (got $n)")
          require(n == 1 || routes.nonEmpty,
            "lakewriter routeParallelism applies to routed (multi-table) " +
              "writers only")
          n
        })
      // fail at PLAN time, not inside the stream's first cadence epoch
      // (LakeTable.tag's name rule would otherwise throw in foreachBatch and
      // the deterministic failure replays forever): the prefix always, and
      // every destination's writerId once the ring is on
      require(graft.lake.LakeTable.tagSafe(lw.tagPrefix),
        s"lakewriter tagPrefix '${lw.tagPrefix}' must be [A-Za-z0-9._-]* " +
          "(it becomes part of a tag ref file name)")
      if (lw.tagEvery > 0) lw.dests.foreach(d =>
        require(graft.lake.LakeTable.tagSafe(d.writerId),
          s"lakewriter writerId '${d.writerId}' must be [A-Za-z0-9._-]* with " +
            "tagEvery set (it becomes part of the auto-tag ref file names)"))
      lw

    case w if outOfScope.contains(w) => throw new UnsupportedPlugin(w, outOfScope(w))

    case w if w.endsWith("writer") =>
      val dialect = Dialect.byName(w.stripSuffix("writer"))
      val conn = p.listConf("connection").headOption
        .getOrElse(throw new IllegalArgumentException(s"$w: connection is required"))
      val url = conn.pathList("jdbcUrl").headOption
        .getOrElse(throw new IllegalArgumentException(s"$w: jdbcUrl is required"))
      val table = conn.strList("table").headOption
        .getOrElse(throw new IllegalArgumentException(s"$w: table is required"))
      val writeMode = p.str("writeMode", "insert").toLowerCase
      dialect.validateWriteMode(writeMode)
      // databend replace demands onConflictColumn (databend_writer.go:98-103)
      if (dialect == Dialect.Databend && writeMode == "replace")
        require(p.strList("onConflictColumn").nonEmpty,
          "replace mode must has onConflictColumn config")
      JdbcWrite(
        JdbcExec.Target(dialect, url, table,
          columns = p.strList("column"),
          keys = p.strList("onConflictColumn"),
          // doris/starrocks denominate `batchSize` in BYTES and `maxBatchRows`
          // in rows (`mysql2doris.json`: batchSize=52428800) — there a missing
          // maxBatchRows must fall back to the dialect default, NOT read the
          // byte count as a row count (a 52M-row batch buffers the partition)
          batchSize =
            if (Set("doris", "starrocks").contains(dialect.name))
              p.int("maxBatchRows", dialect.defaultBatchSize)
            else p.int("maxBatchRows", p.int("batchSize", dialect.defaultBatchSize)),
          session = p.strList("session"),
          props = Map("user" -> p.str("username"), "password" -> p.str("password"))),
        writeMode = writeMode,
        preSql = SyncJob.renderSqls(p.strList("preSql"), table),
        postSql = SyncJob.renderSqls(p.strList("postSql"), table),
        // graft-native params for the cdcreader→jdbc streaming pair: the
        // epoch-ledger scope and table name on the TARGET database
        writerId = p.str("writerId", "cdc"),
        ledgerTable = p.str("ledgerTable", "graft_cdc_epochs"))

    case other => throw new UnsupportedPlugin(other, "unknown writer plugin")
  }

  private def parseFileWriteMode(m: String): SyncJob.WriteMode.Value = m match {
    case "truncate" | "" => SyncJob.WriteMode.Truncate
    case "append" => SyncJob.WriteMode.Append
    case "nonConflict" => SyncJob.WriteMode.NonConflict
    case other => throw new IllegalArgumentException(
      "writeMode must be one of: truncate, append, nonConflict" + s" (got '$other')")
  }

  /** Go reference-time layout → Java datetime pattern (the reference's date
    * `format` params are Go layouts, e.g. `2006-01-02` —
    * `txtfile_reader.go:461-481`). Already-Java patterns pass through:
    * Go layouts encode fields as NUMBERS (2006, 01, 15, ...), Java patterns
    * as letters, so "contains a digit" separates them (a letter-based guard
    * would misfire on the letters inside PM/Jan/Mon/MST). Literal `T` in
    * RFC3339-style layouts is quoted — unquoted `T` is an illegal Java
    * pattern letter that throws at runtime, not a parse miss.
    */
  def goDateFormat(go: String): String = {
    if (go.isEmpty || !go.exists(_.isDigit)) return go
    // longest-first where tokens nest (".000000" before ".000", "January"
    // before "Jan", "Monday" before "Mon", "Z0700" before "-0700"/"07")
    val mapped = Seq(
      "2006" -> "yyyy", ".000000000" -> ".SSSSSSSSS", ".000000" -> ".SSSSSS",
      ".000" -> ".SSS", ".999999999" -> ".SSSSSSSSS", ".999999" -> ".SSSSSS",
      ".999" -> ".SSS", "Z07:00" -> "XXX", "-07:00" -> "xxx",
      "Z0700" -> "XX", "-0700" -> "xx",
      "15" -> "HH", "01" -> "MM", "02" -> "dd", "03" -> "hh", "04" -> "mm",
      "05" -> "ss", "06" -> "yy", "PM" -> "a", "January" -> "MMMM",
      "Jan" -> "MMM", "Monday" -> "EEEE", "Mon" -> "EEE",
      "MST" -> "zzz", "T" -> "'T'"
    ).foldLeft(go) { case (s, (g, j)) => s.replace(g, j) }
    // a Go token outside the map (e.g. day-of-year "002") survives as a
    // digit-bearing fragment that compiles to an INVALID java pattern and
    // would throw at parse time on every row — validate at translate time
    // and degrade to "" (the reader's DateFallbackFormats chain), the same
    // path an unparseable VALUE takes
    try { java.time.format.DateTimeFormatter.ofPattern(mapped); mapped }
    catch { case _: IllegalArgumentException => "" }
  }
}
