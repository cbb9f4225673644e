package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge

import graft.lake.LakeTable

/** The go-datax batch job model, Spark-idiomatic: one job = source →
  * transformer chain → sink, with error limiting and throughput metrics
  * (reference: `core/job/jobcontainer.go` phases init/prepare/split/
  * schedule/post; we let Catalyst own split/schedule).
  *
  * Sources/sinks cover the sandbox-expressible subset of the reference's
  * 42 plugins: csv (txtfilereader/writer), json+jsonl (jsonfilereader/
  * writer), parquet/text (hdfsreader/writer), and the lake-upsert writer
  * (the RDBMS upsert family's semantics). JDBC shapes map 1:1 onto
  * `spark.read.format("jdbc")` options and are documented rather than
  * network-tested (zero-egress sandbox).
  */
object SyncJob {

  /** writeMode per the reference: `append`, `truncate` (drop & rewrite),
    * `nonConflict` (fail if target exists) — `hdfs_writer.go:326-364`,
    * `txtfile_writer.go:96-133`; plus `upsert` = the RDBMS merge family
    * (`common.go:556-616`) realized by [[graft.lake.LakeTable]].
    */
  object WriteMode extends Enumeration {
    val Append, Truncate, NonConflict, Upsert = Value
  }

  /** One column of txtfilereader's `{index | value, type, format}` spec
    * (`txtfile_reader.go:399-432`): either a 0-based positional `index`
    * into the raw record or a constant `value`; converted to `type` with an
    * optional date `format` (Spark/Java pattern). Out-of-range indexes
    * yield null (`txtfile_reader.go:424-428`).
    */
  final case class ColumnSpec(
      index: Int = -1,
      value: String = null,
      colType: String = "string", // string | long | double | boolean | date
      format: String = "",
      name: String = "")

  final case class Source(
      format: String, // csv | json | jsonl | json-auto | parquet | orc | text
      //              // | debezium | canal | maxwell (JSONL binlog-dump
      //              // envelopes; `columns` supplies the payload schema)
      path: String,
      options: Map[String, String] = Map.empty,
      /** constant columns appended by name (txtfilereader {type, value}) */
      constants: Map[String, String] = Map.empty,
      /** typed positional projection; when non-empty the output is EXACTLY
        * these columns in this order (reference 常规模式,
        * `txtfile_reader.go:388-395`)
        */
      columns: Seq[ColumnSpec] = Nil,
      /** string treated as SQL NULL (reference nullFormat, default `\N`) */
      nullFormat: String = "\\N",
      /** mongoreader-style subdocument stringification (SURVEY §1.2,
        * `plugins/reader/mongoreader/mongo_reader.go` flattens nested
        * documents into one string column): when true, every struct/array/
        * map column is serialized to its JSON text. Default false — Spark
        * reads nested data natively, which is usually what you want.
        */
      stringifyNested: Boolean = false)

  final case class Sink(
      format: String, // csv | json | parquet | orc | text | lake | jdbc
      //              // | debezium | canal | maxwell (canonical
      //              // (op, lsn, payload...) rows encoded as JSONL binlog
      //              // envelopes — the export/produce direction; debezium
      //              // needs `keyCols` for the delete key image)
      path: String,
      writeMode: WriteMode.Value = WriteMode.Append,
      options: Map[String, String] = Map.empty,
      /** upsert only: key columns + lsn column for LWW arbitration */
      keyCols: Seq[String] = Nil,
      numBuckets: Int = 32,
      /** multi-target fan-out: rows are routed into one directory per value
        * of these columns (Spark dynamic partitioning) — the analog of the
        * reference's writer split into tableCount targets
        * (`common/database/rdbms/writer/common.go:88-183`).
        */
      partitionCols: Seq[String] = Nil,
      /** lake sink only: the input rows are CHANGE EVENTS already carrying
        * canonical (op, lsn) columns (binlog-dump envelope sources, lake
        * change streams) — preserve them through the merge instead of
        * stamping op='U'/lsn=epoch. EXPLICIT opt-in, never inferred from
        * column names: a plain business table that happens to have columns
        * named `op`/`lsn` must not be reinterpreted as a change stream
        * (its 'D' rows would silently delete). [[run]] sets this
        * automatically when the SOURCE is an envelope format.
        */
      changeEvents: Boolean = false,
      /** clickhousewriter-style DUAL flush thresholds
        * (`clickhouse_writer.go:103-104,320-340`): a batch (here: an output
        * file) closes when it reaches `flushRows` rows OR ~`flushBytes`
        * logical bytes, whichever first. 0 = unbounded. The byte bound maps
        * to a rows-equivalent via the mean logical row size (one tiny
        * aggregate), because Spark's file roll-over knob is row-based
        * (`maxRecordsPerFile`).
        */
      flushRows: Long = 0L,
      flushBytes: Long = 0L,
      /** jdbc sink only: the RDBMS writer — its target (`path` names the
        * same table) and writeMode ([[JdbcExec.write]])
        */
      jdbc: Option[JobConfig.JdbcWrite] = None)

  /** Error limit, as `job.setting.errorLimit` (`error_limiter.go:24-113`):
    * fail when bad records exceed `record` or bad fraction exceeds
    * `percentage`. A record is "bad" when `badPredicate` is true.
    */
  final case class ErrorLimit(record: Long = 0L, percentage: Double = 1.0)

  /** `bytesWritten` = logical bytes of the good rows (reference
    * `record.GetByteSize()` semantics — see [[graft.core.ByteSize]]),
    * observed on the write job itself, feeding bytes/s like
    * `jobcontainer.go:320-336`.
    */
  final case class JobResult(rowsWritten: Long, rowsBad: Long, seconds: Double,
      bytesWritten: Long = 0L)

  final class ErrorLimitExceeded(msg: String) extends RuntimeException(msg)

  /** The reference's 6-type system mapped to Spark types — the schema a
    * named `column` spec list declares (`common/element/column.go:9-19`:
    * long/double/string/date/bool/bytes; dates resolve to timestamps like
    * the readers' date columns).
    */
  def schemaFor(cols: Seq[ColumnSpec]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(cols.map { c =>
      org.apache.spark.sql.types.StructField(c.name, c.colType match {
        case "long" => org.apache.spark.sql.types.LongType
        case "int" => org.apache.spark.sql.types.IntegerType
        case "double" => org.apache.spark.sql.types.DoubleType
        case "boolean" | "bool" => org.apache.spark.sql.types.BooleanType
        case "date" | "timestamp" => org.apache.spark.sql.types.TimestampType
        case _ => org.apache.spark.sql.types.StringType
      })
    })

  def read(spark: SparkSession, src0: Source): DataFrame = {
    // inferMode=datax: resolve the typed projection with the reference's
    // SAMPLING inference rule before reading (see [[JsonInfer]]) — fills
    // `["*"]` configs with the full inferred column set and user columns
    // whose `type` was left blank
    val src =
      if (src0.options.get("inferMode").contains("datax") &&
          Set("json", "jsonl", "json-auto")(src0.format))
        src0.copy(columns = JsonInfer.mergeColumns(spark, src0))
      else src0
    // `path` may be a ','-joined list (the reference's path params accept
    // lists, `txtfile_reader.go:56-69`); globs pass through to the scan
    val paths = src.path.split(",").toSeq
    val base = src.format match {
      case "csv" =>
        spark.read
          .option("header", "true").option("nullValue", src.nullFormat) // nullFormat \N: txtfile_reader.go:108-118
          .options(src.options).csv(paths: _*)
      case "jsonl" => spark.read.options(src.options).json(paths: _*)
      case "json" => spark.read.option("multiLine", "true").options(src.options).json(paths: _*)
      case "json-auto" => // sniff `[` vs `{`: jsonfile_reader.go:378-400
        // inference already ran above — drop the flag so the recursion
        // doesn't sample the files a second time
        return read(spark, src.copy(format = sniffJsonFormat(spark, paths.head),
          options = src.options - "inferMode"))
      case "parquet" => spark.read.options(src.options).parquet(paths: _*)
      // hdfsreader fileType ORC (`hdfs_reader.go:221-229` names TEXT/ORC/
      // PARQUET; only TEXT is implemented there — Spark gives ORC for free)
      case "orc" => spark.read.options(src.options).orc(paths: _*)
      case "text" => spark.read.options(src.options).text(paths: _*)
      case env if graft.sources.CdcEnvelope.Formats(env) =>
        // batch read of a binlog-dump file (the offline twin of the
        // CdcPipeline streaming tail): named `columns` specs define the
        // payload schema; output is canonical (op, lsn, payload...)
        require(src.columns.nonEmpty && src.columns.forall(_.name.nonEmpty),
          s"'$env' sources need named `columns` specs for the payload schema")
        // typed projection already applied via the schema
        return graft.sources.CdcEnvelope.decode(env,
          spark.read.options(src.options).text(src.path), "value", schemaFor(src.columns))
      case f => throw new IllegalArgumentException(s"source format '$f'")
    }
    val flattened =
      if (!src.stringifyNested) base
      else {
        import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
        base.select(base.schema.fields.map { f =>
          f.dataType match {
            case _: StructType | _: ArrayType | _: MapType => to_json(col(f.name)).as(f.name)
            case _ => col(f.name)
          }
        }.toSeq: _*)
      }
    val projected =
      if (src.columns.isEmpty) flattened
      else typedProjection(flattened, src.columns, src.nullFormat)
    // constant columns (txtfilereader {type:"string", value:...})
    src.constants.foldLeft(projected) { case (df, (name, value)) => df.withColumn(name, lit(value)) }
  }

  /** The reference's 6-format date fallback chain
    * (`txtfile_reader.go:461-481`), as Spark patterns, tried in order after
    * any user-supplied format.
    */
  val DateFallbackFormats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd",
    // ISO-8601/RFC3339 forms (the jsonfile reader's chain adds these,
    // `jsonfile_reader.go:1152-1160`; XXX parses both `Z` and `+07:00`)
    "yyyy-MM-dd'T'HH:mm:ssXXX", "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss", "yyyy/MM/dd",
    "MM/dd/yyyy HH:mm:ss", "MM/dd/yyyy")

  /** Typed positional projection (txtfilereader 常规模式,
    * `txtfile_reader.go:399-481`): each output column is either a constant
    * or the `index`-th raw field, null-normalized (`nullFormat`/empty ⇒
    * null) and converted — long/double/boolean parse failures default to
    * 0/0.0/false like the reference's strconv fallbacks; dates try the
    * user format then the 6-format fallback chain. One divergence, on
    * purpose: a date that no format parses is NULL here, not a raw string
    * (a typed engine cannot store both in one column — the reference's
    * string fallback is a dynamically-typed-record artifact).
    * All of it is a narrow codegen'd projection over the scan.
    */
  def typedProjection(df: DataFrame, specs: Seq[ColumnSpec], nullFormat: String): DataFrame = {
    val inCols = df.columns
    val cols = specs.zipWithIndex.map { case (sp, i) =>
      // dotted source paths flatten to '_'-joined output names
      val outName = if (sp.name.nonEmpty) sp.name.replace('.', '_') else s"col$i"
      val raw: Column =
        if (sp.value != null) lit(sp.value)
        else if (sp.index >= 0 && sp.index < inCols.length) col(inCols(sp.index)).cast("string")
        else if (sp.index < 0 && sp.name.nonEmpty)
          // named (possibly dotted) path — jsonfilereader's column addressing
          // (`jsonfile_reader.go` dotted access); missing paths fail analysis
          col(sp.name).cast("string")
        else lit(null).cast("string") // out-of-range index ⇒ null
      val nn = when(raw.isNull || raw === "" || raw === nullFormat, lit(null).cast("string"))
        .otherwise(raw)
      val converted: Column = sp.colType match {
        // try_cast: malformed input ⇒ null ⇒ the reference's 0/false default
        // (strconv fallbacks, txtfile_reader.go:440-459) — ANSI-mode safe
        // the double hop matches the reference's jsonfile long conversion
        // (`jsonfile_reader.go:1109-1110`: int64(float64) — "2.0" ⇒ 2,
        // fractionals truncate toward zero), then the strconv 0 default
        case "long" => when(nn.isNull, lit(null).cast("long"))
          .otherwise(coalesce(nn.try_cast("long"),
            nn.try_cast("double").try_cast("long"), lit(0L)))
        case "double" => when(nn.isNull, lit(null).cast("double"))
          .otherwise(coalesce(nn.try_cast("double"), lit(0.0)))
        case "boolean" | "bool" => when(nn.isNull, lit(null).cast("boolean"))
          .otherwise(coalesce(nn.try_cast("boolean"), lit(false)))
        case "date" | "timestamp" =>
          val fmts = (if (sp.format.nonEmpty) Seq(sp.format) else Nil) ++ DateFallbackFormats
          coalesce(fmts.map(f => try_to_timestamp(nn, lit(f))): _*)
        case _ => nn
      }
      converted.as(outName)
    }
    df.select(cols: _*)
  }

  /** First-non-space byte of the first data file decides `[` (JSON array,
    * multiline) vs `{` (JSONL); default JSONL — `jsonfile_reader.go:378-400`.
    */
  private def sniffJsonFormat(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(SessionBridge.hadoopConf(spark))
    val isGlob = path.exists("*?[{".contains(_))
    val file =
      if (isGlob)
        Option(fs.globStatus(p)).getOrElse(Array.empty).filter(_.isFile)
          .sortBy(_.getPath.getName).headOption.map(_.getPath)
      else if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".")).sortBy(_.getPath.getName).headOption.map(_.getPath)
      else Some(p)
    file match {
      case Some(f) =>
        val in = fs.open(f)
        try {
          val buf = new Array[Byte](1024)
          val n = in.read(buf)
          val head = new String(buf, 0, math.max(n, 0), java.nio.charset.StandardCharsets.UTF_8).trim
          if (head.startsWith("[")) "json" else "jsonl"
        } finally in.close()
      case None => "jsonl"
    }
  }

  /** Run the job: read → transform chain → error-split → write; enforce the
    * error limit from observed counts (single pass — bad rows are filtered
    * and counted inside the write job via `observe`, the Spark analog of the
    * reference's statistics-decorated channel, `core/registry/statistics.go`).
    */
  /** Render the reference's `@table` placeholder into pre/post statements
    * (go-datax `common/database/rdbms/writer/common.go:187-203`).
    */
  def renderSqls(sqls: Seq[String], table: String): Seq[String] =
    sqls.map(_.replace("@table", table))

  /** Run the job. When a BINDING error limit is configured, file-format
    * sinks write through a STAGING directory that is published (renamed/
    * merged) into the target only after the limit check passes — an
    * over-limit job leaves the target untouched, unlike the reference's
    * half-written abort (`error_limiter.go` aborts mid-transfer with rows
    * already committed). Lake sinks are exempt: their epoch-keyed merge is
    * atomic and idempotent by construction, so a failed job is simply
    * re-run.
    */
  def run(
      spark: SparkSession,
      src: Source,
      transforms: Seq[Transformers.Transform],
      sink: Sink,
      badPredicate: Option[Column] = None,
      errorLimit: ErrorLimit = ErrorLimit(record = Long.MaxValue),
      /** statements executed before/after the write — the reference's
        * preSql/postSql job phases (`jobcontainer.go:173-188,300-303`;
        * `common.go:51-76,206-231`). Run against the session catalog.
        */
      preSql: Seq[String] = Nil,
      postSql: Seq[String] = Nil): JobResult = {
    // envelope sources: a malformed line decodes to null lsn — it is a
    // dirty record (counted against the error limit, filtered before the
    // sink), the batch-path analog of CdcPipeline's corrupt-line policy;
    // and a lake sink fed by an envelope source consumes CHANGE EVENTS
    // (op/lsn preserved through the merge — the explicit opt-in is set
    // here, where the source format is known)
    val isEnvelope = graft.sources.CdcEnvelope.Formats(src.format)
    runFrom(spark, read(spark, src), transforms, sink, badPredicate, errorLimit,
      preSql, postSql, envelopeInput = isEnvelope)
  }

  /** [[run]] with a caller-supplied input plan instead of a [[Source]] —
    * the same transform chain / error-limit / staged-publish machinery for
    * inputs that are not files (generated streams, JDBC scans, another
    * job's DataFrame). `envelopeInput` marks the input as canonical change
    * events (see [[run]]'s envelope handling).
    */
  def runFrom(
      spark: SparkSession,
      // by-name: preSql may materialize the source (CREATE TABLE ...
      // LOCATION / INSERT OVERWRITE into the source path), so the input
      // plan — whose construction eagerly infers file schemas — must not
      // be built until preSql has run
      input: => DataFrame,
      transforms: Seq[Transformers.Transform],
      sink: Sink,
      badPredicate: Option[Column] = None,
      errorLimit: ErrorLimit = ErrorLimit(record = Long.MaxValue),
      preSql: Seq[String] = Nil,
      postSql: Seq[String] = Nil,
      envelopeInput: Boolean = false): JobResult = {
    val t0 = System.nanoTime()
    preSql.foreach(spark.sql(_).collect())
    val transformed = Transformers.chain(input, transforms)
    val isEnvelope = envelopeInput
    val sink1 = if (isEnvelope && sink.format == "lake") sink.copy(changeEvents = true) else sink
    val userBad = badPredicate.getOrElse(lit(false))
    val bad = if (isEnvelope) userBad || col("lsn").isNull else userBad
    val obs = Observation(s"sync-${System.nanoTime()}")
    val rowBytes = graft.core.ByteSize.logicalBytes(transformed)
    val observed = transformed
      .observe(obs,
        count(lit(1)).as("total"),
        sum(when(bad, 1L).otherwise(0L)).as("bad"),
        sum(when(coalesce(bad, lit(false)), 0L).otherwise(rowBytes)).as("goodBytes"))
      .filter(!coalesce(bad, lit(false)))

    val binding = errorLimit.record != Long.MaxValue || errorLimit.percentage < 1.0
    // lake: epoch-idempotent merge needs no staging; jdbc: rows stream into
    // the target's transactions (the reference's mid-transfer abort shape)
    val staged = binding && sink.format != "lake" && sink.format != "jdbc"
    // only a staged publish opens the sink's filesystem and names a staging
    // dir (a jdbc sink's `path` is a table name)
    lazy val fs = new Path(sink.path).getFileSystem(SessionBridge.hadoopConf(spark))
    lazy val stagingPath = s"${sink.path}.staging-${System.nanoTime()}"

    // nonConflict holds its exclusive sentinel from the pre-check through
    // the publish — no check-then-act window for a concurrent job
    val sentinel: Option[Path] =
      if (staged && sink.writeMode == WriteMode.NonConflict)
        Some(nonConflictClaim(fs, new Path(sink.path)))
      else None
    try {
      if (staged)
        write(spark, observed, sink1.copy(path = stagingPath, writeMode = WriteMode.Truncate))
      else
        write(spark, observed, sink1)

      val m = obs.get
      val total = m("total").asInstanceOf[Long]
      val nBad = m("bad").asInstanceOf[Long]
      val goodBytes = Option(m("goodBytes")).map(_.asInstanceOf[Long]).getOrElse(0L)
      if (nBad > errorLimit.record ||
          (total > 0 && nBad.toDouble / total > errorLimit.percentage)) {
        if (staged) fs.delete(new Path(stagingPath), true)
        throw new ErrorLimitExceeded(
          s"error limit exceeded: $nBad bad of $total (limit ${errorLimit.record} / ${errorLimit.percentage})")
      }
      if (staged) {
        val target = new Path(sink.path)
        if (sink.writeMode == WriteMode.Truncate) fs.delete(target, true)
        mergeMove(fs, new Path(stagingPath), target)
      }
      postSql.foreach(spark.sql(_).collect())
      JobResult(total - nBad, nBad, (System.nanoTime() - t0) / 1e9, goodBytes)
    } finally sentinel.foreach(nonConflictRelease(fs, _))
  }

  /** Atomic nonConflict claim: verifies the target holds no files, then
    * claims an exclusive sentinel beside it with `create(overwrite=false)` —
    * atomic on HDFS (namenode-arbitrated), so two concurrent nonConflict
    * jobs cannot both pass a check-then-act window (the reference's
    * exists+list check has the same TOCTOU race this closes). Returns the
    * sentinel; callers release it in a finally via [[nonConflictRelease]].
    */
  private def nonConflictClaim(fs: org.apache.hadoop.fs.FileSystem, target: Path): Path = {
    if (fs.exists(target) && fs.listStatus(target).nonEmpty)
      throw new IllegalStateException(s"nonConflict: target $target not empty")
    val parent = Option(target.getParent).getOrElse(new Path("."))
    fs.mkdirs(parent)
    val sentinel = new Path(parent, s".${target.getName}.nonconflict")
    try {
      // stamp the claimant so a later collision can name who holds the
      // claim — and a crashed job's leftover claim is distinguishable from
      // a live writer by its age
      val out = fs.create(sentinel, false)
      try out.write(
        (s"claimant=${java.net.InetAddress.getLocalHost.getHostName}:" +
          s"pid=${ProcessHandle.current().pid()} " +
          s"claimedAt=${java.time.Instant.now()}\n").getBytes("UTF-8"))
      finally out.close()
    } catch {
      case e: java.io.IOException =>
        val detail = try {
          val st = fs.getFileStatus(sentinel)
          val ageMin = (System.currentTimeMillis() - st.getModificationTime) / 60000L
          val claim = try {
            val in = fs.open(sentinel)
            try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
              "UTF-8").trim
            finally in.close()
          } catch { case _: java.io.IOException => "unreadable" }
          s"held for ${ageMin} min by [$claim] — if that job crashed without " +
            s"cleanup, delete $sentinel to release the claim"
        } catch { case _: java.io.IOException => s"claim at $sentinel" }
        throw new IllegalStateException(
          s"nonConflict: another job is writing $target ($detail)", e)
    }
    sentinel
  }

  private def nonConflictRelease(fs: org.apache.hadoop.fs.FileSystem, sentinel: Path): Unit =
    try { fs.delete(sentinel, false); () } catch { case _: java.io.IOException => () }

  /** Recursive publish of a staging dir into the target: rename whole when
    * the target is absent, else merge children (Spark part-file names are
    * task-UUID-unique, so file-level renames cannot collide) — the job-level
    * analog of hdfswriter's tmp→rename publish (`hdfs_writer.go:458-507`).
    */
  private def mergeMove(fs: org.apache.hadoop.fs.FileSystem, src: Path, dst: Path): Unit = {
    if (!fs.exists(dst)) {
      val parent = dst.getParent
      if (parent != null) fs.mkdirs(parent)
      if (!fs.rename(src, dst))
        throw new IllegalStateException(s"staged publish failed: $src -> $dst")
    } else {
      fs.listStatus(src).foreach { st =>
        val d = new Path(dst, st.getPath.getName)
        if (st.isDirectory) mergeMove(fs, st.getPath, d)
        else {
          if (fs.exists(d)) fs.delete(d, false) // _SUCCESS markers etc.
          if (!fs.rename(st.getPath, d))
            throw new IllegalStateException(s"staged publish failed: ${st.getPath} -> $d")
        }
      }
      fs.delete(src, true)
    }
  }

  /** Render every row as ONE delimiter-joined line with the reference's
    * canonical per-type formatting (`stream_writer.go:215-250` via
    * [[graft.core.ColumnCasts]]): doubles `%.6f`, timestamps
    * `yyyy-MM-dd HH:mm:ss` (or the writer's dateFormat), bytes lowercase
    * hex, NULL → `nullFormat`. All codegen'd builtins — the projection
    * fuses into the scan.
    */
  def canonicalLines(df: DataFrame, delim: String, nullFormat: String,
      tsFormat: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.core.ColumnCasts
    val rendered = df.schema.fields.map { f =>
      val c = col(f.name)
      val s = f.dataType match {
        case DoubleType | FloatType => ColumnCasts.doubleToString(c.cast("double"))
        case TimestampType | DateType =>
          tsFormat.fold(ColumnCasts.dateToString(c))(fmt => date_format(c, fmt))
        case BinaryType => ColumnCasts.bytesToString(c)
        case _ => c.cast("string")
      }
      coalesce(s, lit(nullFormat))
    }
    df.select(concat_ws(delim, rendered.toSeq: _*).as("value"))
  }

  def write(spark: SparkSession, df: DataFrame, sink: Sink): Unit = sink.format match {
    case "lake" =>
      require(sink.keyCols.nonEmpty, "lake sink needs keyCols")
      val table = LakeTable.create(spark, sink.path, sink.keyCols, sink.numBuckets)
      // batch upsert: whole input is one epoch after the last committed one.
      //
      // Two input shapes:
      //  - a PLAIN source (csv/json/parquet/...): every row is an upsert;
      //    the epoch IS the lsn — later batches beat earlier ones per key
      //    (last-writer-wins across jobs, like the reference's re-run
      //    replace semantics). Duplicate keys WITHIN one batch have no
      //    defined order in the reference (channel arrival order), so any
      //    winner is VALID — the merge's payload-hash tie-break makes the
      //    winner DETERMINISTIC (EngineSpec "deterministic winner").
      //  - a CHANGE-EVENT input (`Sink.changeEvents = true` — set by run()
      //    for debezium/canal/maxwell sources, or explicitly for lake
      //    change streams): rows already carry canonical (op, lsn), which
      //    are PRESERVED — overwriting them would turn DELETE events into
      //    live upserts (canal/maxwell carry the full deleted row image)
      //    and collapse the dump's LWW order into one epoch. Rows whose
      //    lsn is null (malformed envelope lines decode to null) never
      //    reach the merge, mirroring CdcPipeline's corrupt-line policy —
      //    count them with `badPredicate = col("lsn").isNull` through
      //    run()'s error limiter (run() wires this automatically for
      //    envelope sources). The flag is EXPLICIT: a plain table whose
      //    business schema happens to contain `op`/`lsn` columns is still
      //    treated as plain data.
      val epoch = table.currentSnapshot().lastEpochFor(LakeTable.DefaultWriter) + 1
      val withMeta =
        if (sink.changeEvents) {
          require(df.columns.contains("op") && df.columns.contains("lsn"),
            "changeEvents lake sink needs canonical (op, lsn) input columns")
          df.filter(col("lsn").isNotNull)
        } else {
          // `op`/`lsn` are the merge's reserved metadata names: stamping
          // over business columns with those names would silently destroy
          // their values (and merge would drop them from the stored
          // payload) — fail fast instead; rename them or opt into
          // changeEvents if they really are change metadata. Matched
          // case-INsensitively, mirroring Spark's default column
          // resolution: withColumn("op") replaces a column named 'OP' too.
          val clash = df.columns.filter(c => c.equalsIgnoreCase("op") || c.equalsIgnoreCase("lsn"))
          require(clash.isEmpty,
            s"plain lake sink input has reserved column name(s) ${clash.mkString(", ")}: " +
              "rename them, or set Sink.changeEvents = true if they are canonical CDC metadata")
          df.withColumn("op", lit("U")).withColumn("lsn", lit(epoch))
        }
      table.merge(withMeta, epoch)
      ()
    case "jdbc" =>
      val jw = sink.jdbc.getOrElse(
        throw new IllegalArgumentException("jdbc sink needs its writer (Sink.jdbc)"))
      JdbcExec.write(df, jw.target, jw.writeMode)
      ()
    case fmt0 =>
      // envelope sinks: canonical change events -> JSONL binlog envelopes
      // (the produce direction of sources/CdcEnvelope; a graft export feeds
      // any debezium/canal/maxwell consumer). The encoded frame is one
      // string column written through the ordinary text machinery, so
      // writeModes, flush thresholds and staged error-limit publish all
      // apply unchanged.
      val (df1, fmt) = fmt0 match {
        case "stream-text" =>
          // txtfilewriter fileFormat=text / streamwriter lines: canonical
          // per-type rendering joined with the field delimiter
          // (`stream_writer.go:215-250`, `txtfile_writer.go` text mode)
          val lines0 = canonicalLines(df,
            sink.options.getOrElse("sep", ","),
            sink.options.getOrElse("nullValue", "\\N"),
            sink.options.get("timestampFormat"))
          val lines = sink.options.get("headerLine") match {
            case Some(h) if h.nonEmpty =>
              // the reference writes the configured header as the first
              // line of each task's file (`txtfile_writer.go:252-258`);
              // Spark's text sink has no header option, so prepend it to
              // every non-empty written partition
              import lines0.sparkSession.implicits._
              lines0.as[String]
                .mapPartitions(it => if (it.hasNext) Iterator(h) ++ it else it)
                .toDF("value")
            case _ => lines0
          }
          (lines, "text")
        case env if graft.sources.CdcEnvelope.Formats(env) =>
          require(df.columns.contains("op") && df.columns.contains("lsn"),
            s"'$env' sink needs canonical (op, lsn, payload...) input columns")
          require(env != "debezium" || sink.keyCols.nonEmpty,
            "debezium sink needs keyCols for the delete key image")
          val payload = df.columns.filterNot(c => c == "op" || c == "lsn").toSeq
          (graft.sources.CdcEnvelope.encode(env, df, payload, sink.keyCols), "text")
        case f => (df, f)
      }
      // reference nonConflict fails if ANY file exists at the target; the
      // sentinel claim makes check→write exclusive (no TOCTOU window), so
      // the write itself can run as a plain append into the verified-empty
      // target. The claim is released after the write: a later nonConflict
      // job then fails on the now-non-empty target.
      val nonConflictSentinel: Option[Path] =
        if (sink.writeMode == WriteMode.NonConflict) {
          val p = new Path(sink.path)
          Some(nonConflictClaim(p.getFileSystem(SessionBridge.hadoopConf(spark)), p))
        } else None
      val mode = sink.writeMode match {
        case WriteMode.Append => "append"
        case WriteMode.Truncate => "overwrite"
        case WriteMode.NonConflict => "append"
        case WriteMode.Upsert =>
          throw new IllegalArgumentException("upsert requires format=lake")
      }
      // dual flush thresholds -> one row-based file cap: rows bound AND the
      // byte bound divided by the mean logical row size, estimated from a
      // bounded SAMPLE (limit stops after the first few splits) — a full
      // avg() aggregate here would scan the whole input a second time
      // before the real write, doubling the read at 100 TB. A flush
      // threshold only needs an estimate; the reference sizes batches from
      // the rows it has buffered, also an incremental estimate.
      val fileCap: Option[Long] = {
        val byRows = if (sink.flushRows > 0) Some(sink.flushRows) else None
        val byBytes = if (sink.flushBytes > 0) {
          val sample = df1.limit(10000)
          val mean = sample.agg(avg(graft.core.ByteSize.logicalBytes(sample))).collect()(0)
          val avgB = (if (mean.isNullAt(0)) 1.0 else mean.getDouble(0)).max(1.0)
          Some(math.max(1L, (sink.flushBytes / avgB).toLong))
        } else None
        (byRows.toSeq ++ byBytes.toSeq).reduceOption((a, b) => math.min(a, b))
      }
      val w0 = df1.write.mode(mode).options(sink.options)
      val w1 = fileCap.fold(w0)(c => w0.option("maxRecordsPerFile", c))
      val w = if (sink.partitionCols.nonEmpty) w1.partitionBy(sink.partitionCols: _*) else w1
      try {
        fmt match {
          case "csv" =>
            // header defaults on but an explicit sink option wins (a
            // txtfilewriter with no `header` list writes data lines only)
            (if (sink.options.contains("header")) w else w.option("header", "true"))
              .csv(sink.path)
          case "json" | "jsonl" => w.json(sink.path)
          case "parquet" => w.parquet(sink.path)
          case "orc" => w.orc(sink.path) // hdfswriter fileType ORC (hdfs_writer.go:569-572)
          case "text" => w.text(sink.path)
          case f => throw new IllegalArgumentException(s"sink format '$f'")
        }
      } finally nonConflictSentinel.foreach(s =>
        nonConflictRelease(s.getFileSystem(SessionBridge.hadoopConf(spark)), s))
  }
}
