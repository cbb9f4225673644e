package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Model

/** Decoders for the public binlog/WAL JSON envelope formats a CDC tail
  * actually delivers — Debezium, Canal, and Maxwell — into the engine's
  * canonical change-event shape (`op` I/U/D, `lsn`, payload columns), ready
  * for [[graft.lake.LakeTable.merge]].
  *
  * The reference reads RDBMS state with batch SELECTs (go-datax
  * `plugins/reader/mysqlreader/mysql_reader.go:74-92`) and has no log-tail
  * decoder; the envelope layouts here follow the published formats:
  * Debezium's `{before, after, op: c|r|u|d, ts_ms, source.lsn}` event
  * envelope, Canal's flat JSON message `{data: [row...], old, type:
  * INSERT|UPDATE|DELETE, id, es, ts}`, and Maxwell's `{data, old, type:
  * insert|update|delete, ts, xid, position}` — all public wire formats.
  *
  * Decoding is `from_json` with an explicit schema — a native Catalyst
  * expression evaluated once per row inside the scan stage (the same path
  * Spark's Kafka+Debezium pipelines use); no UDFs, no driver-side parsing,
  * so the decode distributes and scales with the source partitioning.
  *
  * All three decoders emit the SAME canonical columns:
  *   - `op`  : `I` / `U` / `D` (Model.Op*)
  *   - `lsn` : Long — total order of the change within the log
  *   - payload columns per `payloadSchema` (for deletes, taken from the
  *     envelope's before/old image so the key still routes to its bucket)
  */
object CdcEnvelope {

  /** The envelope formats every tail, batch read, sink and feed accepts. */
  val Formats: Set[String] = Set("debezium", "canal", "maxwell")

  private def notEnvelope(format: String) = new IllegalArgumentException(
    s"not an envelope format: '$format' (${Formats.mkString("|")})")

  /** `format`'s decoder; `keyCols` feed canal's and maxwell's key-change fan-out. */
  def decode(format: String, df: DataFrame, envelopeCol: String, payloadSchema: StructType,
      passthrough: Seq[String] = Nil, keyCols: Seq[String] = Nil): DataFrame = format match {
    case "debezium" => debezium(df, envelopeCol, payloadSchema, passthrough)
    case "canal" => canal(df, envelopeCol, payloadSchema, passthrough = passthrough, keyCols = keyCols)
    case "maxwell" => maxwell(df, envelopeCol, payloadSchema, passthrough, keyCols)
    case other => throw notEnvelope(other)
  }

  /** `format`'s encoder; `keyCols` form debezium's delete `before` image. */
  def encode(format: String, df: DataFrame, payloadCols: Seq[String],
      keyCols: Seq[String] = Nil, tableRef: Option[String] = None): DataFrame = format match {
    case "debezium" => encodeDebezium(df, payloadCols, keyCols, tableRef)
    case "canal" => encodeCanal(df, payloadCols, tableRef)
    case "maxwell" => encodeMaxwell(df, payloadCols, tableRef)
    case other => throw notEnvelope(other)
  }

  /** The (database, table) the envelope's change belongs to, as raw-string
    * columns pulled from `envelopeCol` WITHOUT a full decode — Debezium
    * stamps them in the `source` block (`source.db` / `source.table`, per
    * the published event-envelope layout), Canal and Maxwell at the top
    * level (`database` / `table`). A real binlog/WAL tail interleaves every
    * table's changes in one stream, so routing has to read the table name
    * BEFORE committing to a payload schema; `get_json_object` is a native
    * Catalyst path extraction (codegen'd, no UDF), cheap enough to run as a
    * pre-filter over raw lines. Returns null columns for malformed lines
    * and for envelopes that carry no table metadata (e.g. a single-table
    * feed synthesized without it).
    */
  def tableRefs(format: String, envelopeCol: Column): (Column, Column) =
    format match {
      case "debezium" =>
        (get_json_object(envelopeCol, "$.source.db"),
          get_json_object(envelopeCol, "$.source.table"))
      case "canal" | "maxwell" =>
        (get_json_object(envelopeCol, "$.database"),
          get_json_object(envelopeCol, "$.table"))
      case other => throw notEnvelope(other)
    }

  /** True where (dbCol, tblCol) matches `ref` — `"db.table"` matches both
    * parts, a bare `"table"` matches the table name under any database.
    * Null columns (no table metadata / malformed line) never match. The
    * ONE place the ref-matching rule lives: the single-table filter and
    * the router both go through it.
    */
  def refMatches(ref: String, dbCol: Column, tblCol: Column): Column =
    ref.split("\\.", 2) match {
      case Array(d, t) => dbCol === d && tblCol === t
      case _ => tblCol === ref
    }

  /** The bare table part of a ref ("db.table" → "table", "t" → "t"). */
  def refTablePart(ref: String): String =
    ref.split("\\.", 2) match {
      case Array(_, t) => t
      case _ => ref
    }

  /** True where the envelope's change belongs to `ref` (see [[refMatches]]). */
  def tableMatches(format: String, envelopeCol: Column, ref: String): Column = {
    val (db, tbl) = tableRefs(format, envelopeCol)
    refMatches(ref, db, tbl)
  }

  /** Envelope struct type for a Debezium change event carrying `payload`
    * row images.
    */
  def debeziumSchema(payloadSchema: StructType): StructType = StructType(Seq(
    StructField("before", payloadSchema, nullable = true),
    StructField("after", payloadSchema, nullable = true),
    StructField("op", StringType, nullable = true),
    StructField("ts_ms", LongType, nullable = true),
    StructField("source", StructType(Seq(
      StructField("lsn", LongType, nullable = true),
      StructField("db", StringType, nullable = true),
      StructField("table", StringType, nullable = true))), nullable = true)))

  /** Decode Debezium envelopes from string column `envelopeCol`.
    * `op` mapping: `c` (create) / `r` (snapshot read) → I, `u` → U,
    * `d` → D. The row image is `after` for upserts, `before` for deletes.
    */
  def debezium(df: DataFrame, envelopeCol: String, payloadSchema: StructType,
      passthrough: Seq[String] = Nil): DataFrame = {
    // Parse ONCE into a materialized struct column. Referencing the
    // from_json expression per field would let the optimizer prune each
    // reference to a different minimal schema — defeating common-
    // subexpression elimination and running SEVEN Jackson parses per row
    // (measured in the r06 plan audit). Behind an attribute the parse is a
    // single full-schema evaluation; the extra fields cost far less than
    // the repeated parse setup.
    val parsed = df.select(
      from_json(col(envelopeCol), debeziumSchema(payloadSchema)).as("_e") +:
        passthrough.map(col): _*)
    val e = col("_e")
    // row-image ops only: c/r/u/d. Truncate ('t') and logical-message ('m')
    // envelopes carry a valid source.lsn but NO row image — decode them
    // with null lsn so the corrupt-line policy diverts them rather than
    // inserting a null-key row
    val isRowEvent = e.getField("op").isin("c", "r", "u", "d") &&
      coalesce(e.getField("after"), e.getField("before")).isNotNull
    parsed.select(Seq(
        when(e.getField("op") === "d", Model.OpDelete)
          .when(e.getField("op") === "u", Model.OpUpdate)
          .otherwise(Model.OpInsert).as("op"),
        when(isRowEvent, e.getField("source").getField("lsn")).as("lsn"),
        coalesce(e.getField("after"), e.getField("before")).as("_row")) ++
        passthrough.map(col): _*)
      .select(col("op") +: col("lsn") +: (payloadSchema.fieldNames.toSeq
        .map(f => col(s"_row.$f").as(f)) ++ passthrough.map(col)): _*)
  }

  /** Envelope struct type for a Canal flat-JSON message. `data` batches
    * multiple row images of the same statement into ONE message.
    */
  def canalSchema(payloadSchema: StructType): StructType = StructType(Seq(
    StructField("data", ArrayType(payloadSchema), nullable = true),
    StructField("old", ArrayType(payloadSchema), nullable = true),
    StructField("type", StringType, nullable = true),
    StructField("id", LongType, nullable = true),
    StructField("es", LongType, nullable = true),
    StructField("ts", LongType, nullable = true),
    StructField("database", StringType, nullable = true),
    StructField("table", StringType, nullable = true)))

  /** Decode Canal flat-JSON messages. One envelope may carry N row images
    * (`data` array) — each becomes its own change event; `lsn` is the
    * message `id` scaled by a batch stride plus the row's index inside the
    * message, preserving intra-statement order. DELETE carries the deleted
    * row images in `data` (Canal semantics), so keys decode uniformly.
    *
    * `batchStride` must exceed the largest `data` array any message
    * carries (Canal's canal.instance.memory.buffer defaults keep statements
    * far below the 1024 default) — a larger message would alias into the
    * next message's lsn space.
    *
    * KEY-CHANGING UPDATEs: Canal's `old` array (parallel to `data`, holding
    * only the columns an UPDATE changed) may contain key columns — i.e. the
    * statement MOVED the row to a new key. With `keyCols` set, such an
    * update fans out into TWO change events: a tombstone (`D`) on the OLD
    * key plus the upsert on the new one, so the moved row cannot linger
    * under its previous key in the LWW state. (Debezium needs no such
    * handling — it natively emits a delete + create pair for PK updates.)
    */
  def canal(df: DataFrame, envelopeCol: String, payloadSchema: StructType,
      batchStride: Int = 1024, passthrough: Seq[String] = Nil,
      keyCols: Seq[String] = Nil): DataFrame = {
    // single materialized parse — see [[debezium]] on why the from_json
    // must sit behind an attribute (per-reference schema pruning would
    // multiply the Jackson parse per field otherwise)
    val parsed = df.select(
      from_json(col(envelopeCol), canalSchema(payloadSchema)).as("_e") +:
        passthrough.map(col): _*)
    val e = col("_e")
    val exploded = parsed.select(Seq(
        when(e.getField("type") === "DELETE", Model.OpDelete)
          .when(e.getField("type") === "UPDATE", Model.OpUpdate)
          .otherwise(Model.OpInsert).as("op"),
        e.getField("id").as("_id"),
        e.getField("old").as("_olds"),
        // outer: a message whose `data` failed to parse still yields a row
        // (null lsn/payload) so a corrupt-line policy can count or divert it
        posexplode_outer(e.getField("data")).as(Seq("_i", "_row"))) ++
        passthrough.map(col): _*)
      .withColumn("_old", element_at(col("_olds"), col("_i") + 1))
    val lsn = when(col("_i").isNotNull, col("_id") * batchStride + col("_i"))
    val base = Seq(col("op"), lsn.as("lsn"), col("_row"), col("_old"))
    val flat = withKeyChangeTombstones(
      exploded.select(base ++ passthrough.map(col): _*), payloadSchema, keyCols)
    flat.select(col("op") +: col("lsn") +:
      (payloadSchema.fieldNames.toSeq.map(f => col(s"_row.$f").as(f)) ++
        passthrough.map(col)): _*)
  }

  /** Fan a key-changing UPDATE into (tombstone on old key, upsert) — input
    * needs (op, lsn, _row, _old) columns; output drops `_old`. No-op when
    * `keyCols` is empty or `_old` carries no differing key column.
    */
  private def withKeyChangeTombstones(df: DataFrame, payloadSchema: StructType,
      keyCols: Seq[String]): DataFrame = {
    if (keyCols.isEmpty) return df.drop("_old")
    val keyChanged = keyCols.map { k =>
      col(s"_old.$k").isNotNull && !(col(s"_old.$k") <=> col(s"_row.$k"))
    }.reduce(_ || _)
    // tombstone payload: OLD key values, everything else null
    val tombRow = struct(payloadSchema.fields.toSeq.map { f =>
      if (keyCols.contains(f.name)) coalesce(col(s"_old.${f.name}"), col(s"_row.${f.name}")).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    val main = struct(col("op"), col("lsn"), col("_row"))
    val tomb = struct(lit(Model.OpDelete).as("op"), col("lsn"), tombRow.as("_row"))
    val others = df.columns.filterNot(Seq("op", "lsn", "_row", "_old").contains).map(col).toSeq
    df.withColumn("_evs",
        when(col("op") === Model.OpUpdate && keyChanged, array(tomb, main))
          .otherwise(array(main)))
      .select(explode(col("_evs")).as("_ev") +: others: _*)
      .select(Seq(col("_ev.op").as("op"), col("_ev.lsn").as("lsn"),
        col("_ev._row").as("_row")) ++ others: _*)
  }

  /** Envelope struct type for a Maxwell change event. */
  def maxwellSchema(payloadSchema: StructType): StructType = StructType(Seq(
    StructField("data", payloadSchema, nullable = true),
    StructField("old", payloadSchema, nullable = true),
    StructField("type", StringType, nullable = true),
    StructField("ts", LongType, nullable = true),
    StructField("xid", LongType, nullable = true),
    StructField("position", StringType, nullable = true),
    StructField("database", StringType, nullable = true),
    StructField("table", StringType, nullable = true)))

  /** Decode Maxwell envelopes. `lsn` prefers the binlog position parsed
    * from `position` (`"file.NNNNNN:offset"`) — composed as
    * `fileSeq << 40 | offset`, so ordering SURVIVES binlog file rotation
    * (an offset alone would rank `file.000002:4500` below
    * `file.000001:805000` and let stale values win LWW); falls back to the
    * transaction id `xid`. Maxwell's `data` holds the full row image for
    * every type, deletes included; non-row envelopes (DDL, bootstrap
    * markers, heartbeats — null `data`) decode with null lsn so the
    * corrupt-line policy diverts them instead of inserting null-key rows.
    * With `keyCols` set, an update whose `old` image carries a differing
    * key column fans out into a tombstone on the old key + the upsert
    * (see [[canal]]).
    */
  def maxwell(df: DataFrame, envelopeCol: String, payloadSchema: StructType,
      passthrough: Seq[String] = Nil, keyCols: Seq[String] = Nil): DataFrame = {
    // single materialized parse — see [[debezium]]
    val parsed = df.select(
      from_json(col(envelopeCol), maxwellSchema(payloadSchema)).as("_e") +:
        passthrough.map(col): _*)
    val e = col("_e")
    val posOffset = regexp_extract(e.getField("position"), ":([0-9]+)$", 1)
    val posFileSeq = regexp_extract(e.getField("position"), "\\.([0-9]+):[0-9]+$", 1)
    val posLsn = nullif(posOffset, lit("")).cast(LongType) +
      (coalesce(nullif(posFileSeq, lit("")).cast(LongType), lit(0L)) * lit(1L << 40))
    // a row-image event is insert/update/delete/bootstrap-insert WITH data;
    // anything else (ddl, bootstrap-start/complete, heartbeat) is non-row
    val isRowEvent = e.getField("type").isin("insert", "update", "delete", "bootstrap-insert") &&
      e.getField("data").isNotNull
    val flat = withKeyChangeTombstones(
      parsed.select(Seq(
          when(e.getField("type") === "delete", Model.OpDelete)
            .when(e.getField("type") === "update", Model.OpUpdate)
            .otherwise(Model.OpInsert).as("op"),
          when(isRowEvent, coalesce(posLsn, e.getField("xid"))).as("lsn"),
          e.getField("data").as("_row"),
          e.getField("old").as("_old")) ++
          passthrough.map(col): _*),
      payloadSchema, keyCols)
    flat.select(col("op") +: col("lsn") +: (payloadSchema.fieldNames.toSeq
      .map(f => col(s"_row.$f").as(f)) ++ passthrough.map(col)): _*)
  }

  // ------------------------------------------------------------- encoders
  // Inverse mappings, used by tests and benchmarks to synthesize envelope
  // streams from the canonical shape (the sandbox has no live binlog).

  private def payloadStruct(payloadCols: Seq[String]): Column =
    struct(payloadCols.map(col): _*)

  /** `"db.table"` / `"table"` → (database column, table column) for the
    * encoders' table stamping (inverse of [[tableRefs]]).
    */
  private def refCols(tableRef: Option[String]): (Column, Column) =
    tableRef match {
      case Some(r) => r.split("\\.", 2) match {
        case Array(d, t) => (lit(d), lit(t))
        case _ => (lit(null).cast(StringType), lit(r))
      }
      case None => (lit(null).cast(StringType), lit(null).cast(StringType))
    }

  /** Canonical (op, lsn, payload...) → Debezium JSON strings. `tableRef`
    * ("db.table" or "table") stamps `source.db`/`source.table` so the
    * stream can feed a routed ([[tableMatches]]) consumer.
    */
  def encodeDebezium(df: DataFrame, payloadCols: Seq[String], keyCols: Seq[String],
      tableRef: Option[String] = None): DataFrame = {
    val isD = col("op") === Model.OpDelete
    // delete events carry only the key image in `before` (Debezium with
    // REPLICA IDENTITY DEFAULT); upserts carry the full row in `after`
    val keyImage = struct(keyCols.map(col): _*)
    val (db, tbl) = refCols(tableRef)
    df.select(to_json(struct(
      when(isD, keyImage).otherwise(lit(null)).as("before"),
      when(isD, lit(null)).otherwise(payloadStruct(payloadCols)).as("after"),
      when(isD, "d").when(col("op") === Model.OpUpdate, "u").otherwise("c").as("op"),
      (col("lsn") * 1000L).as("ts_ms"),
      struct(col("lsn").as("lsn"), db.as("db"), tbl.as("table")).as("source"))).as("value"))
  }

  /** Canonical → Canal flat JSON (one row image per message, so the decoded
    * `lsn` is `id * stride + 0`; pass `lsn * stride` invertibility via
    * stride 1).
    */
  def encodeCanal(df: DataFrame, payloadCols: Seq[String],
      tableRef: Option[String] = None): DataFrame = {
    val (db, tbl) = refCols(tableRef)
    df.select(to_json(struct(
      array(payloadStruct(payloadCols)).as("data"),
      when(col("op") === Model.OpDelete, "DELETE")
        .when(col("op") === Model.OpUpdate, "UPDATE").otherwise("INSERT").as("type"),
      col("lsn").as("id"),
      (col("lsn") * 1000L).as("es"),
      db.as("database"), tbl.as("table"))).as("value"))
  }

  /** Canonical → Maxwell JSON. */
  def encodeMaxwell(df: DataFrame, payloadCols: Seq[String],
      tableRef: Option[String] = None): DataFrame = {
    val (db, tbl) = refCols(tableRef)
    df.select(to_json(struct(
      payloadStruct(payloadCols).as("data"),
      when(col("op") === Model.OpDelete, "delete")
        .when(col("op") === Model.OpUpdate, "update").otherwise("insert").as("type"),
      col("lsn").as("ts"),
      col("lsn").as("xid"),
      // inverse of the decoder's fileSeq<<40|offset composition
      concat(lit("binlog."), lpad(shiftrightunsigned(col("lsn"), 40).cast("string"), 6, "0"),
        lit(":"), col("lsn").bitwiseAND(lit((1L << 40) - 1))).as("position"),
      db.as("database"), tbl.as("table"))).as("value"))
  }
}
