package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Gen, Model}
import graft.lake.LakeTable
import graft.sources.CdcEnvelope

/** Round-trip and merge-equivalence tests for the public CDC envelope
  * decoders (Debezium / Canal / Maxwell).
  */
class CdcEnvelopeSpec extends SparkSpec {

  private val payloadCols = Seq("ts", "conv_id", "turn_idx", "role", "text", "tool")
  private val payloadSchema = org.apache.spark.sql.types.StructType(
    Model.changeEventSchema.fields.filterNot(f => f.name == "op" || f.name == "lsn"))

  private def events: DataFrame = {
    val cfg = Gen.GenConfig(nEvents = 20000L, nConvs = 200L, partitions = 8)
    Gen.changeEvents(spark, cfg).toDF()
  }

  /** Canonical frame for comparison: stable order, null-safe. */
  private def canon(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*)
      .collect().map(_.mkString("|")).sorted.toSeq

  test("debezium round-trip: upserts exact, deletes keep the key image") {
    val src = events
    val enc = CdcEnvelope.encodeDebezium(src, payloadCols, Model.keyCols)
    val dec = CdcEnvelope.debezium(enc, "value", payloadSchema)
    // Debezium deletes carry only the key image in `before`, so non-key
    // payload (incl. ts) decodes to null for D rows
    val expected = src.select(
      col("op"), col("lsn"),
      when(col("op") === "D", lit(null)).otherwise(col("ts")).as("ts"),
      col("conv_id"), col("turn_idx"),
      col("role"), col("text"), col("tool"))
    assert(canon(dec) == canon(expected))
  }

  test("canal round-trip is exact (full row image for every type)") {
    val src = events
    val enc = CdcEnvelope.encodeCanal(src, payloadCols)
    val dec = CdcEnvelope.canal(enc, "value", payloadSchema, batchStride = 1)
    assert(canon(dec) == canon(src.select("op", "lsn", "ts", "conv_id",
      "turn_idx", "role", "text", "tool")))
  }

  test("maxwell round-trip is exact and lsn comes from the binlog position") {
    val src = events
    val enc = CdcEnvelope.encodeMaxwell(src, payloadCols)
    val dec = CdcEnvelope.maxwell(enc, "value", payloadSchema)
    assert(canon(dec) == canon(src.select("op", "lsn", "ts", "conv_id",
      "turn_idx", "role", "text", "tool")))
  }

  test("maxwell lsn falls back to xid when position is absent") {
    import spark.implicits._
    val raw = Seq(
      """{"data":{"conv_id":"c1","turn_idx":1,"role":"user","text":"hi","ts":"2024-01-01T00:00:00Z"},"type":"insert","ts":7,"xid":99}""")
      .toDF("value")
    val dec = CdcEnvelope.maxwell(raw, "value", payloadSchema)
    assert(dec.select("lsn").head().getLong(0) == 99L)
  }

  test("canal multi-row message fans out with intra-message order") {
    import spark.implicits._
    val raw = Seq(
      """{"data":[{"conv_id":"a","turn_idx":0},{"conv_id":"b","turn_idx":1}],"type":"UPDATE","id":5,"es":1}""")
      .toDF("value")
    val dec = CdcEnvelope.canal(raw, "value", payloadSchema, batchStride = 16)
    val rows = dec.select("op", "lsn", "conv_id").orderBy("lsn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq(("U", 80L, "a"), ("U", 81L, "b")))
  }

  test("maxwell lsn orders correctly across binlog file rotations") {
    import spark.implicits._
    val raw = Seq(
      """{"data":{"conv_id":"k","turn_idx":1,"text":"old"},"type":"update","ts":1,"xid":1,"position":"master.000001:805000"}""",
      """{"data":{"conv_id":"k","turn_idx":1,"text":"new"},"type":"update","ts":2,"xid":2,"position":"master.000002:4500"}""")
      .toDF("value")
    val dec = CdcEnvelope.maxwell(raw, "value", payloadSchema)
    val byText = dec.select("text", "lsn").as[(String, Long)].collect().toMap
    // the post-rotation event must rank ABOVE the pre-rotation one
    assert(byText("new") > byText("old"),
      s"rotation broke ordering: new=${byText("new")} old=${byText("old")}")
  }

  test("non-row envelopes decode with null lsn and get diverted, not inserted") {
    import spark.implicits._
    val dbz = Seq(
      """{"op":"t","before":null,"after":null,"source":{"lsn":123}}""",
      """{"op":"m","source":{"lsn":124}}""")
      .toDF("value")
    assert(CdcEnvelope.debezium(dbz, "value", payloadSchema)
      .filter(col("lsn").isNotNull).count() == 0L)
    val mxw = Seq(
      """{"type":"bootstrap-start","data":null,"position":"f.000001:10"}""",
      """{"type":"table-create","sql":"CREATE TABLE t","position":"f.000001:20"}""")
      .toDF("value")
    assert(CdcEnvelope.maxwell(mxw, "value", payloadSchema)
      .filter(col("lsn").isNotNull).count() == 0L)
  }

  test("hostile payload strings survive the JSON round-trip in every format") {
    import spark.implicits._
    val nasty = Seq(
      """quote " inside""", "new\nline", "tab\there", "unicode ☃ é 中文",
      """back\slash and \" escaped""", """{"fake": "json"}""", "", "   ",
      "controlchar")
    val src = nasty.zipWithIndex.map { case (txt, i) =>
      ("U", i.toLong, new java.sql.Timestamp(1704067200000L + i * 1000L),
        s"c$i", i, "user", txt, null: String)
    }.toDF("op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool")
    for ((enc, dec) <- Seq[(DataFrame => DataFrame, DataFrame => DataFrame)](
        (d => CdcEnvelope.encodeCanal(d, payloadCols),
          d => CdcEnvelope.canal(d, "value", payloadSchema, batchStride = 1)),
        (d => CdcEnvelope.encodeMaxwell(d, payloadCols),
          d => CdcEnvelope.maxwell(d, "value", payloadSchema)),
        (d => CdcEnvelope.encodeDebezium(d, payloadCols, Model.keyCols),
          d => CdcEnvelope.debezium(d, "value", payloadSchema)))) {
      val out = dec(enc(src)).select("lsn", "text").as[(Long, String)]
        .collect().toMap
      nasty.zipWithIndex.foreach { case (txt, i) =>
        assert(out(i.toLong) == txt, s"text mangled for case $i")
      }
    }
  }

  test("canal key-changing update fans into a tombstone on the old key + the upsert") {
    import spark.implicits._
    val raw = Seq(
      // row moved from (a,1) to (b,2): old image carries the previous key
      """{"data":[{"conv_id":"b","turn_idx":2,"role":"user","text":"moved"}],"old":[{"conv_id":"a","turn_idx":1}],"type":"UPDATE","id":9}""",
      // ordinary update: old image touches only a non-key column
      """{"data":[{"conv_id":"c","turn_idx":3,"text":"edited"}],"old":[{"text":"before"}],"type":"UPDATE","id":10}""")
      .toDF("value")
    val dec = CdcEnvelope.canal(raw, "value", payloadSchema,
      batchStride = 1, keyCols = Model.keyCols)
    val rows = dec.select("op", "lsn", "conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3), r.getString(4)))
      .toSet
    assert(rows == Set(
      ("D", 9L, "a", 1, null), // tombstone on the OLD key, payload null
      ("U", 9L, "b", 2, "moved"),
      ("U", 10L, "c", 3, "edited")))
  }

  test("maxwell key-changing update fans the same way") {
    import spark.implicits._
    val raw = Seq(
      """{"data":{"conv_id":"x","turn_idx":5,"text":"new"},"old":{"turn_idx":4},"type":"update","ts":1,"xid":77}""")
      .toDF("value")
    val dec = CdcEnvelope.maxwell(raw, "value", payloadSchema, keyCols = Model.keyCols)
    val rows = dec.select("op", "lsn", "conv_id", "turn_idx")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3))).toSet
    assert(rows == Set(("D", 77L, "x", 4), ("U", 77L, "x", 5)))
  }

  test("key-change fan-out through merge: the moved row leaves its old key") {
    import spark.implicits._
    val table = LakeTable.create(spark, tmpDir("env-move"), Model.keyCols, 4)
    // epoch 0: the row exists at (m,1)
    table.merge(Seq(("I", 1L, "m", 1, "user", "v1"))
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text"), 0L)
    // epoch 1: canal update moves it to (m,2)
    val mv = CdcEnvelope.canal(
      Seq("""{"data":[{"conv_id":"m","turn_idx":2,"role":"user","text":"v2"}],"old":[{"turn_idx":1}],"type":"UPDATE","id":5}""")
        .toDF("value"),
      "value", payloadSchema, batchStride = 1, keyCols = Model.keyCols)
    table.merge(mv, 1L)
    val state = table.read().select("conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(state == Set(("m", 2, "v2")))
  }

  test("streaming debezium tail replays to the same state as the parquet tail") {
    import graft.engine.cdc.CdcPipeline
    val cfg = Gen.GenConfig(nEvents = 20000L, nConvs = 200L, partitions = 8)
    val work = tmpDir("env-stream")

    // canonical parquet log (chunked) and its replay
    Gen.writeChangeLog(spark, cfg, s"$work/plog", nChunks = 4)
    val viaParquet = LakeTable.create(spark, s"$work/plake", Model.keyCols, 8)
    CdcPipeline.replayAll(spark, viaParquet,
      CdcPipeline.CdcConfig(s"$work/plog", s"$work/pcp", maxFilesPerTrigger = 8))

    // the same events as a Debezium JSONL tail (several files => several
    // micro-batches under maxFilesPerTrigger=2), plus a file of corrupt
    // lines that the drop-malformed policy must absorb without affecting
    // the final state
    CdcEnvelope.encodeDebezium(Gen.changeEvents(spark, cfg).toDF(),
        payloadCols, Model.keyCols)
      .repartition(4)
      .write.text(s"$work/jlog")
    // (the newest file, so its lines land in the last epoch)
    val corrupt = java.nio.file.Paths.get(s"$work/jlog/part-corrupt.txt")
    java.nio.file.Files.write(corrupt,
      "not json at all\n{\"op\":\"u\",\"garbage\":true}\n{}\n".getBytes)
    corrupt.toFile.setLastModified(System.currentTimeMillis() + 60000L)
    val viaJson = LakeTable.create(spark, s"$work/jlake", Model.keyCols, 8)
    val jcfg = CdcPipeline.CdcConfig(s"$work/jlog", s"$work/jcp", maxFilesPerTrigger = 2,
      format = "debezium", dlqDir = Some(s"$work/dlq"))
    def assertExact(what: String): Unit = {
      assert(canon(viaParquet.read()) == canon(viaJson.read()), what)
      // the 3 corrupt lines were collected VERBATIM in the dead-letter dir
      val dirty = spark.read.text(s"$work/dlq/epoch=*").collect().map(_.getString(0)).sorted
      assert(dirty.toSeq == Seq("not json at all", "{\"op\":\"u\",\"garbage\":true}", "{}").sorted,
        what)
    }
    CdcPipeline.replayAll(spark, viaJson, jcfg)
    assertExact("after the tail")
    val version = viaJson.currentSnapshot().version

    // CRASH after the last epoch's merge committed but before its dead
    // letters and its checkpoint commit: the restart replays that epoch,
    // the merge skips by lineage, and the dead letters still land
    val last = dropLastCommit(s"$work/jcp")
    assert(new java.io.File(s"$work/dlq/epoch=$last").isDirectory)
    deleteTree(s"$work/dlq/epoch=$last")
    CdcPipeline.replayAll(spark, viaJson, jcfg)
    assert(viaJson.currentSnapshot().version == version)
    assertExact("after the crash replay")
    // snapshot history records every commit with a wall-clock timestamp
    val h = viaJson.history()
    assert(h.count() == viaJson.currentSnapshot().version + 1)
    assert(h.where(org.apache.spark.sql.functions.col("commit_ts").isNull).count() == 0)
  }

  test("envelope-decoded merge reaches the same table state as direct merge") {
    val src = events.cache()
    val direct = LakeTable.create(spark, tmpDir("env-direct"), Model.keyCols, 8)
    direct.merge(src, 0L)

    val viaEnv = LakeTable.create(spark, tmpDir("env-dbz"), Model.keyCols, 8)
    val dec = CdcEnvelope.debezium(
      CdcEnvelope.encodeDebezium(src, payloadCols, Model.keyCols),
      "value", payloadSchema)
    viaEnv.merge(dec, 0L)

    // live state contains only upsert winners, which round-trip exactly
    assert(canon(direct.read()) == canon(viaEnv.read()))
    src.unpersist()
    ()
  }
}
