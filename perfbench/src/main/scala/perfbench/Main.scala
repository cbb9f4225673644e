package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.{ByteSize, Gen, Model}
import graft.engine.cdc.CdcPipeline
import graft.lake.{LakeTable, Parity}
import graft.sources.CdcEnvelope

/** Benchmark process: one workload, closed loop, on `local[cores]`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --cores <n> --work <dir> --out <file.json>
  * }}}
  *
  * Set-up (session start, input generation, fixture staging, warm-up) is
  * timed apart from the measured phase, which runs whole passes of the
  * workload until `seconds` have elapsed. Correctness checks run after the
  * measured phase. The run record is written to `--out` for `run.py`.
  */
object Main {

  final case class Ctx(spark: SparkSession, rec: Recorder, work: String, seed: Long,
      seconds: Double, cores: Int, trace: Boolean) {
    def time[T](part: String)(body: => T): T = {
      val t = System.nanoTime()
      val r = body
      rec.addSetup(part, (System.nanoTime() - t) / 1e9)
      r
    }

    /** Whole passes while the next one is expected to end by the deadline
      * (judged by the last pass), at least one; so a run never overshoots
      * its window by most of a pass, and the sample count per run stays put
      * across runs. A traced run alternates untraced and traced passes, at
      * least four, so the tracing overhead is measured in one process by
      * passes that sit between each other in time.
      */
    def passes(onePass: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      val minPasses = if (trace) 4 else 1
      var i = 0
      var last = 0L
      while (i < minPasses || System.nanoTime() - t0 + last <= (seconds * 1e9).toLong) {
        val p0 = System.nanoTime()
        rec.pass(s"pass $i", traced = trace && i % 2 == 1)(onePass(i))
        last = System.nanoTime() - p0
        i += 1
      }
    }
  }

  val Keys: Seq[String] = Model.keyCols
  val PayloadSchema: StructType =
    StructType(Model.changeEventSchema.fields.filterNot(f => f.name == "op" || f.name == "lsn"))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val work = opt("work")
    val rec = new Recorder(opt("trace") == "1")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.install(spark)
    rec.addSetup("session", (System.nanoTime() - t0) / 1e9)

    val ctx = Ctx(spark, rec, work, opt("seed").toLong, opt("seconds").toDouble, cores, rec.traceRequested)
    val sizing: Map[String, Any] = workload match {
      case "cdc_tail" => cdcTail(ctx)
      case "lake_serve" => lakeServe(ctx)
      case "query_sweep" => querySweep(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val json = rec.toJson(Map("workload" -> workload, "cores" -> cores, "seed" -> ctx.seed,
      "trace" -> ctx.trace, "sizing" -> sizing))
    spark.stop()
    Files.write(Paths.get(opt("out")), json.getBytes(StandardCharsets.UTF_8))
  }

  // ------------------------------------------------------------------ shared

  /** On-disk bytes of the live snapshot's files and the `ByteSize` logical
    * bytes of the rows they resolve to.
    */
  private def spaceOf(t: LakeTable): (Double, Double) = {
    val s = t.currentSnapshot()
    val disk = s.files.map(f => new File(s"${t.root}/data/${f.path}").length()).sum.toDouble
    val df = t.read()
    val logical = df.agg(sum(ByteSize.logicalBytes(df))).head().getLong(0).toDouble
    (disk, logical)
  }

  /** Layer numbers from the lake's own commit record (`MergeStats`) and its
    * live snapshot, for the tables written by traced passes.
    */
  private def lakeLayer(ctx: Ctx, tables: Seq[LakeTable], epochs: Long => Boolean = _ => true): Unit = {
    import ctx.spark.implicits._
    val stats = tables.flatMap(_.metrics().as[LakeTable.MergeStats].collect())
      .filter(m => !m.skipped && epochs(m.epoch))
    val v = ctx.rec.values
    v("lake.rows_in") = stats.map(_.rowsIn).sum.toDouble
    v("lake.rows_applied") = stats.map(_.rowsApplied).sum.toDouble
    v("lake.bytes_in") = stats.map(_.bytesIn).sum.toDouble
    v("lake.merges") = stats.size.toDouble
    v("lake.compacted_buckets_sum") = stats.map(_.compactedBuckets).sum.toDouble
    ctx.rec.samples("lake.merge") = collection.mutable.ArrayBuffer(stats.map(_.seconds): _*)
    val last = tables.last.currentSnapshot()
    v("lake.files_live") = last.files.size.toDouble
    v("lake.max_deltas_per_bucket") =
      last.files.filter(_.kind == "d").groupBy(_.bucket).values.map(_.size).maxOption.getOrElse(0).toDouble
    (1 to 5).foreach(_ => ctx.rec.op("snapshot_read")(tables.last.currentSnapshot()))
  }

  /** Parity of every pass's final table against the generator's oracle, in
    * one job: both sides carry the pass number as an extra key column.
    */
  private def checkParity(ctx: Ctx, name: String, tables: Seq[(Int, LakeTable)],
      expected: DataFrame): Unit = {
    if (tables.isEmpty) { ctx.rec.check(name, ok = false, "no table to check"); return }
    val got = tables.map { case (i, t) => t.read().withColumn("_pass", lit(i)) }.reduce(_ unionByName _)
    val passIds = ctx.spark.createDataFrame(tables.map(t => Tuple1(t._1))).toDF("_pass")
    val want = expected.crossJoin(passIds)
    val summary = Parity.summary(got, want, "_pass" +: Keys).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bad = summary.filter(_._1 != Parity.Equal)
    val equal = summary.getOrElse(Parity.Equal, 0L)
    ctx.rec.check(name, bad.isEmpty && equal > 0,
      s"equal=$equal ${bad.map { case (k, n) => s"$k=$n" }.mkString(" ")} tables=${tables.size}")
  }

  /** Epochs of streaming passes: each is one operation. */
  private def recordEpochs(ctx: Ctx, from: Int): Unit = {
    ctx.rec.drain()
    ctx.rec.epochsSince(from).foreach { e =>
      ctx.rec.attempted += 1
      ctx.rec.sample("epoch", e.triggerMs / 1e3)
      ctx.rec.sample("epoch.trigger_overhead", (e.triggerMs - e.addBatchMs) / 1e3)
      ctx.rec.sample("epoch.rows", e.rows.toDouble)
    }
  }

  private def genConfig(ctx: Ctx, nEvents: Long): Gen.GenConfig =
    Gen.GenConfig(seed = ctx.seed, nEvents = nEvents, nConvs = nEvents / 300,
      partitions = ctx.cores)

  // ------------------------------------------------------------------ cdc_tail

  /** A `Gen` parquet change log tailed by `replayAll` into one table; each
    * pass replays the whole log into a fresh table and checkpoint.
    */
  def cdcTail(ctx: Ctx): Map[String, Any] = {
    val (nEvents, chunks, filesPerChunk) = (96000L, 3, 4)
    val cfg = genConfig(ctx, nEvents)
    val log = s"${ctx.work}/log"
    (0 until 3).foreach { k =>
      ctx.time("generate")(Gen.writeChangeLog(ctx.spark, cfg, s"$log-$k", chunks, filesPerChunk))
    }
    def replay(logDir: String, root: String, filesPerEpoch: Int = filesPerChunk): LakeTable = {
      val t = LakeTable.create(ctx.spark, s"$root/lake", Keys, numBuckets = ctx.cores)
      ctx.rec.span("replayAll")(CdcPipeline.replayAll(ctx.spark, t,
        CdcPipeline.CdcConfig(logDir, s"$root/cp", maxFilesPerTrigger = filesPerEpoch)))
      t
    }
    // the whole log in two epochs
    ctx.time("warmup")(replay(s"$log-0", s"${ctx.work}/warm", filesPerChunk * chunks / 2))
    val tables = collection.mutable.ArrayBuffer[(Int, LakeTable, Boolean)]()
    ctx.passes { i =>
      val from = ctx.rec.epochs.size
      val root = s"${ctx.work}/pass-$i"
      try ctx.rec.withTag(ctx.spark, "cdc")(tables += ((i, replay(s"$log-2", root), ctx.rec.tracing)))
      finally recordEpochs(ctx, from)
    }
    checkParity(ctx, "cdc_tail parity", tables.map(t => (t._1, t._2)).toSeq,
      Gen.expectedState(ctx.spark, cfg).toDF())
    if (tables.nonEmpty) {
      val (disk, logical) = spaceOf(tables.last._2)
      ctx.rec.values("space.disk_bytes") = disk
      ctx.rec.values("space.logical_bytes") = logical
    }
    val sizing = Map("events" -> nEvents, "epochs_per_pass" -> chunks,
      "files_per_epoch" -> filesPerChunk, "convs" -> cfg.nConvs, "buckets" -> ctx.cores)
    if (!ctx.trace) sizing
    else {
      lakeLayer(ctx, tables.filter(_._3).map(_._2).toSeq)
      sizing ++ envelopePhase(ctx, cfg, chunks, filesPerChunk)
    }
  }

  // ------------------------------------------------------------------ envelope phase

  /** Traced `cdc_tail` runs only: the same events as Debezium JSONL stamped
    * across three tables, with a known number of malformed lines, tailed
    * once by `replayAllRouted` into three tables with a dead-letter
    * directory, plus a decode-only pass. Measures the routed apply body and
    * the envelope decoder; checked like the parquet tail, and the
    * dead-letter lines must equal the malformed lines injected.
    */
  def envelopePhase(ctx: Ctx, cfg: Gen.GenConfig, chunks: Int, filesPerChunk: Int): Map[String, Any] = {
    import ctx.spark.implicits._
    val nTables = 3
    val badEvery = 300L
    val refs = (0 until nTables).map(t => s"shop.t$t")
    val tableOf = pmod(hash(col("conv_id")), lit(nTables))
    val payloadCols = PayloadSchema.fieldNames.toSeq
    val log = s"${ctx.work}/envelope-log"
    val per = cfg.nEvents / chunks
    val badLines = ctx.rec.span("encode")((0 until chunks).map { c =>
      val evs = ctx.spark.range(c * per, (c + 1) * per, 1L, ctx.cores)
        .map(i => Gen.eventAt(cfg, i)).toDF().withColumn("_t", tableOf)
      val lines = refs.zipWithIndex.map { case (ref, t) =>
        CdcEnvelope.encodeDebezium(evs.where(col("_t") === t), payloadCols, Keys, Some(ref))
      }.reduce(_ union _)
      // two kinds of dirty line: unparseable JSON (no table metadata) and a
      // well-formed envelope of a routed table whose body has no row image
      val bad = ctx.spark.range(c * per, (c + 1) * per, badEvery, 1).select(
        when(col("id") % (2 * badEvery) === 0, concat(lit("{\"op\":\"c\",\"source\":{\"lsn\":"),
          col("id").cast("string"), lit("}")))
          .otherwise(concat(lit("{\"op\":\"c\",\"source\":{\"db\":\"shop\",\"table\":\"t"),
            (col("id") % nTables).cast("string"), lit("\"}}"))).as("value"))
      lines.union(bad).repartition(filesPerChunk).write.mode("append").text(log)
      (per + badEvery - 1) / badEvery
    }.sum)
    val root = s"${ctx.work}/routed"
    val routes = refs.zipWithIndex.map { case (ref, t) =>
      CdcPipeline.Route(ref, LakeTable.create(ctx.spark, s"$root/t$t", Keys, numBuckets = ctx.cores),
        PayloadSchema)
    }
    ctx.rec.pass("routed", traced = true, record = false) {
      val from = ctx.rec.epochs.size
      try ctx.rec.withTag(ctx.spark, "routed")(ctx.rec.span("replayAllRouted")(
        CdcPipeline.replayAllRouted(ctx.spark, CdcPipeline.CdcConfig(log, s"$root/cp",
          maxFilesPerTrigger = filesPerChunk, format = "debezium", dlqDir = Some(s"$root/dlq"),
          routeParallelism = nTables), routes)))
      finally {
        ctx.rec.drain()
        ctx.rec.epochsSince(from).foreach(e => ctx.rec.sample("routed.epoch", e.triggerMs / 1e3))
      }
    }
    val expected = Gen.expectedState(ctx.spark, cfg).toDF().withColumn("_t", tableOf)
    refs.indices.foreach { t =>
      checkParity(ctx, s"routed parity ${refs(t)}", Seq((0, routes(t).dest)),
        expected.where(col("_t") === t).drop("_t"))
    }
    val dlq = s"$root/dlq"
    val dlqLines = if (new File(dlq).exists) ctx.spark.read.text(dlq).count() else 0L
    ctx.rec.check("routed dead-letter lines", dlqLines == badLines, s"dlq=$dlqLines injected=$badLines")
    ctx.rec.values("cdc.dlq_lines") = dlqLines.toDouble
    // slowest route merge of each epoch, from the routes' commit records
    routes.flatMap(_.dest.metrics().as[LakeTable.MergeStats].collect().filterNot(_.skipped))
      .groupBy(_.epoch).values.foreach(ms => ctx.rec.sample("cdc.route_merge_max", ms.map(_.seconds).max))
    // decode-only passes over the whole log to a noop sink
    val raw = ctx.spark.read.text(log)
    (0 until 3).foreach { _ =>
      ctx.rec.op("decode")(CdcEnvelope.debezium(raw, "value", PayloadSchema)
        .write.format("noop").mode("overwrite").save())
    }
    ctx.rec.values("sources.malformed_lines") =
      CdcEnvelope.debezium(raw, "value", PayloadSchema).where(col("lsn").isNull).count().toDouble
    Map("envelope_tables" -> nTables, "envelope_route_parallelism" -> nTables,
      "envelope_malformed_lines" -> badLines)
  }

  // ------------------------------------------------------------------ lake_serve

  final case class Row(conv_id: String, turn_idx: Int, role: String, text: String,
      tool: String, ts: Timestamp)
  final case class Change(op: String, lsn: Long, conv_id: String, turn_idx: Int,
      role: String, text: String, tool: String, ts: Timestamp)

  /** A `bootstrap`-loaded table takes small uniform-key upsert epochs through
    * `merge`; each epoch is followed by `readKey` lookups and one ts-window
    * `scanWhere`, all checked against the expected state.
    */
  def lakeServe(ctx: Ctx): Map[String, Any] = {
    import ctx.spark.implicits._
    val (baseRows, epochRows, lookups, epochsPerPass) = (100000, 1000, 2, 4)
    val base0 = 1704067200000L
    def conv(k: Int) = f"conv-${k / 64}%06d"
    def baseRow(k: Int) = Row(conv(k), k % 64, "user", s"base $k", null, new Timestamp(base0))
    val snapshotLsn = 1000000L
    def load(root: String): LakeTable = {
      val t = LakeTable.create(ctx.spark, root, Keys, numBuckets = ctx.cores,
        targetFileRows = Some(baseRows / (ctx.cores * 6L)))
      val snap = ctx.spark.range(0L, baseRows.toLong, 1L, ctx.cores).map(i => baseRow(i.toInt))
      ctx.rec.span("bootstrap")(CdcPipeline.bootstrap(t, snap.toDF(), snapshotLsn))
      t
    }
    val tables = (0 until 3).map(k => ctx.time("generate")(load(s"${ctx.work}/lake-$k")))

    // latest text of every key an epoch touched; untouched keys hold base text
    val latest = collection.mutable.HashMap[Int, String]()
    def keyOf(e: Int, j: Int): Int =
      (java.lang.Long.remainderUnsigned(Gen.mix64(ctx.seed ^ (e.toLong << 32) ^ j), baseRows.toLong)).toInt
    def epochBatch(e: Int): Seq[Change] = (0 until epochRows).map { j =>
      val k = keyOf(e, j)
      val lsn = snapshotLsn + 1 + e.toLong * epochRows + j
      Change("U", lsn, conv(k), k % 64, "assistant", s"e$e j$j", null, new Timestamp(base0 + lsn * 1000))
    }
    def cycle(t: LakeTable, e: Int, check: Boolean): Unit = {
      val batch = epochBatch(e)
      ctx.rec.withTag(ctx.spark, "lake")(ctx.rec.op("merge")(t.merge(batch.toDF(), e.toLong)))
      batch.foreach(c => latest(c.conv_id.drop(5).toInt * 64 + c.turn_idx) = c.text)
      ctx.rec.op("snapshot_read")(t.currentSnapshot())
      (0 until lookups).foreach { j =>
        // half the probes hit keys this epoch wrote, half random keys
        val k = if (j % 2 == 0) keyOf(e, j * 7) else keyOf(-e - 1, j)
        ctx.rec.op("lookup")(t.readKey(Seq(conv(k), k % 64)).select("text").collect()).foreach { rows =>
          val want = latest.getOrElse(k, s"base $k")
          if (check && !(rows.length == 1 && rows(0).getString(0) == want))
            ctx.rec.check(s"lake_serve lookup e$e k$k", ok = false,
              s"got ${rows.map(_.getString(0)).mkString("|")} want $want")
        }
      }
      val lo = new Timestamp(base0 + (snapshotLsn + 1 + e.toLong * epochRows) * 1000)
      val hi = new Timestamp(base0 + (snapshotLsn + (e + 1L) * epochRows) * 1000)
      ctx.rec.op("scan") {
        val r = t.scanWhere(col("ts").between(lit(lo), lit(hi)))
        (r.df.select("conv_id", "turn_idx", "text").collect(), r.filesKept, r.filesTotal)
      }.foreach { case (rows, kept, total) =>
        ctx.rec.sample("lake.scan_files_kept_frac", kept.toDouble / math.max(1, total))
        val want = batch.groupBy(c => (c.conv_id, c.turn_idx)).values.map(_.maxBy(_.lsn))
          .map(c => s"${c.conv_id}/${c.turn_idx}/${c.text}").toSet
        val got = rows.map(r => s"${r.getString(0)}/${r.getInt(1)}/${r.getString(2)}").toSet
        if (check && got != want)
          ctx.rec.check(s"lake_serve scan e$e", ok = false, s"got ${got.size} rows want ${want.size}")
      }
    }
    ctx.time("warmup")((0 until 2).foreach(e => cycle(tables(0), e, check = false)))
    ctx.rec.samples.clear()
    latest.clear()
    val failsBefore = ctx.rec.checks.size
    val t = tables(2)
    var epoch = 0
    val tracedEpochs = collection.mutable.Set[Long]()
    ctx.passes { _ =>
      (0 until epochsPerPass).foreach { _ =>
        ctx.rec.withTag(ctx.spark, "read")(cycle(t, epoch, check = true))
        if (ctx.rec.tracing) tracedEpochs += epoch
        epoch += 1
      }
    }
    ctx.rec.check("lake_serve lookups and scans", ctx.rec.checks.size == failsBefore,
      s"${ctx.rec.checks.size - failsBefore} mismatches over $epoch epochs")
    val finalRows = t.read().count()
    ctx.rec.check("lake_serve row count", finalRows == baseRows, s"rows=$finalRows want $baseRows")
    val (disk, logical) = spaceOf(t)
    ctx.rec.values("space.disk_bytes") = disk
    ctx.rec.values("space.logical_bytes") = logical
    ctx.rec.values("lake.epochs") = epoch.toDouble
    if (ctx.trace) lakeLayer(ctx, Seq(t), tracedEpochs.contains)
    Map("base_rows" -> baseRows, "epoch_rows" -> epochRows, "lookups_per_epoch" -> lookups,
      "epochs_per_pass" -> epochsPerPass,
      "buckets" -> ctx.cores, "target_file_rows" -> baseRows / (ctx.cores * 6))
  }

  // ------------------------------------------------------------------ query_sweep

  /** The swept queries: every query-name prefix, and through them the
    * pipeline (Dedup, TextAnalysis, Transcripts, Similarity, Multimodal),
    * functions (VectorExprs), engine (Splits, Transformers,
    * AsOf, SyncJob/RunJob) and sources (CdcEnvelope) layers. Queries whose
    * fixture staging alone takes seconds (most of the `cdc_*` lake family,
    * exercised by the other workloads) are left out, so a run's warm-up
    * stays a fraction of its budget.
    */
  val SweepQueries: Seq[String] = Seq(
    "c_casts", "cdc_envelope", "d_simhash_pairs", "f_error_rates", "mm_features", "q_asof_join",
    "q_jobspec_pipeline", "r_typed_csv", "s_offset_split", "sim_knn_brute", "t_chain", "ta_tfidf",
    "tr_integrity")

  /** The swept `SparkEntry.queries` over generated tables through a noop
    * sink. The warm-up pass writes each query's result for the oracle
    * comparison.
    */
  def querySweep(ctx: Ctx): Map[String, Any] = {
    val sf = 0.01
    val data = s"${ctx.work}/data"
    (0 until 3).foreach(k => ctx.time("generate")(SweepData.write(ctx.spark, s"$data-$k", sf, ctx.seed)))
    val dir = s"$data-2"
    val queries = SparkEntry.queries.toSeq.filter(q => SweepQueries.contains(q._1)).sortBy(_._1)
    require(queries.size == SweepQueries.size,
      s"unknown sweep queries: ${SweepQueries.filterNot(SparkEntry.queries.contains).mkString(", ")}")
    ctx.time("warmup") {
      queries.foreach { case (name, fn) =>
        try fn(ctx.spark, dir).write.mode("overwrite").parquet(s"${ctx.work}/out/$name")
        catch { case scala.util.control.NonFatal(e) => ctx.rec.fail(s"warmup $name", e) }
      }
    }
    ctx.rec.attempted += ctx.rec.failed
    ctx.passes { _ =>
      queries.foreach { case (name, fn) =>
        ctx.rec.withTag(ctx.spark, name) {
          val t = System.nanoTime()
          ctx.rec.op("query")(fn(ctx.spark, dir).write.format("noop").mode("overwrite").save())
            .foreach(_ => ctx.rec.sample(s"q.$name", (System.nanoTime() - t) / 1e9))
        }
      }
    }
    Files.write(Paths.get(s"${ctx.work}/oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.filter(q => SweepQueries.contains(q._1))).getBytes(StandardCharsets.UTF_8))
    Map("sf" -> sf, "data_dir" -> dir, "queries" -> queries.size)
  }
}
