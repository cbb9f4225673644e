package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.JobConfig
import graft.engine.cdc.CdcPipeline
import graft.lake.LakeTable
import graft.sources.CdcEnvelope
import graft.tools.RunJob

/** Multi-table CDC: one envelope stream interleaving several tables'
  * changes, demultiplexed into one lake table per route
  * ([[CdcPipeline.startRouted]]) — the shape a real binlog/WAL subscription
  * has. Each destination's final state must equal an independent per-table
  * LWW oracle; exactly-once must hold across checkpoint resume AND across a
  * full re-tail with a fresh checkpoint (epoch lineage); a single-table
  * consumer with `tableFilter` must ignore foreign tables' envelopes.
  */
class CdcRouteSpec extends SparkSpec {

  private val ordersSchema = StructType(Seq(
    StructField("id", LongType), StructField("status", StringType),
    StructField("amt", DoubleType)))
  private val itemsSchema = StructType(Seq(
    StructField("sku", StringType), StructField("qty", IntegerType)))

  /** deterministic canonical change events for the `orders` table: ~1/5
    * deletes, duplicate keys across lsns (LWW exercises), key = id
    */
  private def ordersEvents(n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).select(
      when(col("id") % 5 === 4, "D").when(col("id") % 3 === 0, "U")
        .otherwise("I").as("op"),
      col("id").as("lsn"),
      (col("id") % 40).as("id"),
      concat(lit("s"), (col("id") % 7).cast("string")).as("status"),
      round(col("id") * 1.25, 2).as("amt"))
  }

  /** ... and for the `items` table: string key, different width */
  private def itemsEvents(n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).select(
      when(col("id") % 11 === 10, "D").otherwise("I").as("op"),
      col("id").as("lsn"),
      concat(lit("sku-"), (col("id") % 25).cast("string")).as("sku"),
      (col("id") % 100).cast("int").as("qty"))
  }

  /** independent per-table LWW oracle over the canonical events */
  private def lww(ev: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("lsn").desc)
    ev.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && col("op") =!= "D").drop("_rn", "op")
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    val d = got.exceptAll(want).count() + want.exceptAll(got).count()
    assert(d === 0L, s"$what: $d differing rows")
  }

  /** write the interleaved multi-table debezium stream as JSONL chunks */
  private def writeStream3(logDir: String, nOrders: Int, nItems: Int): Unit = {
    val orders = CdcEnvelope.encodeDebezium(ordersEvents(nOrders),
      Seq("id", "status", "amt"), Seq("id"), tableRef = Some("shop.orders"))
    val items = CdcEnvelope.encodeDebezium(itemsEvents(nItems),
      Seq("sku", "qty"), Seq("sku"), tableRef = Some("shop.items"))
    // a third table NO route claims — must be skipped, not DLQ'd
    val misc = CdcEnvelope.encodeDebezium(
      spark.range(30).select(lit("I").as("op"), col("id").as("lsn"),
        col("id").as("k"), lit("x").as("v")),
      Seq("k", "v"), Seq("k"), tableRef = Some("shop.audit_log"))
    orders.unionAll(items).unionAll(misc)
      .repartition(6).write.mode("append").text(logDir)
  }

  test("routed demultiplex reaches each table's exact LWW state") {
    val logDir = tmpDir("route-log")
    val cp = tmpDir("route-cp")
    val dlq = tmpDir("route-dlq")
    writeStream3(logDir, nOrders = 4000, nItems = 3000)
    // one malformed line, one table-less line, and one TABLED line with no
    // row image (a debezium truncate) → exactly these three reach the DLQ
    import spark.implicits._
    Seq("{ not json",
        """{"before":null,"after":{"id":1},"op":"c","ts_ms":1,"source":{"lsn":1}}""",
        """{"before":null,"after":null,"op":"t","ts_ms":1,"source":{"lsn":9,"db":"shop","table":"orders"}}""")
      .toDF("value").coalesce(1).write.mode("append").text(logDir)

    val ordersT = LakeTable.create(spark, tmpDir("route-orders"), Seq("id"), numBuckets = 4)
    val itemsT = LakeTable.create(spark, tmpDir("route-items"), Seq("sku"), numBuckets = 4)
    val cfg = CdcPipeline.CdcConfig(logDir, cp, maxFilesPerTrigger = 3,
      format = "debezium", dlqDir = Some(dlq))
    val routes = Seq(
      CdcPipeline.Route("shop.orders", ordersT, ordersSchema), // qualified
      CdcPipeline.Route("items", itemsT, itemsSchema)) // bare table name
    CdcPipeline.replayAllRouted(spark, cfg, routes)

    assertSame(ordersT.read().select("id", "status", "amt"),
      lww(ordersEvents(4000), Seq("id")).drop("lsn"), "orders")
    assertSame(itemsT.read().select("sku", "qty"),
      lww(itemsEvents(3000), Seq("sku")).drop("lsn"), "items")
    // the unclaimed table landed nowhere; the two unroutable lines plus
    // the routed-but-bodyless truncate are the ONLY dirty records (valid
    // foreign-table envelopes are not dirty)
    val dirty = spark.read.text(dlq + "/*").as[String].collect().toSeq
    assert(dirty.length === 3, s"dlq: $dirty")
    assert(dirty.exists(_.startsWith("{ not json")))
    assert(dirty.exists(_.contains(""""op":"t"""")), s"truncate not dead-lettered: $dirty")
  }

  test("routed resume and fresh-checkpoint re-tail stay exactly-once") {
    import spark.implicits._
    val logDir = tmpDir("route2-log")
    val cp = tmpDir("route2-cp")
    val dlq = tmpDir("route2-dlq")
    writeStream3(logDir, nOrders = 2000, nItems = 1500)
    // one dirty line per dead-letter kind, in the NEWEST file so they land
    // in the last epoch: unroutable, and one bodyless line per route
    val injected = Seq("{ not json",
      """{"before":null,"after":null,"op":"t","ts_ms":1,"source":{"lsn":9,"db":"shop","table":"orders"}}""",
      """{"before":null,"after":{"sku":"x","qty":1},"op":"c","ts_ms":1,"source":{"db":"shop","table":"items"}}""")
    val dirtyFile = java.nio.file.Paths.get(logDir, "part-dirty.txt")
    java.nio.file.Files.write(dirtyFile, injected.mkString("", "\n", "\n").getBytes)
    dirtyFile.toFile.setLastModified(System.currentTimeMillis() + 60000L)
    val ordersT = LakeTable.create(spark, tmpDir("route2-orders"), Seq("id"), numBuckets = 4)
    val itemsT = LakeTable.create(spark, tmpDir("route2-items"), Seq("sku"), numBuckets = 4)
    val routes = Seq(
      CdcPipeline.Route("shop.orders", ordersT, ordersSchema),
      CdcPipeline.Route("shop.items", itemsT, itemsSchema))
    val cfg = CdcPipeline.CdcConfig(logDir, cp, maxFilesPerTrigger = 2, format = "debezium",
      dlqDir = Some(dlq))
    def versions = (ordersT.currentSnapshot().version, itemsT.currentSnapshot().version)
    def assertExact(what: String): Unit = {
      assertSame(ordersT.read().select("id", "status", "amt"),
        lww(ordersEvents(2000), Seq("id")).drop("lsn"), s"orders $what")
      assertSame(itemsT.read().select("sku", "qty"),
        lww(itemsEvents(1500), Seq("sku")).drop("lsn"), s"items $what")
      val dirty = spark.read.text(dlq + "/*").as[String].collect().toSeq
      assert(dirty.sorted === injected.sorted, s"dlq $what")
    }
    CdcPipeline.replayAllRouted(spark, cfg, routes)
    val v1 = versions
    assertExact("after the tail")

    // same checkpoint: the resumed tail finds no new files, commits nothing
    CdcPipeline.replayAllRouted(spark, cfg, routes)
    assert(versions === v1)

    // CRASH after the last epoch's merges committed but before its dead
    // letters and its checkpoint commit: the restart replays that epoch,
    // every route's merge skips by lineage, and the dead letters still land
    val last = dropLastCommit(cp)
    assert(new java.io.File(s"$dlq/epoch=$last-shop.orders").isDirectory)
    new java.io.File(dlq).listFiles().map(_.getName)
      .filter(n => n == s"epoch=$last" || n.startsWith(s"epoch=$last-"))
      .foreach(n => deleteTree(s"$dlq/$n"))
    CdcPipeline.replayAllRouted(spark, cfg, routes)
    assert(versions === v1)
    assertExact("after the crash replay")

    // FRESH checkpoint: every envelope re-delivers as epochs 0..k, all of
    // which the destinations' (writerId, epoch) lineage already covers —
    // the merges skip, state is unchanged (the crash-and-lose-the-
    // checkpoint disaster drill), and the dead letters are rewritten once
    val cfg2 = cfg.copy(checkpointDir = tmpDir("route2-cp-fresh"))
    CdcPipeline.replayAllRouted(spark, cfg2, routes)
    assert(versions === v1)
    assertExact("after re-tail")
  }

  test("parallel route merges reach the same states as sequential") {
    val logDir = tmpDir("rpar-log")
    writeStream3(logDir, nOrders = 2500, nItems = 2000)
    def replay(parallelism: Int): (DataFrame, DataFrame) = {
      val o = LakeTable.create(spark, tmpDir(s"rpar-o$parallelism"), Seq("id"), numBuckets = 4)
      val i = LakeTable.create(spark, tmpDir(s"rpar-i$parallelism"), Seq("sku"), numBuckets = 4)
      CdcPipeline.replayAllRouted(spark,
        CdcPipeline.CdcConfig(logDir, tmpDir(s"rpar-cp$parallelism"),
          maxFilesPerTrigger = 3, format = "debezium",
          routeParallelism = parallelism),
        Seq(CdcPipeline.Route("shop.orders", o, ordersSchema),
          CdcPipeline.Route("shop.items", i, itemsSchema)))
      (o.read().select("id", "status", "amt"), i.read().select("sku", "qty"))
    }
    val (o1, i1) = replay(1)
    val (o2, i2) = replay(2)
    assertSame(o2, o1, "orders par-vs-seq")
    assertSame(i2, i1, "items par-vs-seq")
    assertSame(o2, lww(ordersEvents(2500), Seq("id")).drop("lsn"), "orders par oracle")
  }

  test("per-destination tombstone GC and vacuum ride the routed stream") {
    val logDir = tmpDir("rgc-log")
    writeStream3(logDir, nOrders = 3000, nItems = 2400)
    val o = LakeTable.create(spark, tmpDir("rgc-o"), Seq("id"), numBuckets = 4)
    val i = LakeTable.create(spark, tmpDir("rgc-i"), Seq("sku"), numBuckets = 4)
    CdcPipeline.replayAllRouted(spark,
      CdcPipeline.CdcConfig(logDir, tmpDir("rgc-cp"),
        maxFilesPerTrigger = 1, format = "debezium",
        expireTombstonesEvery = 2, tombstoneRetainLsns = 100L,
        vacuumEvery = 2, vacuumRetainVersions = 2,
        routeParallelism = 2), // GC/vacuum and merges overlap across routes
      Seq(CdcPipeline.Route("shop.orders", o, ordersSchema),
        CdcPipeline.Route("shop.items", i, itemsSchema)))
    // state is still the LWW oracle's, and expirable tombstones are gone
    // from BOTH destinations (GC ran per route, not just on one table)
    assertSame(o.read().select("id", "status", "amt"),
      lww(ordersEvents(3000), Seq("id")).drop("lsn"), "orders after GC")
    assertSame(i.read().select("sku", "qty"),
      lww(itemsEvents(2400), Seq("sku")).drop("lsn"), "items after GC")
    for ((t, name) <- Seq((o, "orders"), (i, "items"))) {
      val snap = t.currentSnapshot()
      val horizon = snap.maxLsn - 100L
      val paths = snap.files.map(f => s"${t.root}/data/${f.path}")
      val expirable = spark.read.parquet(paths: _*)
        .where(col("_op") === "D" && col("_lsn") < lit(horizon)).count()
      assert(expirable === 0L, s"$name kept $expirable expirable tombstones")
    }
  }

  test("tableFilter scopes a single-table consumer of a multi-table stream") {
    val logDir = tmpDir("filter-log")
    writeStream3(logDir, nOrders = 1000, nItems = 800)
    // metadata-less envelopes of the SAME shape as orders stay consumable
    // (compat with feeds synthesized before table stamping)
    val extra = ordersEvents(1000).where(col("lsn") % 2 === 0)
      .select(col("op"), (col("lsn") + 100000L).as("lsn"),
        col("id"), col("status"), col("amt"))
    CdcEnvelope.encodeDebezium(extra, Seq("id", "status", "amt"), Seq("id"))
      .coalesce(1).write.mode("append").text(logDir)

    val dest = LakeTable.create(spark, tmpDir("filter-dest"), Seq("id"), numBuckets = 4)
    val cfg = CdcPipeline.CdcConfig(logDir, tmpDir("filter-cp"),
      format = "debezium", payloadSchema = Some(ordersSchema),
      tableFilter = Some("shop.orders"))
    CdcPipeline.replayAll(spark, dest, cfg)

    val want = lww(ordersEvents(1000).unionAll(extra), Seq("id")).drop("lsn")
    assertSame(dest.read().select("id", "status", "amt"), want, "filtered orders")
  }

  test("per-route followers co-maintain each destination's downstreams") {
    val logDir = tmpDir("rfol-log")
    writeStream3(logDir, nOrders = 2000, nItems = 1600)
    val ordersT = LakeTable.create(spark, tmpDir("rfol-o"), Seq("id"), numBuckets = 4)
    val itemsT = LakeTable.create(spark, tmpDir("rfol-i"), Seq("sku"), numBuckets = 4)
    // orders trails a full replica; items trails an envelope-feed outbox
    val ordersRep = LakeTable.create(spark, tmpDir("rfol-orep"), Seq("id"), numBuckets = 4)
    val feedDir = tmpDir("rfol-ifeed")
    CdcPipeline.replayAllRouted(spark,
      CdcPipeline.CdcConfig(logDir, tmpDir("rfol-cp"),
        maxFilesPerTrigger = 2, format = "debezium"),
      Seq(
        CdcPipeline.Route("shop.orders", ordersT, ordersSchema,
          followers = Seq(CdcPipeline.ReplicaFollower(ordersRep))),
        CdcPipeline.Route("shop.items", itemsT, itemsSchema,
          followers = Seq(CdcPipeline.FeedFollower(feedDir, "debezium", Seq("sku"))))))
    // the replica converges to its OWN route's state (never the other's)
    assertSame(ordersRep.read().select("id", "status", "amt"),
      ordersT.read().select("id", "status", "amt"), "orders replica")
    // the items feed replays to the items state (tombstones included)
    val feed = spark.read.text(feedDir)
    val replayed = lww(CdcEnvelope.debezium(feed, "value", itemsSchema), Seq("sku"))
    assertSame(replayed.select("sku", "qty"),
      itemsT.read().select("sku", "qty"), "items feed replay")
  }

  test("per-route bootstrap onboards one destination from its own snapshot") {
    // orders: snapshot at L0=1000 + an overlapped tail 0..2000 (convergence
    // contract); items: cold start from the same tail. JSON surface E2E.
    val p = tmpDir("rboot")
    val logDir = s"$p/log"
    writeStream3(logDir, nOrders = 2000, nItems = 1200)
    // the consistent orders snapshot at lsn 1000: LWW over events < 1000
    val snap = lww(ordersEvents(1000), Seq("id")).drop("lsn")
    snap.write.parquet(s"$p/snapshot")
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$logDir", "format": "debezium", "checkpoint": "$p/cp"}},
      "writer": {"name": "lakewriter", "parameter": {
        "routes": [
          {"table": "shop.orders", "path": "$p/orders", "primaryKey": ["id"],
           "buckets": 4,
           "column": [{"name": "id", "type": "long"},
                      {"name": "status", "type": "string"},
                      {"name": "amt", "type": "double"}],
           "bootstrap": {"lsn": 999,
             "reader": {"name": "hdfsreader", "parameter": {
               "path": "$p/snapshot", "fileType": "parquet"}}},
           "followers": [{"path": "$p/orders-replica"}]},
          {"table": "shop.items", "path": "$p/items", "primaryKey": ["sku"],
           "buckets": 4,
           "column": [{"name": "sku", "type": "string"},
                      {"name": "qty", "type": "int"}]}
        ]}}}]}}""")
    RunJob.run(spark, spec)
    // orders converges to the full-replay LWW state (snapshot outranks its
    // own overlapped history; the tail covers everything after)
    assertSame(LakeTable.open(spark, s"$p/orders").read().select("id", "status", "amt"),
      lww(ordersEvents(2000), Seq("id")).drop("lsn"), "onboarded orders")
    assertSame(LakeTable.open(spark, s"$p/orders-replica").read().select("id", "status", "amt"),
      lww(ordersEvents(2000), Seq("id")).drop("lsn"), "onboarded orders replica")
    assertSame(LakeTable.open(spark, s"$p/items").read().select("sku", "qty"),
      lww(itemsEvents(1200), Seq("sku")).drop("lsn"), "cold-start items")
    // re-run: bootstrap skips (own lineage), tail resumes, nothing reapplies
    val res2 = RunJob.run(spark, spec).head
    assert(res2.rowsWritten === 0L, s"re-run applied ${res2.rowsWritten} rows")
  }

  test("a route's schema evolves additively across a stream restart") {
    // phase 1: orders WITHOUT amt; phase 2 (appended after the first drain,
    // restarted with the extended route schema): orders WITH amt — the
    // destination unions additively, old rows null-fill (the same
    // contract as the single-table tail's late `tool` column)
    val logDir = tmpDir("revo-log")
    val cp = tmpDir("revo-cp")
    val narrow = StructType(ordersSchema.fields.filterNot(_.name == "amt"))
    CdcEnvelope.encodeDebezium(
        ordersEvents(800).drop("amt").where(col("op") =!= "D"),
        Seq("id", "status"), Seq("id"), tableRef = Some("shop.orders"))
      .coalesce(2).write.mode("append").text(logDir)
    val dest = LakeTable.create(spark, tmpDir("revo-dest"), Seq("id"), numBuckets = 4)
    CdcPipeline.replayAllRouted(spark,
      CdcPipeline.CdcConfig(logDir, cp, format = "debezium"),
      Seq(CdcPipeline.Route("shop.orders", dest, narrow)))
    assert(!dest.read().columns.contains("amt"))

    // phase 2 touches only half the keys, so null-fill stays observable
    val wide = ordersEvents(1600)
      .where(col("lsn") >= 800 && col("op") =!= "D" && col("id") < 20)
    CdcEnvelope.encodeDebezium(wide, Seq("id", "status", "amt"), Seq("id"),
        tableRef = Some("shop.orders"))
      .coalesce(2).write.mode("append").text(logDir)
    CdcPipeline.replayAllRouted(spark,
      CdcPipeline.CdcConfig(logDir, cp, format = "debezium"),
      Seq(CdcPipeline.Route("shop.orders", dest, ordersSchema)))

    val got = dest.read().select("id", "status", "amt")
    val all = ordersEvents(800).drop("amt")
      .withColumn("amt", lit(null).cast("double"))
      .select("op", "lsn", "id", "status", "amt")
      .where(col("op") =!= "D")
      .unionAll(wide.select("op", "lsn", "id", "status", "amt"))
    assertSame(got, lww(all, Seq("id")).drop("lsn"), "evolved orders")
    // keys untouched by phase 2 carry a null amt (additive null-fill)
    assert(got.where(col("amt").isNull).count() ===
      lww(all, Seq("id")).where(col("amt").isNull).count())
  }

  test("canal and maxwell stamp and extract table metadata") {
    val ev = ordersEvents(50)
    for ((fmt, enc) <- Seq[(String, DataFrame => DataFrame)](
        "canal" -> (df => CdcEnvelope.encodeCanal(df, Seq("id", "status", "amt"),
          tableRef = Some("shop.orders"))),
        "maxwell" -> (df => CdcEnvelope.encodeMaxwell(df, Seq("id", "status", "amt"),
          tableRef = Some("shop.orders"))))) {
      val enc0 = enc(ev)
      val (db, tbl) = CdcEnvelope.tableRefs(fmt, col("value"))
      val refs = enc0.select(db.as("db"), tbl.as("tbl")).distinct().collect()
      assert(refs.length === 1 && refs(0).getString(0) === "shop" &&
        refs(0).getString(1) === "orders", s"$fmt refs: ${refs.toSeq}")
      val matched = enc0.where(CdcEnvelope.tableMatches(fmt, col("value"), "shop.orders")).count()
      assert(matched === 50L, s"$fmt qualified match")
      assert(enc0.where(CdcEnvelope.tableMatches(fmt, col("value"), "orders")).count() === 50L)
      assert(enc0.where(CdcEnvelope.tableMatches(fmt, col("value"), "other.orders")).count() === 0L)
    }
  }

  test("routed jobs run from the JSON job-spec surface") {
    val logDir = tmpDir("jroute-log")
    val cp = tmpDir("jroute-cp")
    writeStream3(logDir, nOrders = 1200, nItems = 900)
    val oDir = tmpDir("jroute-orders")
    val iDir = tmpDir("jroute-items")
    val spec = JobConfig.parse(s"""{"job": {"content": [{
      "reader": {"name": "cdcreader", "parameter": {
        "path": "$logDir", "format": "debezium", "checkpoint": "$cp"}},
      "writer": {"name": "lakewriter", "parameter": {"vacuumEvery": 2,
        "routes": [
          {"table": "shop.orders", "path": "$oDir", "primaryKey": ["id"],
           "buckets": 4, "column": [
             {"name": "id", "type": "long"}, {"name": "status", "type": "string"},
             {"name": "amt", "type": "double"}]},
          {"table": "shop.items", "path": "$iDir", "primaryKey": ["sku"],
           "buckets": 4, "column": [
             {"name": "sku", "type": "string"}, {"name": "qty", "type": "int"}]}
        ]}}}]}}""")
    // the stream-level cadence runs on every route, and the plan says so
    val desc = RunJob.describe(JobConfig.translate(spec).head)
    assert(desc.contains("vacuumEvery=2 retain=8"), desc)
    val res = RunJob.run(spark, spec).head
    assert(res.rowsWritten > 0L)
    val ordersT = LakeTable.open(spark, oDir)
    val itemsT = LakeTable.open(spark, iDir)
    assertSame(ordersT.read().select("id", "status", "amt"),
      lww(ordersEvents(1200), Seq("id")).drop("lsn"), "json orders")
    assertSame(itemsT.read().select("sku", "qty"),
      lww(itemsEvents(900), Seq("sku")).drop("lsn"), "json items")
  }

  test("fuzz: routed replay equals per-table LWW under duplication and scramble") {
    // the transcript workload (deletes, out-of-order lsn, late tool column)
    // sharded by conversation across 3 tables, with a pseudo-random HALF of
    // the lines delivered twice and file order scrambled — every
    // destination must land on its restriction of the global LWW oracle
    import graft.core.{Gen, Model}
    val payloadCols = Seq("ts", "conv_id", "turn_idx", "role", "text", "tool")
    val payloadSchema = StructType(Model.changeEventSchema.fields
      .filterNot(f => f.name == "op" || f.name == "lsn"))
    for (seed <- Seq(7L, 23L)) {
      val cfg = Gen.GenConfig(seed = seed, nEvents = 12000L, nConvs = 60L,
        maxTurns = 16, partitions = 4)
      val ev = Gen.changeEvents(spark, cfg).toDF()
      val shard = pmod(xxhash64(col("conv_id")), lit(3))
      val enc = (0 until 3).map { k =>
        CdcEnvelope.encodeDebezium(ev.where(shard === k), payloadCols,
          Model.keyCols, tableRef = Some(s"db$k.conv"))
      }.reduce(_ unionAll _)
      val dup = enc.where(pmod(xxhash64(col("value")), lit(2)) === 0)
      val log = tmpDir(s"rfz-log$seed")
      enc.unionAll(dup).repartition(8).write.mode("append").text(log)
      val routes = (0 until 3).map { k =>
        CdcPipeline.Route(s"db$k.conv",
          LakeTable.create(spark, tmpDir(s"rfz-d$seed-$k"), Model.keyCols, numBuckets = 4),
          payloadSchema)
      }
      CdcPipeline.replayAllRouted(spark,
        CdcPipeline.CdcConfig(log, tmpDir(s"rfz-cp$seed"),
          maxFilesPerTrigger = 3, format = "debezium", routeParallelism = 2),
        routes)
      val want = Gen.expectedState(spark, cfg).toDF()
      for (k <- 0 until 3) {
        val wk = want.where(pmod(xxhash64(col("conv_id")), lit(3)) === k)
        val got = routes(k).dest.read()
          .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        val d = got.exceptAll(wk).count() + wk.exceptAll(got).count()
        assert(d === 0L, s"seed=$seed table db$k.conv: $d rows differ")
      }
    }
  }

  test("plan-time validation rejects contradictory routed configs") {
    def translate(writerParams: String, readerExtra: String = ""): Unit = {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "cdcreader", "parameter": {
          "path": "/x", "format": "debezium", "checkpoint": "/c"$readerExtra}},
        "writer": {"name": "lakewriter", "parameter": {$writerParams}}}]}}"""))
      ()
    }
    val routes = """"routes": [{"table": "t", "path": "/t", "primaryKey": ["k"]}]"""
    // path+routes exclusive; filter+routes exclusive; parquet has no metadata
    assert(intercept[IllegalArgumentException] {
      translate(s""""path": "/y", $routes""")
    }.getMessage.contains("exclusive"))
    assert(intercept[IllegalArgumentException] {
      translate(routes, readerExtra = """, "table": "t"""")
    }.getMessage.contains("exclusive"))
    assert(intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "cdcreader", "parameter": {
          "path": "/x", "format": "parquet", "checkpoint": "/c"}},
        "writer": {"name": "lakewriter", "parameter": {$routes}}}]}}"""))
    }.getMessage.contains("table metadata"))
    // duplicate route tables — and a bare name overlapping a qualified one
    // (a bare ref matches its table under ANY database)
    assert(intercept[IllegalArgumentException] {
      translate(""""routes": [
        {"table": "t", "path": "/t1", "primaryKey": ["k"]},
        {"table": "t", "path": "/t2", "primaryKey": ["k"]}]""")
    }.getMessage.contains("overlapping"))
    assert(intercept[IllegalArgumentException] {
      translate(""""routes": [
        {"table": "db.t", "path": "/t1", "primaryKey": ["k"]},
        {"table": "t", "path": "/t2", "primaryKey": ["k"]}]""")
    }.getMessage.contains("overlapping"))
    // two QUALIFIED routes of the same table under different dbs are fine
    translate(""""routes": [
      {"table": "a.t", "path": "/t1", "primaryKey": ["k"]},
      {"table": "b.t", "path": "/t2", "primaryKey": ["k"]}]""")
    // ...unless they share one destination lineage: one would skip the
    // other's epochs (rejected before any destination is opened)
    assert(intercept[IllegalArgumentException] {
      translate(""""routes": [
        {"table": "a.t", "path": "/t1", "primaryKey": ["k"]},
        {"table": "b.t", "path": "/t1", "primaryKey": ["k"]}]""")
    }.getMessage.contains("lineage"))
    // a route without primaryKey has no sensible default merge key
    assert(intercept[IllegalArgumentException] {
      translate(""""routes": [{"table": "t", "path": "/t1"}]""")
    }.getMessage.contains("primaryKey"))
    // routes demultiplex a cdcreader stream — not a lakereader batch source
    assert(intercept[IllegalArgumentException] {
      JobConfig.translate(JobConfig.parse(s"""{"job": {"content": [{
        "reader": {"name": "lakereader", "parameter": {"path": "/src"}},
        "writer": {"name": "lakewriter", "parameter": {$routes}}}]}}"""))
    }.getMessage.contains("single-table"))
  }
}
