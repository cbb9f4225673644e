package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Gen, Model}
import graft.engine.cdc.CdcPipeline
import graft.lake.LakeTable
import graft.sources.CdcEnvelope

/** The in-tree timing and plan tool: one entry point, one [[Session]], one
  * scratch volume. Outside-in measurement of the engine is perfbench's job;
  * these modes are the focused probes behind BASELINE.md's tables.
  *
  * Usage: Perf <mode> [args] — arguments are checked before any session
  * starts (exit 2 with the usage on a bad one).
  *   queries [repeats] [query ...]   min/median of `repeats` (default 3)
  *       noop-sink runs per named SparkEntry query after one warm-up (no
  *       names = all); the closing total sums each query's MIN, so it is
  *       not comparable to graft.Bench's single-sweep total
  *   plans <outDir> <suffix> [query ...]   writes `.explain("formatted")`
  *       per query to <outDir>/<query>_<suffix>.txt (the plans/rNN
  *       artifacts); exit 1 when any plan fails
  *   route [nEvents] [nTables] [buckets] [workDir]   A/B of one change log
  *       consumed as a single-table Debezium tail vs routed into nTables
  *       sequentially vs with overlapped merges (routeParallelism =
  *       nTables); requires equal live rows, prints one JSON line of events/s
  *   manifest [eventsPerEpoch] [epochs] [workDir]   commit latency vs
  *       bucket count (32..4096) and metrics()/history() latency vs history
  *       length — the LakeTable manifest-scale note's curve
  *   scaling [nEvents] [nSmall] [smallfirst|bigfirst]   the same seeded
  *       replay at local[nSmall] and local[4·nSmall] on identical input;
  *       efficiency = (throughput_4N / throughput_N) / 4. The host throttles
  *       many-core load progressively within a session, so whichever leg
  *       runs second measures a worse host state — sample both orders
  *
  * `queries` and `plans` read the tables from `SPARK_GRAFT_SF_DIR`. The
  * other modes run at `SPARK_GRAFT_CPUS` cores (see [[Session]]).
  */
object Perf {
  private val Usage: String =
    """usage: Perf <mode> [args]
      |  queries [repeats] [query ...]
      |  plans <outDir> <suffix> [query ...]
      |  route [nEvents] [nTables] [buckets] [workDir]
      |  manifest [eventsPerEpoch] [epochs] [workDir]
      |  scaling [nEvents] [nSmall] [smallfirst|bigfirst]""".stripMargin

  def main(args: Array[String]): Unit = sys.exit(run(args))

  /** Runs a mode; the exit code (2 = bad arguments, no session started). */
  def run(args: Array[String]): Int = {
    val mode =
      try parse(args.toSeq)
      catch {
        case e: UsageError =>
          System.err.println(s"${e.getMessage}\n$Usage")
          return 2
      }
    mode()
  }

  /** The error for `names` that are not SparkEntry queries, listing each
    * one's near-misses (shared prefix up to the first '_', or edit distance
    * ≤ 3); None when every name resolves.
    */
  def unknownQueries(names: Seq[String]): Option[String] = {
    val known = SparkEntry.queries.keySet.toSeq.sorted
    def dist(a: String, b: String): Int = {
      var prev = (0 to b.length).toArray
      a.indices.foreach { i =>
        val cur = Array.fill(b.length + 1)(i + 1)
        b.indices.foreach { j =>
          cur(j + 1) = math.min(math.min(cur(j), prev(j + 1)) + 1,
            prev(j) + (if (a(i) == b(j)) 0 else 1))
        }
        prev = cur
      }
      prev(b.length)
    }
    val bad = names.filterNot(known.contains)
    if (bad.isEmpty) None
    else Some(bad.map { n =>
      val stem = n.takeWhile(_ != '_') + "_"
      val near = known.filter(k => dist(n, k) <= 3 || (n.contains('_') && k.startsWith(stem)))
      s"unknown query '$n'" +
        (if (near.isEmpty) "" else s"; did you mean: ${near.take(8).mkString(", ")}")
    }.mkString("\n"))
  }

  private final class UsageError(msg: String) extends Exception(msg)
  private def usage(msg: String): Nothing = throw new UsageError(msg)

  /** Positional argument `i` as a positive integer, `default` when absent. */
  private def count(args: Seq[String], i: Int, name: String, default: Long): Long =
    args.lift(i).fold(default) { s =>
      s.toLongOption.filter(_ > 0)
        .getOrElse(usage(s"$name must be a positive integer, got '$s'"))
    }

  /** Validates every argument, then returns the mode to run. */
  private def parse(args: Seq[String]): () => Int = {
    val rest = args.drop(1)
    def atMost(n: Int): Unit =
      if (rest.length > n) usage(s"${args.head} takes at most $n arguments, got ${rest.length}")
    def queryNames(names: Seq[String]): Seq[String] = {
      unknownQueries(names).foreach(usage)
      names
    }
    def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      usage("set SPARK_GRAFT_SF_DIR to the query tables' directory"))
    args.headOption match {
      case Some("queries") =>
        val repeats = count(rest, 0, "repeats", 3L).toInt
        val names = queryNames(rest.drop(1))
        val sf = sfDir
        () => withSession(queries(_, sf, repeats, names))
      case Some("plans") =>
        if (rest.length < 2) usage("plans needs <outDir> <suffix>")
        val names = queryNames(rest.drop(2))
        val sf = sfDir
        () => withSession(plans(_, sf, rest(0), rest(1), names))
      case Some("route") =>
        atMost(4)
        val nEvents = count(rest, 0, "nEvents", 2000000L)
        val nTables = count(rest, 1, "nTables", 4L).toInt
        val buckets = count(rest, 2, "buckets", 8L).toInt
        val work = rest.lift(3).getOrElse(s"$scratch/graft-perf-route")
        () => withSession(route(_, nEvents, nTables, buckets, reset(work)))
      case Some("manifest") =>
        atMost(3)
        val perEpoch = count(rest, 0, "eventsPerEpoch", 100000L)
        val epochs = count(rest, 1, "epochs", 16L).toInt
        val work = rest.lift(2).getOrElse(s"$scratch/graft-perf-manifest")
        () => withSession(manifest(_, perEpoch, epochs, reset(work)))
      case Some("scaling") =>
        atMost(3)
        val nEvents = count(rest, 0, "nEvents", 12000000L)
        val nSmall = count(rest, 1, "nSmall", 8L).toInt
        val bigFirst = rest.lift(2) match {
          case None | Some("smallfirst") => false
          case Some("bigfirst") => true
          case Some(o) => usage(s"order must be smallfirst or bigfirst, got '$o'")
        }
        () => scaling(nEvents, nSmall, bigFirst)
      case Some(other) => usage(s"unknown mode '$other'")
      case None => usage("no mode given")
    }
  }

  /** The scratch volume for work dirs and shuffle files: tmpfs when
    * writable, else the JVM temp dir (`SPARK_GRAFT_WORKDIR` overrides, as in
    * graft.Bench). A ~140 MB/s disk is a serial floor that would dominate
    * every epoch and measure the disk, not the engine.
    */
  private def scratch: String = sys.env.getOrElse("SPARK_GRAFT_WORKDIR",
    if (new java.io.File("/dev/shm").canWrite) "/dev/shm"
    else System.getProperty("java.io.tmpdir"))

  /** Deletes whatever a previous run left under `dir`; returns `dir`. */
  private def reset(dir: String): String = {
    scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    dir
  }

  private def withSession(f: SparkSession => Int): Int = {
    val spark = Session(localDir = Some(scratch))
    try f(spark) finally spark.stop()
  }

  private def selected(names: Seq[String]) = {
    val all = SparkEntry.queries
    if (names.isEmpty) all.toSeq.sortBy(_._1) else names.map(n => n -> all(n))
  }

  private def queries(spark: SparkSession, sfDir: String, repeats: Int,
      names: Seq[String]): Int = {
    val results = selected(names).map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"perf queries: $name")
      // one warmup (stages fixtures + JIT), then timed repeats
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val ts = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = ts(ts.length / 2)
      println(f"$name%-24s min=${ts.head}%.3f med=$med%.3f samples=${ts.map(t => f"$t%.3f").mkString(",")}")
      name -> ts.head
    }
    println(f"TOTAL(sum of per-query min) ${results.map(_._2).sum}%.3f")
    0
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Int = {
    Files.createDirectories(Paths.get(outDir))
    val failed = selected(names).count { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[plandump] wrote $name")
        false
      } catch {
        case e: Exception =>
          System.err.println(s"[plandump] $name FAILED: $e")
          true
      }
    }
    if (failed > 0) 1 else 0
  }

  private def route(spark: SparkSession, nEvents: Long, nTables: Int, buckets: Int,
      work: String): Int = {
    val cores = Session.defaultCores
    val cfg = Gen.GenConfig(nEvents = nEvents,
      nConvs = math.max(10L, nEvents / 100), partitions = cores)
    val payloadCols = Seq("ts", "conv_id", "turn_idx", "role", "text", "tool")
    val ev = Gen.changeEvents(spark, cfg).toDF()

    // one interleaved multi-table stream: conversation k → table t{k mod N}
    // (a conversation's changes stay in one table, like rows of a real
    // database do); the single-table control gets the SAME lines unstamped
    val tbl = concat(lit("t"), pmod(xxhash64(col("conv_id")), lit(nTables)))
    val multi = (0 until nTables).map { k =>
      CdcEnvelope.encodeDebezium(ev.where(tbl === s"t$k"), payloadCols,
        Model.keyCols, tableRef = Some(s"db.t$k"))
    }.reduce(_ unionAll _)
    multi.repartition(20).write.text(s"$work/log")
    println(s"[gen] ${cfg.nEvents} events across $nTables tables -> $work/log")

    def routedLeg(name: String, parallelism: Int): (Double, Long) = {
      val dests = (0 until nTables).map { k =>
        CdcPipeline.Route(s"db.t$k",
          LakeTable.create(spark, s"$work/$name/t$k", Model.keyCols, buckets),
          org.apache.spark.sql.types.StructType(Model.changeEventSchema
            .fields.filterNot(f => f.name == "op" || f.name == "lsn")))
      }
      val t0 = System.nanoTime()
      CdcPipeline.replayAllRouted(spark,
        CdcPipeline.CdcConfig(s"$work/log", s"$work/$name/cp",
          maxFilesPerTrigger = 32, format = "debezium",
          routeParallelism = parallelism),
        dests)
      val secs = (System.nanoTime() - t0) / 1e9
      (secs, dests.map(_.dest.currentSnapshot().rows).sum)
    }

    // control: the same lines consumed as one single-table tail (the
    // stamps are ignored — no filter, one schema, one destination)
    val single = LakeTable.create(spark, s"$work/single/lake", Model.keyCols, buckets)
    val t0 = System.nanoTime()
    CdcPipeline.replayAll(spark, single,
      CdcPipeline.CdcConfig(s"$work/log", s"$work/single/cp",
        maxFilesPerTrigger = 32, format = "debezium"))
    val singleSecs = (System.nanoTime() - t0) / 1e9
    val singleRows = single.currentSnapshot().rows

    val (seqSecs, seqRows) = routedLeg("seq", parallelism = 1)
    val (parSecs, parRows) = routedLeg("par", parallelism = nTables)

    require(seqRows == singleRows && parRows == singleRows,
      s"row mismatch: single=$singleRows seq=$seqRows par=$parRows")
    println(
      s"""{"metric":"routed events/s","events":$nEvents,"tables":$nTables,""" +
      s""""cores":$cores,"rows":$singleRows,""" +
      f""""single_sec":$singleSecs%.2f,"single_eps":${nEvents / singleSecs}%.0f,""" +
      f""""routed_seq_sec":$seqSecs%.2f,"routed_seq_eps":${nEvents / seqSecs}%.0f,""" +
      f""""routed_par_sec":$parSecs%.2f,"routed_par_eps":${nEvents / parSecs}%.0f}""")
    0
  }

  private def manifest(spark: SparkSession, perEpoch: Long, epochs: Int, work: String): Int = {
    import spark.implicits._
    val cores = Session.defaultCores
    // one shared change log, re-lsn'd per epoch so every epoch upserts the
    // same key space (steady-state file counts, compaction exercised)
    val cfg = Gen.GenConfig(nEvents = perEpoch, nConvs = math.max(100L, perEpoch / 100),
      partitions = cores)
    val logDir = s"$work/batch"
    spark.range(0L, cfg.nEvents, 1L, cfg.partitions).map(i => Gen.eventAt(cfg, i))
      .write.mode("overwrite").parquet(logDir)
    val batch = spark.read.parquet(logDir)

    println(f"[manifest] perEpoch=$perEpoch epochs=$epochs cores=$cores work=$work")
    println("buckets | first5 s/epoch | last5 s/epoch | files | manifestKB | metrics() s | history() s")
    for (buckets <- Seq(32, 256, 1024, 4096)) {
      val dir = reset(s"$work/lake-$buckets")
      val table = LakeTable.create(spark, dir, Seq("conv_id", "turn_idx"), buckets)
      val times = (0 until epochs).map { e =>
        val ep = batch.withColumn("lsn", col("lsn") + lit(e * perEpoch))
        val t0 = System.nanoTime()
        table.merge(ep, e.toLong)
        (System.nanoTime() - t0) / 1e9
      }
      val snapFiles = new java.io.File(s"$dir/_snapshots").listFiles()
      val manifestKB = snapFiles.filter(_.getName.startsWith("snap-"))
        .map(_.length()).maxOption.getOrElse(0L) / 1024
      val first = times.take(5)
      val last = times.takeRight(5)
      val t1 = System.nanoTime()
      val m = table.metrics().count()
      val metricsS = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val h = table.history().count()
      val historyS = (System.nanoTime() - t2) / 1e9
      val live = spark.read.parquet(s"$dir/data").inputFiles.length
      println(f"$buckets%7d | ${first.sum / math.max(1, first.length)}%14.2f | ${last.sum / math.max(1, last.length)}%13.2f " +
        f"| $live%5d | $manifestKB%10d | $metricsS%11.2f | $historyS%9.2f  (epochs=$m, commits=$h)")
    }
    0
  }

  private def scaling(nEvents: Long, nSmall: Int, bigFirst: Boolean): Int = {
    val nBig = nSmall * 4
    val work = reset(s"$scratch/graft-perf-scaling")
    val cfg = Gen.GenConfig(nEvents = nEvents, nConvs = math.max(100L, nEvents / 100),
      partitions = nBig * 2)
    // SAME physical table layout at both sizes (bucket count is a property
    // of the table, not of the cluster): buckets sized for the big cluster,
    // the small one just runs several buckets per core — exactly how a real
    // bucketed table behaves when the executor count changes.
    val buckets = nBig

    // one shared input log, generated once (identical bytes for both runs)
    val gen = Session(nBig, Some(scratch))
    Gen.writeChangeLog(gen, cfg, s"$work/log", nChunks = 8)
    gen.stop()

    def run(cores: Int): (Double, Long) = {
      val s = Session(cores, Some(scratch))
      try {
        // codegen/JIT warmup on a scratch table so the timed window measures
        // the steady-state pipeline, not first-query compilation
        val wCfg = cfg.copy(nEvents = 100000L, nConvs = 1000L)
        Gen.writeChangeLog(s, wCfg, s"$work/warmlog-$cores", nChunks = 2)
        CdcPipeline.replayAll(s,
          LakeTable.create(s, s"$work/warmlake-$cores", Seq("conv_id", "turn_idx"), buckets),
          CdcPipeline.CdcConfig(s"$work/warmlog-$cores", s"$work/warmcp-$cores", 8))

        val table = LakeTable.create(s, s"$work/lake-$cores", Seq("conv_id", "turn_idx"),
          numBuckets = buckets)
        val t0 = System.nanoTime()
        CdcPipeline.replayAll(s, table,
          // 16 segment files = 2 chunks per trigger -> 4 epochs over 8 chunks
          CdcPipeline.CdcConfig(s"$work/log", s"$work/cp-$cores", maxFilesPerTrigger = 16))
        ((System.nanoTime() - t0) / 1e9, table.currentSnapshot().rows)
      } finally s.stop()
    }

    val ((secsSmall, rowsSmall), (secsBig, rowsBig)) =
      if (bigFirst) { val b = run(nBig); (run(nSmall), b) }
      else { val a = run(nSmall); (a, run(nBig)) }
    require(rowsSmall == rowsBig, s"final state diverged: $rowsSmall vs $rowsBig")

    val thrSmall = nEvents / secsSmall
    val thrBig = nEvents / secsBig
    val eff = (thrBig / thrSmall) / (nBig.toDouble / nSmall)
    val order = if (bigFirst) "bigfirst" else "smallfirst"
    println(
      f"""{"events":$nEvents,"cores_small":$nSmall,"cores_big":$nBig,"order":"$order","seconds_small":$secsSmall%.2f,"seconds_big":$secsBig%.2f,"events_per_sec_small":$thrSmall%.0f,"events_per_sec_big":$thrBig%.0f,"scaling_efficiency":$eff%.3f,"final_rows":$rowsSmall}""")
    reset(work)
    0
  }
}
