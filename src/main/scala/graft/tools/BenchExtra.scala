package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Focused per-query benchmark (guide §1.4): times a SUBSET of SparkEntry
  * queries through the noop sink with N repeats each, printing min/median —
  * the optimization-loop companion to graft.Bench (which is FROZEN for
  * measurement and always runs the full sweep). Same session configuration
  * as Bench so numbers are comparable.
  *
  * Usage: runMain graft.tools.BenchExtra <repeats> [query ...]
  * (no query names = all queries). Names are checked before the session
  * starts. The closing total sums each query's MIN, so it is not
  * comparable to Bench's single-sweep total.
  */
object BenchExtra {
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
    val bad = names.filterNot(SparkEntry.queries.contains)
    if (bad.isEmpty) None
    else Some(bad.map { n =>
      val stem = n.takeWhile(_ != '_') + "_"
      val near = known.filter(k => dist(n, k) <= 3 || (n.contains('_') && k.startsWith(stem)))
      s"unknown query '$n'" +
        (if (near.isEmpty) "" else s"; did you mean: ${near.take(8).mkString(", ")}")
    }.mkString("\n"))
  }

  def main(args: Array[String]): Unit = {
    val repeats = args.headOption.flatMap(_.toIntOption).filter(_ > 0).getOrElse {
      if (args.isEmpty) 3
      else { System.err.println(s"repeats must be a positive integer, got '${args.head}'"); sys.exit(2) }
    }
    val names = args.drop(1).toSeq
    unknownQueries(names).foreach { msg => System.err.println(msg); sys.exit(2) }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val tmpBase = sys.env.getOrElse("SPARK_GRAFT_WORKDIR",
      if (new java.io.File("/dev/shm").canWrite) "/dev/shm"
      else System.getProperty("java.io.tmpdir"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", tmpBase)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs = if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
             else names.map(n => n -> SparkEntry.queries(n))
    val results = qs.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"benchextra: $name")
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
    spark.stop()
  }
}
