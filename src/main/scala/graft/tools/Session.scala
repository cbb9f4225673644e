package graft.tools

import org.apache.spark.sql.SparkSession

import graft.core.LocalFs

/** The one way the CLIs and [[Perf]] build a Spark session (graft.Bench and
  * graft.Verify keep their own, frozen for measurement). One config for
  * every caller: `local[cores]` with one shuffle partition per core, AQE on,
  * 32 MB scan splits, UTC, no UI, and the spawn-free local filesystem
  * ([[LocalFs.install]]).
  *
  * Cores come from `SPARK_GRAFT_CPUS` (default: the JVM's available
  * processors); `SPARK_GRAFT_MASTER` replaces the local master with a
  * deployment address.
  */
object Session {
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `localDir` sets `spark.local.dir` (shuffle and spill files). */
  def apply(cores: Int = defaultCores, localDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE partition coalescing targets bytes-per-task, which under-
      // parallelizes the bucket-sorted MERGE write (measured: 32-partition
      // shuffle coalesced to 18 tasks regardless of core count)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // scan parallelism must come from the data, not the file count
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = localDir.fold(b)(d => b.config("spark.local.dir", d)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LocalFs.install(spark)
    spark
  }
}
