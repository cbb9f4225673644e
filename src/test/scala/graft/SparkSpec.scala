package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    super.beforeAll()
  }

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  def sfDir: String = "/root/testdata/sf0.001"

  /** Crash a stream between its sink and its checkpoint commit: delete the
    * last epoch's `commits/<n>` marker, so a restart replays epoch n with
    * its recorded offsets. Returns n.
    */
  def dropLastCommit(checkpointDir: String): Long = {
    val commits = new java.io.File(checkpointDir, "commits")
    val n = commits.list().flatMap(_.toLongOption).max
    Seq(s"$n", s".$n.crc").foreach(f => new java.io.File(commits, f).delete())
    n
  }

  /** Delete a directory tree (no-op when absent). */
  def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().foreach(c => deleteTree(c.getPath))
    f.delete()
    ()
  }
}
