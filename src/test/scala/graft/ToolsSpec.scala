package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.{LakeMaint, Perf}

/** Argument checks of the CLIs and the one-session-builder rule. No Spark
  * session: every rejection here must happen before one would start.
  */
class ToolsSpec extends AnyFunSuite {
  test("unknownQueries lists near-misses for a typo and accepts valid names") {
    val valid = SparkEntry.queries.keys.toSeq.sorted.take(3)
    assert(Perf.unknownQueries(valid).isEmpty)
    assert(Perf.unknownQueries(Nil).isEmpty)
    val name = valid.head
    val msg = Perf.unknownQueries(Seq(name + "x")).get
    assert(msg.startsWith(s"unknown query '${name}x'"))
    assert(msg.contains(s"did you mean: ") && msg.contains(name))
  }

  test("Perf rejects an unknown mode, bad repeats and unknown queries with exit 2") {
    val typo = SparkEntry.queries.keys.min + "x"
    Seq(
      Array.empty[String],
      Array("nosuch"),
      Array("bulkload"),
      Array("queries", "three"),
      Array("queries", "0"),
      Array("queries", "3", typo),
      Array("plans", "out", "before", typo),
      Array("plans", "out"),
      Array("route", "1000", "2", "4", "work", "extra"),
      Array("scaling", "1000", "2", "sideways")
    ).foreach(a => assert(Perf.run(a) === 2, a.mkString(" ")))
  }

  test("LakeMaint rejects an unknown command and a short argument list up front") {
    assert(LakeMaint.usageError(Seq("/t")).nonEmpty)
    assert(LakeMaint.usageError(Seq("/t", "nosuch")).get.startsWith("unknown command 'nosuch'"))
    assert(LakeMaint.usageError(Seq("/t", "set", "id = 1", "col")).get
      .contains("set <sqlPredicate> <col> <sqlExpr>"))
    assert(LakeMaint.usageError(Seq("/t", "tag")).nonEmpty)
    assert(LakeMaint.usageError(Seq("/t", "history")).isEmpty)
    assert(LakeMaint.usageError(Seq("/t", "tag", "cut-1")).isEmpty)
  }

  test("LakeMaint rejects a non-numeric count, version or lsn up front") {
    Seq(
      Seq("expire", "abc"),
      Seq("vacuum", "abc"),
      Seq("check", "abc"),
      Seq("rollback", "abc"),
      Seq("rebucket", "/dst", "abc"),
      Seq("tag", "cut-1", "abc"),
      Seq("tag", "cut-1", "replace", "abc"),
      Seq("expiresnapshots", "abc"),
      Seq("stateat", "abc"),
      Seq("export", "debezium", "/dst", "abc"),
      Seq("feed", "debezium", "/feed", "abc"),
      Seq("readtag", "cut-1", "abc"),
      Seq("asof", "2024-01-01T00:00:00", "abc"),
      Seq("where", "id = 1", "abc"),
      Seq("stateat", "5", "abc")
    ).foreach { a =>
      val msg = LakeMaint.usageError("/t" +: a)
      assert(msg.exists(m => m.contains("not a number: 'abc'") &&
        m.contains(s"usage: LakeMaint <tableRoot> ${a.head}")), a.mkString(" "))
    }
    Seq(
      Seq("expire", "-5"),
      Seq("vacuum", "3"),
      Seq("tag", "cut-1", "replace"),
      Seq("tag", "cut-1", "4", "replace"),
      Seq("tag", "cut-1", "replace", "4"),
      Seq("rebucket", "/dst", "16"),
      Seq("stateat", "5", "10"),
      Seq("where", "id = 1")
    ).foreach(a => assert(LakeMaint.usageError("/t" +: a).isEmpty, a.mkString(" ")))
  }

  test("RunJob.describe prints pure ASCII") {
    val spec = graft.engine.JobConfig.parse("""{
      "job": {"setting": {"speed": {"channel": 2}},
        "content": [{
          "reader": {"name": "streamreader", "parameter": {"sliceRecordCount": 5,
            "column": [{"type": "long", "value": "7"}]}},
          "transformer": [
            {"name": "dx_replace", "parameter": {"columnIndex": 0, "paras": ["a", "b"]}},
            {"name": "dx_pad", "parameter": {"columnIndex": 0, "paras": ["left", "4", "0"]}}],
          "writer": {"name": "streamwriter", "parameter": {"print": false}}}]}}""")
    val desc = graft.tools.RunJob.describe(graft.engine.JobConfig.translate(spec).head)
    assert(desc.contains("stream 1 cols x 5 rows x 2 slices"), desc)
    assert(desc.contains(" -> "), desc)
    assert(desc.forall(_ < 128), desc)
  }

  test("SparkSession.builder appears only in the session builder, Bench and Verify") {
    val root = Paths.get("src/main/scala")
    val sites = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString).toSet
    assert(sites === Set("graft/tools/Session.scala", "graft/Bench.scala", "graft/Verify.scala"))
  }

  test("a _staging- path is named only in LakeTable.publish") {
    // publish derives its staging dir from a nonce'd file prefix; a staging
    // name built anywhere else (e.g. keyed by version) could be shared by
    // two writers, and one would delete the other's files. The sweep and
    // fsck only test the prefix.
    val root = Paths.get("src/main/scala/graft")
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.collect {
          case i if lines(i).contains("_staging-") && lines(i).contains("\"") &&
              !lines(i).trim.startsWith("*") && !lines(i).trim.startsWith("//") =>
            // the enclosing member: the nearest preceding top-level `def`
            val owner = lines.take(i + 1).reverseIterator
              .find(_.matches("""  (private |override )*def .*""")).map(_.trim).getOrElse("")
            s"${root.relativize(p)}:${owner.takeWhile(c => c != '(' && c != '[')}"
        }
      }.toSet
    assert(hits === Set(
      "lake/LakeTable.scala:private def publish",
      "lake/LakeTable.scala:def sweepStaleStaging",
      "lake/LakeTable.scala:def fsck"))
  }

  /** `file:enclosing def` for every line under `src/main/scala` that `hit`
    * accepts; the enclosing def is the nearest preceding `def` line.
    */
  private def sitesOf(hit: String => Boolean): Set[String] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.collect {
          case i if hit(lines(i)) =>
            val owner = lines.take(i + 1).reverseIterator
              .map(_.trim).find(_.matches("""(private |override )*def .*""")).getOrElse("")
            s"${root.relativize(p)}:${owner.takeWhile(c => c != '(' && c != '[')}"
        }
      }.toSet
  }

  test("writeStream and foreachBatch appear only in CdcPipeline.runBatches") {
    // the one stream sink rebinds each micro-batch to the caller's session;
    // a second sink would run its batches in the stream's own session and
    // re-compile its generated classes at every stream start
    assert(sitesOf(l => l.contains("writeStream") || l.contains(".foreachBatch {")) ===
      Set("graft/engine/cdc/CdcPipeline.scala:private def runBatches"))
  }

  test("engine FileSystem handles take the session's Hadoop conf from one helper") {
    // the context's conf misses the session's runtime conf: a handle opened
    // with it bypasses LocalFs.install and forks chmod for every file
    val root = Paths.get("src/main/scala")
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.map(_.trim).collect {
          case l if (l.contains("hadoopConfiguration") || l.contains("newHadoopConf")) &&
              !l.startsWith("*") && !l.startsWith("//") => root.relativize(p).toString
        }
      }.toSet
    assert(hits === Set("org/apache/spark/sql/graftbridge/SessionBridge.scala"))
  }

  test("RunJob builds its tail config and looks up conflict keys in one place each") {
    // the single-table and the routed lakewriter and the jdbc tail share one
    // tail-config builder, and every jdbc destination in src/main (RunJob's
    // batch writer, tail and followers, LakeMaint's mirror) one key lookup
    // on the driver; a second copy is how the two lakewriter shapes drifted
    // apart
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/tools/RunJob.scala")), "UTF-8")
    assert("CdcConfig\\(".r.findAllIn(src).size === 1)
    assert(sitesOf(l => l.contains("primaryKeys(") && !l.contains("def primaryKeys(")) ===
      Set("graft/engine/JdbcExec.scala:def resolveKeys"))
  }

  test("LakeTable reads plan from the manifest: no spark.read in LakeTable, readStream stays") {
    // spark.read.parquet re-lists and re-stats every file the manifest
    // already names (a distributed listing job above 32 paths); dfFor
    // builds its relation from the manifest's file list instead
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/lake/LakeTable.scala")), "UTF-8")
    assert("""\bspark\s*\.\s*read\b""".r.findAllIn(src).isEmpty)
    assert(src.contains("spark.readStream"))
  }

  test("executeBatch and rollback appear only in JdbcExec's one per-partition runner") {
    // the batch writer and the CDC apply share one runner and one retry
    // loop; a second copy is where commit-per-batch and rollback drift
    assert(sitesOf(l => l.contains("executeBatch") || l.contains(".rollback()")) ===
      Set("graft/engine/JdbcExec.scala:private def runPartitions"))
  }
}
