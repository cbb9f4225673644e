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

  test("SparkSession.builder appears only in the session builder, Bench and Verify") {
    val root = Paths.get("src/main/scala")
    val sites = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString).toSet
    assert(sites === Set("graft/tools/Session.scala", "graft/Bench.scala", "graft/Verify.scala"))
  }
}
