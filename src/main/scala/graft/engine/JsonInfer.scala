package graft.engine

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SessionBridge

/** The reference jsonfilereader's SAMPLING schema inference, as an opt-in
  * (`inferMode = "datax"`) on graft's json sources — Spark's native JSON
  * inference scans whole files and resolves mixed types differently, so a
  * migrating user whose downstream depends on the reference's inferred
  * schema can ask for the reference's exact rule instead
  * (`jsonfile_reader.go:403-456` sampling, `:588-639` per-field type
  * stats, `:642-679` threshold rule, `:681-739` date sniffing, `:741-768`
  * user-config merge).
  *
  * The rule: sample ≤3 files / ≤100 rows total (driver-side — the sample is
  * bounded by construction, never a table scan); count per-field
  * null/string/int/float/bool/object/array occurrences (a JSON number that
  * is integral counts as int, `:624-630`); a type wins at ≥80% of non-null
  * values — boolean, then long, then double (int+float combined), then
  * date IF the field NAME contains a date keyword AND a sampled example
  * matches one of the positional date shapes (`:714-739` — the reference's
  * `simpleMatch` checks separator positions, not real patterns); everything
  * else — including nested objects/arrays and mixed-type fields — is
  * string. Inferred types fill only user columns that carry NO explicit
  * `type` (`mergeInferredColumns`, `:741-768`); column order is
  * first-seen (the reference iterates a Go map — nondeterministic — so
  * first-seen is the deterministic refinement).
  *
  * Values then flow through [[SyncJob.typedProjection]], whose date branch
  * applies the same user-format + fallback-chain parse the reference's
  * column readers use.
  */
object JsonInfer {

  final class FieldInfo {
    var total, nulls, strings, ints, floats, bools, objects, arrays = 0
    val examples = mutable.ArrayBuffer.empty[JsonNode] // ≤5, like the reference
  }

  /** (field, inferred type) for the sampled top-level fields, first-seen
    * order. Empty when no sampled file yields any object (the caller keeps
    * Spark-native behavior — the reference errors here, but failing a job
    * over an empty SAMPLE would reject valid late-arriving data).
    */
  def inferColumns(spark: SparkSession, pathCsv: String,
      maxFiles: Int = 3, maxRows: Int = 100): Seq[(String, String)] = {
    val stats = mutable.LinkedHashMap.empty[String, FieldInfo]
    var sampled = 0
    val files = resolveFiles(spark, pathCsv).take(maxFiles)
    val hconf = SessionBridge.hadoopConf(spark)
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(hconf)
    files.foreach { p =>
      if (sampled < maxRows) {
        try sampleFile(p, hconf, codecs, maxRows - sampled).foreach { node =>
          sampled += 1
          node.fields().asScala.foreach { e =>
            val f = stats.getOrElseUpdate(e.getKey, new FieldInfo)
            f.total += 1
            if (f.examples.length < 5) f.examples += e.getValue
            analyze(e.getValue, f)
          }
        } catch { case scala.util.control.NonFatal(_) => () } // skip unreadable, like the reference
      }
    }
    stats.iterator.map { case (name, f) => name -> inferType(name, f) }.toSeq
  }

  /** Apply the rule to one source: full inferred projection when the config
    * said `["*"]`, else fill only the user columns whose `type` was absent
    * (encoded as an empty colType by the config translation).
    */
  def mergeColumns(spark: SparkSession, src: SyncJob.Source): Seq[SyncJob.ColumnSpec] = {
    val inferred = inferColumns(spark, src.path)
    if (inferred.isEmpty) return src.columns
    if (src.columns.isEmpty)
      inferred.map { case (n, t) => SyncJob.ColumnSpec(index = -1, name = n, colType = t) }
    else {
      val byName = inferred.toMap
      src.columns.map(c =>
        if (c.colType.nonEmpty || c.name.isEmpty) c
        else c.copy(colType = byName.getOrElse(c.name, "string")))
    }
  }

  private[engine] def inferType(name: String, f: FieldInfo): String = {
    val nonNull = f.total - f.nulls
    if (nonNull == 0) return "string" // all null ⇒ string (:645-647)
    def ratio(c: Int): Double = c.toDouble / nonNull
    val th = 0.8
    if (ratio(f.bools) >= th) "boolean"
    else if (ratio(f.ints) >= th) "long"
    else if (ratio(f.floats) >= th || ratio(f.ints + f.floats) >= th) "double"
    else if (ratio(f.strings) >= th && isLikelyDate(name, f.examples.toSeq)) "date"
    else "string"
  }

  /** Field-name keyword AND a positionally date-shaped example (:681-739). */
  private def isLikelyDate(name: String, examples: Seq[JsonNode]): Boolean = {
    val keywords = Seq("date", "time", "created", "updated", "timestamp")
    val n = name.toLowerCase(java.util.Locale.ROOT)
    keywords.exists(n.contains) && examples.exists(e =>
      e.isTextual && looksLikeDate(e.asText))
  }

  private def looksLikeDate(s: String): Boolean =
    s.length >= 10 && (
      (s.charAt(4) == '-' && s.charAt(7) == '-') || // YYYY-MM-DD[...]
      (s.charAt(4) == '/' && s.charAt(7) == '/') || // YYYY/MM/DD
      (s.charAt(2) == '/' && s.charAt(5) == '/'))   // MM/DD/YYYY

  private def analyze(v: JsonNode, f: FieldInfo): Unit =
    if (v == null || v.isNull) f.nulls += 1
    else if (v.isTextual) f.strings += 1
    else if (v.isNumber) {
      // an integral NUMBER counts as int even when spelled `3.0`
      // (`analyzeValueType:624-630` — Go json gives float64 for all numbers
      // and the reference checks v == float64(int64(v)))
      val d = v.asDouble()
      if (!d.isNaN && !d.isInfinite && d == d.toLong.toDouble) f.ints += 1
      else f.floats += 1
    }
    else if (v.isBoolean) f.bools += 1
    else if (v.isObject) f.objects += 1
    else if (v.isArray) f.arrays += 1
    else f.strings += 1

  private def resolveFiles(spark: SparkSession, pathCsv: String): Seq[Path] = {
    val hconf = SessionBridge.hadoopConf(spark)
    pathCsv.split(",").toSeq.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hconf)
      val matched =
        try Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Nil)
        catch { case scala.util.control.NonFatal(_) => Nil }
      matched.flatMap { st =>
        if (st.isDirectory)
          try fs.listStatus(st.getPath).toSeq.filter(_.isFile).map(_.getPath)
          catch { case scala.util.control.NonFatal(_) => Nil }
        else Seq(st.getPath)
      }
    }.sortBy(_.toString)
  }

  /** ≤`maxRows` top-level objects from one file — `[`-led files parse as a
    * JSON array (the whole file, as the reference's io.ReadAll), anything
    * else reads as JSONL with malformed lines skipped. Hadoop's codec
    * factory transparently handles .gz/.bz2 (the reference's gzip/bzip2
    * support, `sampleFile:473-510`).
    */
  private def sampleFile(p: Path, hconf: org.apache.hadoop.conf.Configuration,
      codecs: org.apache.hadoop.io.compress.CompressionCodecFactory,
      maxRows: Int): Seq[JsonNode] = {
    val fs = p.getFileSystem(hconf)
    def open(): java.io.InputStream = {
      val raw = fs.open(p)
      Option(codecs.getCodec(p)).map(_.createInputStream(raw)).getOrElse(raw)
    }
    val mapper = new ObjectMapper()
    val first = {
      val in = open()
      try {
        var c = in.read()
        while (c != -1 && Character.isWhitespace(c)) c = in.read()
        c
      } finally in.close()
    }
    val in = open()
    try {
      if (first == '[') {
        val root = mapper.readTree(in)
        if (!root.isArray) Nil
        else root.elements().asScala.filter(_.isObject).take(maxRows).toSeq
      } else {
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
        val out = mutable.ArrayBuffer.empty[JsonNode]
        var line = br.readLine()
        while (line != null && out.length < maxRows) {
          if (line.trim.nonEmpty) {
            try {
              val n = mapper.readTree(line)
              if (n != null && n.isObject) out += n
            } catch { case scala.util.control.NonFatal(_) => () } // skip malformed
          }
          line = br.readLine()
        }
        out.toSeq
      }
    } finally in.close()
  }
}
