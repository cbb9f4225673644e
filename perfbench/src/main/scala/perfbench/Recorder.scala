package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One closed interval of the run. Times are wall-clock milliseconds with
  * sub-millisecond resolution (see [[Recorder.nowMs]]); `parent` is -1 for a
  * root. Spark-job spans get their parent after the run, by containment.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Per-epoch numbers from a `StreamingQueryProgress` event. */
final case class Epoch(batch: Long, startMs: Double, triggerMs: Double, addBatchMs: Double,
    rows: Long)

/** Task totals of the Spark work tagged with one `perfbench.tag` value. */
final class TaskTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3, "spill_bytes" -> spillBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "output_bytes" -> outputBytes.toDouble)
}

/** Everything one benchmark process measures, kept in memory and written
  * out once at the end as JSON (the arithmetic over it lives in
  * `perfbench/metrics.py`).
  *
  * Untraced runs record only what the end-to-end metrics need: operation
  * timings, per-pass wall and CPU time, streaming progress and the old-gen
  * live set. With tracing on, a `SparkListener` additionally attributes
  * task metrics to the tag set on the calling thread, and spans are kept
  * for every workload phase, pass, public call, epoch and Spark job.
  */
final class Recorder(val traceRequested: Boolean) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val setup = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val passes = mutable.ArrayBuffer[(Double, Double, Boolean)]() // (wall s, cpu s, traced)
  val values = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val errors = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def addSetup(part: String, seconds: Double): Unit =
    setup.getOrElseUpdate(part, mutable.ArrayBuffer()) += seconds
  def sample(kind: String, seconds: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += seconds
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }
  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    System.err.println(s"[perfbench] FAILED $what: $e")
  }

  // ------------------------------------------------------------- spans

  /** Spans are recorded only while tracing is switched on (traced passes). */
  @volatile var tracing = false
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val start = nowMs
      try body
      finally {
        stack.set(stack.get.tail)
        val end = nowMs
        synchronized { spans += Span(id, parent, name, start, end) }
      }
    }

  /** A span recorded after the fact (epochs, Spark jobs): parent resolved
    * by containment when the run is written out.
    */
  def addSpan(name: String, startMs: Double, endMs: Double): Unit = if (tracing)
    synchronized { nextId += 1; spans += Span(nextId, -2, name, startMs, endMs) }

  /** Times one operation. A throw counts as a failed operation and leaves
    * no timing behind; the caller gets None.
    */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t = System.nanoTime()
    try {
      val r = span(kind)(body)
      sample(kind, (System.nanoTime() - t) / 1e9)
      Some(r)
    } catch { case NonFatal(e) => fail(kind, e); None }
  }

  // ------------------------------------------------------------- JVM probes

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.toArray(
      Array.empty[java.lang.management.MemoryPoolMXBean])
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Old-generation bytes live after a full collection. Spark frees
    * broadcast and shuffle blocks only once their owners were collected
    * (ContextCleaner), so collect, give the cleaner a moment, collect again.
    */
  def oldGenAfterFullGc(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum.toDouble
  }

  /** Runs one pass of the workload: wall and process-CPU seconds are kept
    * per pass (unless `record` is off, for a traced side phase), the old-gen
    * live set is sampled after it (outside the timing). A throw inside
    * counts as one failed operation.
    */
  def pass(name: String, traced: Boolean, record: Boolean = true)(body: => Unit): Unit = {
    tracing = traced
    if (traced) session.sparkContext.addSparkListener(sparkListener)
    if (traced && record) tracedPasses += 1
    val c0 = cpuSeconds
    val t0 = System.nanoTime()
    val ok =
      try { span(name)(body); true }
      catch { case NonFatal(e) => attempted += 1; fail(name, e); false }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuSeconds - c0
    drain()
    if (traced) session.sparkContext.removeSparkListener(sparkListener)
    tracing = false
    if (ok && record) passes += ((wall, cpu, traced))
    values("heap_peak_bytes") = math.max(values.getOrElse("heap_peak_bytes", 0.0), oldGenAfterFullGc())
  }

  // ------------------------------------------------------------- listeners

  val epochs = mutable.ArrayBuffer[Epoch]()
  val tagTotals = mutable.LinkedHashMap[String, TaskTotals]()
  private val stageTag = mutable.HashMap[Int, String]()
  private val jobTag = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, Double]()
  val TagKey = "perfbench.tag"

  private def totals(tag: String) = tagTotals.getOrElseUpdate(tag, new TaskTotals)

  /** Attributes Spark work submitted from this thread (and from streaming
    * threads it starts) to `tag`.
    */
  def withTag[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  private val sparkListener = new SparkListener {
    private def tagOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(TagKey))).getOrElse("untagged")
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val tag = tagOf(e.properties)
      jobTag(e.jobId) = tag
      jobStart(e.jobId) = e.time.toDouble
      totals(tag).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => addSpan(s"job ${jobTag.getOrElse(e.jobId, "")}", s, e.time.toDouble))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Recorder.this.synchronized {
      val tag = tagOf(e.properties)
      stageTag(e.stageInfo.stageId) = tag
      totals(tag).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val m = e.taskMetrics
      val t = totals(stageTag.getOrElse(e.stageId, "untagged"))
      t.tasks += 1
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      if (p.numInputRows > 0) Recorder.this.synchronized {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        epochs += Epoch(p.batchId, start, ms("triggerExecution"), ms("addBatch"), p.numInputRows)
        addSpan(s"epoch ${p.batchId}", start, start + ms("triggerExecution"))
      }
    }
  }

  private var session: SparkSession = _
  var tracedPasses = 0

  /** Streaming progress is always collected; the task-level listener is
    * attached only for the duration of a traced pass.
    */
  def install(spark: SparkSession): Unit = {
    session = spark
    spark.streams.addListener(queryListener)
  }

  /** Waits until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBusAccess.drain(session.sparkContext)

  /** Epochs delivered since `from` (index into [[epochs]]). */
  def epochsSince(from: Int): Seq[Epoch] = synchronized(epochs.slice(from, epochs.size).toSeq)

  // ------------------------------------------------------------- output

  def toJson(meta: Map[String, Any]): String = {
    val spanOut = synchronized {
      // after-the-fact spans take the innermost enclosing span of a coarser
      // kind: calls and passes enclose epochs, which enclose jobs
      def rank(s: Span): Int =
        if (s.parent != -2) 0 else if (s.name.startsWith("job")) 2 else 1
      spans.map { s =>
        if (s.parent != -2) s
        else {
          val enclosing = spans.filter(p => rank(p) < rank(s) &&
            p.startMs <= s.startMs + 1 && s.endMs <= p.endMs + 1)
          s.copy(parent = if (enclosing.isEmpty) -1 else enclosing.minBy(p => p.endMs - p.startMs).id)
        }
      }.toSeq
    }
    Json.obj(meta ++ Map(
      "setup" -> setup.map { case (k, v) => k -> v.toSeq }.toMap,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "passes" -> passes.map { case (w, c, t) => Map("wall_s" -> w, "cpu_s" -> c, "traced" -> t) }.toSeq,
      "values" -> values.toMap,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "errors" -> errors.toSeq,
      "attempted" -> attempted,
      "traced_passes" -> tracedPasses,
      "failed" -> failed,
      "tags" -> synchronized(tagTotals.map { case (k, v) => k -> v.toMap }.toMap),
      "spans" -> spanOut.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
  }
}

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def obj(m: Map[String, Any]): String = value(m)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
