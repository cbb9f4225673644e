package graft.engine

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}

/** The generic "non-SQL sink" template the reference's neo4jwriter models:
  * accumulate each partition's rows into fixed-size batches, execute ONE
  * statement per batch with the batch bound as a parameter (the
  * `UNWIND $batch AS row ...` pattern, `neo4j_writer.go:103-111,540-551`),
  * and retry failed batches with a sleep between attempts
  * (`neo4j_writer.go:555-586`, default 3 retries).
  *
  * Spark shape: `foreachPartition` — one client/session per partition (the
  * analog of one driver session per task), batches never leave their
  * executor, no driver collect. Any bring-your-own sink (graph DB, HTTP
  * bulk API, KV store) plugs in as the `exec` closure.
  *
  * [[retrying]] is the engine's one batch retry loop: [[foreachBatch]] and
  * [[JdbcExec]]'s per-partition runner (the RDBMS writer and the CDC apply)
  * both run every batch through it.
  */
object BatchedExec {

  /** retryTimes = additional attempts after the first (reference
    * DefaultRetryTimes = 3, DefaultRetrySleepMills = 3000).
    */
  final case class RetryPolicy(retryTimes: Int = 3, retrySleepMillis: Long = 3000L)

  final class BatchFailed(attempts: Int, cause: Throwable)
    extends RuntimeException(s"batch failed after $attempts attempts", cause)

  /** Run `batch` until it succeeds, at most `retryTimes + 1` times with
    * `retrySleepMillis` between attempts; [[BatchFailed]] carries the last
    * error. A retried batch is re-executed whole, so `batch` must undo a
    * failed attempt itself (the JDBC runner rolls its transaction back).
    * Only non-fatal errors are retried: an `InterruptedException` from the
    * batch or the sleep (a killed task) ends the loop at once.
    */
  def retrying(policy: RetryPolicy)(batch: => Unit): Unit = {
    val retries = policy.retryTimes
    var attempt = 0
    var done = false
    var last: Throwable = null
    while (!done && attempt <= retries) {
      if (attempt > 0 && policy.retrySleepMillis > 0) Thread.sleep(policy.retrySleepMillis)
      try { batch; done = true }
      catch { case NonFatal(e) => last = e; attempt += 1 }
    }
    if (!done) throw new BatchFailed(retries + 1, last)
  }

  /** Execute `exec` once per `batchSize`-row batch of every partition.
    * `exec` must be serializable (it runs on executors) and should be
    * idempotent per batch — a retried batch is re-executed whole, exactly
    * like the reference's re-run of the UNWIND statement.
    */
  def foreachBatch(df: DataFrame, batchSize: Int,
      policy: RetryPolicy = RetryPolicy())(exec: Seq[Row] => Unit): Unit = {
    require(batchSize > 0, "batchSize must be positive")
    df.foreachPartition { it: Iterator[Row] =>
      it.grouped(batchSize).foreach(batch => retrying(policy)(exec(batch)))
    }
  }
}
