package graft.streaming

import graft.sync.ManifestStore
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.current_timestamp
import org.apache.spark.sql.streaming.Trigger

/** Runnable streaming-pipeline job entry — the `spark-submit` twin of
  * the reference's consumer `main` (spark_streaming_consumer.py:526–563)
  * and the last §3.1 lifecycle shape without one (VERDICT r7 #5): wire
  * the file source (the offline stand-in for the Kafka topic — S1's
  * runtime half is environment-capped) through P1–P17 enrichment with
  * per-batch rate resolution into the F1–F4 manifest-committed bucket
  * stores, under one streaming checkpoint.
  *
  * Lifecycle: with no `triggerSec`, one invocation DRAINS what is
  * available (`Trigger.AvailableNow`) and exits — the shape a
  * scheduler-driven micro-batch deployment invokes repeatedly, and the
  * shape a spec can restart deterministically; with `triggerSec` it
  * runs the reference's long-lived ProcessingTime loop until killed.
  * Either way the checkpoint + manifest ledgers make restarts and
  * replays exactly-once per bucket ([[Pipeline.startFanOutCommitted]]).
  *
  * Usage:
  * {{{
  *   spark-submit --class graft.streaming.StreamMain <jar> \
  *     <inputDir> <outRoot> [triggerSec] [maxFilesPerTrigger]
  * }}}
  *
  * Exit contract (the [[graft.sync.SyncMain]] convention): prints one
  * JSON status line — batches that found new work this run plus the
  * post-run row count of each bucket store — and exits non-zero if the
  * stores are empty after a drain, so a silently dead pipeline pages
  * instead of "succeeding".
  */
object StreamMain {

  final case class Status(newBatches: Long, valid: Long, fraud: Long,
                          errors: Long, invalid: Long) {
    def total: Long = valid + fraud + errors + invalid
    def json: String =
      s"""{"job":"stream_pipeline","new_batches":$newBatches,""" +
        s""""valid":$valid,"fraud":$fraud,"errors":$errors,"invalid":$invalid}"""
  }

  // ONE service for the process, not one per batch: the per-date cache
  // is the point of the per-batch rate resolution (repeat same-day
  // batches must be cache hits, SURVEY §4.1)
  private lazy val rates = new graft.rates.RateService()

  /** Job body, factored out of [[main]] for direct spec coverage
    * (the SyncMain/CurateMain pattern). Blocks until the query
    * terminates — forever under a ProcessingTime trigger, after one
    * drain under the default AvailableNow. */
  def run(spark: SparkSession, inputDir: String, outRoot: String,
          triggerSec: Option[Int] = None,
          maxFilesPerTrigger: Option[Int] = None,
          rateFor: java.time.LocalDate => Double =
            d => rates.rateFor(d.toString),
          clock: Column = current_timestamp(),
          retainBatches: Int = 1): Status = {
    val layout = Pipeline.StoreLayout(outRoot)
    val fresh = new java.util.concurrent.atomic.AtomicLong(0L)
    val trigger = triggerSec match {
      case Some(s) => Trigger.ProcessingTime(s * 1000L)
      case None => Trigger.AvailableNow
    }
    val q = Pipeline.startFanOutCommitted(
      Pipeline.jsonFileSource(spark, inputDir, maxFilesPerTrigger),
      layout, rateFor, trigger, clock, _ => { fresh.incrementAndGet(); () },
      retainBatches = retainBatches)
    q.awaitTermination()
    def countOf(store: String): Long =
      ManifestStore.withStore(spark, store)(_.map(_.count()).getOrElse(0L))
    Status(fresh.get(), countOf(layout.valid), countOf(layout.fraud),
      countOf(layout.errors), countOf(layout.invalidLog))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: StreamMain <inputDir> <outRoot> [triggerSec] [maxFilesPerTrigger] [retainBatches]")
    val triggerSec = if (args.length > 2) Some(args(2).toInt).filter(_ > 0) else None
    val maxFiles = if (args.length > 3) Some(args(3).toInt).filter(_ > 0) else None
    val retain = if (args.length > 4) math.max(1, args(4).toInt) else 1
    val spark = graft.Session.builder()
      .appName("graft-stream-pipeline")
      .getOrCreate()
    // exit decision AFTER the finally: System.exit doesn't unwind, so
    // calling it inside try would skip spark.stop()
    val emptyStores =
      try {
        val st = run(spark, args(0), args(1), triggerSec, maxFiles,
          retainBatches = retain)
        println(st.json)
        st.total == 0L
      } finally spark.stop()
    if (emptyStores) sys.exit(2)
  }
}
