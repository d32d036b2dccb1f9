package graft.sync

import org.apache.spark.sql.SparkSession

/** Runnable job body for the daily 23:00 batch window — the
  * `spark-submit` entry an external scheduler (cron / Airflow / k8s
  * CronJob) invokes, replacing the reference's in-DAG python operators
  * (bigquery_update_scheduler.py:297–322 schedules `0 23 * * *`; the
  * DAG body is re-owned by [[DailySync]]).
  * Scheduling itself stays OUT of the engine by design (SURVEY §2.11):
  * the engine contributes a partition-scoped job, the scheduler
  * contributes only the clock.
  *
  * `validDir` is the `valid` bucket store of
  * [[graft.streaming.StreamMain]]'s output root. The job only READS
  * it: the stream is the store's single writer (its manifest writer
  * lease), so the sync never rewrites or compacts it.
  *
  * Usage:
  * {{{
  *   spark-submit --class graft.sync.SyncMain <jar> \
  *     <validDir> <warehouseDir> <year> <month> <day>
  * }}}
  *
  * Exit contract: prints one JSON status line (the synced row count —
  * the reference's verification metric, :276–277) and exits non-zero
  * if the day synced zero rows, so a silent empty day pages instead of
  * "succeeding".
  */
object SyncMain {

  final case class Status(year: Int, month: Int, day: Int, synced: Long) {
    def json: String =
      s"""{"job":"daily_sync","date":"$year-$month-$day","synced":$synced}"""
  }

  /** Job body, factored out of [[main]] for direct spec coverage
    * (the StreamMain/CurateMain pattern). */
  def run(spark: SparkSession, validDir: String, warehouseDir: String,
          year: Int, month: Int, day: Int): Status =
    Status(year, month, day,
      DailySync.syncDay(spark, validDir, warehouseDir, year, month, day))

  def main(args: Array[String]): Unit = {
    require(args.length == 5,
      "usage: SyncMain <validDir> <warehouseDir> <year> <month> <day>")
    val spark = graft.Session.builder()
      .appName(s"graft-daily-sync-${args(2)}-${args(3)}-${args(4)}")
      .getOrCreate()
    // exit decision is made AFTER the finally: System.exit does not
    // unwind the stack, so calling it inside try would skip spark.stop()
    val emptyDay =
      try {
        val st = run(spark, args(0), args(1),
          args(2).toInt, args(3).toInt, args(4).toInt)
        println(st.json)
        st.synced == 0L
      } finally spark.stop()
    if (emptyDay) sys.exit(2)
  }
}
