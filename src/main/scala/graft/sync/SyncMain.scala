package graft.sync

/** Runnable job body for the daily 23:00 batch window — the
  * `spark-submit` entry an external scheduler (cron / Airflow / k8s
  * CronJob) invokes, replacing the reference's in-DAG python operators
  * (bigquery_update_scheduler.py:297–322 schedules `0 23 * * *`; the
  * DAG body is re-owned by [[DailySync]] + [[Compaction]]).
  * Scheduling itself stays OUT of the engine by design (SURVEY §2.11):
  * the engine contributes an idempotent, partition-scoped job, the
  * scheduler contributes only the clock.
  *
  * Usage:
  * {{{
  *   spark-submit --class graft.sync.SyncMain <jar> \
  *     <validDir> <warehouseDir> <year> <month> <day> [targetFiles]
  * }}}
  *
  * Exit contract: prints one JSON status line (synced + compacted row
  * counts — the reference's verification metric, :276–277) and exits
  * non-zero if the day synced zero rows, so a silent empty day pages
  * instead of "succeeding".
  */
object SyncMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "usage: SyncMain <validDir> <warehouseDir> <year> <month> <day> [targetFiles]")
    val Array(validDir, warehouseDir) = args.take(2)
    val (year, month, day) = (args(2).toInt, args(3).toInt, args(4).toInt)
    val targetFiles = if (args.length > 5) args(5).toInt else 1
    val spark = graft.Session.builder()
      .appName(s"graft-daily-sync-$year-$month-$day")
      .getOrCreate()
    // exit decision is made AFTER the finally: System.exit does not
    // unwind the stack, so calling it inside try would skip spark.stop()
    val emptyDay =
      try {
        val synced = DailySync.syncDay(spark, validDir, warehouseDir, year, month, day)
        val compacted = Compaction.compactDay(spark, validDir, year, month, day, targetFiles)
        println(
          s"""{"job":"daily_sync","date":"$year-$month-$day","synced":$synced,"compacted":$compacted}""")
        synced == 0L
      } finally spark.stop()
    if (emptyDay) sys.exit(2)
  }
}
