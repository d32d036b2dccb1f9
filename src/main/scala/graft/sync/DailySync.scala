package graft.sync

import graft.streaming.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The daily warehouse sync job — the one-job Spark replacement for the
  * reference's entire Airflow DAG (SURVEY §3.3,
  * bigquery_update_scheduler.py:59–148,163–282): its ~200 LoC of
  * recursive WebHDFS listing, regex partition-column reattachment,
  * pandas concat and XCom plumbing collapse into a partition-pruned
  * read of the stream's `valid` store, and the BigQuery
  * reorder-before-upload (:199–225) is the K6 select-order enforcement.
  *
  * Input: the `valid` bucket store that
  * [[graft.streaming.Pipeline.startFanOutCommitted]] writes, read
  * through [[ManifestStore.readStore]] — so the sync sees exactly the
  * committed batches: a batch whose data landed but whose manifest did
  * not (a crash between the two) never reaches the warehouse.
  *
  * Scale: the `where` on the store's `ymd` partition column
  * (Year·10⁴+Month·10²+Day) reaches every per-batch scan as a
  * partition filter, so the job reads exactly one day's files
  * regardless of table size — PlanSpec asserts `PartitionFilters` on
  * this plan. The count is taken on the pruned day frame before the
  * append, mirroring the reference's row-count verification log
  * (:276–277); both read the same manifest-listed files.
  */
object DailySync {

  /** One day's rows of the committed valid store, partition-pruned;
    * None when the store has no commit yet. */
  def dayPartition(spark: SparkSession, validDir: String,
                   year: Int, month: Int, day: Int): Option[DataFrame] =
    ManifestStore.readStore(spark, validDir)
      .map(_.where(col("ymd") === year * 10000 + month * 100 + day))

  /** Sync one day into the warehouse table; returns the appended row
    * count (the reference's verification metric), 0 for an empty
    * store. */
  def syncDay(spark: SparkSession, validDir: String, warehouseDir: String,
              year: Int, month: Int, day: Int): Long =
    dayPartition(spark, validDir, year, month, day).fold(0L) { dayDf =>
      val n = dayDf.count()
      Sinks.warehouseAppend(dayDf, warehouseDir)
      n
    }
}
