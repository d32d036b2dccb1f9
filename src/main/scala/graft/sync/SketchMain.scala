package graft.sync

import org.apache.spark.sql.functions._

/** Runnable job body that (re)builds the stored sketch table for an
  * events directory — the `spark-submit` entry a scheduler invokes
  * after each day's ingest lands, so every dashboard range-uniques /
  * range-quantiles query reads O(#days) sketch rows instead of the
  * facts ([[SketchTable]]; the streaming twin is
  * [[graft.streaming.SketchView]], this is its batch/backfill
  * sibling). Same out-of-engine scheduling stance as [[SyncMain]].
  *
  * Usage:
  * {{{
  *   spark-submit --class graft.sync.SketchMain <jar> \
  *     <eventsDir> <storeDir>
  * }}}
  *
  * Exit contract: prints one JSON status line (days, rows, distinct
  * estimate over the whole table — the numbers an operator eyeballs
  * against yesterday's) and exits non-zero when the build covers zero
  * days, so an empty source pages instead of "succeeding". The write
  * replaces the store's day partitions by dynamic partition overwrite
  * ([[PartitionedStore.overwritePartitions]]), which is NOT atomic: it
  * deletes each day directory before renaming its replacement in, so a
  * concurrent reader can see a day missing, and a crash between the
  * two loses the day (the failure [[ManifestStore]]'s scaladoc
  * describes). What holds instead: every row is rebuilt from the
  * events, so re-running the job repairs the store. */
object SketchMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SketchMain <eventsDir> <storeDir>")
    val (eventsDir, storeDir) = (args(0), args(1))
    val spark = graft.Session.builder()
      .appName("graft-sketch-build")
      .getOrCreate()
    // exit decision AFTER the finally: System.exit doesn't unwind, so
    // calling it inside try would skip spark.stop()
    val emptyBuild =
      try {
        val daily = SketchTable.buildDaily(graft.Tables.events(spark, eventsDir))
          .persist()
        val days = daily.count()
        val (rows, users) =
          if (days == 0L) (0L, 0L) // nothing to write; a dynamic
          // overwrite of zero partitions would leave no store to read
          else {
            PartitionedStore.overwritePartitions(daily, storeDir, Seq("day"))
            val stats = spark.read.parquet(storeDir)
              .agg(sum(col("n")).as("rows"),
                hll_sketch_estimate(
                  hll_union_agg(col("users_sketch"), lit(false))).as("users"))
              .collect()(0)
            (stats.getLong(0), stats.getLong(1))
          }
        println(s"""{"job":"sketch_build","days":$days,"rows":$rows,""" +
          s""""est_users":$users}""")
        days == 0L
      } finally spark.stop()
    if (emptyBuild) sys.exit(2)
  }
}
