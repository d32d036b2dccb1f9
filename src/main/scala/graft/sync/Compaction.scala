package graft.sync

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Rewrites of plain `Year=/Month=/Day=` partitioned parquet tables
  * ([[purgeKeys]]). The transaction stream's bucket stores are
  * manifest-committed ([[ManifestStore]]) and are never rewritten
  * here: their single writer is the stream.
  */
object Compaction {

  /** Targeted DELETE-by-key over the partitioned warehouse (the
    * right-to-be-forgotten job): remove every row whose `keyCol` is in
    * `keys`, rewriting ONLY the Year/Month/Day partitions that actually
    * contain a matching row — the rest of the table is never read twice
    * nor written. Plain-parquet equivalent of `DELETE FROM t WHERE key
    * IN (...)` on a transactional table format.
    *
    * Scale shape: pass 1 finds affected partitions with a broadcast
    * SEMI join projected to the partition columns (a metadata-sized
    * result); pass 2 re-reads only those partitions (partition pruning
    * via an isin filter on partition columns — PushedFilters territory,
    * not a full scan), ANTI joins the key list, and dynamic-overwrites
    * exactly those partitions. Lineage is severed (eager
    * `localCheckpoint`) before the overwrite: the overwrite must never
    * be able to re-read the files it is replacing (a cache can be
    * evicted and silently recompute from the overwritten path — a
    * checkpoint cannot). The key list broadcasts; a
    * key list too large to broadcast would instead bucket-join per
    * partition — same two-pass structure.
    *
    * Returns (partitions rewritten, rows deleted). */
  def purgeKeys(spark: SparkSession, dir: String,
                keyCol: String, keys: Seq[String]): (Long, Long) = {
    import org.apache.spark.sql.functions.broadcast
    val keyDf = broadcast(
      spark.createDataFrame(keys.map(Tuple1(_))).toDF(keyCol))
    val affected = spark.read.parquet(dir)
      .join(keyDf, keyCol).select(col("Year"), col("Month"), col("Day"))
      .distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    if (affected.isEmpty) return (0L, 0L)
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val partPred = affected
        .map { case (y, m, d) =>
          col("Year") === y && col("Month") === m && col("Day") === d }
        .reduce(_ || _)
      val scoped = spark.read.parquet(dir).where(partPred)
      val before = scoped.count()
      val kept = scoped.join(keyDf, Seq(keyCol), "left_anti")
        .localCheckpoint(true)
      val after = kept.count()
      kept.write.mode("overwrite").partitionBy("Year", "Month", "Day")
        .parquet(dir)
      // dynamic overwrite only replaces partitions PRESENT in the
      // written data: a partition whose every row matched the key list
      // writes nothing and would silently keep its old files — delete
      // those partition directories explicitly
      val survivors = kept.select(col("Year"), col("Month"), col("Day"))
        .distinct().collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      affected.filterNot(survivors).foreach { case (y, m, d) =>
        fs.delete(
          new org.apache.hadoop.fs.Path(dir, s"Year=$y/Month=$m/Day=$d"), true)
      }
      (affected.length.toLong, before - after)
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }
}
