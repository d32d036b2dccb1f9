package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared mechanics for partitioned parquet stores maintained by
  * replace-by-partition merges ([[graft.streaming.MaterializedView]],
  * [[graft.streaming.SketchView]]): filesystem checks through the
  * Hadoop `FileSystem` API — `java.io.File` answers are meaningless
  * for the HDFS/object-store paths a deployed store lives on — and the
  * dynamic-partition-overwrite write scaffold (conf flip + restore,
  * lineage severed before the write replaces its own input files,
  * FileStatusCache refresh after) kept in ONE place so a fix lands
  * everywhere at once. */
object PartitionedStore {

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Store existence on whatever filesystem `dir` names. */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val (f, p) = fs(spark, dir)
    f.exists(p)
  }

  /** Overwrite exactly the partitions present in `merged` (dynamic
    * partition overwrite), leaving every other partition's files
    * untouched. `merged` may read from `storeDir` itself: lineage is
    * severed before the write. */
  def overwritePartitions(merged: DataFrame, storeDir: String,
                          partitionCols: Seq[String]): Unit = {
    val spark = merged.sparkSession
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      merged.localCheckpoint(true)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(storeDir)
      // the session's FileStatusCache still lists the replaced files;
      // a reader hitting the store next would FAILED_READ_FILE without
      // this (the REFRESH TABLE every external-overwrite needs)
      spark.catalog.refreshByPath(storeDir)
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }
}
