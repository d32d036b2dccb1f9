package graft.streaming

import graft.sync.ManifestStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained aggregate — a streaming MATERIALIZED VIEW:
  * an UPDATE-mode streaming aggregation emits, per micro-batch, only
  * the groups whose cumulative value changed, and `foreachBatch`
  * upserts exactly those rows into a bucketed parquet store. The store
  * therefore always equals the batch aggregate over everything
  * ingested so far — without ever rescanning history (the state store
  * carries the running totals; the view write is O(changed groups)).
  *
  * Scale shape: the store partitions by a hash bucket of the group
  * key, and a batch's upsert rewrites ONLY the buckets its changed
  * keys live in: untouched buckets are never read or written.
  *
  * COMMIT PROTOCOL (r7): the upsert commits through the shared
  * [[graft.sync.ManifestStore]] — per-batch immutable data
  * directories and a `_manifest/<batchId>` renamed in LAST —
  * replacing the dynamic-partition-overwrite path, whose
  * delete-then-rename could lose a bucket's previous files to a
  * mid-commit crash. For THIS store that was the worst case of the
  * window: rows are absolute per-merchant totals, so a lost merchant
  * re-appears only when it next transacts — possibly never — i.e.
  * silent data loss, not staleness. Under manifests a crash before
  * the rename leaves invisible orphans and the replayed batch
  * recomputes from the exact pre-crash store (the spec kills between
  * data and manifest and proves it). Row-level idempotence (update
  * mode emits absolute totals) additionally makes even a DOUBLE
  * commit of the same delta harmless — but the manifest ledger makes
  * the replay a provable no-op instead of a rewrite.
  */
object MaterializedView {

  val NumBuckets = 16

  /** Per-merchant running (count, exact USD total) over the valid
    * stream, maintained into `storeDir`. */
  def startMerchantView(enriched: DataFrame, storeDir: String,
                        checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    graft.tx.Splitter.valid(enriched)
      .groupBy(col("Merchant_Name").as("merchant"))
      .agg(count(lit(1)).as("n_tx"),
        sum(col("Amount_USD").cast("decimal(18,2)")).cast("double").as("usd_total"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch {
        // an already-committed id is expected only as the restart
        // re-delivery (once per start); later ones are backfill-id
        // collisions and must fail, not silently drop the batch —
        // same contract as SketchView.startDailySketchView
        val firstDelivery = new java.util.concurrent.atomic.AtomicBoolean(true)
        (delta: DataFrame, batchId: Long) => {
          val committedNow = upsert(delta, batchId, storeDir)
          val wasFirst = firstDelivery.getAndSet(false)
          if (!committedNow && !wasFirst)
            throw new IllegalStateException(
              s"materialized-view batch $batchId is already committed " +
                "mid-stream: a backfill id collided with the streaming ledger")
          // bound the manifest ledger: fold every K commits (between
          // commits on the single writer — never races a seal)
          if (committedNow)
            ManifestStore.maybeSnapshot(delta.sparkSession, storeDir,
              Pipeline.SnapshotEvery)
          ()
        }
      }
      .start()

  /** The view as of the last committed manifest (empty frame with the
    * view schema before the first commit). */
  def readStore(spark: SparkSession, storeDir: String): DataFrame =
    ManifestStore.readStore(spark, storeDir)
      .getOrElse(spark.range(0).select(
        lit(null).cast("string").as("merchant"),
        lit(0L).as("n_tx"), lit(0.0).as("usd_total"),
        lit(0).as("bucket")))

  /** Delete data files no retained manifest references — see
    * [[graft.sync.ManifestStore.vacuum]] for the safety rules.
    * `retainBatches` > 1 keeps the last R versions time-travel-readable
    * ([[graft.sync.ManifestStore.readStoreAsOf]]) across the reclaim. */
  def vacuum(spark: SparkSession, storeDir: String,
             retainBatches: Int = 1): (Int, Int) =
    ManifestStore.vacuum(spark, storeDir, retainBatches)

  /** Replace-by-key upsert of the changed groups into the bucketed
    * store. Public so a batch backfill can use the identical path
    * (batchId rules as in [[SketchView.mergeBatch]]: manifest
    * precedence is numeric order).
    * @return false when `batchId` was already committed (replay). */
  def upsert(delta: DataFrame, batchId: Long, storeDir: String): Boolean = {
    val spark = delta.sparkSession
    if (ManifestStore.committed(spark, storeDir, batchId))
      return false
    mergedUpsert(delta, storeDir) match {
      case Some(merged) => ManifestStore.commit(merged, storeDir, batchId, "bucket")
      case None => ManifestStore.sealEmpty(spark, storeDir, batchId)
    }
    true
  }

  /** The replace-by-key merge for one delta (None when empty) — ONE
    * implementation serving both [[upsert]] and the crash hook, so the
    * crash test can never drift onto a different code path. */
  private def mergedUpsert(delta: DataFrame, storeDir: String): Option[DataFrame] = {
    if (delta.isEmpty) return None
    val keyed = delta.withColumn("bucket",
      pmod(hash(col("merchant")), lit(NumBuckets)))
    val buckets = keyed.select(col("bucket")).distinct().collect()
      .map(_.getInt(0)).toSeq
    val existing = readStore(delta.sparkSession, storeDir)
      .where(col("bucket").isin(buckets: _*))
    // null-SAFE anti join: a null merchant is a legitimate aggregation
    // group, and a plain key anti-join never matches null = null — the
    // old null row would survive next to every batch's new one,
    // accumulating duplicates
    val newKeys = keyed.select(col("merchant").as("m_new")).distinct()
    Some(existing
      .join(newKeys, existing("merchant") <=> col("m_new"), "left_anti")
      .unionByName(keyed))
  }

  /** Test hook: the data-write half of [[upsert]] with a "crash"
    * before the manifest lands. */
  private[streaming] def upsertCrashBeforeManifest(
      delta: DataFrame, batchId: Long, storeDir: String): Unit = {
    require(!ManifestStore.committed(delta.sparkSession, storeDir, batchId))
    mergedUpsert(delta, storeDir).foreach(
      ManifestStore.writeBatchData(_, storeDir, batchId, "bucket"))
  }
}
