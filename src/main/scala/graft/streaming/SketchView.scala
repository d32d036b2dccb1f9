package graft.streaming

import graft.sync.{ManifestStore, SketchTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained SKETCH table — the streaming twin of
  * [[graft.sync.SketchTable]]: each micro-batch reduces to per-day
  * partial rows (HLL sketch + exact additive measures) and MERGES them
  * into the stored table by re-aggregating store∪delta with
  * `hll_union_agg` — the sketch's own merge IS the upsert, so the
  * store always answers range-uniques over everything ingested so far
  * without rescanning history. This is what keeps "uniques this
  * month" live at 100 TB/day ingest: per-batch work is O(batch) + a
  * rewrite of only the touched day partitions.
  *
  * COMMIT PROTOCOL (VERDICT r6 #4 — manifest commits over plain
  * parquet): stored rows are PARTIALS that must combine with each
  * delta, so replaying a completed batch would double the additive
  * measures (sketch union alone is idempotent; sums are not), and the
  * previous delete-then-rename partition overwrite left a residual
  * crash window INSIDE the file-commit protocol (a day directory
  * deleted but its replacement not yet renamed in). Both close at
  * once under the shared [[graft.sync.ManifestStore]] protocol:
  * per-batch immutable data directories, a `_manifest/<batchId>` file
  * renamed in LAST as the single commit point, and a read path that
  * trusts only manifest-listed files (highest manifest wins per day).
  * A crash at ANY point before the manifest rename leaves orphans no
  * reader can see; the replayed batch re-merges from the
  * manifest-visible state — by construction the exact pre-crash store
  * — and reaches the byte-equivalent of the uncrashed build
  * (SketchViewSpec kills between data and manifest and proves it).
  *
  * Superseded batch directories (days fully re-merged by later
  * commits) stay on disk unreferenced — they cost storage, never
  * correctness — until [[vacuum]] deletes every file the current
  * manifest composition does not reference (skipping ids above the
  * highest committed manifest: an in-flight replay owns those).
  *
  * Scale shape: the store is ONE partial row per day — the read path
  * unions a handful of per-batch directory reads (bounded by batches
  * whose days were never re-touched; any range rollup then scans
  * O(#days) rows), and a batch rewrites only the day rows it touched.
  *
  * Manifest history is BOUNDED (r8): the streaming writer folds the
  * ledger into a snapshot manifest every [[Pipeline.SnapshotEvery]]
  * commits ([[graft.sync.ManifestStore.maybeSnapshot]] — side-channel
  * `<id>.snap` files, so a snapshot never competes with batch ids),
  * readers replay only manifests above the newest fold, and
  * [[vacuum]] drops the folded history — per-read ledger cost stays
  * O(SnapshotEvery) on an arbitrarily long-running stream, the same
  * niche Iceberg/Delta metadata checkpoints fill.
  */
object SketchView {

  /** Maintain the per-day sketch table from a streaming events frame
    * (`ts`, `user_id`, `event_id`, `value`).
    *
    * An already-committed batch id is EXPECTED exactly once per query
    * start (foreachBatch re-delivers the last batch after a restart
    * even when it committed) — any LATER one means a backfill id
    * collided with the streaming ledger, and silently skipping it
    * would drop the micro-batch's events while the checkpoint still
    * advances. That case fails the query loudly instead. */
  def startDailySketchView(events: DataFrame, storeDir: String,
                           checkpoint: String,
                           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val firstDelivery = new java.util.concurrent.atomic.AtomicBoolean(true)
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val committedNow = mergeBatch(batch, batchId, storeDir)
        val wasFirst = firstDelivery.getAndSet(false)
        if (!committedNow && !wasFirst)
          throw new IllegalStateException(
            s"sketch-view batch $batchId is already committed mid-stream: " +
              "a backfill id collided with the streaming ledger (see " +
              "mergeBatch's batchId rules) - this micro-batch would " +
              "otherwise be silently dropped")
        // fold the manifest ledger every K commits — runs between
        // commits on the single writer, so it never races a seal
        if (committedNow)
          ManifestStore.maybeSnapshot(batch.sparkSession, storeDir,
            Pipeline.SnapshotEvery)
        ()
      }
      .start()
  }

  /** Marker check: `batchId` is committed iff its manifest exists. */
  def committed(spark: SparkSession, storeDir: String, batchId: Long): Boolean =
    ManifestStore.committed(spark, storeDir, batchId)

  /** The store as of the last committed manifest — the ONLY sanctioned
    * read path: orphan files from a crashed commit are invisible here
    * by construction. Empty (schema-correct) frame when nothing has
    * committed yet. */
  def readStore(spark: SparkSession, storeDir: String): DataFrame =
    ManifestStore.readStore(spark, storeDir)
      .getOrElse(SketchTable.buildDaily(
        spark.range(0).select(
          lit(null).cast("timestamp").as("ts"),
          lit(null).cast("long").as("user_id"),
          lit(null).cast("long").as("event_id"),
          lit(null).cast("double").as("value"))))

  /** Delete data files no retained manifest references — see
    * [[graft.sync.ManifestStore.vacuum]] for the safety rules.
    * `retainBatches` > 1 keeps the last R versions time-travel-readable
    * ([[graft.sync.ManifestStore.readStoreAsOf]]) across the reclaim. */
  def vacuum(spark: SparkSession, storeDir: String,
             retainBatches: Int = 1): (Int, Int) =
    ManifestStore.vacuum(spark, storeDir, retainBatches)

  /** Idempotent merge of one micro-batch into the stored sketch table.
    * Public so a batch backfill can use the identical path. Backfill
    * batchId rules (manifest precedence is NUMERIC order, and the
    * stream's own ids grow without bound): NEGATIVE ids are safe for
    * backfilling days the store has never seen (no competing manifest
    * exists, so precedence never binds) and can never collide with a
    * future stream batch; a backfill that must RE-MERGE days the
    * stream owns needs an id above every committed one, which is only
    * safe with the stream quiesced — done live, the stream eventually
    * reaches that id, and the sink then fails loudly (see
    * [[startDailySketchView]]) rather than silently dropping the
    * colliding micro-batch. Always check the return value.
    *
    * Single WRITER per store assumed (same contract as
    * [[graft.tx.ProcessedStore]]): the manifest check and the merge are
    * not one atomic step, so two processes racing the SAME batchId can
    * both merge before either renames its manifest — the loser's
    * rename lands second and its files silently shadow the winner's
    * for those days (both computed from the same pre-commit state, so
    * content is equivalent for honest replays; true multi-writer
    * safety needs a transactional table format). This ledger targets
    * the single-writer restart re-delivery case.
    *
    * @return true if this call committed the batch (including
    *         completing a crash-interrupted commit: orphan data files
    *         from the crashed attempt are invisible to [[readStore]],
    *         so the re-merge runs from the exact pre-crash state and
    *         overwrites them); false if `batchId` was already
    *         committed (restart re-delivery, or a backfill id
    *         colliding with the ledger) — callers doing backfills MUST
    *         check this, a dropped shard is otherwise invisible. */
  def mergeBatch(batch: DataFrame, batchId: Long, storeDir: String): Boolean = {
    val spark = batch.sparkSession
    if (committed(spark, storeDir, batchId))
      return false // replayed completed batch: no-op
    mergedDelta(batch, storeDir) match {
      case Some(merged) =>
        try ManifestStore.commit(merged, storeDir, batchId, "day")
        finally { merged.unpersist(); () } // released per batch — a
        // long-running stream must not accumulate cached merge frames
      case None =>
        // empty delta: commit an empty manifest so the ledger still
        // records the batch (replay stays a no-op)
        ManifestStore.sealEmpty(spark, storeDir, batchId)
    }
    true
  }

  /** The store∪delta re-aggregation for one batch (None when the
    * batch contributes no day rows). `day` is the store key: a
    * null-ts row has no day to merge into — excluded (a pipeline that
    * cares about null-ts rows quarantines them upstream). Existing
    * rows come from the MANIFEST-visible store only, so a crashed
    * prior attempt's files never feed the re-merge. */
  private def mergedDelta(batch: DataFrame, storeDir: String): Option[DataFrame] = {
    val spark = batch.sparkSession
    val delta = SketchTable.buildDaily(batch.filter(col("ts").isNotNull))
      .persist() // one build serves isEmpty + days + merge (3 actions)
    try {
      if (delta.isEmpty) None
      else {
        val days = delta.select(col("day")).distinct().collect()
          .map(_.getDate(0)).toSeq
        val existing = readStore(spark, storeDir)
          .where(col("day").isin(days: _*))
        // store rows are partials: combining = the same union/re-sum
        // aggregation that built them (sketch merge is associative).
        // allowMissingColumns: a store written before a sketch column
        // existed (schema evolution) null-fills it — the merge then
        // skips those nulls, so pre-upgrade rows contribute nothing to
        // the NEW sketch until backfilled (degraded, never wedged)
        val merged = existing
          .unionByName(delta, allowMissingColumns = true)
          .groupBy(col("day"))
          .agg(
            hll_union_agg(col("users_sketch"), lit(false)).as("users_sketch"),
            call_function("qsample_merge", col("value_sketch"))
              .as("value_sketch"),
            sum(col("n")).as("n"),
            sum(col("value_total")).as("value_total"))
          // eager persist (NOT localCheckpoint): the delta cache is
          // released in the finally below, the merged frame feeds
          // BOTH the commit write and (in the crash hook) a days
          // collect — one materialization per use-set, UNPERSISTED by
          // the caller once the commit lands (a checkpoint here would
          // pin blocks until driver GC and lose the batch outright on
          // executor loss; a persist recomputes from lineage instead)
          .persist()
        merged.count() // materialize while delta is still cached
        Some(merged)
      }
    } finally { delta.unpersist(); () }
  }

  /** Test hook: run the data-write half of [[mergeBatch]] and CRASH
    * before the manifest lands — the on-disk state of a kill between
    * the two. Returns the days the doomed commit wrote. */
  private[streaming] def mergeBatchCrashBeforeManifest(
      batch: DataFrame, batchId: Long, storeDir: String): Seq[java.sql.Date] = {
    val spark = batch.sparkSession
    require(!committed(spark, storeDir, batchId), "batch already committed")
    mergedDelta(batch, storeDir) match {
      case Some(merged) =>
        try {
          val days = merged.select(col("day")).distinct().collect()
            .map(_.getDate(0)).toSeq
          ManifestStore.writeBatchData(merged, storeDir, batchId, "day")
          days // …and "crash": no manifest
        } finally { merged.unpersist(); () }
      case None => Seq.empty
    }
  }
}
