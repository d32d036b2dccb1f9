package graft.streaming

import graft.tx.{Enrichment, Splitter}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The streaming pipeline (SURVEY §2.11, §3.1): source → P1–P17
  * enrichment → F1–F4 split → the four bucket stores.
  *
  * Because [[Enrichment.enrich]] is stateless column algebra, the same
  * function serves `spark.read` and `spark.readStream`; this object only
  * adds the streaming wiring — sources, triggers, checkpoints, and the
  * fan-out.
  *
  * Fan-out strategy: the reference starts up to 5 independent streaming
  * queries that each re-read Kafka and re-run the full enrichment
  * (spark_streaming_consumer.py:442–505 — no cross-query CSE in
  * Structured Streaming). [[startFanOutCommitted]] instead runs ONE
  * query and fans out inside `foreachBatch` with the batch persisted
  * across the four bucket commits — the §4.3 fix: one source read, one
  * enrichment pass, identical per-sink outputs. It is the only way the
  * transaction stream is written; the daily sync
  * ([[graft.sync.DailySync]]) reads its `valid` store through the same
  * manifest.
  */
object Pipeline {

  /** S1: Kafka stream source (spark_streaming_consumer.py:177–198).
    * Compiles against plain Spark; needs the spark-sql-kafka connector
    * jar at runtime (not shipped in this container). */
  def kafkaSource(spark: SparkSession, servers: String, topic: String): DataFrame =
    TransactionParser.fromJsonValue(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .option("failOnDataLoss", "false")
        .load())

  /** File-source stand-in for Kafka used by tests/demos: one JSON
    * message per line, read through the same P1–P2 decode path (the
    * `text` source exposes each line as a `value` column, exactly like
    * the Kafka frame post-cast). */
  def jsonFileSource(spark: SparkSession, dir: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = maxFilesPerTrigger.foldLeft(spark.readStream)(
      (r, n) => r.option("maxFilesPerTrigger", n))
    TransactionParser.fromJsonValue(reader.text(dir))
  }

  /** Ledger fold cadence of every manifest-committed streaming writer
    * ([[startFanOutCommitted]], [[SketchView]], [[MaterializedView]],
    * the LLM-data ingest): every K commits the ledger collapses to one
    * snapshot, so reads parse ≤ K manifests on top of it. Small enough
    * to bound metadata, large enough that fold cost (rewrite of one
    * small composition file) stays negligible against K data
    * commits. */
  val SnapshotEvery = 16

  /** Bucket layout of a pipeline run, mirroring the reference's four
    * bucket sinks (valid/fraud → K2, errors → K3, invalid → the K4
    * validation log): each bucket is a [[graft.sync.ManifestStore]]
    * root rather than a bare directory. */
  case class StoreLayout(root: String) {
    val valid = s"$root/valid"
    val fraud = s"$root/fraud"
    val errors = s"$root/errors"
    val invalidLog = s"$root/invalid_log"
    val checkpoint = s"$root/_checkpoints/committed-fanout"
    def all: Seq[String] = Seq(valid, fraud, errors, invalidLog)
  }

  /** Manifest-committed fan-out — the engine [[StreamMain]] ships:
    * every micro batch commits each bucket into its
    * [[graft.sync.ManifestStore]] under the batch's OWN immutable
    * directory, manifest renamed in last. Plain `.write.mode("append")`
    * inside `foreachBatch` is exactly-once only while sink writes and
    * the offset commit never tear: a crash between the last bucket
    * write and the checkpoint commit replays the batch into sinks that
    * already absorbed it — duplicates. Here a replayed batch finds its
    * id in each store's ledger and skips the stores it already reached
    * (a partially-committed batch re-runs only its missing buckets),
    * so crash-at-any-point ≡ the uncrashed run — the
    * SketchView/MaterializedView commit contract, now on the raw
    * pipeline itself. valid/fraud/errors keep the reference's date
    * partitioning as a single `ymd` partition column
    * (Year·10⁴+Month·10²+Day; the daily sync prunes on it, other
    * readers drop it); the 5-column validation log is date-free and
    * lands under one constant partition. `onFreshBatch` fires once per
    * batch that found work — the [[StreamMain]] status counter.
    *
    * The rate is resolved PER BATCH — the fix for the reference's
    * stale-rate limitation (SURVEY §4.1: rate fetched once per
    * process, wrong across day boundaries in a long-running stream).
    * `rateFor(today())` runs on the driver at the start of every
    * micro batch (the [[graft.rates.RateService]] per-date cache makes
    * repeat calls free) and the resolved scalar enters the batch plan
    * as a literal — same broadcast-scalar shape, fresh each day. */
  def startFanOutCommitted(source: DataFrame, layout: StoreLayout,
                           rateFor: java.time.LocalDate => Double,
                           trigger: Trigger = Sinks.DefaultTrigger,
                           clock: Column = current_timestamp(),
                           onFreshBatch: Long => Unit = _ => (),
                           today: () => java.time.LocalDate =
                             () => java.time.LocalDate.now(),
                           retainBatches: Int = 1): StreamingQuery = {
    import graft.sync.ManifestStore
    val firstDelivery = new java.util.concurrent.atomic.AtomicBoolean(true)
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", layout.checkpoint)
      .trigger(trigger)
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        val spark = rawBatch.sparkSession
        val pending = layout.all
          .filterNot(ManifestStore.committed(spark, _, batchId))
        val wasFirst = firstDelivery.getAndSet(false)
        // an id fully committed MID-stream is a ledger collision (a
        // backfill used a streaming id): dropping the batch silently
        // would lose its rows — fail loudly, the SketchView contract.
        // Only the FIRST delivery after (re)start may legitimately be
        // a fully-committed replay (crash after seals, before the
        // checkpoint commit). Caveat, documented: a WIPED checkpoint
        // replays everything as batch 0 — identical content is a safe
        // no-op (spec-pinned), but files that never committed under
        // the old ledger need a backfill id, not a wipe.
        if (pending.isEmpty && !wasFirst)
          throw new IllegalStateException(
            s"fan-out batch $batchId is already committed in every " +
              "bucket store mid-stream: a backfill id collided with " +
              "the streaming ledger - this micro batch would " +
              "otherwise be silently dropped")
        if (pending.nonEmpty) {
          onFreshBatch(batchId)
          val ymd = coalesce(
            col("Year").cast("long") * 10000L +
              col("Month").cast("long") * 100L + col("Day").cast("long"),
            lit(0L))
          val batch = Enrichment.enrich(rawBatch, rateFor(today()), clock)
          batch.persist()
          try {
            def put(store: String, df: DataFrame): Unit =
              if (pending.contains(store))
                ManifestStore.commit(df, store, batchId, "ymd", append = true)
            put(layout.valid, Splitter.valid(batch).withColumn("ymd", ymd))
            put(layout.fraud, Splitter.fraud(batch).withColumn("ymd", ymd))
            put(layout.errors,
              Enrichment.project(Splitter.errors(batch)).withColumn("ymd", ymd))
            put(layout.invalidLog, Splitter.invalid(batch)
              .select(Sinks.validationLogColumns.map(col): _*)
              .withColumn("ymd", lit(0L)))
            // fold each ledger every K commits (the SketchView cadence;
            // single writer, between seals, never racing one) so a
            // long-running stream's per-read ledger cost stays O(K);
            // after a fold, vacuum reclaims the folded manifests (in
            // append mode nothing supersedes, so data files never go);
            // retainBatches > 1 keeps the last R versions time-travel-
            // readable across the reclaim (the retention schedule the
            // as-of docs point to)
            layout.all.foreach { store =>
              if (ManifestStore.maybeSnapshot(spark, store, SnapshotEvery).nonEmpty)
                ManifestStore.vacuum(spark, store, retainBatches)
            }
          } finally batch.unpersist()
        }
        ()
      }
      .start()
  }
}
