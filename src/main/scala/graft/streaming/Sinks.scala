package graft.streaming

import graft.tx.Enrichment
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's sink surface, K1–K6 of SURVEY §2.2, as far as it
  * lives outside the fan-out.
  *
  * K2–K4 (valid/fraud parquet, errors CSV, validation log) are the
  * four manifest-committed bucket stores of
  * [[Pipeline.startFanOutCommitted]], which projects the validation
  * log through [[validationLogColumns]]; K1 (the console debug view)
  * has no counterpart. What remains here: the reference's trigger
  * default (5-second processing time — tests and drains pass
  * `Trigger.AvailableNow`), the K5 Kafka producer and the K6
  * warehouse append the daily sync loads through.
  */
object Sinks {

  val DefaultTrigger: Trigger = Trigger.ProcessingTime("5 seconds")

  /** Validation-log projection, K4 (spark_streaming_consumer.py:377). */
  val validationLogColumns: Seq[String] =
    Seq("Card", "User", "Amount_USD", "invalid_reason", "timestamp")

  /** K5: Kafka producer sink — JSON value keyed by Card, ordered
    * at-least-once delivery (pos_simulator.py:45–60,113–160). Requires
    * the spark-sql-kafka connector on the classpath at runtime (not
    * shipped in this container — exercised only in shape via
    * [[TransactionParser.toJsonValue]] round-trip tests). */
  def kafka(raw: DataFrame, servers: String, topic: String,
            checkpoint: String,
            trigger: Trigger = DefaultTrigger): StreamingQuery =
    TransactionParser.toJsonValue(raw).writeStream
      .outputMode("append")
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("kafka.acks", "all")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  // ------------------------------------------------------------- batch

  /** K6: warehouse append sink with select-order enforcement — the
    * BigQuery loader's fixed 21-column schema + reorder-before-upload
    * (bigquery_update_scheduler.py:199–225,234–282) as a batch append
    * into a warehouse parquet table. Missing columns fail loudly
    * (analysis error), like the reference's explicit-schema load. */
  def warehouseAppend(processed: DataFrame, warehouseDir: String): Unit =
    processed
      .select(Enrichment.outputColumns.map(col): _*)
      .write.mode("append")
      .parquet(warehouseDir)
}
