package graft.streaming

import graft.tx.TxSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** P1–P2 of SURVEY §2.3: Kafka-message decoding.
  *
  * The reference consumer (spark_streaming_consumer.py:210–212) does
  * `selectExpr("CAST(value AS STRING)")` then `from_json` against its
  * explicit 16-field schema and flattens `data.*`. Same here, as one
  * whole-stage-codegen'd projection; malformed JSON yields an all-null
  * row (PERMISSIVE mode), preserving the reference's semantics.
  *
  * Works identically for a batch frame, a file-source stream (whose
  * `text` column is already a string) and a Kafka stream (whose `value`
  * is binary) — the cast covers both.
  */
object TransactionParser {

  /** Decode a frame holding one JSON transaction per row in `value`.
    * `User` is read as a string and cast to the long [[TxSchema.raw]]
    * declares: the reference producer sends the CSV dict's string
    * (`"User":"236"`), other producers a JSON number, and both must
    * decode to 236. An id that is not an integer decodes to NULL, as a
    * mistyped field always has. */
  def fromJsonValue(withValue: DataFrame): DataFrame =
    withValue
      .selectExpr("CAST(value AS STRING) AS value") // P1
      .select(from_json(col("value"), wire).as("data")) // P2
      .select("data.*")
      .withColumn("User", col("User").try_cast(LongType))

  private val wire = StructType(TxSchema.raw.map(f =>
    if (f.name == "User") f.copy(dataType = StringType) else f))

  /** Inverse transform — the Kafka producer's message shape
    * (pos_simulator.py:122,134–138): JSON-serialized row keyed by Card.
    * Used by the K5 sink and by round-trip tests. */
  def toJsonValue(raw: DataFrame): DataFrame =
    raw.select(
      col("Card").as("key"),
      to_json(struct(raw.columns.toIndexedSeq.map(col): _*)).as("value"))
}
