package graft.sim

import graft.SparkSpec
import graft.streaming.{Pipeline, StreamMain, TransactionParser}
import graft.sync.ManifestStore
import graft.tx.{Enrichment, Splitter, TxSchema}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Producer semantics (§3.2) against the reference's golden corpus:
  * date-part overwrite, timestamp synthesis, Card keying, and an
  * end-to-end replay → streaming-pipeline run. */
class ReplaySpec extends SparkSpec {

  private val sendDate = to_date(lit("2024-06-05"))

  private lazy val csvRaw = spark.read
    .option("header", "true")
    .schema(TxSchema.rawCsv)
    .csv("/root/reference/sample_data/raw_transactions.csv")

  private lazy val parsedBack = TransactionParser.fromJsonValue(
    Replay.toMessages(csvRaw, sendDate).select("value")).cache()

  test("producer overwrites Year/Month/Day with the send date, Time stays historical") {
    assert(parsedBack.count() === 123)
    assert(parsedBack.filter(col("Year") =!= 2024 || col("Month") =!= 6 ||
      col("Day") =!= 5).count() === 0)
    // timestamp = send date + CSV time-of-day
    assert(parsedBack.filter(!col("timestamp").startsWith("2024-06-05T")).count() === 0)
    assert(parsedBack
      .filter(col("Time").isNotNull)
      .filter(!col("timestamp").endsWith(col("Time"))).count() === 0)
  }

  test("messages are keyed by Card") {
    val msgs = Replay.toMessages(csvRaw, sendDate)
    assert(msgs.filter(col("key") =!= get_json_object(col("value"), "$.Card"))
      .count() === 0)
  }

  test("replayed micro-batches drive the streaming pipeline to the batch result") {
    val root = Files.createTempDirectory("graft-replay").toString
    val inDir = s"$root/msgs"
    val sent = Replay.replayToDir(csvRaw, inDir, sendDate, numBatches = 4)
    assert(sent === 123)
    // one file per emission
    assert(new java.io.File(inDir).list().count(_.startsWith("part-")) === 4)

    StreamMain.run(spark, inDir, s"$root/out",
      rateFor = _ => Enrichment.DefaultRate,
      clock = to_timestamp(lit("2024-06-05 12:00:00")))
    val layout = Pipeline.StoreLayout(s"$root/out")
    def count(store: String) = ManifestStore.readStore(spark, store).get.count()

    val expected = Enrichment.enrich(parsedBack, Enrichment.DefaultRate)
    assert(count(layout.valid) === Splitter.valid(expected).count())
    assert(count(layout.fraud) === 7) // golden invariant
    assert(count(layout.errors) === 4)
  }
}
