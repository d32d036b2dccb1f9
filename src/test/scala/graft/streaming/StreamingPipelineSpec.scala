package graft.streaming

import graft.SparkSpec
import graft.sync.ManifestStore
import graft.tx.{Enrichment, RawTransactions, Splitter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** STR (SURVEY §2.11): the streaming pipeline must produce exactly the
  * batch pipeline's outputs, because enrichment+split are stateless.
  * Input is the deterministic RawTransactions view serialized to JSON
  * lines (the Kafka message shape, minus the broker), drained with
  * `Trigger.AvailableNow` through the P1–P2 decode path into the four
  * manifest-committed bucket stores, which are read back through
  * [[graft.sync.ManifestStore.readStore]].
  */
class StreamingPipelineSpec extends SparkSpec {

  private val pinnedClock = to_timestamp(lit("2024-06-01 00:00:00"))
  private val rate = Enrichment.DefaultRate

  private lazy val root = Files.createTempDirectory("graft-stream").toString
  private lazy val inputDir = s"$root/input"

  private lazy val raw = RawTransactions.fromEvents(spark, sf)

  /** Batch-side expected buckets over the same rows. */
  private lazy val expected =
    Enrichment.enrich(raw, rate, pinnedClock).cache()

  private def store(dir: String): DataFrame =
    ManifestStore.readStore(spark, dir).get

  private def drain(): StreamMain.Status =
    StreamMain.run(spark, inputDir, s"$root/out",
      rateFor = _ => rate, clock = pinnedClock)

  private lazy val layout = {
    TransactionParser.toJsonValue(raw).select("value")
      .coalesce(1).write.mode("overwrite").text(inputDir)
    drain()
    Pipeline.StoreLayout(s"$root/out")
  }

  test("fan-out streaming run produces the batch pipeline's bucket counts") {
    assert(store(layout.valid).count() === Splitter.valid(expected).count())
    assert(store(layout.fraud).count() === Splitter.fraud(expected).count())
    assert(store(layout.errors).count() === Splitter.errors(expected).count())
    assert(store(layout.invalidLog).count() === Splitter.invalid(expected).count())
  }

  test("streaming valid bucket matches batch values, not just counts") {
    val got = store(layout.valid)
      .agg(
        sum(col("Amount_USD").cast("decimal(18,2)")).as("usd"),
        countDistinct(col("Card")).as("cards"))
      .collect()(0)
    val want = Splitter.valid(expected)
      .agg(
        sum(col("Amount_USD").cast("decimal(18,2)")).as("usd"),
        countDistinct(col("Card")).as("cards"))
      .collect()(0)
    assert(got === want)
  }

  test("valid store is partitioned by each row's ymd = Year·10⁴ + Month·10² + Day") {
    val partDirs = new java.io.File(s"${layout.valid}/data").listFiles().toSeq
      .flatMap(_.list().filterNot(n => n.startsWith("_") || n.startsWith(".")))
    assert(partDirs.nonEmpty && partDirs.forall(_.startsWith("ymd=")), partDirs)
    val v = store(layout.valid)
    assert(v.select("ymd").distinct().count() > 1)
    assert(v.filter(col("ymd") =!=
      col("Year") * 10000 + col("Month") * 100 + col("Day")).count() === 0)
  }

  test("validation log carries exactly the reference's 5-column layout") {
    val invalidOut = store(layout.invalidLog).drop("ymd")
    assert(invalidOut.columns.toSeq === Sinks.validationLogColumns)
    // every logged reason is one of the two reference reasons
    val reasons = invalidOut.select("invalid_reason").distinct()
      .collect().map(_.getString(0)).toSet
    assert(reasons.subsetOf(Set("Invalid Date", "Data format invalid or missing")))
  }

  test("checkpoint recovery: a restarted query processes only new files, no duplicates") {
    val firstCount = store(layout.valid).count()
    // drop 2 more raw batches into the SAME input dir
    val extra = raw.limit(40)
    TransactionParser.toJsonValue(extra).select("value")
      .coalesce(1).write.mode("append").text(inputDir)
    // restart with the SAME checkpoint: only the new file may be processed
    val st = drain()
    val expectedExtra = Splitter.valid(
      Enrichment.enrich(extra, rate, pinnedClock)).count()
    assert(st.newBatches === 1L)
    assert(store(layout.valid).count() === firstCount + expectedExtra)
  }

  test("malformed JSON decodes to all-null rows that drop through every bucket") {
    import spark.implicits._
    // beside the two malformed messages, one clean transaction twice:
    // `User` as the reference producer's CSV-dict string and as a JSON
    // number must decode alike and reach valid
    def clean(user: String) =
      s"""{"User":$user,"Card":"4532015112830366","Year":2024,"Month":1,""" +
        """"Day":15,"Time":"08:30:15","Amount":"$125.50",""" +
        """"Use Chip":"Chip Transaction","Merchant Name":"Starbucks Coffee",""" +
        """"Merchant City":"New York","Merchant State":"NY","Zip":"10001",""" +
        """"MCC":"5812","Errors?":"","Is Fraud?":"No",""" +
        """"timestamp":"2024-01-15T08:30:15"}"""
    val mixed = Seq("this is not json", "{\"Card\": \"oops",
      clean("\"236\""), clean("236")).toDF("value")
    val enriched = Enrichment.enrich(
      TransactionParser.fromJsonValue(mixed), rate, pinnedClock)
    // PERMISSIVE parse: no crash, malformed rows survive as all-null
    assert(enriched.count() === 4)
    // reference semantics: null User/Card + null Is_Fraud matches NO
    // bucket predicate — malformed messages silently vanish from every
    // sink (there is no dead-letter path; Splitter DROP-THROUGH note)
    assert(Splitter.errors(enriched).count() === 0)
    assert(Splitter.fraud(enriched).count() === 0)
    assert(Splitter.valid(enriched).select("User").as[Long].collect().toSeq ===
      Seq(236L, 236L))
    assert(Splitter.invalid(enriched).count() === 0)
  }

  test("per-batch rate refresh: a new day's batch gets the new day's rate") {
    val root2 = Files.createTempDirectory("graft-rates").toString
    val in = s"$root2/in"
    val msgs = TransactionParser.toJsonValue(raw.limit(50)).select("value")
    msgs.coalesce(1).write.mode("append").text(in)

    val days = Iterator(
      java.time.LocalDate.parse("2024-06-01"),
      java.time.LocalDate.parse("2024-06-02"))
    var day = days.next()
    val rates = Map("2024-06-01" -> 25000.0, "2024-06-02" -> 26000.0)
    val layout2 = Pipeline.StoreLayout(s"$root2/out")

    def runOnce(): Unit = {
      val q = Pipeline.startFanOutCommitted(
        Pipeline.jsonFileSource(spark, in), layout2,
        d => rates(d.toString), Trigger.AvailableNow,
        pinnedClock, today = () => day)
      q.awaitTermination()
    }
    runOnce() // day 1
    day = days.next()
    msgs.coalesce(1).write.mode("append").text(in) // next day's traffic
    runOnce() // day 2 — checkpoint skips day 1's files

    val out = store(layout2.valid)
      .select(col("Exchange_Rate")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(out === Set(25000, 26000))
  }

  test("K5 Kafka message shape round-trips through the P1-P2 decode path") {
    val msgs = TransactionParser.toJsonValue(raw)
    assert(msgs.columns.toSeq === Seq("key", "value")) // keyed by Card
    val back = TransactionParser.fromJsonValue(msgs.select("value"))
    assert(back.columns.toSeq === raw.columns.toSeq)
    def checksum(df: DataFrame) = df
      .select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
    assert(checksum(back) === checksum(raw))
  }

  test("K6 warehouse append enforces the 21-column select order") {
    val wh = s"$root/warehouse"
    Sinks.warehouseAppend(expected, wh)
    Sinks.warehouseAppend(expected, wh) // append semantics
    val out = spark.read.parquet(wh)
    assert(out.columns.toSeq === Enrichment.outputColumns)
    assert(out.count() === expected.count() * 2)
  }
}
