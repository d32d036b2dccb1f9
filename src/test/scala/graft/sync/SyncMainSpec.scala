package graft.sync

import graft.SparkSpec
import graft.streaming.{Pipeline, StreamMain, TransactionParser}
import graft.tx.{Enrichment, RawTransactions, Splitter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The daily half of the pipeline on the layout the stream writes:
  * [[StreamMain.run]] drains each day's traffic into the
  * manifest-committed stores, and [[SyncMain.run]] loads one day of
  * the `valid` store into the warehouse — exactly the committed rows,
  * day after day, into one warehouse table. */
class SyncMainSpec extends SparkSpec {

  private val pinnedClock = to_timestamp(lit("2024-06-01 00:00:00"))
  private val rate = Enrichment.DefaultRate

  private lazy val raw = RawTransactions.fromEvents(spark, sf)

  /** The first two days of the corpus, as (year, month, day). */
  private lazy val days: Seq[(Int, Int, Int)] =
    raw.select("Year", "Month", "Day").distinct()
      .orderBy("Year", "Month", "Day").limit(2).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq

  private def rowsOf(d: (Int, Int, Int)): DataFrame =
    raw.filter(col("Year") === d._1 && col("Month") === d._2 && col("Day") === d._3)

  /** The batch pipeline's valid count for one day. */
  private def batchValid(d: (Int, Int, Int)): Long =
    Splitter.valid(Enrichment.enrich(rowsOf(d), rate, pinnedClock)).count()

  /** Append one day's messages to the input and drain it. */
  private def streamDay(root: String, d: (Int, Int, Int)): StreamMain.Status = {
    TransactionParser.toJsonValue(rowsOf(d)).select("value")
      .coalesce(1).write.mode("append").text(s"$root/input")
    StreamMain.run(spark, s"$root/input", s"$root/out",
      rateFor = _ => rate, clock = pinnedClock)
  }

  private def sync(root: String, warehouse: String,
                   d: (Int, Int, Int)): SyncMain.Status =
    SyncMain.run(spark, Pipeline.StoreLayout(s"$root/out").valid,
      warehouse, d._1, d._2, d._3)

  test("two streamed days sync into one warehouse at the batch pipeline's valid counts") {
    val root = Files.createTempDirectory("graft-syncmain").toString
    val wh = s"$root/warehouse"
    assert(days.size === 2)
    val perDay = days.map { d =>
      streamDay(root, d)
      val st = sync(root, wh, d)
      assert(st.synced > 0L && st.synced === batchValid(d), s"day $d")
      assert(st.json ===
        s"""{"job":"daily_sync","date":"${d._1}-${d._2}-${d._3}","synced":${st.synced}}""")
      st.synced
    }
    val out = spark.read.parquet(wh)
    assert(out.columns.toSeq === Enrichment.outputColumns)
    assert(out.count() === perDay.sum)
    // each day's rows landed once, under their own date
    days.zip(perDay).foreach { case (d, n) =>
      assert(out.filter(col("Year") === d._1 && col("Month") === d._2 &&
        col("Day") === d._3).count() === n)
    }
  }

  test("an unsealed batch (data written, manifest not renamed in) never reaches the warehouse") {
    val root = Files.createTempDirectory("graft-syncmain-orphan").toString
    val d = days.head
    streamDay(root, d)
    val validDir = Pipeline.StoreLayout(s"$root/out").valid
    // the crash window between a batch's data write and its seal: the
    // same day's valid rows land under a batch directory no manifest
    // lists
    val orphanId = 1000L
    ManifestStore.writeBatchData(
      ManifestStore.readStore(spark, validDir).get, validDir, orphanId, "ymd")
    assert(new java.io.File(s"$validDir/data/b$orphanId").exists())
    assert(!ManifestStore.committed(spark, validDir, orphanId))
    val st = sync(root, s"$root/warehouse", d)
    assert(st.synced === batchValid(d))
    assert(spark.read.parquet(s"$root/warehouse").count() === batchValid(d))
  }

  test("an empty store and a day with no traffic sync zero rows") {
    val root = Files.createTempDirectory("graft-syncmain-empty").toString
    assert(sync(root, s"$root/warehouse", days.head).synced === 0L)
    streamDay(root, days.head)
    assert(sync(root, s"$root/warehouse", (1999, 1, 1)).synced === 0L)
  }
}
