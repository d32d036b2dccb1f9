package graft.sync

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** purgeKeys must delete exactly the keyed rows, rewrite only the
  * partitions that held them, and leave every other partition alone. */
class CompactionSpec extends SparkSpec {

  /** Controlled 3-day store: card "c1" lives only in day 1, "c2" spans
    * days 1–2, "c3" is the SOLE occupant of day 3, "c0" pads every day. */
  private def purgeFixture(): String = {
    import spark.implicits._
    val storeDir = Files.createTempDirectory("graft-purge").toString + "/store"
    Seq(
      ("c0", 2024, 6, 1, 10.0), ("c1", 2024, 6, 1, 11.0),
      ("c2", 2024, 6, 1, 12.0),
      ("c0", 2024, 6, 2, 20.0), ("c2", 2024, 6, 2, 21.0),
      ("c3", 2024, 6, 3, 30.0),
      ("c0", 2024, 6, 4, 40.0))
      .toDF("Card", "Year", "Month", "Day", "Amount_USD")
      .write.partitionBy("Year", "Month", "Day").parquet(storeDir)
    storeDir
  }

  test("purgeKeys deletes exactly the keyed rows and rewrites only affected partitions") {
    val storeDir = purgeFixture()
    val untouchedDir = new java.io.File(s"$storeDir/Year=2024/Month=6/Day=4")
    val mtimesBefore = untouchedDir.list().sorted.mkString(",") +
      untouchedDir.listFiles().map(_.lastModified()).sorted.mkString(",")

    // c1 (day 1 only) + c2 (days 1-2): days 1 and 2 affected, 3 rows out
    val (nParts, nRows) =
      Compaction.purgeKeys(spark, storeDir, "Card", Seq("c1", "c2"))

    assert((nParts, nRows) === ((2L, 3L)))
    val after = spark.read.parquet(storeDir)
    assert(after.count() === 4)
    assert(after.filter(col("Card").isin("c1", "c2")).count() === 0)
    assert(after.filter(col("Card") === "c0").count() === 3,
      "bystander rows in affected partitions must survive")
    val mtimesAfter = untouchedDir.list().sorted.mkString(",") +
      untouchedDir.listFiles().map(_.lastModified()).sorted.mkString(",")
    assert(mtimesAfter === mtimesBefore, "unaffected partition was rewritten")
    // purging a key that matches nothing is a no-op
    assert(Compaction.purgeKeys(spark, storeDir, "Card", Seq("no-such-card"))
      === ((0L, 0L)))
  }

  test("purgeKeys removes a partition directory when every row in it is purged") {
    val storeDir = purgeFixture()
    // c3 is day 3's only row: the partition directory itself must go
    val (nParts, nRows) =
      Compaction.purgeKeys(spark, storeDir, "Card", Seq("c3"))
    assert((nParts, nRows) === ((1L, 1L)))
    assert(!new java.io.File(s"$storeDir/Year=2024/Month=6/Day=3").exists(),
      "fully-purged partition directory must be removed")
    assert(spark.read.parquet(storeDir).count() === 6)
  }
}
