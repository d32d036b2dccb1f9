package graft.llmdata

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the r16 bounded top-k aggregate (`topk_pairs`) to the
  * row_number-window idiom it replaced: for every group the aggregate
  * must return exactly the rows `row_number() OVER (PARTITION BY g
  * ORDER BY score DESC, id ASC) <= k` kept, in rank order, so
  * posexplode index + 1 IS the old rank. Exercised across multiple
  * partitions so the partial/merge/serialize path runs, and on the
  * edge shapes the call sites rely on: groups smaller than k, score
  * ties broken by id ASC, null scores sorting last, and the
  * round6-micro encoding (incl. NaN and NULL) used by
  * Similarity.simTopK.
  */
class TopKPairsSpec extends SparkSpec {
  import spark.implicits._

  private def windowRef(df: DataFrame, k: Int): Seq[(Long, Long, Long, Int)] = {
    val w = Window.partitionBy(col("g"))
      .orderBy(col("score").desc_nulls_last, col("id"))
    df.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("g"), col("score"), col("id"), col("rnk"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) Long.MinValue else r.getLong(1),
        r.getLong(2), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))
  }

  private def aggForm(df: DataFrame, k: Int): Seq[(Long, Long, Long, Int)] =
    df.groupBy(col("g"))
      .agg(call_function("topk_pairs", col("score"), col("id"), lit(k)).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), col("col.score"), col("col.id"),
        (col("pos") + lit(1)).cast("int").as("rnk"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))

  test("topk_pairs ≡ row_number window: ranks, ties, short groups, across partitions") {
    // deterministic pseudo-random scores with engineered ties; group 7
    // has fewer than k rows; ids unique per group (the call-site
    // contract)
    val rows = for {
      g <- 0L until 8L
      i <- 0L until (if (g == 7) 3L else 40L)
    } yield (g, ((g * 31 + i * 17) % 11) * 1000L, i)
    val df = rows.toDF("g", "score", "id").repartition(7)
    for (k <- Seq(1, 5, 40))
      assert(aggForm(df, k) === windowRef(df, k), s"k=$k")
  }

  test("topk_pairs: null scores sort last among themselves by id ASC") {
    val df = Seq[(Long, Option[Long], Long)](
      (0L, Some(5L), 1L), (0L, None, 2L), (0L, Some(9L), 3L),
      (0L, None, 0L), (0L, Some(5L), 0L))
      .toDF("g", "score", "id").repartition(3)
    // window ref with nulls last: 9→id3, 5→id0, 5→id1, null→id0, null→id2
    assert(aggForm(df, 5).map(t => (t._3, t._4)) ===
      Seq((3L, 1), (0L, 2), (1L, 3), (0L, 4), (2L, 5)))
    assert(aggForm(df, 5) === windowRef(df, 5))
  }

  test("simTopK micro-encoding ≡ the sim-desc window it replaced, incl. NaN sims") {
    // round6-quantized sims exactly as the call sites produce them
    // (Similarity.round6), plus a zero-norm NaN group — NaN sorts
    // FIRST under sim.desc, which the encoding maps to Long.MaxValue —
    // and a group smaller than k with NULL sims, which sort last and
    // must come back NULL
    val sims = for {
      q <- 0L until 5L
      n <- 0L until (if (q == 4) 6L else 30L)
      if n != q
    } yield (q, n,
      if (q == 4 && n >= 3) None
      else if (q == 3 && n < 5) Some(Double.NaN)
      else Some(math.round((math.sin(q * 131 + n * 37) * 0.999) * 1e6) / 1e6))
    val scored = sims.toDF("query_id", "neighbor_id", "sim").repartition(5)
    val k = 7
    // NaN- and NULL-tolerant equality: compare the sims' bit patterns
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0),
      r.getLong(1), r.getInt(2),
      if (r.isNullAt(3)) None
      else Some(java.lang.Double.doubleToLongBits(r.getDouble(3))))).toSeq
    val agg = rows(Similarity.simTopK(scored, k))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val ref = rows(scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("sim")))
    assert(ref.count(_._4.isEmpty) === 2)
    assert(agg.sorted === ref.sorted)
  }
}
