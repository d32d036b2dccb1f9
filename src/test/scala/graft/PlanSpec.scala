package graft

import graft.queries.Relational
import graft.streaming.{Pipeline, StreamMain, TransactionParser}
import graft.sync.{DailySync, ManifestStore}
import graft.tx.{Enrichment, RawTransactions, Splitter, TxQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Physical-plan assertions — the 100 TB lens as executable checks:
  * filters and projections must reach the parquet scan, partition
  * pruning must fire for the daily sync, small dimensions must
  * broadcast, and global top-k must plan as TakeOrderedAndProject
  * (never a global sort).
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter + projection push down into the lineitem parquet scan") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= "1998-09-02")
      .select(col("l_returnflag"), col("l_quantity"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$p")
    // scan must read only the 3 referenced columns, not the full table
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema:")).get
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity")
      && readSchema.contains("l_shipdate") && !readSchema.contains("l_extendedprice"),
      s"scan reads too much: $readSchema")
  }

  test("runtime bloom filter from a selective dim prunes the fact side of a shuffle join") {
    // At warehouse scale a selective dimension predicate should reach
    // the fact scan as a runtime bloom filter (Spark's InjectRuntimeFilter)
    // when the dim side is too big to broadcast. Locally the tables sit
    // under the size thresholds, so pin them down for the assertion.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dim = Tables.orders(spark, sf).filter(col("o_totalprice") > 500000)
      val joined = Tables.lineitem(spark, sf)
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // The engine's answer to join skew a salt can't reach (the skewed
    // side is the JOIN input, not an aggregation): AQE's
    // OptimizeSkewedJoin splits oversized shuffle partitions into
    // parallel sub-reads at runtime. Locally everything is tiny, so pin
    // the skew thresholds down and verify the mechanism actually fires
    // — the executed plan must carry the skew=true SMJ marker. This is
    // runtime behavior: the final adaptive plan exists only after an
    // action. The join must be the terminal operator here: a downstream
    // shuffle consumer (e.g. a groupBy on another key) makes
    // OptimizeSkewedJoin decline the rewrite unless
    // spark.sql.adaptive.forceOptimizeSkewedJoin is set.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carrying 200k of 210k rows — the classic Zipf join
      // payload is hashed so the hot partition's shuffle bytes don't
      // compress away under the skew threshold
      val facts = spark.range(210000)
        .select(when(col("id") < 200000, 0L).otherwise(col("id")).as("k"),
          xxhash64(col("id")).as("v"), md5(col("id").cast("string")).as("pad"))
      val dim = spark.range(1000).select(col("id").as("k"), lit("d").as("tag"))
      val joined = facts.join(dim, "k")
      // collect() drives THIS df's query execution — the adaptive plan
      // only finalizes (and records the skew split) after an action on
      // the same queryExecution
      assert(joined.collect().length === 200000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not split the skewed join partition:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q6's range predicates reach the parquet scan as pushed filters") {
    val p = plan(graft.queries.Relational.q6ForecastRevenue(spark, sf))
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThan(l_quantity"),
      s"q6 scan predicates not pushed:\n$p")
  }

  test("daily sync read of the stream's valid store is partition-pruned to one ymd") {
    // the store is written the way the stream writes it: a StreamMain
    // drain commits each micro batch under the manifest, ymd-partitioned
    val root = Files.createTempDirectory("graft-plan").toString
    TransactionParser.toJsonValue(RawTransactions.fromEvents(spark, sf))
      .select("value").coalesce(1).write.text(s"$root/input")
    StreamMain.run(spark, s"$root/input", s"$root/out",
      rateFor = _ => Enrichment.DefaultRate,
      clock = to_timestamp(lit("2024-06-01 00:00:00")))
    val validDir = Pipeline.StoreLayout(s"$root/out").valid

    val firstDay = ManifestStore.readStore(spark, validDir).get
      .select("Year", "Month", "Day").distinct()
      .orderBy("Year", "Month", "Day").limit(1).collect()(0)
    val (y, m, d) = (firstDay.getInt(0), firstDay.getInt(1), firstDay.getInt(2))

    val p = plan(DailySync.dayPartition(spark, validDir, y, m, d).get)
    val pruned = p.linesIterator.filter(_.trim.startsWith("PartitionFilters:")).toSeq
    assert(pruned.nonEmpty && pruned.forall(l =>
      l.contains("(ymd#") && l.contains(s"= ${y * 10000 + m * 100 + d})")),
      s"no ymd partition pruning in:\n$p")

    // end-to-end: sync appends exactly that day's rows in K6 order
    val n = DailySync.syncDay(spark, validDir, s"$root/warehouse", y, m, d)
    val wh = spark.read.parquet(s"$root/warehouse")
    assert(n > 0 && wh.count() === n)
    assert(wh.columns.toSeq === Enrichment.outputColumns)
  }

  test("q2's nation/region dimensions broadcast instead of shuffling") {
    val p = plan(Relational.q2RegionRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("tx11 as-of facts join the resolved rate dimension via broadcast, not shuffle") {
    val p = plan(TxQueries.tx11VndAsofGapfill(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the resolved as-of dimension must broadcast into the fact scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of must never range-join the facts")
  }

  test("global top-k plans as TakeOrderedAndProject, not a global sort") {
    assert(plan(Relational.q15TopOrders(spark, sf)).contains("TakeOrderedAndProject"))
    assert(plan(TxQueries.tx6MerchantTopk(spark, sf)).contains("TakeOrderedAndProject"))
  }

  test("per-group top-k pushes the rank limit below the window (WindowGroupLimit)") {
    // rnk <= k must prune INSIDE each sort partition before the full
    // window materializes — without this rewrite a per-doc top-3 sorts
    // and ranks every (doc, term) row at the reducer
    assert(plan(graft.llmdata.TextAnalysis.tfidfTopTerms(spark, sf, 3))
      .contains("WindowGroupLimit"))
    assert(plan(Relational.q10TopPartsPerSupplier(spark, sf))
      .contains("WindowGroupLimit"))
  }

  test("sketch aggregates partial-aggregate map-side: buffers cross the shuffle, not raw rows") {
    // the stored-sketch table's scale claim is that each executor ships
    // one sketch buffer per (partition, day), never user ids/values —
    // i.e. the ObjectHashAggregate pair (partial below the exchange,
    // merge above it) that TypedImperativeAggregate plans as. A plan
    // that aggregated only after the exchange would ship every raw row.
    val p = plan(graft.sync.SketchTable.buildDaily(Tables.events(spark, sf)))
    val kinds = p.linesIterator
      .filter(l => l.contains("ObjectHashAggregate") || l.contains("Exchange"))
      .toList
    assert(kinds.count(_.contains("ObjectHashAggregate")) >= 2,
      s"expected partial+merge ObjectHashAggregate pair in:\n$p")
    // the pair must SANDWICH the exchange (one aggregate on each side
    // of it) — whichever direction the explain prints, the textual
    // Agg…Exchange…Agg order only holds for the partial/merge split
    val firstAgg = p.indexOf("ObjectHashAggregate")
    val exchange = p.indexOf("Exchange", firstAgg)
    val mergeAgg = p.indexOf("ObjectHashAggregate", exchange)
    assert(firstAgg >= 0 && exchange > firstAgg && mergeAgg > exchange,
      s"aggregates don't sandwich the exchange in:\n$p")
  }

  test("bucketed warehouse tables join with zero shuffle exchanges") {
    import graft.sync.Warehouse
    try {
      Warehouse.writeBucketed(
        Tables.orders(spark, sf), "orders_b", "o_custkey", 8)
      Warehouse.writeBucketed(
        Tables.customer(spark, sf), "customer_b", "c_custkey", 8)
      // hint("merge") pins the sort-merge strategy (at sf0.001 AQE would
      // broadcast instead) WITHOUT mutating shared session conf — suites
      // run in parallel on one session, so conf flips would race
      val joined = spark.table("orders_b").hint("merge").join(
        spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), s"expected SMJ in:\n$p")
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$p")
      assert(joined.count() === Tables.orders(spark, sf).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("materialized processed table partition-prunes a single-day tx query") {
    val pt = TxQueries.processedTable(spark, sf)
    val day = pt.select("Year", "Month", "Day").na.drop().distinct()
      .orderBy("Year", "Month", "Day").limit(1).collect()(0)
    val p = plan(pt.filter(
      col("Year") === day.getInt(0) && col("Month") === day.getInt(1) &&
        col("Day") === day.getInt(2)))
    assert(p.contains("PartitionFilters:") && p.contains(s"= ${day.getInt(0)}"),
      s"single-day read of the materialized layout must prune partitions:\n$p")
  }

  test("dynamic partition pruning: a filtered dim prunes the partitioned fact at runtime") {
    // DPP is the 100 TB mechanism static pruning can't replace: the
    // day list arrives from a JOIN (dim side), not a literal, so the
    // partitioned scan must receive a dynamicpruningexpression that
    // skips non-matching Year/Month/Day directories at execution time
    // (reusing the dim's broadcast — no extra scan).
    val pt = TxQueries.processedTable(spark, sf)
    val days = pt.select("Day").na.drop().distinct()
      .orderBy("Day").limit(2).collect().map(_.getInt(0))
    val dim = spark.range(0, 32).toDF("d")
      .filter(col("d").isin(days.map(_.toLong): _*))
    val joined = pt.join(broadcast(dim), col("Day") === col("d"))
      .groupBy(col("Day")).agg(count(lit(1)).as("n"))
    val p = plan(joined)
    assert(p.contains("dynamicpruningexpression"),
      s"partitioned fact scan must carry a DPP filter:\n$p")
    // and it actually executes: only the dim's days come back
    val got = joined.collect().map(_.getInt(0)).sorted
    assert(got.toSeq === days.toSeq.sorted)
  }

  test("enrichment + split stays in one whole-stage codegen span (no UDF breaks)") {
    val p = plan(Splitter.valid(TxQueries.processed(spark, sf)))
    // formatted mode marks codegen'd operators with "* Node [codegen id : n]"
    assert(p.contains("[codegen id :"), s"no codegen span in:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "hot path must not contain UDF evaluation nodes")
  }
}
