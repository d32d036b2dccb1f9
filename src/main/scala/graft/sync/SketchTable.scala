package graft.sync

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pre-aggregated MERGEABLE-SKETCH table — the warehouse pattern that
  * makes "distinct users over an arbitrary date range" an O(#days)
  * query instead of a fact-table scan: each day's facts reduce ONCE to
  * a row carrying an HLL sketch (Apache DataSketches via Spark's
  * `hll_sketch_agg`, Spark 3.5+) next to the exact additive measures,
  * and any range rollup `hll_union_agg`s the stored sketches — no
  * re-scan, no distinct-key shuffle, mergeable across days/shards/
  * clusters by construction (the property plain `COUNT(DISTINCT)`
  * results lack: distinct counts don't add).
  *
  * This extends the engine's sketch rung (ea13 `approx_count_distinct`
  * = query-time HLL++, ea17 KMV = intersections, CMS = frequencies)
  * with sketches as STORED DATA — the reference's BigQuery layer has
  * no equivalent; at 100 TB this table is what a dashboard's
  * "uniques this month/quarter/YTD" reads.
  *
  * Scale notes:
  *  - building is one hash-partitioned group-by over the facts (the
  *    sketch is a map-side-mergeable partial aggregate, so each
  *    executor ships one ~2^lgK-byte buffer per day, never user ids);
  *  - rollups touch only the O(#days) sketch table; the union is
  *    exactly the merge the sketch library defines, so a month rolled
  *    from days equals the sketch built from the month's raw facts
  *    (SketchTableSpec asserts estimate equality, not just closeness);
  *  - additive measures (row count, exact decimal value total) ride
  *    the same row, so the sketch table alone serves mixed
  *    exact+approximate reporting;
  *  - `lgK=12` ⇒ ~1.6% relative standard error, 4 KiB per sketch —
  *    tune per column cardinality.
  *
  * No DuckDB oracle: DuckDB's HLL is a different implementation, so
  * the registered rollup is rows-only; SketchTableSpec gates the ≤5%
  * error vs exact distinct counts, day→month merge exactness, and
  * incremental-append equivalence. */
object SketchTable {

  /** One row per day: HLL sketch of distinct `user_id`, deterministic
    * quantile sample of `value` ([[graft.plans.QSampleSketchAgg]],
    * keyed by the unique `event_id`), and exact additive measures —
    * one stored row answers range UNIQUES and range QUANTILES. The
    * input must carry `ts` (timestamp), `user_id`, `event_id`
    * (unique), `value` (raw 2-decimal double). */
  def buildDaily(events: DataFrame, lgK: Int = 12): DataFrame = {
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        hll_sketch_agg(col("user_id"), lit(lgK)).as("users_sketch"),
        call_function("qsample_sketch", col("event_id"), col("value"))
          .as("value_sketch"),
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("value_total"))
  }

  /** Coarser-grain rollup ("week", "month", "quarter", …) computed
    * from the sketch table ALONE: distinct users by HLL union, value
    * p50/p99 by quantile-sample union (EXACT merge — byte-identical to
    * a direct build), exact rows/value by re-summing the additive
    * partials. */
  def rollup(daily: DataFrame, grain: String = "month"): DataFrame =
    daily
      .groupBy(trunc(col("day"), grain).as("period"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("users_sketch"), lit(false)))
          .as("est_users"),
        call_function("qsample_merge", col("value_sketch")).as("vsk"),
        sum(col("n")).as("n"),
        sum(col("value_total")).as("value_total"))
      .withColumn("est_p50",
        call_function("qsample_quantile", col("vsk"), lit(0.5)))
      .withColumn("est_p99",
        call_function("qsample_quantile", col("vsk"), lit(0.99)))
      .drop("vsk")

  /** Distinct-user estimate for an arbitrary [from, until) day range —
    * the query shape the table exists for: filters prune the O(#days)
    * sketch rows, one union finishes it. */
  def rangeUsers(daily: DataFrame, from: String, until: String): DataFrame =
    daily
      .filter(col("day") >= lit(from) && col("day") < lit(until))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("users_sketch"), lit(false)))
          .as("est_users"),
        sum(col("n")).as("n"))
}
