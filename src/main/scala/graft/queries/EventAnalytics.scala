package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Relational.dec

/** The reference's ten analytical questions (requirements.md:42-53, DAX
  * sketches sample_data/README.md:73-87) re-expressed natively over the
  * `events` stream table, which stands in for the processed-transaction
  * stream (TESTDATA.md / FIXTURES.md §6):
  *   event_type ≙ Use_Chip/Merchant dim, value ≙ Amount_USD,
  *   event_type='error' ≙ fraud/error rows, props ≙ raw JSON payload.
  *
  * Everything is a native Column expression — the reference's four Python
  * UDFs (spark_streaming_consumer.py:72-131) appear here as codegen'd
  * built-ins (date_format / when / format-free composite keys), SURVEY §2.3.
  */
object EventAnalytics {

  private val VND_RATE = 25057 // reference default rate, exchange_rate_service.py:18

  private def dayName = date_format(col("ts"), "EEEE")
  private def isWeekend = when(dayName.isin("Saturday", "Sunday"), "Yes").otherwise("No")

  // ---------------------------------------------------------------- ea1
  /** ea1 [A5/Q7]: daily error rate — conditional counting + exact-int
    * ratio (the reference's fraud-rate DAX measure). */
  def ea1DailyErrorRate(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "error", 1)).as("n_errors"))
      .withColumn("error_rate_pct", col("n_errors") * lit(100.0) / col("n_events"))
      .orderBy(col("event_date"))

  val ea1Sql: String =
    """SELECT CAST(ts AS DATE) AS event_date,
      |  COUNT(*) AS n_events,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) * 100.0 / COUNT(*) AS error_rate_pct
      |FROM events
      |GROUP BY CAST(ts AS DATE)
      |ORDER BY event_date""".stripMargin

  // ---------------------------------------------------------------- ea2
  /** ea2 [P3-P5/A1]: currency conversion at a broadcast scalar rate —
    * the reference's USD→VND enrichment (UDF #1 → native decimal math). */
  def ea2VndByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        sum(dec(col("value")) * lit(VND_RATE).cast("decimal(10,0)"))
          .cast("double").as("amount_vnd"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val ea2Sql: String =
    s"""SELECT event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST($VND_RATE AS DECIMAL(10,0))) AS DOUBLE) AS amount_vnd,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- ea3
  /** ea3 [P12/Q1]: traffic per composite hour key (`yyyy-MM-dd-HH`, the
    * reference's DateTime_Hour_Key, UDF #4 → date_format). */
  def ea3HourKeyTraffic(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd-HH").as("hour_key"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy(col("hour_key"))

  val ea3Sql: String =
    """SELECT strftime(ts, '%Y-%m-%d-%H') AS hour_key,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY hour_key""".stripMargin

  // ---------------------------------------------------------------- ea4
  /** ea4 [A6/Q1]: peak hour of day — TOPN(1) with deterministic
    * tie-break (reference DAX sample_data/README.md:84-86). */
  def ea4PeakHour(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(hour(col("ts")).as("hour_of_day"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("hour_of_day"))
      .limit(1)

  val ea4Sql: String =
    """SELECT hour(ts) AS hour_of_day, COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY n DESC, hour_of_day LIMIT 1""".stripMargin

  // ---------------------------------------------------------------- ea5
  /** ea5 [Q5]: users with rapid consecutive events (≤300 s apart) —
    * lag window per user ordered by time (requirements.md:47). */
  def ea5RapidUsers(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_s", unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")))
      .filter(col("gap_s").isNotNull && col("gap_s") <= 300)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rapid"))
      .orderBy(col("user_id"))
  }

  val ea5Sql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT)
      |      - CAST(epoch(date_trunc('second',
      |          lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap_s
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_rapid FROM g
      |WHERE gap_s IS NOT NULL AND gap_s <= 300
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- ea6
  /** ea6 [Q6]: when/where do large events occur (requirements.md:48). */
  def ea6LargeEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value") > 100)
      .groupBy(hour(col("ts")).as("hour_of_day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy(col("hour_of_day"), col("event_type"))

  val ea6Sql: String =
    """SELECT hour(ts) AS hour_of_day, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events WHERE value > 100
      |GROUP BY 1, 2 ORDER BY hour_of_day, event_type""".stripMargin

  // ---------------------------------------------------------------- ea7
  /** ea7 [Q7/A3]: event mix across type × day-name with CUBE grouping
    * sets (requirements.md:49 trend-by-dimension family).
    *
    * Two-level: pre-aggregate to (type, day) — ≤35 rows — then CUBE the
    * aggregate; Expand's ×4 row multiplication hits the tiny pre-agg
    * instead of every fact row. Identical results (counts re-sum). */
  def ea7TypeDayCube(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), dayName.as("day_name"))
      .agg(count(lit(1)).as("n_p"))
      .cube(col("event_type"), col("day_name"))
      .agg(sum(col("n_p")).as("n"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day_name"))

  val ea7Sql: String =
    """SELECT event_type, dayname(ts) AS day_name, COUNT(*) AS n
      |FROM events
      |GROUP BY CUBE(event_type, dayname(ts))
      |ORDER BY event_type ASC NULLS FIRST, day_name ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- ea8
  /** ea8 [Q8/P11]: weekday-vs-weekend profile — the reference's
    * Is_Weekend flag (UDF #3 → when/otherwise) (requirements.md:50). */
  def ea8WeekendProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(isWeekend.as("is_weekend"), dayName.as("day_name"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("is_weekend"), col("day_name"))

  val ea8Sql: String =
    """SELECT CASE WHEN dayname(ts) IN ('Saturday','Sunday') THEN 'Yes' ELSE 'No' END AS is_weekend,
      |  dayname(ts) AS day_name, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY is_weekend, day_name""".stripMargin

  // ---------------------------------------------------------------- ea9
  /** ea9 [Q9/Q4]: users with above-average error counts — per-group
    * measure vs global aggregate via cross-join of a 1-row frame
    * (requirements.md:51; SURVEY §2.6 global-vs-group). */
  def ea9AboveAvgErrorUsers(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_errors"))
    val globalAvg = perUser.agg(avg(col("n_errors")).as("avg_errors"))
    perUser.crossJoin(globalAvg)
      .filter(col("n_errors") > col("avg_errors"))
      .select(col("user_id"), col("n_errors"))
      .orderBy(col("user_id"))
  }

  val ea9Sql: String =
    """WITH pu AS (
      |  SELECT user_id, COUNT(*) AS n_errors FROM events
      |  WHERE event_type = 'error' GROUP BY user_id)
      |SELECT user_id, n_errors FROM pu
      |WHERE n_errors > (SELECT AVG(n_errors) FROM pu)
      |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- ea10
  /** ea10 [P2]: JSON payload parsing — the reference's from_json step
    * (spark_streaming_consumer.py:211) over the props column. */
  def ea10PropsBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy(col("k_bucket"))

  val ea10Sql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin

  // --------------------------------------------------------------- ea26
  /** ea26 [VARIANT semi-structured path]: the same JSON props as
    * [[ea10PropsBuckets]] read through Spark 4's VARIANT type —
    * `parse_json` decodes each document ONCE into the binary variant
    * encoding and `variant_get` extracts typed fields from it, where
    * the [[ea10PropsBuckets]] `get_json_object` path re-parses the
    * string per extraction. One extraction sees no difference; a real
    * profile pulling many fields from big documents pays one parse
    * instead of N — that is the 100 TB reason VARIANT exists (plus
    * shredding-friendly storage). Oracle: DuckDB's JSON extraction is
    * the semantic mirror; integer-exact outputs keep it hash-stable. */
  def ea26VariantProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k",
        variant_get(parse_json(col("props")), "$.k", "int"))
      .groupBy((col("k") % 7).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("k_mod"))

  val ea26Sql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 7 AS k_mod,
      |  COUNT(*) AS n,
      |  MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin

  // --------------------------------------------------------------- ea11
  /** ea11 [Q1 anomaly]: hours of day with above-average traffic
    * (requirements.md:42-43). */
  def ea11AnomalousHours(spark: SparkSession, dir: String): DataFrame = {
    val perHour = Tables.events(spark, dir)
      .groupBy(hour(col("ts")).as("hour_of_day"))
      .agg(count(lit(1)).as("n"))
    val avgN = perHour.agg(avg(col("n")).as("avg_n"))
    perHour.crossJoin(avgN)
      .filter(col("n") > col("avg_n"))
      .select(col("hour_of_day"), col("n"))
      .orderBy(col("hour_of_day"))
  }

  val ea11Sql: String =
    """WITH h AS (SELECT hour(ts) AS hour_of_day, COUNT(*) AS n
      |           FROM events GROUP BY 1)
      |SELECT hour_of_day, n FROM h
      |WHERE n > (SELECT AVG(n) FROM h)
      |ORDER BY hour_of_day""".stripMargin

  // --------------------------------------------------------------- ea13
  /** ea13 [sketches at scale]: per-type user cardinality via HLL++
    * (`approx_count_distinct`, rsd 2%) next to the exact count — the
    * mergeable-sketch path that replaces exact COUNT(DISTINCT) shuffles
    * at warehouse scale (SURVEY §7.3). No DuckDB oracle: HLL
    * implementations differ across engines, so this entry is rows-only
    * and SketchSpec asserts the error bound against the exact count. */
  def ea13ApproxUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  // --------------------------------------------------------------- ea14
  /** ea14 [A3 grouping-sets]: one pass producing BOTH per-type and
    * per-day-name marginals — explicit GROUPING SETS (Spark 4
    * `Dataset.groupingSets`), the third grouping-set shape next to q4's
    * ROLLUP and ea7's CUBE. One shuffle serves both marginal tables. */
  def ea14GroupingSets(spark: SparkSession, dir: String): DataFrame =
    // grouping-set expressions must resolve to the SAME attribute as the
    // groupBy columns — aliases get fresh expression ids and silently
    // null the column for every set, so materialize day_name first and
    // group on plain attribute references. Two-level like ea7/q4: the
    // grouping-sets Expand runs over the ≤35-row (type, day) pre-agg,
    // not the fact table; decimal partials keep the re-sum exact.
    Tables.events(spark, dir)
      .withColumn("day_name", dayName)
      .groupBy(col("event_type"), col("day_name"))
      .agg(count(lit(1)).as("n_p"), sum(dec(col("value"))).as("tv_p"))
      .groupingSets(
        Seq(Seq(col("event_type")), Seq(col("day_name"))),
        col("event_type"), col("day_name"))
      .agg(sum(col("n_p")).as("n"), sum(col("tv_p")).cast("double").as("total_value"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day_name"))

  val ea14Sql: String =
    """SELECT event_type, dayname(ts) AS day_name, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY GROUPING SETS ((event_type), (dayname(ts)))
      |ORDER BY event_type ASC NULLS FIRST, day_name ASC NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- ea15
  /** ea15 [distribution metrics]: exact p50/p90/p99 of event value per
    * type — `percentile` with linear interpolation, the same definition
    * DuckDB's `quantile_cont` uses, rounded to 6 decimals so the two
    * engines hash-match on the interpolated doubles.
    *
    * Scale note: exact percentile buffers each group's values on the
    * reducer — correct up to huge-but-bounded groups. The 100 TB path
    * is `approx_percentile` (t-digest: mergeable, map-side partial, no
    * buffering); SketchSpec asserts the sketch tracks these exact values
    * within tolerance so swapping it in is a config change, not a leap
    * of faith. */
  def ea15ValuePercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val ea15Sql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  round(quantile_cont(value, 0.99), 6) AS p99,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- ea16
  /** ea16 [pivot / crosstab]: day-name × event-type count matrix via
    * `Dataset.pivot` with an EXPLICIT value list — the explicit list is
    * the scale rule: it keeps pivot a single pass (no extra
    * distinct-values job) and fixes the output schema at plan time.
    * Pivot leaves absent combinations null where conditional counting
    * yields 0, so nulls are filled to match the relational form the
    * oracle computes. */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def ea16PivotTypeByDay(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("day_name", dayName)
      .groupBy(col("day_name"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes)
      .orderBy(asc_nulls_first("day_name"))

  val ea16Sql: String =
    s"""SELECT dayname(ts) AS day_name,
      |${EventTypes.map(t =>
        s"  COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS $t").mkString(",\n")}
      |FROM events GROUP BY 1 ORDER BY day_name ASC NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- ea19
  /** ea19 [UNPIVOT + ratio-to-report]: the inverse of ea16's pivot —
    * the wide day×type count matrix melted back to long form via
    * `Dataset.unpivot` (plan-time schema, single pass, zero-filled
    * combos preserved as n=0 rows), each cell annotated with its share
    * of the day's total (the ratio-to-report window: `sum` over the
    * day partition — a day-sized partition, never a fact-sized window
    * input since the matrix is already aggregated). Pivot/unpivot as a
    * round-trip pair is the §2.9-adjacent reshaping surface BI tools
    * lean on. */
  def ea19UnpivotShares(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val long = ea16PivotTypeByDay(spark, dir)
      .unpivot(Array(col("day_name")), EventTypes.map(col).toArray,
        "event_type", "n")
    val w = Window.partitionBy(col("day_name"))
    long
      .withColumn("day_total", sum(col("n")).over(w))
      .withColumn("share", col("n").cast("double") / col("day_total"))
      .orderBy(col("day_name"), col("event_type"))
  }

  val ea19Sql: String =
    """WITH base AS (SELECT dayname(ts) AS day_name, event_type FROM events),
      |c AS (SELECT day_name, event_type, COUNT(*) AS n FROM base GROUP BY 1, 2),
      |days AS (SELECT DISTINCT day_name FROM base),
      |types AS (SELECT unnest(['click', 'error', 'purchase', 'signup', 'view'])
      |            AS event_type),
      |long AS (SELECT d.day_name, t.event_type, COALESCE(c.n, 0) AS n
      |         FROM days d CROSS JOIN types t
      |         LEFT JOIN c USING (day_name, event_type))
      |SELECT day_name, event_type, n,
      |  CAST(SUM(n) OVER (PARTITION BY day_name) AS BIGINT) AS day_total,
      |  n::DOUBLE / CAST(SUM(n) OVER (PARTITION BY day_name) AS BIGINT) AS share
      |FROM long ORDER BY day_name, event_type""".stripMargin

  // --------------------------------------------------------------- ea20
  /** ea20 [typed `Aggregator`, §2.12]: recency-weighted mean event
    * value per type — weight = day of month, value in exact integer
    * cents — computed through the Dataset-native
    * [[graft.functions.WeightedMeanAgg]] custom aggregate (the typed
    * counterpart of the KMV/CMS `TypedImperativeAggregate`s). The
    * buffer is two exact longs, so partial aggregation merges in any
    * order without drift and the DuckDB mirror reproduces the one
    * final double division bit-for-bit. */
  def ea20TypedWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(col("event_type"),
        (dec(col("value")) * 100).cast("long").as("cents"),
        dayofmonth(col("ts")).cast("long").as("w"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(graft.functions.WeightedMeanAgg.toColumn.name("wavg"))
      .toDF("event_type", "wavg")
      .orderBy(col("event_type"))
  }

  val ea20Sql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      * day(ts)) AS BIGINT)::DOUBLE / 100.0
      |    / CAST(SUM(day(ts)) AS BIGINT) AS wavg
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- ea21
  /** ea21 [bivariate statistics, §2.6+]: per-type Pearson correlation and
    * OLS slope of event value against hour-of-day — trend detection
    * ("do payments grow through the day?") as ONE hash-partitioned
    * aggregate pass. Built-in `corr`/`regr_slope` stream doubles through
    * Welford-style merges, so their low bits depend on partition count
    * and merge order; instead the five raw moments (Σx, Σy, Σx², Σxy,
    * Σy²) are accumulated as EXACT integers (hours and cents), widened
    * to decimal(38,0) for the centered products (n·Σy² overflows a long
    * at ~10⁶ rows/group), and only the final division/sqrt runs in
    * IEEE doubles — bit-identical on any cluster layout, so an exact
    * DuckDB oracle (HUGEINT moments) hash-matches. Zero-variance groups
    * surface NULL, never ±Inf/NaN. Scale: map-side partial agg into 10
    * groups; nothing but the 6-number moment rows ever shuffles. */
  def ea21HourlyTrend(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val m = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(col("event_type"),
        hour(col("ts")).cast("long").as("x"),
        (dec(col("value")) * 100).cast("long").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x")).cast(d38).as("sx"),
        sum(col("y")).cast(d38).as("sy"),
        sum(col("x") * col("x")).cast(d38).as("sxx"),
        sum(col("x") * col("y")).cast(d38).as("sxy"),
        sum(col("y") * col("y")).cast(d38).as("syy"))
    val a = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val bx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val by = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    m.select(col("event_type"), col("n").cast("long").as("n_events"),
        when(bx === 0d || by === 0d, lit(null).cast("double"))
          .otherwise(round(a / sqrt(bx * by), 6)).as("corr_value_hour"),
        when(bx === 0d, lit(null).cast("double"))
          .otherwise(round(a / bx / 100d, 6)).as("slope_per_hour"))
      .orderBy(col("event_type"))
  }

  val ea21Sql: String =
    """WITH pts AS (
      |  SELECT event_type, hour(ts) AS x,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x*x) AS sxx, SUM(x*y) AS sxy, SUM(y*y) AS syy
      |  FROM pts GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n_events,
      |  CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN NULL
      |    ELSE round(CAST(n*sxy - sx*sy AS DOUBLE)
      |      / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6)
      |  END AS corr_value_hour,
      |  CASE WHEN n*sxx - sx*sx = 0 THEN NULL
      |    ELSE round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) / 100.0, 6)
      |  END AS slope_per_hour
      |FROM m ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- ea22
  /** ea22 [gaps-and-islands sessionization, §2.7+]: assign session IDs
    * with a 30-minute inactivity gap — the canonical batch twin of
    * `session_window` that keeps the IDs: per-user `lag` marks session
    * starts, a running ROWS-frame sum over the 0/1 indicator numbers
    * the islands, and a second-level re-aggregation rolls (user,
    * session) up to a corpus-wide session-shape histogram. Everything
    * (both windows AND the first group-by) is partitioned by `user_id`,
    * so one hash exchange serves the whole chain; the final histogram
    * re-shuffles only O(#sessions) rows pre-aggregated map-side. Spans
    * are exact epoch-microsecond integers; ties inside a user's
    * timeline break on `event_id` so the indicator is deterministic. */
  def ea22SessionStats(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("events_per_session"),
        (max(col("us")) - min(col("us"))).as("span_us"))
      .groupBy(col("events_per_session"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("span_us")).as("total_span_us"))
      .orderBy(col("events_per_session"))
  }

  val ea22Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    epoch_us(date_trunc('microseconds', ts)) AS us
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |s AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL
      |           OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sid AS (
      |  SELECT user_id, us,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM s),
      |g AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |    MAX(us) - MIN(us) AS span_us
      |  FROM sid GROUP BY 1, 2)
      |SELECT CAST(n_events AS BIGINT) AS events_per_session,
      |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(SUM(span_us) AS BIGINT) AS total_span_us
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- ea23
  /** ea23 [robust outlier detection]: per-type anomalies by MEDIAN
    * ABSOLUTE DEVIATION — the robust twin of the mean/stddev screen
    * (ea11): a handful of extreme values drags a mean-based threshold
    * toward themselves and masks real anomalies; the median/MAD pair is
    * breakdown-resistant to 50% contamination. Flags `0.6745·|x−med| >
    * 3.5·MAD` (the standard modified-z cut, multiplied through so no
    * division touches the comparison).
    *
    * Scale shape: two exact per-type percentile aggregates (same
    * reducer-buffering caveat + `approx_percentile` t-digest swap-in as
    * ea15), each producing a #types-row table that BROADCASTS back onto
    * the facts; the final pass is one hash-partitioned count. Three
    * linear scans total, no fact-sized shuffle beyond the group-bys.
    *
    * Determinism: `percentile` ≡ DuckDB `quantile_cont` (linear
    * interpolation, proven by ea15); the outlier comparison uses
    * identical double arithmetic in both engines. */
  def ea23MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(
        round(max(col("med")), 6).as("med"),
        round(max(col("mad")), 6).as("mad"),
        count(lit(1)).as("n"),
        sum(when(lit(0.6745) * col("adev") > lit(3.5) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  val ea23Sql: String =
    """WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      |        FROM ev GROUP BY 1),
      |dev AS (SELECT event_type, value, med, abs(value - med) AS adev
      |        FROM ev JOIN med USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |        FROM dev GROUP BY 1)
      |SELECT event_type, round(max(med), 6) AS med, round(max(mad), 6) AS mad,
      |  COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN 0.6745 * adev > 3.5 * mad THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM dev JOIN mad USING (event_type)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- ea24
  /** ea24 [table profiling — the data-quality stats pass]: per-column
    * row count, null count, exact distinct count, and min/max (native
    * values for numerics, epoch-micros for the timestamp, string
    * LENGTHS for text columns — length bounds are the schema-drift
    * signal, and they dodge cross-engine string-format traps). This is
    * the profile a warehouse loader or curation job emits before
    * accepting a shard.
    *
    * Scale shape: ONE aggregation pass computes every metric (the
    * multi-column COUNT(DISTINCT) expands the input once per distinct
    * column — the exact form; `approx_count_distinct` is the 100 TB
    * swap-in exactly as ea13 gates); the long-format stack is a 1-row
    * explode, not a second scan.
    *
    * Determinism: counts are exact longs; min/max are exact casts of
    * int/length/epoch-micro values (≤ 2^53, double-exact). */
  def ea24TableProfile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
    def nulls(c: Column) = sum(when(c.isNull, 1L).otherwise(0L))
    def numStats(name: String, c: Column) = Seq(
      nulls(c).as(s"null_$name"),
      countDistinct(c).as(s"ndv_$name"),
      min(c).cast("double").as(s"min_$name"),
      max(c).cast("double").as(s"max_$name"))
    def strStats(name: String, c: Column) = Seq(
      nulls(c).as(s"null_$name"),
      countDistinct(c).as(s"ndv_$name"),
      min(length(c)).cast("double").as(s"min_$name"),
      max(length(c)).cast("double").as(s"max_$name"))
    val metrics = Seq(count(lit(1)).as("n")) ++
      numStats("event_id", col("event_id")) ++
      numStats("user_id", col("user_id")) ++
      numStats("value", col("value")) ++
      numStats("ts_us", col("ts_us")) ++
      strStats("event_type", col("event_type")) ++
      strStats("props", col("props"))
    val ag = ev.agg(metrics.head, metrics.tail: _*)
    def r(name: String) = struct(lit(name).as("col_name"), col("n"),
      col(s"null_$name").as("n_null"), col(s"ndv_$name").as("ndv"),
      col(s"min_$name").as("min_v"), col(s"max_$name").as("max_v"))
    ag.select(explode(array(
        r("event_id"), r("event_type"), r("props"),
        r("ts_us"), r("user_id"), r("value"))).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }

  val ea24Sql: String =
    """WITH e AS (SELECT *, epoch_us(date_trunc('microseconds', ts)) AS ts_us
      |           FROM events),
      |a AS (SELECT COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_id,
      |  COUNT(DISTINCT event_id) AS ndv_event_id,
      |  CAST(MIN(event_id) AS DOUBLE) AS min_event_id,
      |  CAST(MAX(event_id) AS DOUBLE) AS max_event_id,
      |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
      |  COUNT(DISTINCT user_id) AS ndv_user_id,
      |  CAST(MIN(user_id) AS DOUBLE) AS min_user_id,
      |  CAST(MAX(user_id) AS DOUBLE) AS max_user_id,
      |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
      |  COUNT(DISTINCT value) AS ndv_value,
      |  CAST(MIN(value) AS DOUBLE) AS min_value,
      |  CAST(MAX(value) AS DOUBLE) AS max_value,
      |  CAST(SUM(CASE WHEN ts_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts_us,
      |  COUNT(DISTINCT ts_us) AS ndv_ts_us,
      |  CAST(MIN(ts_us) AS DOUBLE) AS min_ts_us,
      |  CAST(MAX(ts_us) AS DOUBLE) AS max_ts_us,
      |  CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
      |  COUNT(DISTINCT event_type) AS ndv_event_type,
      |  CAST(MIN(length(event_type)) AS DOUBLE) AS min_event_type,
      |  CAST(MAX(length(event_type)) AS DOUBLE) AS max_event_type,
      |  CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
      |  COUNT(DISTINCT props) AS ndv_props,
      |  CAST(MIN(length(props)) AS DOUBLE) AS min_props,
      |  CAST(MAX(length(props)) AS DOUBLE) AS max_props
      | FROM e)
      |SELECT * FROM (
      |  SELECT 'event_id' AS col_name, n, null_event_id AS n_null,
      |    ndv_event_id AS ndv, min_event_id AS min_v, max_event_id AS max_v FROM a
      |  UNION ALL
      |  SELECT 'user_id', n, null_user_id, ndv_user_id, min_user_id, max_user_id FROM a
      |  UNION ALL
      |  SELECT 'value', n, null_value, ndv_value, min_value, max_value FROM a
      |  UNION ALL
      |  SELECT 'ts_us', n, null_ts_us, ndv_ts_us, min_ts_us, max_ts_us FROM a
      |  UNION ALL
      |  SELECT 'event_type', n, null_event_type, ndv_event_type,
      |    min_event_type, max_event_type FROM a
      |  UNION ALL
      |  SELECT 'props', n, null_props, ndv_props, min_props, max_props FROM a)
      |ORDER BY col_name""".stripMargin

  // --------------------------------------------------------------- ea17
  /** ea17 [custom sketch aggregate, §2.12+]: audience overlap between
    * every pair of event types, estimated from KMV sketches
    * ([[graft.plans.KmvSketchAgg]]) — the set-intersection question
    * HLL/`approx_count_distinct` cannot answer and exact INTERSECT
    * (q21) answers only with a full distinct-key shuffle per pair.
    * One sketch pass over the facts; the pair join runs over the
    * 5-row sketch aggregate. Rows-only in CORRECTNESS (xxhash sketches
    * aren't reproducible in DuckDB); KmvSpec gates exactness below
    * capacity, error bounds above it, and this query's invariants. */
  def ea17KmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sk = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(call_function("kmv_sketch", col("user_id")).as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        call_function("kmv_card", col("sk_a")).as("users_a"),
        call_function("kmv_card", col("sk_b")).as("users_b"),
        call_function("kmv_intersect", col("sk_a"), col("sk_b")).as("users_both"))
      .orderBy(col("type_a"), col("type_b"))
  }

  // --------------------------------------------------------------- ea18
  /** ea18 [funnel]: strict-order windowed conversion view → click →
    * purchase — each user's FIRST view, first click within
    * `windowHours` of that view, first purchase within `windowHours`
    * of that click, reported as stage counts + conversion rates.
    *
    * Scale: every stage is filter → agg → equi-join, all
    * hash-partitioned on user_id (consecutive stages reuse the
    * partitioning), and the events scan is pruned to one event type
    * before each join. The report is three 1-row aggregates
    * cross-joined — the allow-listed global-aggregate shape. The
    * oracle truncates DuckDB's nanosecond timestamps to Spark's
    * microsecond precision so window-boundary comparisons agree. */
  def ea18Funnel(spark: SparkSession, dir: String,
                 windowHours: Int = 24): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val win = expr(s"INTERVAL $windowHours HOURS")
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= col("t2") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    t1.agg(count(lit(1)).as("n_view"))
      .crossJoin(t2.agg(count(lit(1)).as("n_click")))
      .crossJoin(t3.agg(count(lit(1)).as("n_purchase")))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        (col("n_click").cast("double") / col("n_view")).as("click_rate"),
        (col("n_purchase").cast("double") / col("n_click")).as("purchase_rate"))
  }

  val ea18Sql: String =
    """WITH ev AS (SELECT user_id, event_type,
      |              date_trunc('microseconds', ts) AS ts FROM events),
      |t1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev
      |       WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM ev e JOIN t1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts > t1.t1
      |         AND e.ts <= t1.t1 + INTERVAL '24 hours' GROUP BY 1),
      |t3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM ev e JOIN t2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2
      |         AND e.ts <= t2.t2 + INTERVAL '24 hours' GROUP BY 1),
      |c AS (SELECT (SELECT COUNT(*) FROM t1) AS n_view,
      |             (SELECT COUNT(*) FROM t2) AS n_click,
      |             (SELECT COUNT(*) FROM t3) AS n_purchase)
      |SELECT n_view, n_click, n_purchase,
      |  n_click::DOUBLE / n_view AS click_rate,
      |  n_purchase::DOUBLE / n_click AS purchase_rate
      |FROM c""".stripMargin

  // --------------------------------------------------------------- ea27
  /** ea27 [sketches as stored data, §2.13]: WEEKLY distinct-user
    * rollup computed from the pre-aggregated per-day HLL sketch table
    * ([[graft.sync.SketchTable]]) — facts reduce once to O(#days)
    * sketch rows, every range rollup is a sketch union over that
    * table. Rows-only (DuckDB's HLL differs); SketchTableSpec gates
    * error vs exact, day→month merge exactness, and incremental
    * append. */
  def ea27SketchRollup(spark: SparkSession, dir: String): DataFrame =
    graft.sync.SketchTable.rollup(
      graft.sync.SketchTable.buildDaily(Tables.events(spark, dir)), "week")
      .select(col("period"), col("est_users"), col("n"),
        col("value_total").cast("double").as("value_total"))
      .orderBy(col("period"))

  // --------------------------------------------------------------- ea28
  /** ea28 [quantile sketches as stored data, §2.13]: weekly value
    * p50/p90/p99 rolled up from per-day deterministic bottom-k sample
    * sketches ([[graft.plans.QSampleSketchAgg]]) — the quantile
    * counterpart of ea27's HLL rollup: latency-style percentiles over
    * arbitrary date ranges from O(#days) stored rows, no fact re-scan,
    * merges exactly associative (byte-identical to a direct build;
    * QuantileSampleSpec). Rows-only (the sample depends on xxhash64,
    * which DuckDB cannot reproduce); the spec gates below-capacity
    * exactness and over-capacity rank error. */
  def ea28QuantileRollup(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        call_function("qsample_sketch", col("event_id"), col("value")).as("sk"),
        count(lit(1)).as("n_p"))
      .groupBy(trunc(col("day"), "week").as("period"))
      .agg(call_function("qsample_merge", col("sk")).as("wsk"),
        sum(col("n_p")).as("n"))
      .select(col("period"),
        call_function("qsample_quantile", col("wsk"), lit(0.5)).as("p50"),
        call_function("qsample_quantile", col("wsk"), lit(0.9)).as("p90"),
        call_function("qsample_quantile", col("wsk"), lit(0.99)).as("p99"),
        col("n"))
      .orderBy(col("period"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ea28_quantile_rollup" -> ea28QuantileRollup _,
    "ea18_funnel" -> ((s: SparkSession, d: String) => ea18Funnel(s, d)),
    "ea19_unpivot_shares" -> ea19UnpivotShares _,
    "ea20_typed_weighted_avg" -> ea20TypedWeightedAvg _,
    "ea21_hourly_trend" -> ea21HourlyTrend _,
    "ea22_session_stats" -> ea22SessionStats _,
    "ea23_mad_outliers" -> ea23MadOutliers _,
    "ea24_table_profile" -> ea24TableProfile _,
    "ea17_kmv_overlap" -> ea17KmvOverlap _,
    "ea15_value_percentiles" -> ea15ValuePercentiles _,
    "ea16_pivot_type_by_day" -> ea16PivotTypeByDay _,
    "ea13_approx_users" -> ea13ApproxUsers _,
    "ea14_grouping_sets" -> ea14GroupingSets _,
    "ea1_daily_error_rate" -> ea1DailyErrorRate _,
    "ea2_vnd_by_type" -> ea2VndByType _,
    "ea3_hour_key_traffic" -> ea3HourKeyTraffic _,
    "ea4_peak_hour" -> ea4PeakHour _,
    "ea5_rapid_users" -> ea5RapidUsers _,
    "ea6_large_events" -> ea6LargeEvents _,
    "ea7_type_day_cube" -> ea7TypeDayCube _,
    "ea8_weekend_profile" -> ea8WeekendProfile _,
    "ea9_above_avg_error_users" -> ea9AboveAvgErrorUsers _,
    "ea10_props_buckets" -> ea10PropsBuckets _,
    "ea26_variant_props" -> ea26VariantProps _,
    "ea11_anomalous_hours" -> ea11AnomalousHours _,
    "ea27_sketch_rollup" -> ea27SketchRollup _
  )

  val oracles: Map[String, String] = Map(
    "ea18_funnel" -> ea18Sql,
    "ea19_unpivot_shares" -> ea19Sql,
    "ea20_typed_weighted_avg" -> ea20Sql,
    "ea21_hourly_trend" -> ea21Sql,
    "ea22_session_stats" -> ea22Sql,
    "ea23_mad_outliers" -> ea23Sql,
    "ea24_table_profile" -> ea24Sql,
    "ea15_value_percentiles" -> ea15Sql,
    "ea16_pivot_type_by_day" -> ea16Sql,
    "ea14_grouping_sets" -> ea14Sql,
    "ea1_daily_error_rate" -> ea1Sql,
    "ea2_vnd_by_type" -> ea2Sql,
    "ea3_hour_key_traffic" -> ea3Sql,
    "ea4_peak_hour" -> ea4Sql,
    "ea5_rapid_users" -> ea5Sql,
    "ea6_large_events" -> ea6Sql,
    "ea7_type_day_cube" -> ea7Sql,
    "ea8_weekend_profile" -> ea8Sql,
    "ea9_above_avg_error_users" -> ea9Sql,
    "ea10_props_buckets" -> ea10Sql,
    "ea26_variant_props" -> ea26Sql,
    "ea11_anomalous_hours" -> ea11Sql
  )
}
