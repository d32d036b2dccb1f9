package graft.tx

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's core per-event enrichment pipeline, P1–P17 of
  * SURVEY.md §2.3, as one pure `DataFrame => DataFrame`
  * (spark_streaming_consumer.py:200–252) — identical under `spark.read`
  * and `spark.readStream` because it is stateless column algebra.
  *
  * All four of the reference's Python UDFs are native Column expressions
  * here (single whole-stage-codegen span, no JVM↔Python boundary):
  *  - USD→VND conversion  (UDF #1, :72–86)  → `when($"usd" > 0, $"usd"*rate)`
  *  - DateTime_Hour_Key   (UDF #4, :88–101) → `date_format(ts, "yyyy-MM-dd-HH")`
  *  - day-of-week name    (UDF #2, :103–117)→ `date_format(ts, "EEEE")`
  *  - weekend flag        (UDF #3, :119–131)→ `when(dayofweek.isin(1,7),…)`
  *
  * Faithful semantic detail: the reference's `withColumn("year", …)` etc.
  * case-insensitively REPLACE the raw CSV `Year/Month/Day` columns with
  * parts derived from the parsed producer timestamp, so the
  * `make_date`-based validity probe (:251) actually detects unparseable
  * timestamps, not bad CSV integers. We reproduce that: Year/Month/Day
  * in the output come from `transaction_date`.
  *
  * ANSI note: Spark 4 runs ANSI-on by default; `try_cast`/`try_to_timestamp`
  * give the reference's PySpark 3.5 null-on-malformed semantics either way.
  */
object Enrichment {

  /** Reference default USD→VND rate (exchange_rate_service.py:18). */
  val DefaultRate = 25057.0

  /** The fixed 21-column processed layout, P17
    * (spark_streaming_consumer.py:415–437; BigQuery schema
    * bigquery_update_scheduler.py:34–56). */
  val outputColumns: Seq[String] = Seq(
    "DateTime_Hour_Key", "User", "Card", "Year", "Month", "Day", "Hour",
    "Day_of_Week", "Is_Weekend", "Amount_USD", "Amount_VND", "Exchange_Rate",
    "Use_Chip", "Merchant_Name", "Merchant_City", "Merchant_State", "Zip",
    "MCC", "Errors", "Is_Fraud", "Processed_Timestamp")

  /** The legacy 24-column v1 processed layout
    * (sample_data/processed_transactions.csv:1): keeps raw `Time`, the
    * full `Transaction_Date`, and the dd/MM/yyyy / HH:mm:ss display
    * formats; predates `DateTime_Hour_Key` (SURVEY §7.4 quirk #1). */
  val outputColumnsV1: Seq[String] = Seq(
    "User", "Card", "Year", "Month", "Day", "Time", "Amount_USD",
    "Amount_VND", "Exchange_Rate", "Use_Chip", "Merchant_Name",
    "Merchant_City", "Merchant_State", "Zip", "MCC", "Errors", "Is_Fraud",
    "Transaction_Date", "Date_Formatted", "Time_Formatted", "Hour",
    "Day_of_Week", "Is_Weekend", "Processed_Timestamp")

  /** P17 variant: the v1 projection. */
  def projectV1(processed: DataFrame): DataFrame =
    processed
      .withColumn("Transaction_Date",
        date_format(col("transaction_date"), "yyyy-MM-dd HH:mm:ss"))
      .withColumnRenamed("date_str", "Date_Formatted")
      .withColumnRenamed("time_str", "Time_Formatted")
      .select(outputColumnsV1.map(col): _*)

  /** P3–P16: enrich a raw-schema frame (TxSchema.raw). `clock` is
    * injectable so tests/oracles can pin Processed_Timestamp; `rate` is
    * the driver-resolved daily exchange rate (SURVEY §2.1 S4). */
  def enrich(raw: DataFrame, rate: Double = DefaultRate,
             clock: Column = current_timestamp()): DataFrame = {
    val td = col("transaction_date")
    raw
      // P3: currency clean "$2,500.00" → 2500.0 (:222–223)
      .withColumn("Amount_USD",
        expr("try_cast(regexp_replace(Amount, '[$,]', '') AS double)"))
      // P4: USD→VND, null/≤0 → null (UDF #1 → native)
      .withColumn("Amount_VND",
        when(col("Amount_USD").isNotNull && col("Amount_USD") > 0,
          col("Amount_USD") * lit(rate)))
      // P5: constant rate column (:225)
      .withColumn("Exchange_Rate", lit(rate.toInt))
      // P6: parse producer ISO-8601 timestamp (:226–227)
      .withColumn("transaction_date", expr("try_to_timestamp(`timestamp`)"))
      // P7: calendar parts — these REPLACE raw Year/Month/Day (:228–232)
      .withColumn("Year", year(td))
      .withColumn("Month", month(td))
      .withColumn("Day", dayofmonth(td))
      .withColumn("Hour", hour(td))
      .withColumn("Minute", minute(td))
      // P8: display formats per requirements.md:8 (:233–236)
      .withColumn("date_str", date_format(td, "dd/MM/yyyy"))
      .withColumn("time_str", date_format(td, "HH:mm:ss"))
      // P9–P11: dow number, name, weekend flag (:237–239)
      .withColumn("day_of_week_num", dayofweek(td))
      .withColumn("Day_of_Week", date_format(td, "EEEE"))
      .withColumn("Is_Weekend",
        when(col("day_of_week_num").isin(1, 7), "Yes").otherwise("No"))
      // P12: composite hour key (UDF #4 → date_format) (:240–242)
      .withColumn("DateTime_Hour_Key", date_format(td, "yyyy-MM-dd-HH"))
      // P13: space→underscore renames (:243–246)
      .withColumnRenamed("Use Chip", "Use_Chip")
      .withColumnRenamed("Merchant Name", "Merchant_Name")
      .withColumnRenamed("Merchant City", "Merchant_City")
      .withColumnRenamed("Merchant State", "Merchant_State")
      // P14: trims (:247–248)
      .withColumn("Errors", trim(col("Errors?"))).drop("Errors?")
      .withColumn("Is_Fraud", trim(col("Is Fraud?"))).drop("Is Fraud?")
      // P15: processing-time stamp (:249–250)
      .withColumn("Processed_Timestamp",
        date_format(clock, "yyyy-MM-dd HH:mm:ss"))
      // P16: date-validity probe (:251–252); parts are null iff the
      // timestamp failed to parse, and make_date(null,…) is null-safe
      // even under ANSI
      .withColumn("real_date_check",
        make_date(col("Year"), col("Month"), col("Day")))
      .withColumn("is_valid_date", col("real_date_check").isNotNull)
  }

  /** P17: the 21-column production projection. */
  def project(processed: DataFrame): DataFrame =
    processed.select(outputColumns.map(col): _*)

  /** P18: producer-side timestamp synthesis for CSV inputs that lack the
    * Kafka producer's `timestamp` field (pos_simulator.py:79–110):
    * `"{Y}-{M:02d}-{D:02d}T{Time}"`, falling back to the clock when parts
    * are missing. */
  def withSynthesizedTimestamp(csvRaw: DataFrame,
                               clock: Column = current_timestamp()): DataFrame =
    csvRaw.withColumn("timestamp",
      when(
        col("Year").isNotNull && col("Month").isNotNull &&
          col("Day").isNotNull && col("Time").isNotNull,
        format_string("%04d-%02d-%02dT%s",
          col("Year"), col("Month"), col("Day"), col("Time")))
        .otherwise(date_format(clock, "yyyy-MM-dd'T'HH:mm:ss")))
}
