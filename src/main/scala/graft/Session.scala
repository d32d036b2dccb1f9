package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The one way to build a session: every main and the test suite start
  * from [[builder]], so every session carries the same invariants:
  *  - the UTC session time zone;
  *  - `spark.sql.legacy.parquet.nanosAsLong`, because `events.parquet`
  *    carries TIMESTAMP(NANOS) ([[Tables.events]]);
  *  - the native functions of [[graft.plans.GraftExtensions]], which
  *    library code calls with no fallback.
  *
  * The extensions go in through `withExtensions`, not the
  * `spark.sql.extensions` conf, so extensions a user passes with
  * `--conf` are installed next to them. Callers add their own master,
  * app name and tuning.
  */
object Session {

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new GraftExtensions)
}
