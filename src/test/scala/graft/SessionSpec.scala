package graft

/** The suite's session is built by [[Session.builder]], like every main,
  * so it pins the production session shape: UTC, `nanosAsLong`, and
  * every function [[graft.plans.GraftExtensions]] injects. */
class SessionSpec extends SparkSpec {

  test("Session.builder carries UTC, nanosAsLong and all 13 GraftExtensions functions") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val injected = Seq("cosine_sim", "kmv_sketch", "cms_sketch",
      "cms_estimate", "word_ngrams", "qsample_sketch", "qsample_merge",
      "qsample_quantile", "kmv_card", "kmv_intersect", "bloom_sketch",
      "topk_pairs", "bloom_contains")
    assert(injected.distinct.size === 13)
    for (f <- injected) assert(spark.catalog.functionExists(f), f)
  }
}
