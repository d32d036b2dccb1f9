package graft.llmdata

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runnable job body for a CORPUS CURATION run — the `spark-submit`
  * entry a data-pipeline scheduler invokes per corpus snapshot, the
  * LLM-data counterpart of [[graft.sync.SyncMain]]: one invocation
  * materializes the three artifacts a training run consumes,
  *
  *  1. `final_corpus/` — every document's fate across the whole
  *     pipeline (dedup → quality filters → decontamination,
  *     [[TextAnalysis.finalCorpus]]);
  *  2. `shards/` — deterministic output-shard assignment of the kept
  *     documents ([[TextAnalysis.shardAssign]]);
  *  3. `mixture/` — per-source temperature mixture weights
  *     ([[TextAnalysis.mixtureWeights]]);
  *
  * and prints ONE JSON status line with the per-fate accounting.
  * Exit contract: non-zero when zero documents survive — an empty
  * training corpus must page, not "succeed".
  *
  * Usage:
  * {{{
  *   spark-submit --class graft.llmdata.CurateMain <jar> <corpusDir> <outDir>
  * }}}
  */
object CurateMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CurateMain <corpusDir> <outDir>")
    val (corpusDir, outDir) = (args(0), args(1))
    val spark = graft.Session.builder()
      .appName("graft-curate")
      .getOrCreate()
    val keptCount =
      try run(spark, corpusDir, outDir)
      finally spark.stop()
    if (keptCount == 0L) sys.exit(2)
  }

  /** The job body, separated so tests invoke it in-session. Returns the
    * kept-document count. */
  def run(spark: SparkSession, corpusDir: String, outDir: String): Long = {
    val fates = TextAnalysis.finalCorpus(spark, corpusDir,
      0.2, Some(LlmQueries.JaccardDocFreqCap))
    fates.write.mode("overwrite").parquet(s"$outDir/final_corpus")
    TextAnalysis.shardAssign(spark, corpusDir)
      .write.mode("overwrite").parquet(s"$outDir/shards")
    TextAnalysis.mixtureWeights(spark, corpusDir)
      .write.mode("overwrite").parquet(s"$outDir/mixture")
    // accounting from the materialized result (no recompute)
    val byFate = spark.read.parquet(s"$outDir/final_corpus")
      .groupBy(col("status")).agg(sum(col("n_docs")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = byFate.getOrElse("kept", 0L)
    val acct = byFate.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"job":"curate","corpus":"$corpusDir","fates":{$acct}}""")
    kept
  }
}
