package graft.llmdata

import graft.{Memo, Tables}
import graft.sync.GenDir
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED UNIGRAM LANGUAGE MODEL (r13, VERDICT r12 #8) — the
  * corpus-statistics artifact the per-shard quality gate scores
  * against: the batch curation pass ([[TextAnalysis.curationReport]])
  * filters on a CCNet-style mean unigram log-likelihood, which needs
  * corpus term frequencies — a statistic the O(shard) ingest hot path
  * must serve from a PERSISTED generation, never recompute. Same
  * [[GenDir]] stage + marker-last + atomic-rename protocol as the
  * whole artifact family.
  *
  * Layout under `lmDir/gen-<id>/`:
  *  - `freq.parquet/bucket=<b>/…` — (term, cnt), term-bucketed by the
  *    SAME `pmod(xxhash64(term), Buckets)` expression [[LexStore]]
  *    uses, so a scoring pass over a bounded shard can prune to its
  *    own terms' buckets;
  *  - `stats.json` — format + the exact total token count.
  *
  * Scoring semantics ([[avgLogprob]]): per-token micro-quantized
  * `floor(ln(cnt/total)·1e6 + 0.5)` summed as exact longs — identical
  * to [[TextAnalysis.unigramLogprob]]'s batch math — with one
  * ingest-only extension: an OUT-OF-VOCABULARY token (absent from the
  * standing corpus the model was trained on) scores at the `cnt = 1`
  * floor, `ln(1/total)`. The batch pass never sees OOV (every doc is
  * inside the corpus whose LM it scores against); the ingest pass
  * always can, and rare-token noise is exactly what the filter
  * exists to catch.
  *
  * Drift stance: FROZEN like [[AnnIndex]]'s coarse model — appends do
  * not update term counts (a per-shard vocabulary merge would be an
  * O(vocabulary) rewrite per shard); [[Ingest.rebuild]] re-trains it
  * from the corpus snapshot on the same
  * [[AnnIndex.RebuildDeltaFraction]] cadence that retires every other
  * frozen-model staleness. The vocabulary cap for 100 TB corpora
  * (score only the top-K terms, floor the rest — the CCNet shape) is
  * the `keepTopK` knob on [[write]] (r14, VERDICT r13 #6): the
  * default stays uncapped, and the capped form has its own
  * registered entry whose DuckDB oracle is generated from the SAME K
  * with the same deterministic (cnt desc, term asc) boundary. */
object LmStore {

  val Format = 1

  /** Build and commit the unigram LM for the corpus under `corpusDir`
    * (documents passing `keep`) as the next generation of `lmDir`.
    * Refuses an empty corpus loudly ([[LexStore.writeBase]] stance —
    * a zero-token model would NaN every score). Returns
    * (vocabulary size, total tokens).
    *
    * `keepTopK` (r14, VERDICT r13 #6) is the 100-TB vocabulary cap —
    * the CCNet shape: persist only the K most frequent terms
    * (deterministic cnt-desc, term-asc order so two engines cut the
    * SAME boundary), every other term scores at the OOV floor.
    * `total_tokens` stays the FULL corpus count — capping the
    * vocabulary must not inflate the kept terms' probabilities, it
    * only coarsens the tail to the floor the ingest gate already
    * applies to genuinely-unseen tokens. Default uncapped. */
  def write(spark: SparkSession, corpusDir: String, lmDir: String,
            keepTopK: Option[Long] = None): (Long, Long) =
    writeBase(spark, corpusDir, lmDir, lit(true), keepTopK)

  private[llmdata] def writeBase(spark: SparkSession, corpusDir: String,
                                 lmDir: String, keep: Column,
                                 keepTopK: Option[Long] = None): (Long, Long) = {
    // ONE corpus pass (review r13): tokenize + aggregate once; the
    // uncapped path writes the narrow (term, cnt) file first and
    // derives the scalars from the materialized parquet — the
    // family's writer shape. The CAPPED path must take the total
    // over the FULL vocabulary before the cut, so it persists the
    // aggregated counts, takes the scalars, then writes the top-K
    // slice (the persist keeps this one corpus pass — only the small
    // counts frame is re-read, never the corpus).
    val tmp = GenDir.stage(spark, lmDir)
    val counts = Tables.documents(spark, corpusDir).filter(keep)
      .select(explode(TextAnalysis.toks(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val (vocab, total) = keepTopK match {
      case None =>
        counts.withColumn("bucket", LexStore.bucketOf(col("term")))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$tmp/freq.parquet")
        // explicit schema (review r13): a zero-token corpus writes
        // only _SUCCESS, and schema INFERENCE over the empty
        // directory throws before the total==0 refusal below could
        // run (leaking the staged dir); a declared schema reads zero
        // rows instead, so the refusal is reachable and cleans up
        // after itself
        val st = spark.read.schema("term STRING, cnt BIGINT, bucket INT")
          .parquet(s"$tmp/freq.parquet")
          .agg(count(lit(1)).as("v"), sum(col("cnt")).as("tot")).head
        (st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1))
      case Some(k) =>
        require(k > 0L, s"keepTopK must be positive, got $k")
        val pinned = counts
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val st = pinned
            .agg(count(lit(1)).as("v"), sum(col("cnt")).as("tot")).head
          val tot = if (st.isNullAt(1)) 0L else st.getLong(1)
          if (tot > 0L) {
            val capped = pinned
              .orderBy(col("cnt").desc, col("term").asc)
              .limit(if (k > Int.MaxValue) Int.MaxValue else k.toInt)
            capped.withColumn("bucket", LexStore.bucketOf(col("term")))
              .write.mode("overwrite").partitionBy("bucket")
              .parquet(s"$tmp/freq.parquet")
          }
          (math.min(st.getLong(0), k), tot)
        } finally {
          pinned.unpersist(blocking = false)
          ()
        }
    }
    if (total == 0L) {
      // refuse BEFORE commit; reclaim the staged empty write so the
      // refusal leaves no corpse for vacuum to explain
      val (f, t) = GenDir.fsOf(spark, tmp)
      f.delete(t, true)
      throw new IllegalStateException(
        s"refusing to commit an EMPTY unigram LM to $lmDir: the corpus " +
          s"under $corpusDir has no tokens (after the keep filter) - " +
          "every score would be ln(x/0); fix the corpus path and re-run")
    }
    GenDir.writeJson(spark, s"$tmp/stats.json",
      s"""{"format":$Format,"vocab":$vocab,"total_tokens":$total}""")
    GenDir.commit(spark, lmDir, tmp)
    (vocab, total)
  }

  /** Resolve the newest committed generation, loudly. */
  def resolveGen(spark: SparkSession, lmDir: String): String =
    GenDir.newest(spark, lmDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed unigram-LM generation under $lmDir - either the " +
          "model was never built or every build crashed before commit; " +
          "run LmStore.write (Ingest.bootstrap builds it)"))

  private def readStats(spark: SparkSession, gen: String): Long = {
    val path = s"$gen/stats.json"
    val text = GenDir.readJson(spark, path, "unigram LM stats.json")
    val fmt = GenDir.jsonLong(text, "format", path)
    if (fmt != Format)
      throw new IllegalStateException(
        s"unigram LM $path has format $fmt; this reader understands " +
          s"format $Format - rebuild the model")
    val total = GenDir.jsonLong(text, "total_tokens", path)
    if (total <= 0L)
      throw new IllegalStateException(
        s"unigram LM $path records $total total tokens - corrupt " +
          "artifact; rebuild the model")
    total
  }

  /** Score a (doc_id, text) frame against the persisted model —
    * (doc_id, n_tokens, micro_sum, avg_logprob), the batch pass's
    * exact micro-quantized math plus the OOV floor documented above.
    * The freq scan prunes to the scored frame's term buckets when
    * `pruneTerms` is set (the bounded-shard serving shape; the
    * registry's full-table twins score everything and skip the
    * collect). */
  def avgLogprob(spark: SparkSession, lmDir: String, docs: DataFrame,
                 pruneTerms: Boolean = true): DataFrame = {
    val gen = resolveGen(spark, lmDir)
    val total = readStats(spark, gen).toDouble
    val tok = docs
      .select(col("doc_id"), explode(TextAnalysis.toks(col("text"))).as("term"))
    val freq0 = spark.read.parquet(s"$gen/freq.parquet")
    val freq =
      if (!pruneTerms) freq0
      else {
        // the shard's distinct term BUCKETS (≤ LexStore.Buckets ints,
        // driver-side, bounded by the constant) partition-prune the
        // vocabulary scan — the same writer-expression trick as
        // [[LexStore.load]]
        val parts = tok.select(LexStore.bucketOf(col("term")).as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        freq0.filter(col("bucket").isin(parts: _*))
      }
    tok.join(freq.select(col("term"), col("cnt")), Seq("term"), "left")
      .select(col("doc_id"),
        floor(log(coalesce(col("cnt"), lit(1L)).cast("double") / lit(total))
          * lit(1000000.0) + lit(0.5)).as("micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("micro")).as("micro_sum"))
      .select(col("doc_id"), col("n_tokens"), col("micro_sum"),
        (col("micro_sum").cast("double") / lit(1000000.0) / col("n_tokens"))
          .as("avg_logprob"))
  }

  /** Session-memoized BASE LM per corpus (the [[LexStore.appendLexFor]]
    * convention): the model over the corpus MINUS the `doc_id % 10 ==
    * 7` shard — the standing-corpus generation the registered ingest
    * quality-gate entry scores that shard against. */
  def baseLmFor(spark: SparkSession, corpusDir: String): String =
    Memo(spark, "lm-base", corpusDir) {
      val d = java.nio.file.Files
        .createTempDirectory("graft-lmstore").toString
      writeBase(spark, corpusDir, d, col("doc_id") % 10 =!= 7)
      d
    }

  /** [[baseLmFor]] with the `keepTopK` vocabulary cap — the capped
    * ingest-gate registry entry's model. */
  def baseLmCappedFor(spark: SparkSession, corpusDir: String,
                      k: Long): String =
    Memo(spark, "lm-capped", corpusDir, k) {
      val d = java.nio.file.Files
        .createTempDirectory("graft-lmstore-cap").toString
      writeBase(spark, corpusDir, d, col("doc_id") % 10 =!= 7, Some(k))
      d
    }
}

/** `spark-submit`-able unigram-LM build job (the LexMain/GateMain
  * convention): persist the corpus LM as the next committed
  * generation of `lmDir`, print ONE JSON status line. An empty
  * corpus fails loudly inside [[LmStore.write]] (non-zero exit) —
  * the artifact family refuses to create the every-score-NaN hazard. */
object LmMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: LmMain <corpusDir> <lmDir>")
    val spark = graft.Session.builder()
      .appName("graft-lm-build")
      .getOrCreate()
    try {
      val (vocab, total) = LmStore.write(spark, args(0), args(1))
      println(s"""{"job":"lm_build","vocab":$vocab,""" +
        s""""total_tokens":$total,"format":${LmStore.Format}}""")
    } finally spark.stop()
  }
}
