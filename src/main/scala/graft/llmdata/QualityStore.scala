package graft.llmdata

import graft.{Memo, Tables}
import graft.sync.GenDir
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED TRAINED QUALITY CLASSIFIER (r15, VERDICT r14 #6) — the
  * fastText/CCNet-class discriminative filter every production
  * pipeline runs beside the heuristic gates: a LINEAR scorer over
  * HASHED unigram features, trained by closed-form Naive-Bayes
  * log-odds (two distributed grouped counts — no gradient loop, no
  * driver-side matrix), persisted through the family's [[GenDir]]
  * stage + marker-last + rename protocol, and served row-locally at
  * ingest as an optional fate signal exactly like the unigram LM.
  *
  * Training contrast: POSITIVE = documents passing the caller's label
  * column (the production recipe labels a trusted reference corpus —
  * WebText-vs-CommonCrawl — positive; the registered default
  * contrasts the [[GoldSources]] source set); NEGATIVE = the rest.
  * Features are md5-hashed unigram buckets (`substr(md5(term), 1, 3)`
  * — 4096 buckets, the [[TextAnalysis.dsirWeights]] bucket device),
  * so the DuckDB oracle recomputes training AND scoring
  * byte-identically from the raw tables — the [[LmStore]]
  * "artifact-served ≡ from-scratch" discipline.
  *
  * Weight math, micro-quantized like the LM's ([[LmStore.avgLogprob]]):
  * per bucket b,
  * `w(b) = ln((cnt_pos(b)+1)/(tot_pos+B)) − ln((cnt_neg(b)+1)/(tot_neg+B))`
  * stored as `floor(w·1e6 + 0.5)` BIGINT; a bucket unseen in BOTH
  * classes scores the constant OOV log-odds
  * `ln((tot_neg+B)/(tot_pos+B))` (the +1-smoothed w at cnt 0/0),
  * derived from the persisted scalars — never a silent 0. A document's
  * score is the exact-long micro sum over its tokens, reported with
  * `avg_logodds = micro_sum/1e6/n_tokens`; positive means
  * gold-side-likely.
  *
  * Drift stance: FROZEN like the LM — [[Ingest.rebuild]]-cadence
  * re-training, never per-shard updates. */
object QualityStore {

  val Format = 1

  /** Hashed feature-bucket count (4096 = 3 hex chars of md5). */
  val Buckets = 4096

  /** The registered entries' default training contrast: a quarter of
    * the synthetic corpus' sources play the trusted reference side. A
    * production deployment passes its own label column (its gold
    * corpus membership) — this constant only pins the registry/oracle
    * pair to one deterministic contrast. */
  val GoldSources: Seq[String] = Seq("src0", "src1", "src2", "src3", "src4")

  private[llmdata] def goldLabel: Column = col("source").isin(GoldSources: _*)

  private def bucketOf(term: Column): Column =
    substring(md5(term.cast("binary")), 1, 3)

  /** Train and commit the classifier over `corpusDir`'s documents
    * passing `keep`, labeled by `positive`. Returns
    * (tot_pos, tot_neg) token totals. Refuses a one-sided corpus
    * loudly (log-odds need both classes). */
  def write(spark: SparkSession, corpusDir: String, qDir: String,
            positive: Column = goldLabel,
            keep: Column = lit(true)): (Long, Long) = {
    val tmp = GenDir.stage(spark, qDir)
    val tok = Tables.documents(spark, corpusDir).filter(keep)
      .select(positive.as("pos"),
        explode(TextAnalysis.toks(col("text"))).as("term"))
      .select(col("pos"), bucketOf(col("term")).as("qb"))
    val counts = tok.groupBy(col("qb"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("c_neg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val st = counts.agg(sum(col("c_pos")), sum(col("c_neg"))).head
      val (totPos, totNeg) =
        (if (st.isNullAt(0)) 0L else st.getLong(0),
          if (st.isNullAt(1)) 0L else st.getLong(1))
      if (totPos == 0L || totNeg == 0L) {
        val (f, t) = GenDir.fsOf(spark, tmp)
        f.delete(t, true)
        throw new IllegalStateException(
          s"refusing to commit a ONE-SIDED quality classifier to $qDir: " +
            s"positive tokens $totPos, negative $totNeg - log-odds need " +
            "both classes; fix the label column or the corpus")
      }
      counts.select(col("qb"),
          floor((log((col("c_pos") + 1L).cast("double") /
            lit((totPos + Buckets).toDouble)) -
            log((col("c_neg") + 1L).cast("double") /
              lit((totNeg + Buckets).toDouble))) * lit(1000000.0) +
            lit(0.5)).as("w_micro"))
        .coalesce(1) // ≤ 4096 rows — one clean file
        .write.mode("overwrite").parquet(s"$tmp/weights.parquet")
      GenDir.writeJson(spark, s"$tmp/stats.json",
        s"""{"format":$Format,"tot_pos":$totPos,"tot_neg":$totNeg}""")
      GenDir.commit(spark, qDir, tmp)
      (totPos, totNeg)
    } finally {
      counts.unpersist(blocking = false)
      ()
    }
  }

  def resolveGen(spark: SparkSession, qDir: String): String =
    GenDir.newest(spark, qDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed quality-classifier generation under $qDir - " +
          "run QualityStore.write"))

  private def readStats(spark: SparkSession, gen: String): (Long, Long) = {
    val path = s"$gen/stats.json"
    val text = GenDir.readJson(spark, path, "quality classifier stats.json")
    val fmt = GenDir.jsonLong(text, "format", path)
    if (fmt != Format)
      throw new IllegalStateException(
        s"quality classifier $path has format $fmt; this reader " +
          s"understands format $Format - rebuild the model")
    (GenDir.jsonLong(text, "tot_pos", path),
      GenDir.jsonLong(text, "tot_neg", path))
  }

  /** Score a (doc_id, text) frame against the persisted weights —
    * (doc_id, n_tokens, micro_sum, avg_logodds). Row-local given the
    * broadcast-sized weights table (≤ [[Buckets]] rows); unseen
    * buckets score the smoothed-OOV constant derived from the
    * persisted totals. */
  def score(spark: SparkSession, qDir: String, docs: DataFrame): DataFrame = {
    val gen = resolveGen(spark, qDir)
    val (totPos, totNeg) = readStats(spark, gen)
    val oovMicro = math.floor(
      (math.log(1.0 / (totPos + Buckets).toDouble) -
        math.log(1.0 / (totNeg + Buckets).toDouble)) * 1e6 + 0.5).toLong
    val w = spark.read.parquet(s"$gen/weights.parquet")
    docs.select(col("doc_id"),
        explode(TextAnalysis.toks(col("text"))).as("term"))
      .select(col("doc_id"), bucketOf(col("term")).as("qb"))
      .join(broadcast(w), Seq("qb"), "left")
      .select(col("doc_id"),
        coalesce(col("w_micro"), lit(oovMicro)).as("micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("micro")).as("micro_sum"))
      .select(col("doc_id"), col("n_tokens"), col("micro_sum"),
        (col("micro_sum").cast("double") / lit(1000000.0) / col("n_tokens"))
          .as("avg_logodds"))
  }

  /** Session-memoized BASE classifier per corpus ([[LmStore.baseLmFor]]
    * convention): trained on the corpus MINUS the `doc_id % 10 == 7`
    * shard — the standing-corpus generation the registered ingest
    * quality-gate entry scores that shard against. */
  def baseQualityFor(spark: SparkSession, corpusDir: String): String =
    Memo(spark, "quality-base", corpusDir) {
      val d = java.nio.file.Files
        .createTempDirectory("graft-qualitystore").toString
      write(spark, corpusDir, d, keep = col("doc_id") % 10 =!= 7)
      d
    }
}

/** `spark-submit`-able classifier build job ([[LmMain]] convention). */
object QualityMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QualityMain <corpusDir> <qDir>")
    val spark = graft.Session.builder()
      .appName("graft-quality-build")
      .getOrCreate()
    try {
      val (p, n) = QualityStore.write(spark, args(0), args(1))
      println(s"""{"job":"quality_build","tot_pos":$p,"tot_neg":$n,""" +
        s""""buckets":${QualityStore.Buckets},"format":${QualityStore.Format}}""")
    } finally spark.stop()
  }
}
