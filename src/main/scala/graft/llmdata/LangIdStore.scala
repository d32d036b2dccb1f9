package graft.llmdata

import graft.{Memo, Tables}
import graft.sync.GenDir
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED TRAINED LANGUAGE-ID MODEL (r15, VERDICT r14 #8) — the
  * hashed char-n-gram classifier that upgrades the curation stack's
  * last heuristic ([[TextAnalysis.langIdProfile]]'s stopword ratios)
  * to a trained artifact, the fastText-langid shape: per-language
  * Naive-Bayes profiles over md5-HASHED CHARACTER TRIGRAMS, trained
  * closed-form (grouped counts — no gradient loop), persisted through
  * the family's [[GenDir]] protocol, scored row-locally with
  * micro-quantized exact-long math so the DuckDB oracle re-trains and
  * re-scores byte-identically from the raw tables (the
  * [[QualityStore]]/[[LmStore]] discipline).
  *
  * Scoring: doc score for language L =
  * `prior_micro(L) + Σ_trigrams w_micro(L, bucket)` where
  * `w_micro = floor(ln((cnt+1)/(tot_L+B))·1e6 + 0.5)`, unseen buckets
  * at L's smoothed-OOV constant, `prior_micro = floor(ln(n_docs_L /
  * n_docs)·1e6 + 0.5)`; prediction = argmax, ties broken by language
  * ascending. Docs shorter than one trigram are unscorable and are
  * excluded by the callers (the registered entry filters them; the
  * synthetic corpora have none).
  *
  * HONEST LABEL NOTE, measured r15: the driver corpora's `lang`
  * column is content-INDEPENDENT metadata (every language shares the
  * same 31-word vocabulary; a token-NB trained on the train split
  * scores 0.42 accuracy vs a 0.41 majority baseline), so no trained
  * model can hit an accuracy floor THERE. The accuracy contract is
  * therefore pinned on a planted multilingual corpus with real
  * lexical signal (LangIdSpec, 1.0 on held-out docs), while the
  * registered entry oracle-checks the artifact math end-to-end on
  * the driver corpus. */
object LangIdStore {

  val Format = 1

  /** Hashed trigram-bucket count (3 hex chars of md5). */
  val Buckets = 4096

  private def bucketOf(tri: Column): Column =
    substring(md5(tri.cast("binary")), 1, 3)

  /** (doc carrier columns, qb) — one row per char trigram of `text`.
    * Callers must pre-filter `length(text) >= 3` (Spark's
    * `sequence(1, 0)` is the DESCENDING [1, 0], not empty — the
    * lshBandsRowLocal pitfall).
    *
    * r15 optimization (guide §1/§4 — measured): the original
    * `transform(sequence(1, len-2), i -> substring(text, i, 3))` is
    * QUADRATIC per document — UTF8String.substringSQL re-walks the
    * string from byte 0 to find the i-th codepoint for every i, so a
    * 300-char doc pays ~45k char scans for 298 trigrams (measured
    * 2.8-5.0 s for the sf0.1 explode alone). The overlapping-capture
    * regex scan `(?s)(?=(...))` emits the identical trigram multiset
    * in ONE left-to-right pass (verified count+hash-identical on the
    * real corpus; `.` matches a codepoint exactly as substringSQL
    * counts them) — measured 0.55-0.88 s, 5-9x. */
  private def triBuckets(docs: DataFrame, carry: Seq[Column]): DataFrame =
    docs.filter(length(col("text")) >= 3)
      .select(carry :+ explode(expr(
        "regexp_extract_all(text, '(?s)(?=(...))', 1)"))
        .as("tri"): _*)
      .select(carry :+ bucketOf(col("tri")).as("qb"): _*)

  /** Train and commit the per-language profiles over `corpusDir`'s
    * documents passing `keep` (labels = the `lang` column). Returns
    * (n languages, total trigrams). */
  def write(spark: SparkSession, corpusDir: String, lDir: String,
            keep: Column = lit(true)): (Long, Long) = {
    val tmp = GenDir.stage(spark, lDir)
    val tr = Tables.documents(spark, corpusDir).filter(keep)
      .select(col("lang"), col("text"))
    val tok = triBuckets(tr, Seq(col("lang")))
    val cnts = tok.groupBy(col("lang"), col("qb"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tots = cnts.groupBy(col("lang")).agg(sum(col("c")).as("tot"))
      val docsN = tr.filter(length(col("text")) >= 3)
        .groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      val nAll = docsN.agg(sum(col("nd"))).head
      val total = if (nAll.isNullAt(0)) 0L else nAll.getLong(0)
      if (total == 0L) {
        val (f, t) = GenDir.fsOf(spark, tmp)
        f.delete(t, true)
        throw new IllegalStateException(
          s"refusing to commit an EMPTY langid model to $lDir: no " +
            s"scorable documents under $corpusDir (after the keep filter)")
      }
      // per-language scalars: trigram total, smoothed-OOV micro, prior
      val langs = tots.join(docsN, "lang")
        .select(col("lang"), col("tot"),
          floor(log(lit(1.0) / (col("tot") + lit(Buckets.toLong))
            .cast("double")) * lit(1000000.0) + lit(0.5)).as("oov_micro"),
          floor(log(col("nd").cast("double") / lit(total.toDouble)) *
            lit(1000000.0) + lit(0.5)).as("prior_micro"))
      langs.coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/langs.parquet")
      cnts.join(tots, "lang")
        .select(col("lang"), col("qb"),
          floor(log((col("c") + lit(1L)).cast("double") /
            (col("tot") + lit(Buckets.toLong)).cast("double")) *
            lit(1000000.0) + lit(0.5)).as("w_micro"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/weights.parquet")
      val nLangs = spark.read.parquet(s"$tmp/langs.parquet").count()
      val nTri = tots.agg(sum(col("tot"))).head.getLong(0)
      GenDir.writeJson(spark, s"$tmp/stats.json",
        s"""{"format":$Format,"n_langs":$nLangs,"total_trigrams":$nTri}""")
      GenDir.commit(spark, lDir, tmp)
      (nLangs, nTri)
    } finally {
      cnts.unpersist(blocking = false)
      ()
    }
  }

  def resolveGen(spark: SparkSession, lDir: String): String =
    GenDir.newest(spark, lDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed langid-model generation under $lDir - run " +
          "LangIdStore.write"))

  private def checkFormat(spark: SparkSession, gen: String): Unit = {
    val path = s"$gen/stats.json"
    val text = GenDir.readJson(spark, path, "langid model stats.json")
    val fmt = GenDir.jsonLong(text, "format", path)
    if (fmt != Format)
      throw new IllegalStateException(
        s"langid model $path has format $fmt; this reader understands " +
          s"format $Format - rebuild the model")
  }

  /** Score a (doc_id, text) frame — (doc_id, lang_pred, score_micro),
    * argmax over the persisted profiles, ties by language ascending.
    * Docs shorter than one trigram emit no row (unscorable). Both
    * model tables are broadcast-sized (≤ langs × [[Buckets]] rows).
    *
    * Plan shape (r15-optimized, guide §2.3/§2.4 — measured): the
    * r15-original shape shuffled a per-(doc, qb) count frame that
    * measured ~95% the size of the raw explode (~300 trigrams/doc
    * rarely collide in 4096 buckets — that exchange compressed
    * nothing), then multiplied every bucket row by the #languages
    * holding it (5x rows through the weights join), crossJoined the
    * language dimension and ran a per-doc window for the argmax —
    * measured 4.5-4.8 s at sf0.1, ~1.4 s of it the row-multiplying
    * join alone. Now the weights broadcast PIVOTED WIDE (one row per
    * bucket, one `w_micro` column per language — ≤ [[Buckets]] rows
    * regardless of corpus), so each trigram instance does ONE
    * broadcast lookup with no row multiplication, partial-aggregates
    * straight to a single per-doc row (per-language sum/count
    * buffers), and the argmax + tie-break is a row-local
    * `sort_array(array(struct(-score, lang)))[1]` — zero joins past
    * the broadcast, zero windows, ONE exchange (the 5k-row per-doc
    * aggregate). `n_tok` needs no aggregation at all: the trigram
    * count of a scorable doc IS `length(text) - 2`. The per-class sum
    * folds the unseen buckets arithmetically:
    * `Σ_tokens m = w_sum + (n_tok − c_seen)·oov` — exact-long equal
    * to the per-token coalesce (`Σ c·w` over bucket counts ≡ `Σ w`
    * over instances; `count(w_L)` counts exactly the instances whose
    * (lang, bucket) carries a trained weight). Every language scores
    * every doc — zero-hit languages fold to `prior + n_tok·oov` — and
    * ties still break lang-ascending (the struct sort's second key),
    * so the output is row-identical to the windowed form. */
  def predict(spark: SparkSession, lDir: String, docs: DataFrame): DataFrame = {
    val gen = resolveGen(spark, lDir)
    checkFormat(spark, gen)
    val langs = spark.read.parquet(s"$gen/langs.parquet")
    val w = spark.read.parquet(s"$gen/weights.parquet")
    // language scalars to the driver: #langs rows (the same frame the
    // windowed form broadcast) — bounded by the trained-language count
    val langRows = langs.select(col("lang"), col("oov_micro"),
        col("prior_micro")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val langNames = langRows.map(_._1).toSeq
    val wWide = w.groupBy(col("qb"))
      .pivot("lang", langNames).agg(first(col("w_micro")))
    val hits = triBuckets(docs.filter(length(col("text")) >= 3)
        .select(col("doc_id"),
          (length(col("text")) - lit(2)).cast("long").as("n_tok"),
          col("text")),
      Seq(col("doc_id"), col("n_tok")))
    val aggs = langRows.flatMap { case (l, _, _) =>
      Seq(sum(col(s"`$l`")).as(s"s_$l"), count(col(s"`$l`")).as(s"c_$l"))
    }
    val perDoc = hits.join(broadcast(wWide), Seq("qb"), "left")
      .groupBy(col("doc_id"), col("n_tok"))
      .agg(aggs.head, aggs.tail: _*)
    val scoreStructs = langRows.map { case (l, oov, prior) =>
      struct((-(lit(prior) + coalesce(col(s"`s_$l`"), lit(0L)) +
        (col("n_tok") - col(s"`c_$l`")) * lit(oov))).as("neg"),
        lit(l).as("lang"))
    }
    perDoc
      .withColumn("best", element_at(sort_array(array(scoreStructs: _*)), 1))
      .select(col("doc_id"), col("best.lang").as("lang_pred"),
        (-col("best.neg")).as("score_micro"))
  }

  /** Session-memoized model per corpus, trained on the deterministic
    * TRAIN split ([[TextAnalysis.splitColumn]]) — the registered
    * entry's artifact. */
  def trainedFor(spark: SparkSession, corpusDir: String): String =
    Memo(spark, "langid-trained", corpusDir) {
      val d = java.nio.file.Files
        .createTempDirectory("graft-langid").toString
      write(spark, corpusDir, d,
        keep = TextAnalysis.splitColumn(col("doc_id")) === "train")
      d
    }

  /** The registered entry (r15, VERDICT r14 #8): train on the
    * deterministic train split, predict over every scorable document.
    * ORACLE-CHECKED end-to-end — DuckDB re-trains the profiles and
    * re-runs the argmax from the raw tables. */
  def langIdTrained(spark: SparkSession, corpusDir: String): DataFrame =
    predict(spark, trainedFor(spark, corpusDir),
      Tables.documents(spark, corpusDir).select(col("doc_id"), col("text")))
      .orderBy(col("doc_id"))
}

/** `spark-submit`-able langid-model build job ([[LmMain]] convention). */
object LangIdMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: LangIdMain <corpusDir> <langIdDir>")
    val spark = graft.Session.builder()
      .appName("graft-langid-build")
      .getOrCreate()
    try {
      val (nLangs, nTri) = LangIdStore.write(spark, args(0), args(1))
      println(s"""{"job":"langid_build","n_langs":$nLangs,""" +
        s""""total_trigrams":$nTri,"format":${LangIdStore.Format}}""")
    } finally spark.stop()
  }
}
