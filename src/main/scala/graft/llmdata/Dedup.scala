package graft.llmdata

import graft.{Memo, Tables}
import graft.plans.Bloom
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operator family over the `documents` table — the four
  * classic large-corpus strategies (exact hash, exact n-gram Jaccard,
  * MinHash-LSH, SimHash), each designed for the 100 TB shape:
  * hash-partitioned group-bys and inverted-index / banded candidate
  * joins only — never an all-pairs cross join, never a driver collect.
  *
  * The reference pipeline has no dedup (its unit is a transaction);
  * these extend the engine for training-data curation per the driver's
  * north star.
  */
object Dedup {

  // ---------------------------------------------------------- pair gen
  /** Unordered pairs from a sorted id-array column: explode each group's
    * candidate list into (id_a < id_b) pairs IN the executor (a
    * row-local double `transform`), so downstream pair-counting
    * partially aggregates map-side before any shuffle. The self-join
    * alternative shuffles all d² pair rows per group; this generates
    * them local to the group's task. Skew guard at scale: cap group
    * size upstream (df-cap / band width) — a d-element group still
    * produces d(d-1)/2 pairs in one task. */
  private def pairExplode(ids: String): Column = expr(
    s"""flatten(transform($ids, (x, i) ->
       |  transform(slice($ids, i + 2, size($ids)), y -> struct(x AS id_a, y AS id_b))))""".stripMargin)

  // ------------------------------------------------------------ shingles
  /** Word 3-gram shingle set from a pre-split token array. Mirrored by
    * [[LlmQueries.shingleCte]] in DuckDB.
    *
    * Takes tokens, not text, on purpose: higher-order lambdas are
    * interpreted and re-evaluate their argument tree per element, so
    * inlining `split(text)` here would re-split the document for every
    * element_at — O(tokens²) per doc (measured 8 s for 5 k docs).
    * Callers project the split into its own attribute first; Catalyst
    * keeps that projection separate (non-cheap expr, multiple refs). */
  def shinglesFromTokens(toks: Column): Column =
    when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ",
          element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3)))))
      .otherwise(array().cast("array<string>"))

  /** doc_id + shingle set for every document (array form — used where a
    * per-doc set value is needed; prefer [[shinglePostings]] in join
    * pipelines). */
  def docShingles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks")).as("sh"))

  /** Distinct (doc_id, shingle) postings, computed codegen-only: explode
    * tokens once, `lead`-chain the next two over (doc, pos), concat.
    * Identical shingle strings/sets to [[docShingles]] (DedupSpec
    * asserts the equivalence) but ~3× faster — the array `transform`
    * form pays an interpreted lambda per shingle. Docs with <3 tokens
    * contribute no postings, matching the empty shingle array.
    *
    * The postings frame is cached ONCE per (session, dir) — jaccard and
    * minhash both walk it several times within a query and across the
    * registry, and per-call `.cache()` on fresh plan objects triggered
    * "already cached" churn in the cache manager (VERDICT r03 #3). The
    * cache is session-lifetime until [[graft.Memo.release]]. */
  def shinglePostings(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, "postings", dir) {
      // r15: row-local overlapping-capture trigram
      // windows ([[TextAnalysis.tokenWindowPattern]]) instead of
      // posexplode + a 2-deep lead chain — drops the
      // Exchange(doc_id) + sort of the full token stream ahead of
      // the distinct (window multiset verified identical on the
      // real corpus; the contamination/span builders share the
      // same restatement)
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(expr(
          s"regexp_extract_all(text, '${TextAnalysis.tokenWindowPattern(3)}', 1)"))
          .as("g"))
        .distinct()
        .cache()
    }

  // ------------------------------------------------------- exact dedup
  /** Exact dedup by content hash: one survivor (min doc_id) per distinct
    * md5(text). At 100 TB this is a single hash-partitioned group-by on
    * a 16-byte key — the cheapest possible full-corpus dedup. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))

  // --------------------------------------------- exact n-gram Jaccard
  /** Exact 3-gram Jaccard near-dup pairs via an inverted-index join:
    * explode shingles → join docs sharing a shingle → |∩| = pair count
    * (shingle sets are distinct) → Jaccard from per-doc set sizes.
    *
    * Scale path: the shuffle is on the shingle key, so cost is
    * Σ_shingle df² — bounded by dropping ultra-common shingles (df cap),
    * exposed as `maxDocFreq`. The REGISTERED query runs capped
    * (LlmQueries.JaccardDocFreqCap, mirrored in the DuckDB oracle's
    * HAVING clause) so the default surface never carries the
    * one-viral-shingle d²/2 blowup; the uncapped form stays available as
    * the spec-only exact baseline (DedupSpec). Per-doc set sizes `nsh`
    * are computed BEFORE the cap, so capping only ever shrinks |∩| —
    * a conservative Jaccard estimate, never an inflated one. */
  def jaccardPairs(spark: SparkSession, dir: String, threshold: Double,
                   maxDocFreq: Option[Long] = None): DataFrame = {
    val all = shinglePostings(spark, dir)
    val sizes = all.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val posting = maxDocFreq match {
      case Some(cap) =>
        val df = all.groupBy("g").agg(count(lit(1)).as("df")).filter(col("df") <= cap)
        all.join(df.select("g"), "g")
      case None => all
    }
    // Inverted index: per shingle, the sorted posting list of doc ids;
    // |∩| for a pair = number of shingle groups emitting it. Pair rows
    // are generated executor-local and partially counted map-side —
    // no d²-row shuffle per shingle (see pairExplode).
    val inter = posting.groupBy(col("g"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairExplode("ids")).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("nsh", "nsh_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("nsh", "nsh_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("nsh_a") + col("nsh_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
  }

  /** ASYMMETRIC CONTAINMENT near-dup pairs — the inclusion detector
    * symmetric Jaccard structurally misses: when a short document is
    * quoted whole inside a much longer one, |∩|/|∪| is diluted by the
    * long side's size and the pair never crosses a Jaccard threshold,
    * but containment(A in B) = |S(A)∩S(B)| / |S(A)| is ~1 regardless
    * of the container's length (the Broder containment coefficient —
    * the quote/boilerplate-inclusion case a real dedup must catch at
    * pair grain, complementing [[TextAnalysis.spanRemoval]]'s span
    * grain). Same inverted-index plan as [[jaccardPairs]] — postings,
    * df cap, local pair explode, map-side partial counts — emitting
    * both directions' coefficients per (id_a < id_b) pair; per-doc set
    * sizes are computed BEFORE the cap, so capping only shrinks |∩|
    * and the coefficient is conservative, never inflated. The
    * double-division of two exact longs is a single IEEE op, identical
    * in DuckDB ⇒ oracle hash-checkable. */
  def containmentPairs(spark: SparkSession, dir: String, threshold: Double,
                       maxDocFreq: Option[Long] = None): DataFrame = {
    val all = shinglePostings(spark, dir)
    val sizes = all.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val posting = maxDocFreq match {
      case Some(cap) =>
        val df = all.groupBy("g").agg(count(lit(1)).as("df")).filter(col("df") <= cap)
        all.join(df.select("g"), "g")
      case None => all
    }
    val inter = posting.groupBy(col("g"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairExplode("ids")).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("nsh", "nsh_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("nsh", "nsh_b"), "id_b")
      .withColumn("cont_a", col("inter").cast("double") / col("nsh_a"))
      .withColumn("cont_b", col("inter").cast("double") / col("nsh_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("cont_a"), col("cont_b"))
      .orderBy(greatest(col("cont_a"), col("cont_b")).desc,
        col("id_a"), col("id_b"))
  }

  // ------------------------------------------------------- MinHash-LSH
  /** Number of MinHash functions / LSH bands (16 bands × 2 rows): for
    * J=0.5 the miss probability is (1-0.25)^16 ≈ 1%, and planted dups
    * in this corpus sit near J≈0.9 where it is ~0. */
  val NumHashes = 32
  val NumBands = 16
  private[llmdata] val RowsPerBand = NumHashes / NumBands

  /** (doc_id, band, sig) — banded LSH keys; candidate pairs are docs
    * agreeing on (band, sig), i.e. an equi-join key, never all-pairs.
    * `bands`/`rows` parameterize the banding for the ADAPTIVE gate
    * keyings ([[GateBandLadder]]); the defaults are the fixed batch
    * keying every registered pair family pins. */
  def lshBands(signatures: DataFrame, bands: Int = NumBands,
               rows: Int = RowsPerBand): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => col(s"mh${b * rows + r}"))
      struct(lit(b).as("band"), xxhash64(lit(b) +: cols: _*).as("sig"))
    }
    signatures
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** ROW-LOCAL banded MinHash keys for a (doc_id, text) frame — the
    * streaming-safe twin of [[lshBands]]∘signature-aggregation: the
    * whole signature computes inside one row via array lambdas (shingle
    * array → per-hash `array_min(transform(...))`), no groupBy, so it
    * runs on an unbounded stream with ZERO state. Hash-identical to the
    * aggregate form (same `xxhash64(j, g)` per shingle, min over the
    * same distinct-shingle set, same [[lshBands]] banding code; DedupSpec
    * asserts frame equality), so a stream-side key joins the batch-built
    * index correctly. Docs too short for a shingle are filtered BEFORE
    * the shingle lambda and emit no keys, matching the postings form —
    * the filter must come first because Spark's `sequence(0, -1)` is the
    * descending [0, -1], not empty, and would index element_at(t0, 0). */
  def lshBandsRowLocal(docs: DataFrame, bands: Int = NumBands,
                       rows: Int = RowsPerBand): DataFrame = {
    val sh = shingleSetExpr
    val mh = (0 until bands * rows).map(j =>
      array_min(transform(col("sh"), g => xxhash64(lit(j), g))).as(s"mh$j"))
    lshBands(docs
      .select(col("doc_id"), split(col("text"), " ").as("t0"))
      .filter(size(col("t0")) >= 3)
      .select(col("doc_id"), sh.as("sh"))
      .select(col("doc_id") +: mh: _*), bands, rows)
  }

  /** The row-local distinct-3-shingle set over a tokenized `t0` array
    * column — ONE definition shared by [[lshBandsRowLocal]] and the
    * ingest classifier's exact-Jaccard candidate verification
    * ([[graft.llmdata.Ingest]]), so the gate's candidates and the
    * verifier score the same shingle universe. */
  private[llmdata] def shingleSetExpr: Column = array_distinct(expr(
    """transform(sequence(0, size(t0) - 3),
      |  i -> concat_ws(' ', element_at(t0, i + 1), element_at(t0, i + 2),
      |                 element_at(t0, i + 3)))""".stripMargin))

  /** (doc_id, mh0..mh31) MinHash signature table from the shingle
    * postings — shared by [[minhashNearDup]] and [[corpusBandIndex]] so
    * the signature definition lives in exactly one place. */
  private def minhashSignatures(posting: DataFrame,
                                nHashes: Int = NumHashes): DataFrame = {
    val sigAggs = (0 until nHashes).map(j =>
      min(xxhash64(lit(j), col("g"))).as(s"mh$j"))
    posting.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
  }

  /** The corpus-side LSH band index — the artifact a production gate
    * keeps hot (rebuilt per corpus compaction, broadcast to the
    * ingestion stream). */
  def corpusBandIndex(spark: SparkSession, dir: String,
                      bands: Int = NumBands,
                      rows: Int = RowsPerBand): DataFrame =
    lshBands(minhashSignatures(shinglePostings(spark, dir), bands * rows),
        bands, rows)
      .withColumnRenamed("doc_id", "corpus_id")

  /** STREAMING NEAR-DUP GATE — the live ingestion filter: incoming
    * (doc_id, text) rows emit a match event per corpus document they
    * LSH-collide with. The stream side computes its band keys
    * row-locally ([[lshBandsRowLocal]]) and equi-joins the STATIC
    * corpus index on (band, sig) — a stream-static join, so zero join
    * state, append-safe with no watermark, broadcastable index. This
    * is the production split: the cheap in-stream gate emits
    * candidates; exact verification (and [[dedupDelta]]'s full
    * classification) runs out-of-band on the candidate set only.
    * Works identically on a batch frame (DedupSpec proves stream ≡
    * batch ≡ the aggregate-form candidates). */
  def streamingNearDupGate(incoming: DataFrame,
                           corpusIndex: DataFrame,
                           broadcastIndex: Boolean = true,
                           broadcastIncoming: Boolean = false,
                           bands: Int = NumBands,
                           rows: Int = RowsPerBand): DataFrame = {
    // join-shape knobs (r13, mirroring [[streamingEmbedGate]]'s
    // stance): the DEFAULT broadcasts the index — the hot-cache
    // deployment at test scales. A corpus-sized index must not ride
    // the driver, so [[graft.llmdata.Ingest]] flips broadcastIndex
    // off from the PERSISTED key count ([[bandIndexKeyCount]]); the
    // usual production shape is then `broadcastIncoming` — a bounded
    // shard's bands broadcast INTO a streamed scan of the big index
    // (zero shuffle of the corpus side; measured at the 2M-doc
    // ingest-scale point, where the plain join's static planner saw
    // a stats-free checkpointed shard side and shuffled all 16M gate
    // keys instead). Neither flag = plain equi-join on (band, sig) —
    // the both-sides-huge fallback, one shuffle each.
    // the incoming side MUST band at the index's own keying
    // ([[gateBandParams]]) — a probe banded differently never joins
    val bkeys = lshBandsRowLocal(incoming, bands, rows)
    val joined =
      if (broadcastIndex) bkeys.join(broadcast(corpusIndex), Seq("band", "sig"))
      else if (broadcastIncoming)
        corpusIndex.join(broadcast(bkeys), Seq("band", "sig"))
      else bkeys.join(corpusIndex, Seq("band", "sig"))
    joined.select(col("doc_id"), col("corpus_id"), col("band"))
  }

  /** Total persisted key count of a gate index (base meta + delta
    * markers — marker reads only, no data scan): the cheap input to
    * the broadcast-vs-shuffle decision above. Works for both gate
    * kinds (their markers share the n_keys field). */
  def bandIndexKeyCount(spark: SparkSession, idxDir: String): Long = {
    import graft.sync.GenDir
    val gen = GenDir.newest(spark, idxDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed band-index generation under $idxDir"))
    val metaPath = s"$gen/meta.json"
    val base = GenDir.jsonLong(GenDir.readJson(spark, metaPath,
      "band index meta.json"), "n_keys", metaPath)
    base + GenDir.deltas(spark, gen).map { case (_, d) =>
      GenDir.jsonLong(GenDir.readJson(spark, s"$d/delta.json",
        "band index delta.json"), "n_keys", s"$d/delta.json")
    }.sum
  }

  /** Corpus-adaptive hyperplane bits per band for the embedding-LSH
    * family — shared by the batch pair kernel ([[embedPairsOf]]) and
    * the streaming gate below so their candidate structures are the
    * SAME keying: expected bucket width ≈ n/2^bits aimed at half the
    * tile bound, which holds the PER-ROW candidate load (≈ 8 bands ×
    * width/2) CONSTANT as the corpus grows. UNCAPPED since r12
    * (measured at the synth100x point): the old `min(8, …)` cap bound
    * buckets at 256/band, so past ~524k vectors width — and with it
    * both the gate's per-row cost and the pair kernel's total
    * candidate count — grew linearly with N (candidate work
    * quadratic). The only remaining ceiling is the plane pool /
    * exact-Int bucket bound (30 bits/band ⇒ binds at ~2^30·width ≈
    * 2×10^12 vectors — no corpus). The DOCUMENTED trade: hyperplane
    * collision probability per band is p^bits (p = 1 − θ/π), so at
    * fixed similarity more bits cost gate recall — near-IDENTICAL
    * re-posts (p → 1, the gate's target class) survive every realistic
    * width, while loose-threshold semantic dedup at corpus scale
    * belongs to the SemDeDup / IVF families, not a band gate. */
  private[llmdata] def embedBandBits(n: Long,
                                     maxBucketWidth: Int = EmbedMaxBucketWidth): Int = {
    def ceilLog2(x: Long): Int =
      if (x <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)
    math.max(2, math.min(30, ceilLog2(2L * n / maxBucketWidth)))
  }

  /** The banding the embedding gate pair below must agree on — derive
    * it ONCE from the corpus. Package-visible for specs; callers get
    * it CARRIED INSIDE [[EmbedBandIndex]] (review r9: a free-floating
    * bit-width parameter let a caller join an index built at one
    * width with a stream keyed at another — type-checks, runs, and
    * silently never collides; carrying the width with the keys
    * removes that mismatch class instead of documenting it). */
  private[llmdata] def embedGateBits(spark: SparkSession, dir: String): Int =
    embedBandBits(Similarity.corpusCount(spark, dir))

  /** The corpus-side embedding band index AND the bit width its keys
    * were built at — the two travel together so a gate can never key
    * its stream side at a different width than the index. */
  final case class EmbedBandIndex(keys: DataFrame, bitsPerBand: Int)

  /** Corpus-side EMBEDDING band index — the semantic sibling of
    * [[corpusBandIndex]]: every corpus vector's 8 hyperplane-LSH
    * (band, bucket) keys, the artifact a production semantic gate
    * keeps hot (rebuilt per corpus compaction). Same hyperplanes,
    * band count, and corpus-adaptive bit width as [[embedPairsOf]]'s
    * kernel, so gate collisions mirror the batch candidate structure
    * exactly. */
  def corpusEmbedBandIndex(spark: SparkSession, dir: String): EmbedBandIndex = {
    val bits = embedGateBits(spark, dir)
    EmbedBandIndex(
      Similarity.lshKeys(
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", numBands = 8, bitsPerBand = bits)
        .select(col("vec_id").as("corpus_id"), col("band"), col("bucket")),
      bits)
  }

  /** STREAMING SEMANTIC NEAR-DUP GATE — the embedding-space live
    * filter next to the shingle gate above (a paraphrase leak shares
    * no shingles; only embedding similarity flags it in-stream):
    * incoming (vec_id, embedding) rows key themselves ROW-LOCALLY
    * (hyperplane sign bits are pure per-row column arithmetic — zero
    * aggregation, zero state, append-safe) and equi-join the static
    * corpus index on (band, bucket) at the width the index CARRIES.
    * Dense-vector LSH trades differently than shingle MinHash:
    * unrelated vectors DO collide in some band at these bit widths
    * (the gate is a candidate GENERATOR, sized by the same banding
    * the batch kernel verifies behind), so downstream exact
    * verification is not optional — an identical vector collides in
    * ALL 8 bands, which is the high-precision signal a router can
    * act on immediately. `broadcastIndex = true` (default) pins the
    * hot-cache deployment the docs describe at test scales; an index
    * over a corpus too big to broadcast (N×8 rows — the same ceiling
    * argument as [[BloomLiteralMaxBytes]]'s carrier split) passes
    * `false` and the per-micro-batch join shuffles on (band, bucket)
    * instead (stream-static equi-joins stay stateless either way).
    * Works identically on a batch frame. */
  def streamingEmbedGate(incoming: DataFrame, index: EmbedBandIndex,
                         broadcastIndex: Boolean = true): DataFrame = {
    val right = if (broadcastIndex) broadcast(index.keys) else index.keys
    Similarity.lshKeys(incoming.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", numBands = 8, bitsPerBand = index.bitsPerBand)
      .join(right, Seq("band", "bucket"))
      .select(col("vec_id"), col("corpus_id"), col("band"))
  }

  // ------------------------------------- persisted gate indexes (r11)
  /** On-disk format version for the persisted gate indexes. Format 3
    * (r14, VERDICT r13 #1) is the POINT-LOOKUP layout: keys
    * hash-bucketed by a `gpart` partition column and SORTED within
    * bucket files by their probe key (`sig` for the shingle gate,
    * `bucket` for the embed gate), with small pages
    * ([[GatePageRows]]) so a bounded shard's pushed key equalities
    * skip row groups and pages instead of streaming the whole index
    * — the `sinkKeepers` trick applied to the last O(corpus)
    * per-shard scan. Format-2 indexes fail loudly at load with the
    * standing "rebuild" remediation. */
  val GateIndexFormat = 3

  /** Gate-index hash buckets — the `gpart = pmod(xxhash64(band, key),
    * GateParts)` partition column of the format-3 layout. A constant
    * like `Ingest.KeeperParts` (same value — the skipping power comes
    * from the within-bucket SORT + small pages, not the bucket count,
    * while every extra bucket multiplies the small files each
    * per-shard delta lands): probes collect their bucket list
    * driver-side bounded by it, never by the data. */
  val GateParts = 16

  /** Max rows per parquet page in a gate index file — small pages are
    * the skip granularity of the point-lookup probe (parquet column
    * indexes prune at page level): a pushed key equality reads ~this
    * many rows instead of the bucket, so the per-probe cost is a
    * PAGE, corpus-independent, no matter how big the bucket grows.
    * The price is more page headers/stats on a narrow 3-column
    * table — noise next to the scans it retires. */
  private[llmdata] val GatePageRows = 2048

  /** The format-3 bucket column over a gate key pair. */
  private[llmdata] def gpartOf(band: Column, key: Column): Column =
    pmod(xxhash64(band, key), lit(GateParts.toLong)).cast("int")

  /** Write a gate-index key frame in the format-3 point-lookup
    * layout: hash-bucketed by `gpart`, sorted within bucket files by
    * the probe key, small pages. One shuffle over the keys being
    * written (the base build's own rows, or a shard-sized delta). */
  private def writeGateKeys(keys: DataFrame, keyCol: String,
                            path: String): Unit = {
    val withG = keys.withColumn("gpart", gpartOf(col("band"), col(keyCol)))
    // an EMPTY key frame must still land a readable schema: dynamic
    // partitioning writes zero files for zero rows and the read-back
    // would fail schema inference, so write it unpartitioned (gpart
    // rides as a plain int column — same schema either way)
    if (withG.isEmpty)
      withG.write.mode("overwrite").parquet(path)
    else withG
      .repartition(col("gpart"))
      .sortWithinPartitions(col("gpart"), col(keyCol))
      .write.mode("overwrite")
      .option("parquet.page.row.count.limit", GatePageRows)
      .partitionBy("gpart")
      .parquet(path)
  }

  /** Persist the corpus-side EMBEDDING band index — keys AND the bit
    * width they were keyed at — through the [[graft.sync.GenDir]]
    * commit protocol (VERDICT r10 #7): a RESTARTED ingestion stream
    * loads its gate from disk instead of re-keying the whole corpus,
    * and the carried width can never drift from the stored keys (the
    * width rides the meta, validated at load). Returns the key count. */
  def writeEmbedBandIndex(spark: SparkSession, corpusDir: String,
                          idxDir: String): Long =
    writeEmbedBandIndexBase(spark, corpusDir, idxDir, lit(true))

  /** [[writeEmbedBandIndex]] restricted to keys passing `keep` (a
    * Column over `corpus_id`) — the base-index seam IngestMain's
    * bootstrap uses: the gate over the corpus MINUS today's shard,
    * which the shard then extends through [[appendEmbedBandIndex]].
    * The carried bit width still derives from the FULL corpus dir
    * (the width is a keying constant the appends must share). */
  private[llmdata] def writeEmbedBandIndexBase(spark: SparkSession,
                                               corpusDir: String,
                                               idxDir: String,
                                               keep: Column): Long = {
    import graft.sync.GenDir
    val idx = corpusEmbedBandIndex(spark, corpusDir)
    val tmp = GenDir.stage(spark, idxDir)
    writeGateKeys(idx.keys.filter(keep), "bucket", s"$tmp/keys.parquet")
    val n = spark.read.parquet(s"$tmp/keys.parquet").count()
    GenDir.writeJson(spark, s"$tmp/meta.json",
      s"""{"format":$GateIndexFormat,"bits":${idx.bitsPerBand},"n_keys":$n}""")
    GenDir.commit(spark, idxDir, tmp)
    n
  }

  /** APPEND a delta key segment to the embedding gate index — the
    * per-shard refresh IngestMain runs so a restarted gate sees every
    * ingested vector without an O(corpus) rebuild: incoming
    * (vec_id, embedding) rows are keyed ROW-LOCALLY at the bit width
    * the generation's meta CARRIES (the frozen-keying contract — a
    * delta keyed at a different width than the base is
    * unrepresentable, same stance as [[graft.llmdata.AnnIndex]]'s
    * frozen model), landed as `delta-<seq>/keys.parquet` through the
    * same stage + marker-last + rename protocol, idempotent per
    * `shardKey` like every append in the family. [[loadEmbedBandIndex]]
    * unions base + committed deltas. Returns the delta's key count. */
  def appendEmbedBandIndex(spark: SparkSession, idxDir: String,
                           incoming: DataFrame,
                           shardKey: Option[String] = None): Long = {
    import graft.sync.GenDir
    val gen = GenDir.newest(spark, idxDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed embed-band-index generation under $idxDir - " +
          "run writeEmbedBandIndex"))
    val metaPath = s"$gen/meta.json"
    val metaText = GenDir.readJson(spark, metaPath, "embed band index meta.json")
    if (GenDir.jsonLong(metaText, "format", metaPath) != GateIndexFormat)
      throw new IllegalStateException(
        s"embed band index $metaPath has an unreadable format - rebuild")
    val bits = GenDir.jsonLong(metaText, "bits", metaPath).toInt
    val existing = GenDir.deltas(spark, gen)
    shardKey.flatMap(k => GenDir.findDeltaByKey(spark, existing,
      "delta.json", "embed band index delta.json", k).map((k, _))) match {
      case Some((k, d)) =>
        val text = GenDir.readJson(spark, s"$d/delta.json",
          "embed band index delta.json")
        return GenDir.jsonLongOpt(text, s"n:$k").getOrElse(
          GenDir.jsonLong(text, "n_keys", s"$d/delta.json"))
      case None => ()
    }
    // empty shard → clean no-op, no committed segment (the
    // [[graft.llmdata.AnnIndex.append]] stance; here an empty delta
    // is merely useless, not poisonous — the keys write is
    // unpartitioned — but a no-op shard must not grow the listing
    // cost of every later load)
    if (incoming.isEmpty) return 0L
    val tmp = GenDir.stage(spark, gen)
    writeGateKeys(
      Similarity.lshKeys(incoming.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", numBands = 8, bitsPerBand = bits)
        .select(col("vec_id").as("corpus_id"), col("band"), col("bucket")),
      "bucket", s"$tmp/keys.parquet")
    val n = spark.read.parquet(s"$tmp/keys.parquet").count()
    val stamp = GenDir.shardStamp(shardKey)
    GenDir.writeJson(spark, s"$tmp/delta.json",
      s"""{"format":$GateIndexFormat,"bits":$bits,"n_keys":$n$stamp}""")
    GenDir.commit(spark, gen, tmp, Some(GenDir.nextDeltaName(existing)))
    n
  }

  /** Load a persisted embedding band index (newest committed
    * generation; format and width validated loudly). The returned
    * value is a drop-in [[EmbedBandIndex]] — the gate cannot tell a
    * loaded index from a freshly built one, and
    * StreamingAnalyticsSpec pins identical gate output across a
    * checkpoint restart that reloads it. */
  def loadEmbedBandIndex(spark: SparkSession, idxDir: String): EmbedBandIndex = {
    import graft.sync.GenDir
    val gen = GenDir.newest(spark, idxDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed embed-band-index generation under $idxDir - " +
          "run writeEmbedBandIndex"))
    val path = s"$gen/meta.json"
    val text = GenDir.readJson(spark, path, "embed band index meta.json")
    val fmt = GenDir.jsonLong(text, "format", path)
    if (fmt != GateIndexFormat)
      throw new IllegalStateException(
        s"embed band index $path has format $fmt; this reader " +
          s"understands format $GateIndexFormat - rebuild the index")
    EmbedBandIndex(withGateDeltas(spark, gen),
      GenDir.jsonLong(text, "bits", path).toInt)
  }

  /** VACUUM-SAFE gate-index load for a LONG-LIVED serving gate (r12 —
    * the [[AnnIndex.servingTopK]] / `ManifestStore.withStore` one-shot
    * retry stance ported to the last GenDir reader without it):
    * resolves the newest committed generation and MATERIALIZES the key
    * frame eagerly (`localCheckpoint`) — load-bearing twice over for a
    * gate, because a stream-static join re-reads its static side every
    * micro-batch, so even a lazy load that survived batch 0 would
    * re-read reclaimed files at batch N after a concurrent
    * rebuild×2 + vacuum. If the materialization itself dies because a
    * vacuum reclaimed the resolved generation's files inside the
    * resolve-to-scan window, retry ONCE onto a freshly resolved
    * generation (vacuum never deletes the newest committed one, so the
    * retry cannot hit the same race); any other failure propagates.
    * Cost: one extra cluster copy of the key frame (n_keys rows,
    * 8/doc), the copy a production gate keeps hot anyway instead of
    * re-listing the artifact per micro-batch. Short-lived
    * maintainer-owned reads ([[graft.llmdata.Ingest.run]]'s
    * classification) keep using the lazy loads — the maintainer never
    * races itself. */
  def servingEmbedBandIndex(spark: SparkSession,
                            idxDir: String): EmbedBandIndex =
    servingEmbedBandIndexWithSeam(spark, idxDir, () => ())

  /** [[servingEmbedBandIndex]] with the family's test seam between the
    * generation resolve and the materializing scan. */
  private[llmdata] def servingEmbedBandIndexWithSeam(
      spark: SparkSession, idxDir: String,
      afterResolve: () => Unit): EmbedBandIndex = {
    def once(seam: () => Unit): EmbedBandIndex = {
      val idx = loadEmbedBandIndex(spark, idxDir)
      seam()
      EmbedBandIndex(idx.keys.localCheckpoint(true), idx.bitsPerBand)
    }
    try once(afterResolve)
    catch {
      case e: Throwable if graft.sync.ManifestStore.isFileNotFound(e) =>
        once(() => ())
    }
  }

  /** The shingle twin of [[servingEmbedBandIndex]] — same eager
    * materialization + one-shot retry contract. */
  def servingBandIndex(spark: SparkSession, idxDir: String): DataFrame =
    servingBandIndexWithSeam(spark, idxDir, () => ())

  /** [[servingBandIndex]] with the resolve-to-scan test seam. */
  private[llmdata] def servingBandIndexWithSeam(
      spark: SparkSession, idxDir: String,
      afterResolve: () => Unit): DataFrame = {
    def once(seam: () => Unit): DataFrame = {
      val keys = loadBandIndex(spark, idxDir)
      seam()
      keys.localCheckpoint(true)
    }
    try once(afterResolve)
    catch {
      case e: Throwable if graft.sync.ManifestStore.isFileNotFound(e) =>
        once(() => ())
    }
  }

  /** A gate generation's full key scan: base keys unioned with every
    * committed delta segment ([[appendEmbedBandIndex]]/
    * [[appendBandIndex]]) — zero deltas reads exactly the base, so
    * pre-append gates are untouched. */
  private def withGateDeltas(spark: SparkSession, gen: String) = {
    import graft.sync.GenDir
    GenDir.deltas(spark, gen).map { case (_, d) =>
      spark.read.parquet(s"$d/keys.parquet")
    }.foldLeft(spark.read.parquet(s"$gen/keys.parquet")) {
      (acc, d) => acc.unionByName(d)
    }
  }

  /** Persist the corpus-side SHINGLE band index ([[corpusBandIndex]])
    * — the MinHash-banded keys of the historical corpus — through the
    * same commit protocol. */
  def writeBandIndex(spark: SparkSession, corpusDir: String,
                     idxDir: String): Long =
    writeBandIndexBase(spark, corpusDir, idxDir, lit(true))

  /** CORPUS-ADAPTIVE gate banding ladder (r13) — the minhash twin of
    * the embed gate's corpus-adaptive bit width: each step re-spends
    * the same MinHash budget as fewer, LONGER bands, which drives the
    * chance-collision probability per corpus doc (≈ bands × J_bg^rows)
    * down geometrically while costing recall only at LOW Jaccard. At
    * the fixed (16, 2) keying the per-probe candidate load grows
    * linearly with the corpus (every pair's collision probability is
    * a constant, so candidates = N × P_bg — measured 1.6k → 138k
    * candidates per 500-doc shard across a 100× corpus growth); each
    * ladder step squares-then-squares P_bg back down.
    *
    * Hash budget: the top step is 5 × 8 = 40 MinHash functions —
    * WIDER than the fixed keying's [[NumHashes]] = 32 — so the
    * signature pass is built once at [[GateMaxHashes]] = 40 and each
    * step bands a prefix of it (ADVICE r13: the steps do not all
    * spend the same budget; the ladder trades up to 25% more
    * signature width for geometrically fewer chance candidates).
    *
    * The DOCUMENTED recall trade, stated for the whole J range
    * (ADVICE r13 — not just the target class): the gate's RECALL
    * class is near-identical re-posts and boilerplate re-fetches
    * (J ≥ 0.9) at EVERY step — at (5, 8): J = 0.9 collides with
    * p = 1 − (1 − 0.9^8)^5 ≈ 0.94, J = 0.95 ≈ 0.997, J → 1 ≈ 1.
    * BELOW that class, escalation surrenders recall fast: at (8, 4)
    * a J = 0.5 pair collides ≈ 0.40 (vs ≈ 0.99 at (16, 2)) and at
    * (5, 8) ≈ 0.02; at J = `Ingest.NearDupThreshold` = 0.2 the
    * numbers are ≈ 0.48 / 0.013 / ~10⁻⁵. The verify threshold is a
    * PRECISION bar (what a candidate must prove to count as
    * near_dup), not a recall promise — even the fixed keying was a
    * coin flip at J = 0.2 — and a corpus-adaptive keying makes a
    * cross-corpus pair's GATE fate depend on the corpus's collision
    * statistics (the same documented trade as the embed gate's
    * adaptive bits; the INTRA-shard arm is pinned to the fixed
    * keying for exactly this reason — see
    * [[graft.llmdata.Ingest]]'s classify cascade). Deployments
    * needing loose-threshold recall at corpus scale belong in the
    * batch pair families, not a streaming gate. Appends INHERIT the
    * built keying (frozen-model stance);
    * [[graft.llmdata.Ingest.rebuild]] re-keys at the banding the
    * grown corpus demands (r14 — rebuild re-runs the ladder walk;
    * before that only bootstrap chose). */
  private[llmdata] val GateBandLadder: Seq[(Int, Int)] =
    Seq((NumBands, RowsPerBand), (8, 4), (5, 8))

  /** Max MinHash functions any ladder step consumes — the signature
    * width built once per keying pass (hash j is `xxhash64(j, g)`, so
    * signatures are PREFIX-STABLE: step (b, r) reads the first b×r). */
  private[llmdata] val GateMaxHashes: Int =
    GateBandLadder.map { case (b, r) => b * r }.max

  /** Ladder target: expected gate candidates PER PROBE DOC against
    * the standing corpus (Σ df·(df−1) / N over the key buckets — the
    * exact quantity the per-shard classify pays per survivor). The
    * build walks the ladder and keeps the first keying at or under
    * it, so the per-shard candidate load is corpus-bounded BY
    * MECHANISM, not by hoping the corpus is diverse. */
  private[llmdata] val GateCandPerDocTarget = 8.0

  /** [[writeBandIndex]] restricted to keys passing `keep` (a Column
    * over `corpus_id`) — IngestMain's bootstrap seam, like
    * [[writeEmbedBandIndexBase]]. Picks the banding adaptively from
    * the ladder above and records it in the meta (legacy metas
    * without the fields read as the fixed (16, 2) keying). */
  private[llmdata] def writeBandIndexBase(spark: SparkSession,
                                          corpusDir: String, idxDir: String,
                                          keep: Column,
                                          ladder: Seq[(Int, Int)] =
                                            GateBandLadder): Long = {
    import graft.sync.GenDir
    val tmp = GenDir.stage(spark, idxDir)
    // one signature pass at the ladder's max width; each step bands a
    // prefix of it. persist + RELEASE (not localCheckpoint — an
    // unreleasable signature block set per bootstrap accumulated
    // into real memory pressure at the 2M-doc ingest-scale point):
    // the ladder walk aggregates it once per step, the chosen step
    // writes from it, and the finally returns the memory.
    val sigs = minhashSignatures(shinglePostings(spark, corpusDir),
        GateMaxHashes)
      .withColumnRenamed("doc_id", "corpus_id").filter(keep)
      .withColumnRenamed("corpus_id", "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDocs = sigs.count()
      def candPerDoc(keys: DataFrame): Double = {
        if (nDocs == 0L) return 0.0
        val s = keys.groupBy(col("band"), col("sig"))
          .agg(count(lit(1)).as("df"))
          .agg(sum(col("df") * (col("df") - lit(1L)))).head
        if (s.isNullAt(0)) 0.0 else s.getLong(0).toDouble / nDocs
      }
      // `ladder` is a test seam (default = the real ladder): a spec
      // pins a single fixed keying to reproduce the grown-deployment
      // state — bootstrapped small, corpus since outgrown the keying
      val (b, r) = ladder.find { case (bb, rr) =>
        candPerDoc(lshBands(sigs, bb, rr)) <= GateCandPerDocTarget
      }.getOrElse(ladder.last)
      writeGateKeys(lshBands(sigs, b, r)
        .withColumnRenamed("doc_id", "corpus_id"), "sig",
        s"$tmp/keys.parquet")
      val n = spark.read.parquet(s"$tmp/keys.parquet").count()
      GenDir.writeJson(spark, s"$tmp/meta.json",
        s"""{"format":$GateIndexFormat,"n_keys":$n,"bands":$b,"rows":$r}""")
      GenDir.commit(spark, idxDir, tmp)
      n
    } finally {
      sigs.unpersist(blocking = false)
      ()
    }
  }

  /** The banding a persisted shingle gate index was KEYED with —
    * probes must band their own side identically or the equi-join is
    * meaningless. Legacy metas (pre-adaptive) read as the fixed
    * batch keying. */
  def gateBandParams(spark: SparkSession, idxDir: String): (Int, Int) = {
    import graft.sync.GenDir
    val gen = GenDir.newest(spark, idxDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed band-index generation under $idxDir - " +
          "run writeBandIndex"))
    val metaPath = s"$gen/meta.json"
    val text = GenDir.readJson(spark, metaPath, "band index meta.json")
    (GenDir.jsonLongOpt(text, "bands").map(_.toInt).getOrElse(NumBands),
      GenDir.jsonLongOpt(text, "rows").map(_.toInt).getOrElse(RowsPerBand))
  }

  /** APPEND a delta key segment to the shingle gate index — incoming
    * (doc_id, text) rows keyed by [[lshBandsRowLocal]], which is
    * hash-identical to the aggregate form [[corpusBandIndex]] persists
    * (DedupSpec pins the frame equality), so an appended key joins a
    * base key exactly as a rebuilt index would. Same commit protocol
    * and per-`shardKey` idempotence as the whole family. */
  def appendBandIndex(spark: SparkSession, idxDir: String,
                      incoming: DataFrame,
                      shardKey: Option[String] = None): Long = {
    import graft.sync.GenDir
    val gen = GenDir.newest(spark, idxDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed band-index generation under $idxDir - " +
          "run writeBandIndex"))
    val metaPath = s"$gen/meta.json"
    val metaText = GenDir.readJson(spark, metaPath, "band index meta.json")
    if (GenDir.jsonLong(metaText, "format", metaPath) != GateIndexFormat)
      throw new IllegalStateException(
        s"band index $metaPath has an unreadable format - rebuild")
    val existing = GenDir.deltas(spark, gen)
    shardKey.flatMap(k => GenDir.findDeltaByKey(spark, existing,
      "delta.json", "band index delta.json", k).map((k, _))) match {
      case Some((k, d)) =>
        val text = GenDir.readJson(spark, s"$d/delta.json",
          "band index delta.json")
        // a multi-stamped (batched) delta records per-shard counts —
        // report THIS shard's, never the union's
        return GenDir.jsonLongOpt(text, s"n:$k").getOrElse(
          GenDir.jsonLong(text, "n_keys", s"$d/delta.json"))
      case None => ()
    }
    // empty shard → clean no-op, no committed segment (see the
    // embed twin above)
    if (incoming.isEmpty) return 0L
    // appends INHERIT the base generation's adaptive keying (frozen-
    // model stance, like the embed gate's bits): a delta keyed at a
    // different (bands, rows) would never join the base's buckets
    val (bb, rr) =
      (GenDir.jsonLongOpt(metaText, "bands").map(_.toInt).getOrElse(NumBands),
        GenDir.jsonLongOpt(metaText, "rows").map(_.toInt).getOrElse(RowsPerBand))
    val tmp = GenDir.stage(spark, gen)
    writeGateKeys(
      lshBandsRowLocal(incoming.select(col("doc_id"), col("text")), bb, rr)
        .withColumnRenamed("doc_id", "corpus_id"), "sig",
      s"$tmp/keys.parquet")
    val n = spark.read.parquet(s"$tmp/keys.parquet").count()
    val stamp = GenDir.shardStamp(shardKey)
    GenDir.writeJson(spark, s"$tmp/delta.json",
      s"""{"format":$GateIndexFormat,"n_keys":$n$stamp}""")
    GenDir.commit(spark, gen, tmp, Some(GenDir.nextDeltaName(existing)))
    n
  }

  /** ONE fused emptiness probe for a batched append's fresh shards
    * (r15 lean — per-frame `isEmpty` was one job per shard per
    * artifact, ~10 s of pure scheduling at 16 shards × 4 artifacts):
    * a tagged union count answers all shards in one job. Shared by
    * every artifact family's `appendBatch`. */
  private[llmdata] def nonEmptyShards(fresh: Seq[(String, DataFrame)])
      : Seq[(String, DataFrame)] =
    if (fresh.isEmpty) fresh
    else {
      val counts = fresh.map { case (k, df) =>
        df.select(lit(k).as("__k")) }
        .reduce(_.unionByName(_))
        .groupBy(col("__k")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      fresh.filter { case (k, _) => counts.getOrElse(k, 0L) > 0L }
    }

  /** BATCHED delta append for the shingle gate (r15, VERDICT r14 #1):
    * N shards' keys land as ONE staged+committed delta — one Spark
    * write instead of N — stamped with EVERY landed shard's key plus
    * its per-shard key count, so a later replay of any single shard
    * (batch or solo) finds its stamp and no-ops with ITS count.
    * Already-stamped shards no-op up front; empty shards contribute
    * nothing and are never stamped (the single-append stance — their
    * replay converges trivially). Returns key → delta key count. */
  def appendBandIndexBatch(spark: SparkSession, idxDir: String,
                           incoming: Seq[(String, DataFrame)])
      : Map[String, Long] = {
    import graft.sync.GenDir
    require(incoming.map(_._1).distinct.size == incoming.size,
      "batched append shard keys must be distinct")
    val gen = GenDir.newest(spark, idxDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed band-index generation under $idxDir - " +
          "run writeBandIndex"))
    val metaPath = s"$gen/meta.json"
    val metaText = GenDir.readJson(spark, metaPath, "band index meta.json")
    if (GenDir.jsonLong(metaText, "format", metaPath) != GateIndexFormat)
      throw new IllegalStateException(
        s"band index $metaPath has an unreadable format - rebuild")
    val existing = GenDir.deltas(spark, gen)
    val (stamped, fresh) = incoming.partition { case (k, _) =>
      GenDir.findDeltaByKey(spark, existing, "delta.json",
        "band index delta.json", k).isDefined }
    val stampedCounts = stamped.map { case (k, _) =>
      val d = GenDir.findDeltaByKey(spark, existing, "delta.json",
        "band index delta.json", k).get
      val text = GenDir.readJson(spark, s"$d/delta.json",
        "band index delta.json")
      k -> GenDir.jsonLongOpt(text, s"n:$k").getOrElse(
        GenDir.jsonLong(text, "n_keys", s"$d/delta.json"))
    }.toMap
    val nonEmpty = nonEmptyShards(fresh)
    if (nonEmpty.isEmpty)
      return stampedCounts ++ fresh.map(_._1 -> 0L)
    val (bb, rr) =
      (GenDir.jsonLongOpt(metaText, "bands").map(_.toInt).getOrElse(NumBands),
        GenDir.jsonLongOpt(metaText, "rows").map(_.toInt).getOrElse(RowsPerBand))
    val keysAll = nonEmpty.map { case (_, df) =>
      lshBandsRowLocal(df.select(col("doc_id"), col("text")), bb, rr)
        .withColumnRenamed("doc_id", "corpus_id") }
      .reduce(_.unionByName(_))
    val tmp = GenDir.stage(spark, gen)
    writeGateKeys(keysAll, "sig", s"$tmp/keys.parquet")
    // per-shard counts from the written rows: the stored schema stays
    // tag-free (readers union base + deltas), attribution rides a
    // small (corpus_id -> key) side map
    val idToKey = nonEmpty.map { case (k, df) =>
      df.select(col("doc_id").as("corpus_id")).withColumn("__k", lit(k)) }
      .reduce(_.unionByName(_))
    val perKey = spark.read.parquet(s"$tmp/keys.parquet")
      .join(idToKey, "corpus_id")
      .groupBy(col("__k")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = nonEmpty.map { case (k, _) =>
      k -> perKey.getOrElse(k, 0L) }.toMap
    val n = counts.values.sum
    val stamp = GenDir.shardsStamp(nonEmpty.map(_._1), counts)
    GenDir.writeJson(spark, s"$tmp/delta.json",
      s"""{"format":$GateIndexFormat,"n_keys":$n$stamp}""")
    GenDir.commit(spark, gen, tmp, Some(GenDir.nextDeltaName(existing)))
    stampedCounts ++ counts ++
      fresh.filterNot(f => counts.contains(f._1)).map(_._1 -> 0L)
  }

  /** [[appendBandIndexBatch]]'s embed-gate twin: N shards' vectors
    * keyed at the generation's carried bit width, one delta, per-key
    * stamps/counts. */
  def appendEmbedBandIndexBatch(spark: SparkSession, idxDir: String,
                                incoming: Seq[(String, DataFrame)])
      : Map[String, Long] = {
    import graft.sync.GenDir
    require(incoming.map(_._1).distinct.size == incoming.size,
      "batched append shard keys must be distinct")
    val gen = GenDir.newest(spark, idxDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed embed-band-index generation under $idxDir - " +
          "run writeEmbedBandIndex"))
    val metaPath = s"$gen/meta.json"
    val metaText = GenDir.readJson(spark, metaPath,
      "embed band index meta.json")
    if (GenDir.jsonLong(metaText, "format", metaPath) != GateIndexFormat)
      throw new IllegalStateException(
        s"embed band index $metaPath has an unreadable format - rebuild")
    val bits = GenDir.jsonLong(metaText, "bits", metaPath).toInt
    val existing = GenDir.deltas(spark, gen)
    val (stamped, fresh) = incoming.partition { case (k, _) =>
      GenDir.findDeltaByKey(spark, existing, "delta.json",
        "embed band index delta.json", k).isDefined }
    val stampedCounts = stamped.map { case (k, _) =>
      val d = GenDir.findDeltaByKey(spark, existing, "delta.json",
        "embed band index delta.json", k).get
      val text = GenDir.readJson(spark, s"$d/delta.json",
        "embed band index delta.json")
      k -> GenDir.jsonLongOpt(text, s"n:$k").getOrElse(
        GenDir.jsonLong(text, "n_keys", s"$d/delta.json"))
    }.toMap
    val nonEmpty = nonEmptyShards(fresh)
    if (nonEmpty.isEmpty)
      return stampedCounts ++ fresh.map(_._1 -> 0L)
    val keysAll = nonEmpty.map { case (_, df) =>
      Similarity.lshKeys(df.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", numBands = 8, bitsPerBand = bits)
        .select(col("vec_id").as("corpus_id"), col("band"), col("bucket")) }
      .reduce(_.unionByName(_))
    val tmp = GenDir.stage(spark, gen)
    writeGateKeys(keysAll, "bucket", s"$tmp/keys.parquet")
    val idToKey = nonEmpty.map { case (k, df) =>
      df.select(col("vec_id").as("corpus_id")).withColumn("__k", lit(k)) }
      .reduce(_.unionByName(_))
    val perKey = spark.read.parquet(s"$tmp/keys.parquet")
      .join(idToKey, "corpus_id")
      .groupBy(col("__k")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = nonEmpty.map { case (k, _) =>
      k -> perKey.getOrElse(k, 0L) }.toMap
    val n = counts.values.sum
    val stamp = GenDir.shardsStamp(nonEmpty.map(_._1), counts)
    GenDir.writeJson(spark, s"$tmp/delta.json",
      s"""{"format":$GateIndexFormat,"bits":$bits,"n_keys":$n$stamp}""")
    GenDir.commit(spark, gen, tmp, Some(GenDir.nextDeltaName(existing)))
    stampedCounts ++ counts ++
      fresh.filterNot(f => counts.contains(f._1)).map(_._1 -> 0L)
  }

  /** Load a persisted shingle band index (newest committed
    * generation, format-validated) — drop-in for the
    * [[streamingNearDupGate]] corpus side. */
  def loadBandIndex(spark: SparkSession, idxDir: String): DataFrame = {
    import graft.sync.GenDir
    val gen = GenDir.newest(spark, idxDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed band-index generation under $idxDir - " +
          "run writeBandIndex"))
    val path = s"$gen/meta.json"
    val text = GenDir.readJson(spark, path, "band index meta.json")
    val fmt = GenDir.jsonLong(text, "format", path)
    if (fmt != GateIndexFormat)
      throw new IllegalStateException(
        s"band index $path has format $fmt; this reader understands " +
          s"format $GateIndexFormat - rebuild the index")
    withGateDeltas(spark, gen)
  }

  /** COMPACT a persisted gate index (either kind — the embed meta
    * carries `bits`, the shingle meta does not; both are preserved
    * verbatim): fold the base + committed delta key segments into ONE
    * clean generation (r12 — the [[graft.llmdata.LexStore.compact]]
    * sibling; under continuous ingest every shard lands one delta and
    * every gate reload pays a listing + marker read per segment).
    * Keys are copied, never re-keyed — the carried bit width cannot
    * drift — so the folded index is row-identical to the pre-fold
    * union (DedupSpec pins it). Returns the folded key count. */
  def compactGateIndex(spark: SparkSession, idxDir: String): Long =
    compactGateIndexWithSeam(spark, idxDir, () => ())

  /** [[compactGateIndex]] with the family's post-entry-listing test
    * seam ([[graft.llmdata.AnnIndex.compactWithSeam]] discipline). */
  private[llmdata] def compactGateIndexWithSeam(spark: SparkSession,
                                                idxDir: String,
                                                afterListing: () => Unit): Long = {
    import graft.sync.GenDir
    val gen = GenDir.newest(spark, idxDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed gate-index generation under $idxDir - " +
          "run writeBandIndex/writeEmbedBandIndex"))
    val metaPath = s"$gen/meta.json"
    val text = GenDir.readJson(spark, metaPath, "gate index meta.json")
    if (GenDir.jsonLong(text, "format", metaPath) != GateIndexFormat)
      throw new IllegalStateException(
        s"gate index $metaPath has an unreadable format - rebuild")
    val entry = GenDir.deltas(spark, gen)
    afterListing()
    if (entry.isEmpty) return GenDir.jsonLong(text, "n_keys", metaPath)
    val tmp = GenDir.stage(spark, idxDir)
    // the fold is the format-3 layout's per-bucket MERGE-SORT: each
    // delta was sorted within its OWN files, so the union's buckets
    // interleave segments — re-sorting here restores one sorted run
    // per bucket and the point-lookup page stats stay tight. Keys are
    // copied, never re-keyed (the carried bit width / banding cannot
    // drift); gpart is recomputed by the shared writer from the same
    // expression, so it cannot drift either.
    val folded = withGateDeltas(spark, gen)
    val keyCol = if (folded.columns.contains("sig")) "sig" else "bucket"
    writeGateKeys(folded.drop("gpart"), keyCol, s"$tmp/keys.parquet")
    val n = spark.read.parquet(s"$tmp/keys.parquet").count()
    // keying constants survive verbatim (keys are copied, never
    // re-keyed): the embed meta's `bits`, the shingle meta's adaptive
    // `bands`/`rows`
    val keying = Seq("bits", "bands", "rows")
      .flatMap(k => GenDir.jsonLongOpt(text, k).map(v => s""","$k":$v"""))
      .mkString
    GenDir.writeJson(spark, s"$tmp/meta.json",
      s"""{"format":$GateIndexFormat$keying,"n_keys":$n}""")
    GenDir.commit(spark, idxDir, tmp)
    // post-commit re-list of the OLD generation (the family's ADVICE
    // r11 mirror): a key segment appended after the entry listing is
    // MISSING from the folded generation — a silently narrower gate —
    // so fail loudly naming the segments to re-append.
    val now = GenDir.deltas(spark, gen)
    if (now.map(_._1).toSet != entry.map(_._1).toSet)
      throw new IllegalStateException(
        s"gate index compaction folded ${entry.length} delta segments " +
          s"of $gen but the generation now holds ${now.length} - a " +
          "concurrent append landed after the entry listing and its " +
          "keys are MISSING from the committed compacted generation; " +
          "re-append " +
          s"(${now.map(_._1).toSet.diff(entry.map(_._1).toSet).toSeq.sorted.mkString(", ")}) " +
          "against the new generation")
    n
  }

  /** Segment-budget trigger + auto-fold for the gate indexes — the
    * [[graft.llmdata.AnnIndex.maybeCompact]] convention the ingest
    * job's maintenance step calls per gate dir. */
  def maybeCompactGateIndex(spark: SparkSession, idxDir: String,
                            maxSegments: Int = AnnIndex.CompactMaxSegments): Boolean = {
    import graft.sync.GenDir
    val gen = GenDir.newest(spark, idxDir).map(_._2).getOrElse(
      throw new IllegalStateException(
        s"no committed gate-index generation under $idxDir - " +
          "run writeBandIndex/writeEmbedBandIndex"))
    val go = GenDir.deltas(spark, gen).length > maxSegments
    if (go) compactGateIndex(spark, idxDir)
    go
  }

  /** Bits per existing key for auto-sized Bloom filters: ~10 bits/key
    * with k = 7 probes is the textbook ~1% false-positive point. */
  val BloomBitsPerKey = 10L

  /** Auto-size ceiling: 2^30 bits = 128 MiB — ~100M keys at 1% FP.
    * Past it the auto size clamps (FP degrades gracefully; the
    * prefilter stays CORRECT, just less selective) — a larger corpus
    * should shard its filter (one per hash range), which is the same
    * aggregate with a group-by on the shard key. */
  val BloomMaxBits: Int = 1 << 30

  /** (numBits, numHashes) for `nKeys` existing corpus keys: ~1% FP
    * via [[BloomBitsPerKey]], floored at the 32 KiB default, capped
    * at [[BloomMaxBits]]. k = 7 ≈ ln2 · bits/key at the auto size. */
  private[llmdata] def bloomAutoSize(nKeys: Long): (Int, Int) =
    (math.min(BloomMaxBits.toLong,
      math.max(Bloom.DefaultBits.toLong, BloomBitsPerKey * nKeys)).toInt, 7)

  /** The corpus content-hash Bloom filter as driver-held bytes — built
    * once per (re)start from the historical corpus, the static side of
    * [[streamingBloomGate]]. One aggregate job; the result's size is
    * governed by the same knobs as [[bloomDelta]] (auto: ~10 bits per
    * corpus key at `numBits = 0`, so the gate's FP rate holds on a
    * corpus that outgrew the 32 KiB default). */
  def corpusBloom(spark: SparkSession, dir: String,
                  numBits: Int = 0, numHashes: Int = 0): Array[Byte] = {
    val docs = Tables.documents(spark, dir)
      .select(md5(col("text").cast("binary")).as("h"))
    val (bits, k) =
      if (numBits > 0) (numBits, if (numHashes > 0) numHashes else Bloom.DefaultHashes)
      else bloomAutoSize(docs.count())
    docs.agg(call_function("bloom_sketch", col("h"), lit(bits), lit(k)).as("bf"))
      .head.getAs[Array[Byte]](0)
  }

  /** Largest sketch the LITERAL gate accepts: 2^23 bits = 1 MiB.
    * Beyond it the bytes belong in a broadcast variable
    * ([[streamingBloomGateBroadcast]]) — a production 10·n-bit filter
    * at 10^9 keys (~1.2 GB) embedded as a plan literal breaks plan
    * serialization long before executor memory does (VERDICT r8 #5). */
  val BloomLiteralMaxBytes: Int = (1 << 23) / 8 + 8

  /** STREAMING EXACT-DUP GATE — [[corpusBloom]]'s bytes ride the plan
    * as a LITERAL, so the gate is a stateless per-row filter (zero
    * join, zero state, append-safe with no watermark): each incoming
    * (doc_id, text) row is flagged `might_dup` by an O(k)-probe
    * membership test against the historical corpus. `false` is
    * definitive (no false negatives) — the overwhelming fresh bulk of
    * a crawl passes the gate untouched; flagged rows go to the
    * out-of-band exact confirm (the [[bloomDelta]] split, live).
    * Works identically on a batch frame (DedupSpec proves stream-shape
    * ≡ the exact semi-join up to the measured FP margin).
    *
    * Guarded at [[BloomLiteralMaxBytes]]: every query/checkpoint
    * round-trip serializes plan literals, so a multi-MB sketch must
    * take the broadcast carrier below instead of this literal form. */
  def streamingBloomGate(incoming: DataFrame,
                         bloomBytes: Array[Byte]): DataFrame = {
    require(bloomBytes.length <= BloomLiteralMaxBytes,
      s"bloom sketch of ${bloomBytes.length} bytes exceeds the plan-literal " +
        s"ceiling ($BloomLiteralMaxBytes): a sketch this size belongs in a " +
        "broadcast variable - use streamingBloomGateBroadcast(incoming, " +
        "spark.sparkContext.broadcast(bloomBytes))")
    incoming.select(col("doc_id"),
      call_function("bloom_contains", lit(bloomBytes),
        md5(col("text").cast("binary"))).as("might_dup"))
  }

  /** [[streamingBloomGate]] with the sketch shipped as a real
    * BROADCAST VARIABLE — the production-size carrier (VERDICT r8
    * #5): the plan serializes only the broadcast handle, executors
    * fetch the bytes once per node through the torrent broadcast
    * machinery, and every row probes the SAME shared array (zero
    * per-row copies, O(k) word reads off the bytes — the identical
    * [[graft.plans.Bloom]] probe as the literal path, with the md5
    * hex computed to match Spark's `md5(cast(text AS binary))`
    * bit-for-bit, so BloomSpec can pin broadcast ≡ literal verdicts).
    * Same stateless append-safe semantics: a deterministic
    * per-partition map, no join, no state — valid in a streaming
    * plan. The typed mapPartitions sits outside whole-stage codegen;
    * that is the standing trade for not serializing megabytes into
    * the plan (the per-row work is a hash + k word probes either
    * way). */
  def streamingBloomGateBroadcast(
      incoming: DataFrame,
      bloomBc: org.apache.spark.broadcast.Broadcast[Array[Byte]]): DataFrame = {
    val spark = incoming.sparkSession
    import spark.implicits._
    // validate the header ONCE on the driver — a malformed sketch must
    // fail at gate construction, not per task at runtime
    graft.plans.Bloom.mightContainString(bloomBc.value, "")
    // doc_id decodes as Option[Long], NOT a primitive: a null id must
    // pass through like the literal carrier (whose projection never
    // touches it) instead of killing the streaming query on the
    // null-in-non-nullable decode (ADVICE r9)
    incoming.select(col("doc_id"), col("text")).as[(Option[Long], String)]
      .mapPartitions { rows =>
        val bytes = bloomBc.value
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, text) =>
          // null text ⇒ null verdict, matching the literal carrier
          // (md5(null) propagates null through bloom_contains) — a
          // bare getBytes would kill the streaming query on one bad
          // row (review r9)
          if (text == null) (id, None: Option[Boolean])
          else {
            md.reset()
            val hex = md.digest(text.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            (id, Some(graft.plans.Bloom.mightContainString(bytes, hex)))
          }
        }
      }
      .toDF("doc_id", "might_dup")
  }

  /** MinHash-LSH near-dup pairs, exact-verified: banded candidates →
    * distinct pairs → exact Jaccard filter. Output matches
    * [[jaccardPairs]] up to LSH recall (deterministic hashes ⇒
    * deterministic result; DedupSpec measures recall = 1.0 on the
    * planted dups at sf0.001).
    *
    * Hash family (r15, VERDICT r14 #4 — the oracle restatement): this
    * REGISTERED form minhashes with `min(md5("<j>:" || g)[1..15])` —
    * a 60-bit-equivalent hex-string order statistic DuckDB computes
    * byte-identically — and bands by concatenating the per-band mins,
    * so the whole operator (banding → candidates → exact verify) is
    * oracle-checked end-to-end instead of rows-only. Plan shape is
    * UNCHANGED from the xxhash64 form (same explode → 32 codegen'd
    * min buffers → band explode → bucket pair-explode → verify
    * joins); only the hash family differs, and min over fixed-length
    * lower-hex strings is the same order statistic as min over their
    * numeric values. The streaming GATE keeps the xxhash64 row-local
    * family ([[lshBandsRowLocal]]) — hash identity with the persisted
    * index is its contract, not oracle restatability. */
  def minhashNearDup(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    val posting = shinglePostings(spark, dir)
    val sizes = posting.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val sigAggs = (0 until NumHashes).map(j =>
      min(substring(md5(concat(lit(s"$j:"), col("g")).cast("binary")),
        1, 15)).as(s"mh$j"))
    val sigs = posting.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val bandCols = (0 until NumBands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), concat_ws("|", cols: _*).as("sig"))
    }
    val banded = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    // Candidates = docs agreeing on a (band, sig) bucket: group the
    // bucket's sorted members and explode pairs locally (pairExplode)
    // instead of self-joining the band table against itself.
    val cand = banded.groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairExplode("ids")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
    // Exact verification on the candidate set via the postings index:
    // |∩| = shared (g) count per pair — two equi-joins on the cached
    // postings, no per-doc array materialization. A zero-overlap
    // candidate drops out of the inner join; its Jaccard is 0 ≤
    // threshold, so the result is unchanged.
    val inter = cand
      .join(posting.select(col("doc_id").as("id_a"), col("g")), "id_a")
      .join(posting.select(col("doc_id").as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("nsh", "nsh_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("nsh", "nsh_b"), "id_b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("nsh_a") + col("nsh_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
  }

  // ------------------------------------------- embedding-cosine near-dup
  /** Exact embedding-cosine near-dup pairs: every (id_a < id_b) pair
    * with cosine ≥ threshold. All-pairs O(N²) over its input — the
    * oracle-checkable baseline, NOT the scale path (that's
    * [[embeddingNearDup]]).
    *
    * `sampleMod` bounds the input to the deterministic id slice
    * `vec_id % sampleMod == 0` — the same held-out-sample device
    * [[simCalibration]] uses, and how the REGISTERED `dd_embed_pairs`
    * runs (VERDICT r6 #3): the registered surface then carries NO
    * unbounded all-pairs plan (the pair count is (N/mod)², and mod is
    * the knob you grow with the corpus), while the oracle stays exact
    * on the sampled set. The UNSAMPLED form remains the spec-layer
    * recall reference for the LSH scale path (DedupSpec). */
  def embeddingNearDupExact(spark: SparkSession, dir: String,
                            threshold: Double,
                            sampleMod: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val base = Tables.embeddings(spark, dir)
    val sampled = sampleMod.fold(base)(m => base.filter(col("vec_id") % m === 0))
    val e = sampled
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    // Tile kernel instead of a nested-loop JOIN: the join form
    // materializes all N²/2 candidate rows (two 64-float arrays each)
    // just to filter ~0.01% of them — ~6 s at N=2000. Here one side is
    // a task broadcast (the same corpus residency the BNLJ's
    // BroadcastExchange already required — all-pairs presumes a
    // broadcastable side by definition; at larger N this kernel is one
    // tile of the standard blocked decomposition) and each partition
    // streams its rows against it, emitting ONLY pairs that pass the
    // threshold. Per-pair arithmetic is [[Similarity.cosine6]], bit-
    // identical to the Column form, so the oracle hash is unchanged.
    // Resident-side guard: the old BNLJ plan's broadcast-size check is
    // re-owned here as an explicit cap with an actionable message — at
    // 5M×64 floats (~1.3 GB) the resident side still fits a task
    // comfortably; beyond it, the all-pairs FLOPs are prohibitive long
    // before memory is, and embeddingNearDup is the scale path.
    val nSide = e.count()
    require(nSide <= 5000000L,
      s"embeddingNearDupExact is the all-pairs baseline (resident side; $nSide vectors " +
        "exceeds the 5M cap) — use embeddingNearDup for large corpora")
    val side = spark.sparkContext.broadcast(e.collect().sortBy(_._1))
    // A tiny corpus may arrive as 1–2 scan partitions; spread the O(N²)
    // kernel across the cluster (shuffling N id+vector rows is noise
    // next to the pair loop it parallelizes).
    val cores = spark.sparkContext.defaultParallelism
    e.repartition(cores).mapPartitions { it =>
      val s = side.value
      val norms = s.map { case (_, v) =>
        var na = 0.0; var i = 0
        while (i < v.length) { na += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(na)
      }
      // round(x, 6) moves x by < 5e-7, so raw < threshold − 5e-7 can
      // never round up past the threshold — the guard skips the
      // BigDecimal rounding for the ~99.9% of pairs that can't match.
      val guard = threshold - 5e-7
      it.flatMap { case (idA, va) =>
        var lo = 0; var hi = s.length // first index with id > idA
        while (lo < hi) { val m = (lo + hi) >>> 1; if (s(m)._1 <= idA) lo = m + 1 else hi = m }
        val out = Seq.newBuilder[(Long, Long, Double)]
        var j = lo
        while (j < s.length) {
          val vb = s(j)._2
          val n = math.min(va.length, vb.length)
          var dot = 0.0; var na = 0.0
          var i = 0
          while (i < n) {
            val xi = va(i).toDouble
            dot += xi * vb(i).toDouble; na += xi * xi
            i += 1
          }
          // CosineSim accumulates BOTH norms over min(len) — the
          // precomputed full-length norm is only valid when lengths
          // match; ragged pairs take the exact slow path so the kernel
          // stays bit-identical to the Column form on any input
          val nb =
            if (vb.length == n) norms(j)
            else {
              var s2 = 0.0; var i2 = 0
              while (i2 < n) { s2 += vb(i2).toDouble * vb(i2).toDouble; i2 += 1 }
              math.sqrt(s2)
            }
          val raw = dot / (math.sqrt(na) * nb)
          if (raw >= guard) {
            val cos = Similarity.round6(raw)
            if (cos >= threshold) out += ((idA, s(j)._1, cos))
          }
          j += 1
        }
        out.result()
      }
    }.toDF("id_a", "id_b", "cos_sim")
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
  }

  // ------------------------------------------ semantic decontamination
  /** SEMANTIC train/test CONTAMINATION — the embedding-space sibling
    * of [[TextAnalysis.contaminationPairs]]: an eval answer can leak
    * into a training corpus as a PARAPHRASE that shares no 4-token
    * window, which only embedding similarity catches (the
    * decontamination step LLM eval hygiene actually requires, cf.
    * GPT-3's ngram-only decontamination post-mortem). For every
    * TEST-split vector, the single most-similar TRAIN-split vector at
    * cosine ≥ tau — the evidence row an eval-set audit reads (drop or
    * re-split the test doc; the train doc is the leak source).
    *
    * Splits come from the SAME salted-md5 assignment as
    * [[TextAnalysis.splitColumn]] (oracled by `txt_split_assign`), so
    * the operator composes with the text-split surface instead of
    * inventing a second split notion.
    *
    * This registered form is the EXACT SAMPLED baseline (the
    * [[simCalibration]]/dd_embed_pairs pattern: the deterministic
    * `vec_id % sampleMod` slice bounds the all-pairs work BY THE
    * SAMPLE, and the DuckDB oracle reproduces every row —
    * `list_cosine_similarity` + the identical md5 split). The full-
    * corpus scale path is [[semanticContaminationLsh]]. */
  def semanticContamination(spark: SparkSession, dir: String,
                            tau: Double = 0.3,
                            sampleMod: Int = LlmQueries.EmbedPairsSampleMod): DataFrame = {
    val s = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("embedding"),
        TextAnalysis.splitColumn(col("vec_id")).as("split"))
    val test = s.filter(col("split") === "test")
      .select(col("vec_id").as("test_id"), col("embedding").as("te"))
    val train = s.filter(col("split") === "train")
      .select(col("vec_id").as("train_id"), col("embedding").as("tr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("test_id")).orderBy(col("cos_sim").desc, col("train_id"))
    test.crossJoin(train)
      .withColumn("cos_sim", Similarity.cosineBest(col("te"), col("tr")))
      .filter(!isnan(col("cos_sim")) && col("cos_sim") >= tau)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("test_id"), col("train_id"), col("cos_sim"))
      .orderBy(col("test_id"))
  }

  /** [[semanticContamination]]'s FULL-CORPUS scale path: candidates
    * come from the memoized LSH-banded pair kernel
    * ([[embedPairsFor]] — corpus-scaled bits/band, bounded tiles,
    * exact-cosine verified), then orient each cross-split pair as
    * (test_id, train_id) and keep the top-1 train neighbor per test
    * vector. Nothing here is all-pairs: the kernel's banding is the
    * same shape `dd_embed_neardup` ships, and the orientation/top-1
    * are one projection + one bounded window. Rows-only in
    * CORRECTNESS (hyperplane buckets aren't SQL-reproducible);
    * DedupSpec gates recall ≥ 0.9 against a driver-side brute-force
    * cross-split reference and exact sims on every overlap. */
  def semanticContaminationLsh(spark: SparkSession, dir: String,
                               tau: Double = 0.3): DataFrame = {
    val pairs = embedPairsFor(spark, dir, tau)
      .withColumn("split_a", TextAnalysis.splitColumn(col("id_a")))
      .withColumn("split_b", TextAnalysis.splitColumn(col("id_b")))
      .filter((col("split_a") === "test" && col("split_b") === "train") ||
        (col("split_a") === "train" && col("split_b") === "test"))
      .select(
        when(col("split_a") === "test", col("id_a")).otherwise(col("id_b"))
          .as("test_id"),
        when(col("split_a") === "test", col("id_b")).otherwise(col("id_a"))
          .as("train_id"),
        col("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("test_id")).orderBy(col("cos_sim").desc, col("train_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("test_id"), col("train_id"), col("cos_sim"))
      .orderBy(col("test_id"))
  }

  /** Similarity-threshold CALIBRATION histogram — how a dedup
    * operator's cosine threshold actually gets chosen: the full
    * pairwise-similarity distribution of a deterministic id sample
    * (`vec_id % mod == 0`), bucketed at `binWidth`. O((N/mod)²) pairs —
    * bounded by the SAMPLE, not the corpus (the all-pairs join is the
    * intended, allow-listed shape; at 100 TB you calibrate on exactly
    * this kind of held-out slice and the sample mod is the knob).
    * Sims are the round-6 cosine, so bin assignment is engine-exact. */
  def simCalibration(spark: SparkSession, dir: String, mod: Int = 10,
                     binWidth: Double = 0.05): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") % mod === 0)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(Similarity.cosineBest(col("va"), col("vb")).as("sim"))
      // Spark's floor-to-long maps NaN to 0 (silently corrupting the
      // [0, binWidth) bin) where DuckDB's cast errors — drop zero-norm
      // NaN sims symmetrically on both sides instead
      .filter(!isnan(col("sim")))
      .select(floor(col("sim") / lit(binWidth)).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .select((col("bin") * lit(binWidth)).as("bin_lo"), col("n"))
      .orderBy(col("bin_lo"))
  }

  /** LSH-bucketed embedding near-dup: candidates = vector pairs sharing
    * a hyperplane band bucket (8 bands; bits per band scale with the
    * corpus so expected bucket width stays bounded — 2 bits at toy
    * scale, the high-recall banding DedupSpec measures against the
    * exact baseline), then the exact cosine filter. Never all-pairs,
    * and per-task width is ENFORCED: oversized buckets tile into
    * chunk-pair tasks and degenerate masses fail loudly — see
    * [[embedPairsOf]]. The pair set is memoized per (session,
    * corpus, threshold) — [[embeddingClusters]] consumes the same edges,
    * so the bucket kernel runs once per session, not once per query. */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       threshold: Double): DataFrame =
    embedPairsFor(spark, dir, threshold)
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))

  private def embedPairsFor(spark: SparkSession, dir: String,
                            threshold: Double): DataFrame =
    Memo(spark, "embed-pairs", dir, threshold)(
      embedPairsKernel(spark, dir, threshold).localCheckpoint())

  private def embedPairsKernel(spark: SparkSession, dir: String,
                               threshold: Double): DataFrame =
    embedPairsOf(spark,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      threshold)

  /** Enforced per-task width bound for the embedding-LSH pair kernel
    * (VERDICT r05 #1 — the one banded dedup that lacked a cap): a
    * (band, bucket) group wider than this is TILED, never pair-looped
    * in one task. 4096 × 64 floats ≈ 1 MB resident per side. */
  val EmbedMaxBucketWidth = 4096

  /** Loud-failure bound on tiling blow-up: a bucket needing more than
    * this many chunks (width > maxChunks·maxBucketWidth after the
    * corpus-scaled banding already spread the space) is a degenerate
    * near-identical mass — exact-dedup it upstream rather than paying
    * O(width²) verify flops. The guard raises with that instruction
    * instead of melting an executor. */
  val EmbedMaxChunks = 256

  /** Bounded LSH pair kernel over an arbitrary (vec_id, embedding)
    * frame. Three scale defenses, in order:
    *
    *  1. `bitsPerBand` GROWS with the corpus (2 at toy scale,
    *     UNCAPPED to 30 since r12 — the plane pool holds 8 bands ×
    *     30 bits) so the EXPECTED bucket width stays ≤
    *     `maxBucketWidth` regardless of N;
    *  2. buckets that are still oversized (skewed dense regions — no
    *     hyperplane count fixes adversarial skew) are decomposed into
    *     chunk-pair TILES: members hash into `ceil(w / maxBucketWidth)`
    *     chunks, every within-bucket pair lands in EXACTLY one
    *     (chunk_i ≤ chunk_j) tile, and each tile task holds ≤ 2 chunks
    *     — bounded memory, identical pair set (recall is untouched, by
    *     construction, unlike sub-splitting on extra planes which loses
    *     cross-sub-bucket pairs);
    *  3. a bucket wider than `maxChunks · maxBucketWidth` fails loudly
    *     (see [[EmbedMaxChunks]]) — beyond that the quadratic verify
    *     flops are the problem, not the memory, and the right tool is
    *     upstream exact dedup.
    *
    * The bucket census behind 2–3 is DISTRIBUTED (late r8): widths
    * join back co-partitioned on (band, bucket); the only driver-side
    * value is the 1-row hottest-bucket guard aggregate.
    * Per-pair arithmetic is [[Similarity.cosine6]] (bit-identical to
    * the Column form); a pair sharing k bands is computed k ≤ 8 times
    * and deduped by the post-filter distinct. */
  private[llmdata] def embedPairsOf(spark: SparkSession, vecs: DataFrame,
                                    threshold: Double,
                                    maxBucketWidth: Int = EmbedMaxBucketWidth,
                                    maxChunks: Int = EmbedMaxChunks,
                                    bitsPerBand: Option[Int] = None): DataFrame = {
    require(maxBucketWidth >= 2, s"maxBucketWidth $maxBucketWidth: need ≥ 2")
    val n = vecs.count()
    // expected bucket width ≈ n / 2^bits; aim it at maxBucketWidth/2 so
    // tiling only fires on genuine skew, not on the uniform bulk.
    // `bitsPerBand` pins the banding (spec use: compare tiled vs
    // untiled kernels over the SAME candidate set)
    val bits = bitsPerBand.getOrElse(embedBandBits(n, maxBucketWidth))
    val keys = Similarity.lshKeys(vecs, "vec_id", "embedding",
      numBands = 8, bitsPerBand = bits)
    boundedPairsKeyed(spark, keys, threshold, maxBucketWidth, maxChunks,
      what = s"embedding-LSH ($bits bits/band)")
  }

  /** The bounded tile-pair kernel over an arbitrary candidate KEYING
    * (`band`, `bucket`, `vec_id`, `embedding` columns): every same-key
    * pair is exact-cosine verified in exactly one bounded-width tile
    * task (see [[embedPairsOf]] for the tiling argument — the pair set
    * is recall-lossless by construction, task memory is ≤ 2 chunks,
    * and a key wider than `maxChunks · maxBucketWidth` fails loudly).
    * Shared by the LSH banding above and [[semDedup]]'s
    * k-means-cluster keying: ANY partitioner that whitelists candidate
    * pairs plugs in as a (band, bucket) column pair. */
  private[llmdata] def boundedPairsKeyed(spark: SparkSession, keys: DataFrame,
                                         threshold: Double,
                                         maxBucketWidth: Int,
                                         maxChunks: Int,
                                         what: String): DataFrame = {
    import spark.implicits._
    require(maxBucketWidth >= 2, s"maxBucketWidth $maxBucketWidth: need ≥ 2")
    // the keying carries the embedding, so each tile's group holds
    // everything its pair verification needs: compute the exact cosine
    // INSIDE the tile's task and shuffle only pairs that pass the
    // threshold (the join alternative shuffled ≈all-pairs ×2).
    //
    // DISTRIBUTED width census (late r8; the original driver collect
    // was O(#buckets) — bounded for the LSH keying (≤ 8·2^8 buckets by
    // construction) but O(N/width) for the cluster keying, an
    // unbounded driver-side structure at scale): per-bucket widths
    // join back onto the key rows CO-PARTITIONED on (band, bucket) —
    // the same exchange the groupBy already made, which AQE reuses —
    // and the inner join doubles as the width-1 drop (no pairs
    // possible there, so those rows never shuffle). The loud-failure
    // guard is a 1-row max aggregate, the only driver-side scalar.
    val widths = keys.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("w")).filter(col("w") > 1)
      .withColumn("c",
        floor((col("w") + lit(maxBucketWidth - 1)) / lit(maxBucketWidth))
          .cast("int"))
    val hottest = widths.agg(coalesce(max(col("c")), lit(0))).head.getInt(0)
    require(hottest <= maxChunks,
      s"$what hot bucket: widest (band, bucket) needs $hottest chunks of " +
        s"$maxBucketWidth (> $maxChunks) — a near-identical " +
        "mass this dense should be removed by exact dedup (dd_exact / chunk hash) " +
        "before pairwise verification; raise maxChunks only if you accept the flops")
    keys.select(col("band"), col("bucket"), col("vec_id"), col("embedding"))
      .join(widths.select(col("band"), col("bucket"), col("c")),
        Seq("band", "bucket"))
      .select(col("band"), col("bucket"), col("c"), col("vec_id"),
        col("embedding"))
      .as[(Int, Int, Int, Long, Array[Float])]
      .flatMap { case (band, bucket, c, id, v) =>
        // SplitMix64 finalizer → chunk: id-deterministic, and safe
        // against clustered id ranges (floorMod(id, c) is not)
        var z = id + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        val mc = Math.floorMod(z ^ (z >>> 31), c.toLong).toInt
        // one row per tile this member participates in; a pair
        // (chunk x, chunk y) meets in exactly tile (min, max)
        (0 until c).iterator.map { o =>
          if (o == mc) (band, bucket, mc, mc, 0, id, v)
          else if (mc < o) (band, bucket, mc, o, 0, id, v)
          else (band, bucket, o, mc, 1, id, v)
        }
      }
      .toDF("band", "bucket", "ti", "tj", "side", "vec_id", "embedding")
      .groupBy(col("band"), col("bucket"), col("ti"), col("tj"))
      .agg(collect_list(struct(col("side").as("_1"), col("vec_id").as("_2"),
        col("embedding").as("_3"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select((col("ti") === col("tj")).as("diag"), col("ms"))
      .as[(Boolean, Seq[(Int, Long, Array[Float])])]
      .flatMap { case (diag, ms0) =>
        val guard = threshold - 5e-7 // see embeddingNearDupExact
        def norm(v: Array[Float]): Double = {
          var na = 0.0; var i = 0
          while (i < v.length) { na += v(i).toDouble * v(i).toDouble; i += 1 }
          math.sqrt(na)
        }
        // exact cosine over min(len) — ragged pairs recompute both
        // norms so the kernel matches CosineSim bit-for-bit
        def emit(ida: Long, va: Array[Float], na: Double,
                 idb: Long, vb: Array[Float], nb: Double,
                 out: scala.collection.mutable.Builder[(Long, Long, Double), Seq[(Long, Long, Double)]]): Unit = {
          val n = math.min(va.length, vb.length)
          var dot = 0.0; var k = 0
          while (k < n) { dot += va(k).toDouble * vb(k).toDouble; k += 1 }
          val denom =
            if (va.length == n && vb.length == n) na * nb
            else {
              var sa = 0.0; var sb = 0.0; var k2 = 0
              while (k2 < n) {
                sa += va(k2).toDouble * va(k2).toDouble
                sb += vb(k2).toDouble * vb(k2).toDouble
                k2 += 1
              }
              math.sqrt(sa) * math.sqrt(sb)
            }
          val raw = dot / denom
          if (raw >= guard) {
            val cos = Similarity.round6(raw)
            if (cos >= threshold)
              out += (if (ida < idb) (ida, idb, cos) else (idb, ida, cos))
          }
        }
        val out = Seq.newBuilder[(Long, Long, Double)]
        if (diag) { // one chunk, triangular loop — the classic kernel
          val ms = ms0.toArray.map { case (_, id, v) => (id, v) }.sortBy(_._1)
          val norms = ms.map { case (_, v) => norm(v) }
          var i = 0
          while (i < ms.length) {
            var j = i + 1
            while (j < ms.length) {
              emit(ms(i)._1, ms(i)._2, norms(i), ms(j)._1, ms(j)._2, norms(j), out)
              j += 1
            }
            i += 1
          }
        } else { // cross tile: chunks are disjoint, full A×B
          val a = ms0.iterator.filter(_._1 == 0).map { case (_, id, v) => (id, v) }.toArray
          val b = ms0.iterator.filter(_._1 == 1).map { case (_, id, v) => (id, v) }.toArray
          val nb = b.map { case (_, v) => norm(v) }
          var i = 0
          while (i < a.length) {
            val na = norm(a(i)._2)
            var j = 0
            while (j < b.length) {
              emit(a(i)._1, a(i)._2, na, b(j)._1, b(j)._2, nb(j), out)
              j += 1
            }
            i += 1
          }
        }
        out.result()
      }
      .toDF("id_a", "id_b", "cos_sim")
      .distinct()
  }

  // ----------------------------------------------------------- SimHash
  /** 60-bit SimHash per document: per-token hash, each bit contributes
    * ±1, signature bit = sign of the sum. Near-dups have small Hamming
    * distance. One explode + one group-by on doc_id with 60 codegen'd
    * sum buffers (partial agg absorbs the token fan-out map-side
    * before the shuffle). A fully row-local variant via
    * `aggregate`/`zip_with` was measured 2.5× SLOWER here: higher-order
    * lambdas run interpreted and allocate a per-token array, while
    * this shape stays inside whole-stage codegen.
    *
    * Hash family (r15, VERDICT r14 #4 — the oracle restatement): the
    * per-token hash is the first 15 hex chars of md5 as a 60-bit
    * integer (`conv(…, 16, 10)`) — DuckDB recomputes it with identical
    * digit arithmetic, so the banded pair output is oracle-checked
    * end-to-end instead of rows-only. 60 bits instead of the xxhash64
    * form's 64 (the only signed-safe hex width); the Hamming banding
    * layout is unchanged — [[hammingPairs]]' 8×8-bit bands cover bits
    * 0..63 and the top 4 bits are constant 0 on every signature. */
  def simhashes(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .withColumn("h",
        conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10)
          .cast("long"))
    val bitSums = (0 until 60).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val agg = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 60).map { j =>
      when(col(s"s$j") >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agg.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, candidates
    * from banded-signature equality ([[hammingPairs]] — the band count
    * auto-sizes so the pigeonhole GUARANTEES the requested distance:
    * d ≤ 3 rides 4×16-bit bands, d ≤ 7 rides 8×8-bit bands). */
  def simhashNearDup(spark: SparkSession, dir: String, maxDist: Int): DataFrame =
    hammingPairs(
      simhashes(Tables.documents(spark, dir))
        .select(col("doc_id").as("id"), col("simhash").as("sig64")),
      maxDist)
      .orderBy(col("hamming"), col("id_a"), col("id_b"))

  /** Per-task width bound for the Hamming tile kernel below: a
    * (band, bucket) group wider than this is TILED into chunk pairs
    * ([[boundedPairsKeyed]]'s decomposition), never pair-exploded in
    * one task — 8-bit bands on a near-dup-heavy corpus concentrate
    * thousands of signatures into one bucket, and the r8-era
    * whole-bucket `flatten(transform(...))` explode built the full
    * O(w²) pair array on ONE task's heap (measured: an executor OOM
    * at the 50k-doc synth10x curve point the moment the 8-band layout
    * landed). 4096 members × 16 B per (id, sig64) ≈ 64 KiB resident
    * per chunk side. */
  val HammingMaxBucketWidth = 4096

  /** Loud-failure chunk bound, same argument as [[EmbedMaxChunks]]:
    * past `maxChunks · maxBucketWidth` identical-signature members
    * the quadratic verify flops are the problem — exact-dedup such a
    * mass upstream instead of pairwise-verifying it. */
  val HammingMaxChunks = 256

  /** Banded Hamming near-dup join over ANY (id, sig64) frame — the
    * pigeonhole kernel [[simhashNearDup]],
    * [[Multimodal.imageNearDup]]'s perceptual dHash, and
    * [[Multimodal.audioNearDup]] share: a pair whose Hamming distance
    * is BELOW the band count must agree on ≥1 band (if every one of
    * the `nBands` disjoint bands differed, the distance would be ≥
    * nBands), so candidates are band equi-join buckets, never all
    * pairs. The guarantee is exact only for d ≤ nBands − 1; beyond it
    * a pair can spread one flipped bit into every band and be missed
    * (ADVICE r8: the old fixed 4×16 layout silently lost recall for
    * the callers' d = 6). `nBands` therefore AUTO-SIZES to the
    * requested distance (4×16-bit for d ≤ 3, else 8×8-bit covering
    * d ≤ 7 — the multi-index-hashing layout, Norouzi et al. 2012) and
    * the auto path REFUSES a radius it cannot guarantee (d > 7 on
    * 64-bit signatures would need >8 disjoint bands than the layout
    * provides — silently losing recall is the r8 defect this fix
    * retired; pass an explicit `nBands` to opt into probabilistic
    * recall at wide radii). The trade is bucket density: 8-bit bands
    * hold N/256 expected members vs 16-bit's N/65536, so candidate
    * pairs grow — bounded by the tile census below, the price of a
    * GUARANTEED (not probabilistic) radius-6 join on 64-bit
    * signatures; a corpus where the verify flops dominate should drop
    * to the probabilistic 16-bit banding (`nBands = Some(4)`) and
    * accept LSH-style recall. Bucket members carry their signature
    * into the tiles, so the distance is verified without joining
    * back. */
  private[llmdata] def hammingPairs(sigs: DataFrame, maxDist: Int,
                                    nBands: Option[Int] = None,
                                    maxBucketWidth: Int = HammingMaxBucketWidth,
                                    maxChunks: Int = HammingMaxChunks): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val nb = nBands.getOrElse(if (maxDist <= 3) 4 else 8)
    require(64 % nb == 0, s"band count $nb must divide 64")
    require(nBands.isDefined || maxDist < nb,
      s"maxDist $maxDist exceeds the $nb-band pigeonhole guarantee (d <= ${nb - 1}): " +
        "pass an explicit nBands to opt into probabilistic recall at this radius")
    require(maxBucketWidth >= 2, s"maxBucketWidth $maxBucketWidth: need ≥ 2")
    val width = 64 / nb
    val mask = if (width == 64) -1L else (1L << width) - 1L
    // ONE materialization of the signature source: sigs may embed the
    // full per-row media decode (imageNearDup/audioNearDup), and the
    // census guard action + both sides of the width join would
    // otherwise re-decode the corpus up to three times (review r9).
    // persist + explicit unpersist below, NOT localCheckpoint: the
    // kernel runs per call (it is not corpus-memoized), and
    // checkpoint blocks would pin executor storage until GC across
    // every bench/spec invocation (second review pass) — instead the
    // SMALL result (passing pairs only) is checkpointed eagerly and
    // the big exploded frame is released before returning
    val bands = sigs.select(col("id"), col("sig64"),
      explode(array((0 until nb).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig64"), b * width).bitwiseAND(mask).as("sig"))): _*)).as("bs"))
      .select(col("id"), col("sig64"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      .persist()
    // distributed width census + chunk-pair tiling, the
    // [[boundedPairsKeyed]] shape specialized to 16-byte signature
    // members: widths join back co-partitioned on (band, sig), the
    // inner join doubles as the width-1 drop, and each tile's task
    // holds ≤ 2 chunks and verifies its pairs LOCALLY — only pairs
    // within maxDist are ever emitted to the distinct shuffle (the
    // old kernel shuffled every bucket pair and filtered after).
    // try/finally: the hot-bucket require (and any job failure) must
    // not leak the persisted frame (review r9 second pass)
    try {
    val widths = bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("w")).filter(col("w") > 1)
      .withColumn("c",
        floor((col("w") + lit(maxBucketWidth - 1)) / lit(maxBucketWidth))
          .cast("int"))
    val hottest = widths.agg(coalesce(max(col("c")), lit(0))).head.getInt(0)
    require(hottest <= maxChunks,
      s"hamming band hot bucket: widest (band, sig) needs $hottest chunks of " +
        s"$maxBucketWidth (> $maxChunks) — a signature mass this dense should " +
        "be removed by exact dedup before pairwise verification")
    val pairs = bands.join(widths.select(col("band"), col("sig"), col("c")),
        Seq("band", "sig"))
      .select(col("band"), col("sig"), col("c"), col("id"), col("sig64"))
      .as[(Int, Long, Int, Long, Long)]
      .flatMap { case (band, sig, c, id, s64) =>
        var z = id + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        val mc = Math.floorMod(z ^ (z >>> 31), c.toLong).toInt
        (0 until c).iterator.map { o =>
          if (o == mc) (band, sig, mc, mc, 0, id, s64)
          else if (mc < o) (band, sig, mc, o, 0, id, s64)
          else (band, sig, o, mc, 1, id, s64)
        }
      }
      .toDF("band", "sig", "ti", "tj", "side", "id", "sig64")
      .groupBy(col("band"), col("sig"), col("ti"), col("tj"))
      .agg(collect_list(struct(col("side").as("_1"), col("id").as("_2"),
        col("sig64").as("_3"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select((col("ti") === col("tj")).as("diag"), col("ms"))
      .as[(Boolean, Seq[(Int, Long, Long)])]
      .flatMap { case (diag, ms) =>
        val out = Seq.newBuilder[(Long, Long, Int)]
        def emit(ida: Long, sa: Long, idb: Long, sb: Long): Unit = {
          val d = java.lang.Long.bitCount(sa ^ sb)
          if (d <= maxDist) {
            if (ida < idb) out += ((ida, idb, d)) else out += ((idb, ida, d))
          }
        }
        if (diag) {
          val m = ms.toArray
          var i = 0
          while (i < m.length) {
            var j = i + 1
            while (j < m.length) {
              emit(m(i)._2, m(i)._3, m(j)._2, m(j)._3)
              j += 1
            }
            i += 1
          }
        } else {
          val a = ms.filter(_._1 == 0).toArray
          val b = ms.filter(_._1 == 1).toArray
          a.foreach(x => b.foreach(y => emit(x._2, x._3, y._2, y._3)))
        }
        out.result()
      }
      .toDF("id_a", "id_b", "hamming")
      .distinct()
      // eager: materialize the small pair result off the cached bands,
      // then free the big exploded frame (see the persist note above)
      .localCheckpoint()
    pairs
    } finally { bands.unpersist(); () }
  }

  // -------------------------------------- near-dup cluster resolution
  /** Connected components over an undirected pair graph by iterative
    * min-label propagation: every node starts labeled with its own id;
    * each round every node takes the min of its label and its
    * neighbors' labels; at fixpoint the label is the component's
    * minimum id — the canonical representative.
    *
    * This is the step the pairwise dedups above stop short of: near-dup
    * similarity is not transitive, so A~B and B~C pairs must be
    * RESOLVED into one cluster {A,B,C} (keep A, drop B and C) before a
    * training corpus can be filtered — dropping only paired docs would
    * keep C or drop too much depending on pair order.
    *
    * Scale shape: each propagation step is one equi-join of the label
    * table with the (symmetrized) edge list plus one min-aggregate —
    * both hash-partitioned on node id, no driver-side graph; steps run
    * BATCHED IN PAIRS per materialized round (see the loop comment).
    * Lineage is severed per round with `localCheckpoint` (an iterative
    * plan would otherwise grow by a join per round and re-execute from
    * round 0 at every action). Two round-count/round-cost trims, both
    * exploiting
    * that labels are MONOTONE NON-INCREASING: the seed label is already
    * `min(id, Γ(id))` (one aggregate over the edge list — pair and
    * star components converge a full round earlier than self-seeding),
    * and convergence is detected by comparing Σlabel between rounds (a
    * 1-row aggregate on the just-checkpointed table; unchanged sum ⟺
    * no label moved) instead of a probe JOIN against the previous
    * round. The sum is exact `decimal(38,0)` — a bigint sum of ~2^40
    * ids over 10^12 nodes would overflow (ANSI error), decimal cannot.
    * Round count is bounded by component DIAMETER, and near-dup components
    * are band-collision cliques-of-cliques with tiny diameters (2–4
    * observed on this corpus); an adversarial million-link chain would
    * instead want the O(log n)-round star-contraction variant
    * (alternating large-star/small-star), which this loop's join shape
    * extends to directly.
    *
    * Input must have `id_a`/`id_b` columns; returns (id, cluster_id)
    * for every node that appears in at least one edge. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint() // edge derivation (e.g. the full jaccard plan) runs once, not per round
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
    // LAZY checkpoint marks (eager = false), then the convergence-probe
    // aggregate materializes the marked RDD and computes Σlabel in the
    // SAME Spark job — an eager checkpoint would pay a separate
    // materialization job per round, and at small-graph scale per-round
    // job latency, not data, is the dominant cost (VERDICT r7 #6: the
    // dd_embed_clusters curve row was non-monotone for exactly this
    // reason).
    var labels = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("label"))
      .localCheckpoint(false)
    def propagate(l: DataFrame): DataFrame =
      l.union(sym.join(l.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label")))
        .groupBy("id").agg(min("label").as("label"))
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      // TWO propagation steps per materialization: the intermediate
      // label table stays a lazy plan (its aggregate exchange is reused
      // between the two consumers), so each Spark job advances the
      // frontier two hops — halving the per-round job-scheduling +
      // checkpoint + convergence-probe overhead that dominates at small
      // component diameters (2–4 on this corpus). Labels are monotone,
      // so over-stepping past the fixpoint is a no-op; the worst case
      // is one wasted propagation when the diameter is odd.
      val next = propagate(propagate(labels)).localCheckpoint(false)
      val s = labelSum(next)
      // an empty graph sums to null on both sides: converged
      converged =
        if (s == null || prevSum == null) s == prevSum
        else s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
    }
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Star-contraction connected components (alternating large-star /
    * small-star, the published MapReduce CC algorithm): each round,
    * LARGE-STAR connects every neighbor u > v to min(Γ⁺(v)) and
    * SMALL-STAR connects every neighbor u ≤ v (and v itself) to it,
    * halving component depth per round — O(log n) rounds on ANY graph,
    * where [[connectedComponents]]' min-label propagation needs
    * O(diameter) (a million-link chain = a million rounds there, ~20
    * here). Each phase is one neighbor group-by for the per-node min
    * plus one equi-join to emit, hash-partitioned on node id; edges are
    * kept min-normalized (a < b) and checkpointed per round. At
    * convergence the edge set IS the star (componentMin → member), so
    * labels fall out without a final traversal.
    *
    * The near-dup queries default to min-label propagation because
    * band-collision graphs have tiny diameters and its rounds are
    * cheaper; this variant is the drop-in for graphs whose diameter is
    * unknown or adversarial (link graphs, co-citation). StarCcSpec
    * (DedupSpec) proves both compute the identical labeling and that
    * this one converges on a 1000-link chain in logarithmic rounds. */
  def connectedComponentsStar(edges: DataFrame): DataFrame = {
    def normalize(df: DataFrame): DataFrame =
      df.filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
        .distinct()
    def neighbors(e: DataFrame): DataFrame =
      e.select(col("a").as("v"), col("b").as("u"))
        .union(e.select(col("b").as("v"), col("a").as("u")))
    // per-node m = min(Γ(v) ∪ {v})
    def mins(nbrs: DataFrame): DataFrame =
      nbrs.groupBy(col("v")).agg(min(col("u")).as("mu"))
        .select(col("v"), least(col("mu"), col("v")).as("m"))
    var e = normalize(edges.select(col("id_a").as("x"), col("id_b").as("y")))
      .localCheckpoint()
    var converged = e.isEmpty
    while (!converged) {
      val ln = neighbors(e)
      val lm = mins(ln)
      val large = normalize(ln.join(lm, "v").filter(col("u") > col("v"))
        .select(col("u").as("x"), col("m").as("y")))
      val sn = neighbors(large)
      val sm = mins(sn)
      val small = normalize(
        sn.join(sm, "v").filter(col("u") <= col("v"))
          .select(col("u").as("x"), col("m").as("y"))
          .union(sm.select(col("v").as("x"), col("m").as("y"))))
        .localCheckpoint()
      converged = small.count() == e.count() &&
        small.exceptAll(e).limit(1).isEmpty
      e = small
    }
    // converged edges are (componentMin=a → member=b) stars
    e.select(col("b").as("id"), col("a").as("cluster_id"))
      .union(e.select(col("a").as("id"), col("a").as("cluster_id")).distinct())
  }

  /** Memoized (id_a, id_b) capped-Jaccard edge table per (session, dir,
    * threshold, cap) — the pair generation is the expensive shared
    * stage under cluster resolution, the quality-survivor policy, AND
    * the triangle census; materialize it once. */
  private[llmdata] def jaccardPairsFor(spark: SparkSession, dir: String,
                                       threshold: Double,
                                       maxDocFreq: Option[Long]): DataFrame =
    Memo(spark, "jaccard-pairs", dir, (threshold, maxDocFreq))(
      jaccardPairs(spark, dir, threshold, maxDocFreq)
        .select(col("id_a"), col("id_b")).localCheckpoint())

  /** Memoized CC labels over the capped-Jaccard graph: nearDupClusters
    * and dedupCorpus share them, and the label table is already
    * materialized (localCheckpoint) when built. */
  private[llmdata] def jaccardLabelsFor(spark: SparkSession, dir: String,
                                        threshold: Double,
                                        maxDocFreq: Option[Long]): DataFrame =
    Memo(spark, "jaccard-labels", dir, (threshold, maxDocFreq))(
      connectedComponents(jaccardPairsFor(spark, dir, threshold, maxDocFreq)))

  // CC labels over the embedding pair graph, memoized like the capped-
  // Jaccard labels above: the label table is already materialized
  // (per-round localCheckpoint) when built, and re-running the
  // iterative rounds per call is pure job-latency waste (VERDICT r7
  // #6).
  private[llmdata] def embedLabelsFor(spark: SparkSession, dir: String,
                                      threshold: Double): DataFrame =
    Memo(spark, "embed-labels", dir, threshold)(connectedComponents(
      embedPairsFor(spark, dir, threshold).select(col("id_a"), col("id_b"))))

  // CC labels over the cluster-scoped SemDeDup pair graph, memoized
  // like embedLabelsFor (the iterative rounds and the pair kernel are
  // index-build work, not per-query). Keyed by the MODEL MODE too: the
  // forced two-level path (dd_semdedup_2l) and the size-dispatched
  // default must never share a label table trained under the other's
  // clustering.
  private[llmdata] def semLabelsFor(spark: SparkSession, dir: String,
                                    eps: Double,
                                    twoLevel: Boolean = false): DataFrame =
    Memo(spark, "sem-labels", dir, (eps, twoLevel))(connectedComponents(
      boundedPairsKeyed(spark,
        semAssignOf(spark, dir, twoLevel)
          .select(lit(0).as("band"), col("cluster").as("bucket"),
            col("vec_id"), col("embedding")),
        eps, EmbedMaxBucketWidth, EmbedMaxChunks,
        what = "semdedup k-means cluster")
        .select(col("id_a"), col("id_b"))))

  private def semAssignOf(spark: SparkSession, dir: String,
                          twoLevel: Boolean): DataFrame =
    if (twoLevel) Similarity.semAssignTwoLevelFor(spark, dir)
    else Similarity.semClusterAssign(spark, dir)

  /** Near-dup clusters over the exact capped-Jaccard pair graph
    * ([[jaccardPairs]] edges): one row per clustered document with its
    * cluster id (= min doc_id in the component), the cluster size, and
    * `keep` marking the canonical survivor — the actionable output of
    * corpus dedup (filter `keep = false` ids out of the corpus).
    * Singleton documents (no near-dup pair) are implicitly kept and not
    * listed. Oracle: the identical reachability fixpoint as a DuckDB
    * recursive CTE ([[LlmQueries.ddClustersSql]]). */
  def nearDupClusters(spark: SparkSession, dir: String, threshold: Double,
                      maxDocFreq: Option[Long] = None): DataFrame = {
    val labels = jaccardLabelsFor(spark, dir, threshold, maxDocFreq)
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).as("keep"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  /** QUALITY-POLICY survivor selection per near-dup cluster — the
    * production upgrade over [[nearDupClusters]]' min-id canonical: a
    * real dedup keeps the BEST copy of a duplicated document (longest,
    * cleanest, richest), not the one with the smallest id. Survivor =
    * argmax over (distinct-type count, then min id) — a deterministic,
    * engine-reproducible quality key expressed as a single lexicographic
    * struct MAX, so selection is one aggregate over the label table (no
    * window, no second corpus scan; the struct max partially aggregates
    * map-side like any max). Any scalar quality signal drops into the
    * same slot ([[TextAnalysis.qualityScores]], unigram log-prob, a
    * model score). */
  def bestOfClusters(spark: SparkSession, dir: String, threshold: Double,
                     maxDocFreq: Option[Long] = None): DataFrame = {
    val labels = jaccardLabelsFor(spark, dir, threshold, maxDocFreq)
    val quality = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(array_distinct(split(col("text"), " "))).as("n_types"))
    labels.join(quality, labels("id") === quality("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("n_types"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"), col("cluster_size"),
        (-col("best.nid")).as("survivor_id"),
        col("best.n_types").as("survivor_n_types"))
      .orderBy(col("cluster_id"))
  }

  /** Semantic (embedding-space) dedup clusters — the SemDeDup-style
    * flow: LSH-bucketed cosine near-dup pairs ([[embeddingNearDup]])
    * resolved into clusters by connected components, one canonical
    * vector kept per cluster. Rows-only in CORRECTNESS (hyperplane
    * buckets aren't DuckDB-reproducible); DedupSpec proves the labels
    * equal a union-find over the same pair set. */
  def embeddingClusters(spark: SparkSession, dir: String,
                        threshold: Double): DataFrame = {
    val labels = embedLabelsFor(spark, dir, threshold)
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).as("keep"))
      .orderBy(col("cluster_id"), col("vec_id"))
  }

  /** SEMDEDUP — semantic dedup scoped to k-means clusters, the
    * published at-scale recipe (Abbas et al. 2023, arXiv:2303.09540):
    * candidate pairs are generated ONLY within a vector's cluster
    * (the semantic clustering IS the candidate partitioner — no
    * hyperplanes), exact-cosine verified at `eps`, resolved into
    * duplicate groups by connected components, and each group keeps
    * the member FARTHEST from its cluster centroid (the paper's
    * keeper rule: lowest centroid similarity = the least prototypical
    * copy; ties break on min vec_id). Differs from
    * [[embeddingClusters]] (global LSH banding, min-id canonical) in
    * both the candidate structure and the keeper policy.
    *
    * Scale shape: pair cost is Σ cᵢ² over CLUSTER sizes — kept LINEAR
    * in N because the cluster count is corpus-scaled (k = max(16,
    * ⌈N/width⌉), [[Similarity.SemClusterWidth]]: a fixed k would make
    * this O(N²/k), the corpus-fraction defect class the ANN pools
    * retired in r7/r8) — with [[boundedPairsKeyed]]'s tiling capping
    * task width under residual skew; group resolution and keeper
    * selection are node-keyed shuffles. The MODEL itself is
    * scale-safe since r9: assignment is a bounded-literal broadcast
    * map while k ≤ [[Similarity.SemFlatMaxK]], and the TWO-LEVEL
    * centroid-TABLE join beyond it (`twoLevel = true` forces the
    * table path at any size — the `dd_semdedup_2l` registration, so
    * the 100 TB mechanism is itself spec-gated and benched). Output
    * is vector-grain: cluster, exact centroid sim, duplicate group
    * (min member id), group size, keep verdict. Rows-only in
    * CORRECTNESS (Lloyd centroids aren't SQL-reproducible); DedupSpec
    * proves the pair graph equals brute-force within-cluster cosine
    * pairs, the keeper rule, and determinism — for BOTH model paths. */
  def semDedup(spark: SparkSession, dir: String, eps: Double,
               twoLevel: Boolean = false): DataFrame = {
    val assign = semAssignOf(spark, dir, twoLevel)
      .select(col("vec_id"), col("cluster"), col("centroid_sim_micro"))
      // feeds both the group join and the keeper aggregate below —
      // materialize once (cf. pcaTopK's two-consumer projection)
      .localCheckpoint()
    val labels = semLabelsFor(spark, dir, eps, twoLevel)
    val grouped = assign
      .join(labels.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("centroid_sim_micro"),
        // singletons (no within-cluster pair) form their own group —
        // a group id never collides across the two arms because a
        // component's min id is itself a paired member
        coalesce(col("cluster_id"), col("vec_id")).as("grp"))
    val keepers = grouped.groupBy(col("grp"))
      .agg(min(struct(col("centroid_sim_micro").as("s"),
        col("vec_id").as("id"))).as("kp"),
        count(lit(1)).as("grp_size"))
    grouped.join(keepers, Seq("grp"))
      .select(col("vec_id"), col("cluster"),
        (col("centroid_sim_micro").cast("double") / lit(1000000.0))
          .as("centroid_sim"),
        col("grp"), col("grp_size"),
        (col("vec_id") === col("kp").getField("id")).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** End-to-end corpus dedup accounting — the materialization step that
    * composes the whole family: drop exact copies (non-min doc per
    * content hash), then near-dup cluster non-canonicals (connected
    * components over the capped-Jaccard graph), and report per source
    * what survived. A doc that is both an exact copy and a near-dup is
    * attributed to the exact bucket (the cheaper signal wins). This is
    * the per-shard report a 100 TB dedup job emits: every term is a
    * hash-partitioned group-by or equi-join on doc id — no new shapes
    * beyond the operators it composes. */
  def dedupCorpus(spark: SparkSession, dir: String, threshold: Double,
                  maxDocFreq: Option[Long] = None): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("h"),
        size(split(col("text"), " ")).as("n_tokens"))
    val surv = docs.groupBy(col("h")).agg(min(col("doc_id")).as("min_id"))
    val ndDrop = jaccardLabelsFor(spark, dir, threshold, maxDocFreq)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"), lit(true).as("nd"))
    docs.join(surv, "h")
      .join(ndDrop, Seq("doc_id"), "left")
      .withColumn("exact_drop", col("doc_id") =!= col("min_id"))
      .withColumn("nd_drop", !col("exact_drop") && col("nd").isNotNull)
      .withColumn("kept", !col("exact_drop") && col("nd").isNull)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("exact_drop"), 1L).otherwise(0L)).as("n_dropped_exact"),
        sum(when(col("nd_drop"), 1L).otherwise(0L)).as("n_dropped_neardup"),
        sum(when(col("kept"), col("n_tokens").cast("long")).otherwise(0L))
          .as("tokens_kept"))
      .orderBy(col("source"))
  }

  /** [[dedupCorpus]] with the URL STAGE a crawl pipeline runs FIRST
    * (VERDICT r10 #5): re-fetches of the same page are dropped by
    * canonical URL (first-seen keeper = min stable doc id per
    * [[TextAnalysis.canonicalUrl]] key) BEFORE content hashing, so the
    * expensive stages never see them. Fates are attributed
    * cheapest-signal-first — url_dup → exact_dup → near_dup → kept —
    * extending dedupCorpus's exact-first convention by one stage; the
    * exact/near-dup keeper tables are still computed over the full
    * corpus (attribution chooses the bucket, not the keeper — same
    * stance as dedupCorpus). Every stage is a hash-partitioned
    * group-by or equi-join: the URL stage adds one group-by on the
    * canonical-URL key, the cheapest shuffle in the pipeline, which is
    * exactly why production crawls run it first. */
  def urlDedupCorpus(spark: SparkSession, dir: String, threshold: Double,
                     maxDocFreq: Option[Long] = None): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("h"),
        size(split(col("text"), " ")).as("n_tokens"),
        TextAnalysis.canonicalUrl(TextAnalysis.syntheticCrawlUrl).as("cu"))
    val urlMin = docs.groupBy(col("cu")).agg(min(col("doc_id")).as("url_min"))
    val surv = docs.groupBy(col("h")).agg(min(col("doc_id")).as("min_id"))
    val ndDrop = jaccardLabelsFor(spark, dir, threshold, maxDocFreq)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"), lit(true).as("nd"))
    docs.join(urlMin, "cu")
      .join(surv, "h")
      .join(ndDrop, Seq("doc_id"), "left")
      .withColumn("url_drop", col("doc_id") =!= col("url_min"))
      .withColumn("exact_drop",
        !col("url_drop") && col("doc_id") =!= col("min_id"))
      .withColumn("nd_drop",
        !col("url_drop") && !col("exact_drop") && col("nd").isNotNull)
      .withColumn("kept",
        !col("url_drop") && !col("exact_drop") && col("nd").isNull)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("url_drop"), 1L).otherwise(0L)).as("n_dropped_url"),
        sum(when(col("exact_drop"), 1L).otherwise(0L)).as("n_dropped_exact"),
        sum(when(col("nd_drop"), 1L).otherwise(0L)).as("n_dropped_neardup"),
        sum(when(col("kept"), col("n_tokens").cast("long")).otherwise(0L))
          .as("tokens_kept"))
      .orderBy(col("source"))
  }

  // --------------------------------------------------- incremental dedup
  /** Delta dedup — the continuous-ingestion shape: classify each
    * document of an INCOMING shard (here the deterministic `doc_id %
    * shardMod == shardRem` slice, standing in for today's crawl) against
    * the EXISTING corpus as `exact_dup` (same content hash), `near_dup`
    * (capped-Jaccard ≥ threshold against an existing doc), or `new`,
    * with the minimum matching existing id. Exact wins over near when
    * both hold.
    *
    * Scale: the exact arm is one equi-join on the 16-byte hash against
    * the existing side's min-id table; the near arm REUSES the full
    * corpus pair generation (cached postings) and just keeps the
    * incoming↔existing cross pairs — in a production pipeline the
    * existing side's postings/hashes are the standing index and only
    * the delta is shingled, which is this same plan with the left scan
    * replaced by the index table.
    *
    * Arm coverage on the synthetic corpora: the near arm fires at
    * sf0.001/sf0.01 (9 near-dups straddle the shard boundary), the
    * exact arm at sf0.1 (4 content-identical copies straddle it) — all
    * three statuses are oracle-exercised across the verified scales. */
  def dedupDelta(spark: SparkSession, dir: String, threshold: Double,
                 maxDocFreq: Option[Long] = None,
                 shardMod: Int = 5, shardRem: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val isIncoming = (c: Column) => c % shardMod === shardRem
    val incoming = docs.filter(isIncoming(col("doc_id")))
    val existingMin = docs.filter(!isIncoming(col("doc_id")))
      .groupBy(col("h")).agg(min(col("doc_id")).as("exact_match"))
    // r16: the capped-Jaccard pair graph comes from the SAME session
    // memo nearDupClusters/dedupCorpus already share (the pair index
    // is index-build work over the immutable corpus, not per-delta
    // work — a production incremental dedup probes a persisted pair/
    // cluster index, it does not recompute corpus×corpus pairs per
    // batch); before this, every dedupDelta call re-ran the full
    // shingle→postings→pairs plan.
    val pairs = jaccardPairsFor(spark, dir, threshold, maxDocFreq)
    val nearMin = pairs
      .filter(isIncoming(col("id_a")) =!= isIncoming(col("id_b")))
      .select(
        when(isIncoming(col("id_a")), col("id_a")).otherwise(col("id_b")).as("doc_id"),
        when(isIncoming(col("id_a")), col("id_b")).otherwise(col("id_a")).as("nd_id"))
      .groupBy(col("doc_id")).agg(min(col("nd_id")).as("near_match"))
    incoming
      .join(existingMin, Seq("h"), "left")
      .join(nearMin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"))
      .orderBy(col("doc_id"))
  }

  /** BLOOM-PREFILTERED delta dedup — the membership-sketch sibling of
    * [[dedupDelta]] and the shape an incremental 100 TB ingest runs:
    * build ONE Bloom filter over the existing corpus's content hashes
    * (a [[graft.plans.BloomSketchAgg]] aggregate — a fixed-size bitset
    * that partial-aggregates by bitwise OR map-side, a few hundred KiB
    * regardless of corpus size), broadcast the 1-row sketch, and test
    * every incoming document's membership LOCALLY with O(k) probes.
    * Definite misses — the overwhelming bulk of a fresh crawl — skip
    * the dedup join entirely; only Bloom HITS reach the exact-confirm
    * equi-join against the existing min-id table, so that shuffle is
    * sized by the duplicate + false-positive rate, not the ingest
    * rate. The verdicts stay EXACT (a Bloom filter has no false
    * negatives, and false positives are resolved by the confirm join),
    * which is why the DuckDB oracle is the plain content-hash left
    * join — the sketch changes the plan, never the answer. BloomSpec
    * gates the sketch itself (no false negatives, FP rate, merge =
    * bitwise OR, malformed-binary rejection).
    *
    * SIZING (ADVICE r8): with `numBits = 0` (the default) the filter
    * is CORPUS-ADAPTIVE — ~[[BloomBitsPerKey]] bits per existing key
    * (the classic ~1% FP point), never below [[Bloom.DefaultBits]],
    * capped at [[BloomMaxBits]] (128 MiB — beyond that shard the
    * filter). A fixed 2^18-bit filter saturates toward FP ≈ 1 past
    * ~10^5 corpus keys, silently degenerating the prefilter (every
    * row would hit the confirm join — still CORRECT, just no longer a
    * prefilter) on exactly the 100 TB ingest this exists for. The
    * corpus cardinality that sizes the auto filter is one cheap
    * count; an explicit `numBits`/`numHashes` is honored exactly. */
  def bloomDelta(spark: SparkSession, dir: String,
                 shardMod: Int = 5, shardRem: Int = 4,
                 numBits: Int = 0, numHashes: Int = 0): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val isIncoming = (c: Column) => c % shardMod === shardRem
    val corpus = docs.filter(!isIncoming(col("doc_id")))
    val (bits, k) =
      if (numBits > 0) (numBits, if (numHashes > 0) numHashes else Bloom.DefaultHashes)
      else bloomAutoSize(corpus.count())
    val sketch = corpus.agg(
      call_function("bloom_sketch", col("h"), lit(bits), lit(k)).as("bf"))
    val probed = docs.filter(isIncoming(col("doc_id")))
      .crossJoin(broadcast(sketch))
      .withColumn("might", call_function("bloom_contains", col("bf"), col("h")))
      // drop the per-row sketch column BEFORE materializing: `probed`
      // feeds BOTH the confirm and the miss arm below — without this
      // the full corpus bloom_sketch aggregate (and the cross join)
      // executes twice per action (ADVICE r8), and keeping `bf` would
      // copy the whole bitset into every checkpointed row
      .select(col("doc_id"), col("h"), col("might"))
      .localCheckpoint()
    val existingMin = corpus.groupBy(col("h"))
      .agg(min(col("doc_id")).as("match_id"))
    val confirmed = probed.filter(col("might"))
      .join(existingMin, Seq("h"), "left")
      .select(col("doc_id"),
        when(col("match_id").isNotNull, "exact_dup").otherwise("new")
          .as("status"),
        col("match_id"))
    val misses = probed.filter(!col("might"))
      .select(col("doc_id"), lit("new").as("status"),
        lit(null).cast("long").as("match_id"))
    confirmed.union(misses).orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ PageRank
  /** PageRank core over an undirected edge set (`id_a`/`id_b` columns,
    * same contract as [[connectedComponents]]): fixed-iteration power
    * method with damping, over the symmetrized graph. Centrality on the
    * near-dup graph ranks CANONICAL candidates (the doc most linked to
    * its duplicates is the best cluster representative) and, on link /
    * co-citation graphs, is the classic quality prior a pretraining
    * pipeline mixes into sampling weights.
    *
    * Scale shape: per iteration, one nodes-sized equi-join (rank ⋈
    * degree → per-source contribution, computed ONCE per node, not per
    * edge), one edges ⋈ contribution equi-join, one hash-partitioned
    * group-by on the destination — the standard Pregel/GraphX round,
    * every shuffle keyed on node id. The edge table is checkpointed once
    * (derivation runs once, not per round); the rank frames are NOT
    * checkpointed — at the default 3 fixed rounds the chained-join
    * lineage is shallow and one deferred plan beats three eager
    * materialization jobs (measured ~0.4 s saved at sf0.01). A
    * variable-round variant (convergence-driven, like
    * [[connectedComponents]]) would re-introduce a per-round
    * `localCheckpoint` to keep lineage O(1). The node count is the only
    * driver-side scalar (an O(1) aggregate, same legitimacy as the IVF
    * centroid collect). In the symmetrized graph every node has an out-
    * edge, so no dangling-mass redistribution term is needed.
    *
    * Determinism (the property that lets DuckDB oracle an ITERATIVE
    * graph computation): ranks live as exact micro-unit longs; each
    * per-node contribution is `floor(damping · prm / deg + 0.5)` — one
    * double expression over exact longs with the identical literal and
    * association on both engines — and per-destination totals are sums
    * of longs, so every iteration is bit-reproducible regardless of
    * partitioning or addition order. `teleportMicro` is pre-folded from
    * the literal 0.15 on both sides (JVM `1.0 - 0.85` is a DIFFERENT
    * double than the literal `0.15` — the BM25 pre-folding rule). */
  def pageRankEdges(edges: DataFrame, iters: Int = 3,
                    damping: Double = 0.85,
                    teleport: Double = 0.15): DataFrame = {
    // both constants are pre-folded literals (deriving one from the
    // other in doubles breaks oracle parity — the BM25 rule), so the
    // mass-conservation invariant must be enforced, not assumed
    require(teleport + damping == 1.0,
      s"teleport ($teleport) must be the pre-folded literal 1 - damping ($damping)")
    val spark = edges.sparkSession
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint() // edge derivation runs once, not per round
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint() // reused every round AND for the node count below
    val n = deg.count()
    if (n == 0) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("doc_id", "pr_micro", "pr")
    }
    val initMicro = math.floor(1000000.0 / n + 0.5).toLong
    val teleMicro = math.floor(teleport * 1000000.0 / n + 0.5).toLong
    var pr = deg.select(col("src").as("id"), lit(initMicro).as("prm"))
    for (_ <- 1 to iters) {
      val perSrc = pr.join(deg.withColumnRenamed("src", "id"), "id")
        .select(col("id").as("src"),
          floor(lit(damping) * col("prm") / col("deg") + lit(0.5)).as("c"))
      pr = sym.join(perSrc, "src")
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("id"), (lit(teleMicro) + col("s")).as("prm"))
    }
    pr.select(col("id").as("doc_id"), col("prm").as("pr_micro"),
        (col("prm").cast("double") / lit(1000000.0)).as("pr"))
      .orderBy(col("pr_micro").desc, col("doc_id"))
  }

  /** [[pageRankEdges]] over the capped-Jaccard near-dup pair graph —
    * the registered corpus entry (isolated documents carry no edges and
    * are excluded, as in [[nearDupClusters]]). Oracle: the identical
    * micro-exact power iteration unrolled as DuckDB CTEs
    * ([[LlmQueries.ddPagerankSql]]). */
  def pageRank(spark: SparkSession, dir: String, threshold: Double,
               maxDocFreq: Option[Long] = None, iters: Int = 3): DataFrame =
    // the memoized edge table: the registered entry's (threshold, cap)
    // is the exact key dd_clusters/dd_corpus/dd_delta already share, so
    // a registry sweep generates the pair graph once, not twice
    pageRankEdges(jaccardPairsFor(spark, dir, threshold, maxDocFreq), iters)

  /** TRIANGLE census of an undirected edge list: node/edge/wedge
    * counts, triangle count, and the global clustering coefficient
    * `3·T / wedges` — the graph-density diagnostic that says whether
    * near-dup pairs are isolated couples or clique-ish families (a
    * template shared by many docs shows up as high transitivity long
    * before cluster resolution runs).
    *
    * Scale shape: the classic degree-ordered orientation — every edge
    * points from its (degree, id)-smaller endpoint to the larger, so a
    * hub's Σd² wedge blowup lands on the LOW-degree side: out-degrees
    * are bounded by O(√edges) on any graph, which caps the per-key
    * fan-out of the wedge self-join. Triangle = wedge (u→v, u→w)
    * closed by oriented edge (v→w), checked with a LEFT-SEMI join —
    * each triangle is counted exactly once because the orientation is
    * acyclic. Only 1-row aggregates are ever cross-joined. */
  def triangleStatsEdges(edges: DataFrame,
                         inputMaterialized: Boolean = false): DataFrame = {
    // the edge frame is read by the degree pass AND the wedge join;
    // checkpoint unless the caller already materialized it (the memoized
    // jaccardPairsFor table is — a second checkpoint would copy every
    // edge block into duplicate executor storage for zero benefit)
    val sel = edges.select(col("id_a"), col("id_b"))
    val e = if (inputMaterialized) sel else sel.localCheckpoint()
    val deg = e.select(col("id_a").as("id"))
      .unionByName(e.select(col("id_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // total order by (degree, id): unique because ids are unique. A
    // lexicographic STRUCT comparison, not a packed `deg·2³² + id`
    // long — packing collides/mis-orders for ids ≥ 2³² or negative
    // ids, and this is a public API over arbitrary edge frames
    val keyed = deg.select(col("id"),
      struct(col("deg"), col("id")).as("k"))
    val oriented = e
      .join(keyed.select(col("id").as("id_a"), col("k").as("ka")), "id_a")
      .join(keyed.select(col("id").as("id_b"), col("k").as("kb")), "id_b")
      .select(
        when(col("ka") < col("kb"), col("id_a")).otherwise(col("id_b")).as("u"),
        when(col("ka") < col("kb"), col("id_b")).otherwise(col("id_a")).as("v"),
        greatest(col("ka"), col("kb")).as("kv"))
      .localCheckpoint()
    val wedges = oriented.select(col("u"), col("v").as("b"), col("kv").as("kb2"))
      .join(oriented.select(col("u"), col("v").as("c"), col("kv").as("kc2")),
        Seq("u"))
      .filter(col("kb2") < col("kc2"))
    val tri = wedges
      .join(oriented.select(col("u").as("b"), col("v").as("c")),
        Seq("b", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("deg") * (col("deg") - 1)) / lit(2)).cast("long").as("n_wedges"))
    val edgeStats = e.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(edgeStats).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles") / col("n_wedges"))
          .otherwise(lit(0.0)).as("clustering_coeff"))
  }

  /** [[triangleStatsEdges]] over the capped-Jaccard near-dup graph —
    * the registered corpus entry. A lower threshold / higher df-cap
    * than the dedup queries: transitivity needs the WEAK ties too. */
  def triangleStats(spark: SparkSession, dir: String,
                    threshold: Double = 0.1,
                    maxDocFreq: Option[Long] = Some(16L)): DataFrame =
    triangleStatsEdges(jaccardPairsFor(spark, dir, threshold, maxDocFreq),
      inputMaterialized = true)
}
