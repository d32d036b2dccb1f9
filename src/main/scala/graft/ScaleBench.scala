package graft

import org.apache.spark.sql.SparkSession

/** Scaling-curve bench (VERDICT r5 #5, widened per r6 #1/#2): times the
  * dedup + ANN + text/retrieval families at FOUR scale points — the
  * real sf0.01 and sf0.1 driver corpora, plus a deterministic synthetic
  * pair generated on the fly ([[graft.tools.SynthCorpus]]): `synth1x`
  * at sf0.1's size (5k docs / 2k embeddings) and `synth10x` at 10× that
  * (50k / 20k) — so the "holds at 10×" claim is a measured curve whose
  * 10× step compares the SAME generator at both ends, and the planted
  * low-df shingle groups keep the df-capped Jaccard family's output
  * non-empty at every synthetic point (on the real sf0.1 corpus the cap
  * legitimately excludes every 31-word-vocab shingle — that entry
  * measures scan+cap cost, which is why the ratio is taken on the
  * synthetic pair). Prints a markdown table plus one JSON line; the
  * recorded run lives in SURVEY §2.13.
  *
  * Methodology: each pass drives the query's OWN
  * `QueryExecution.toRdd` to exhaustion — the same full-plan
  * materialization as [[Bench]], and since r9 ALSO the same
  * executed-plan LINT (VERDICT r8 #2: the synth10x plans, where AQE
  * diverges most from test scale, were audit-blind behind noop
  * writes that ran a separate QueryExecution). Every (query, scale)
  * cell's finalized adaptive plan runs through
  * [[graft.plans.RegistryAudit.unexempt]]; findings land in the JSON
  * per scale point, flip `lint_clean` false, and fail the run — a
  * scale-killer can never ride the curve as a fast success. Min of 2
  * passes per (query, scale); per-corpus memoized
  * index builds (IVF centroids, PQ books, PCA model, postings) are
  * PART of the first pass by design — at a new scale point the index
  * build is real work the curve must include; min-of-2 then reports
  * the warm-index query cost, the same steady-state Bench reports.
  * The IVF scanned-fraction table records what the corpus-scaled
  * cell/probe defaults resolve to at every scale point (r8 #4).
  *
  * `dd_embed_pairs` joined the curve in round 7: its registered form
  * is now the sample-bounded exact baseline (vec_id % 10 slice), so
  * every registered operator — this one included — is a shape the
  * 100 TB story actually ships (the sample mod is the knob you grow
  * with the corpus).
  */
object ScaleBench {

  private val Families = Seq(
    "dd_exact", "dd_jaccard_pairs", "dd_containment",
    "dd_minhash_neardup", "dd_simhash_pairs", "dd_clusters",
    "dd_embed_pairs", "dd_embed_neardup", "dd_embed_clusters",
    "dd_semdedup", "dd_semdedup_2l", "dd_bloom_delta",
    "dd_semantic_contamination_lsh", "dd_embed_gate_shuffle",
    "mm_phash_dedup", "mm_audio_dedup",
    "txt_chunk_dedup", "txt_pack_assign",
    "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_ivf_topk_2l",
    "ann_pq_topk", "ann_ivfpq_topk", "ann_ivfpq_frame", "ann_ivfpq_stored",
    "ann_ivfpq_append",
    "ann_pca_topk", "ann_hybrid_rrf", "ann_hybrid_rrf_ivfpq",
    // the fully-stored serving stack (r12, VERDICT r11 #6): cold pass
    // carries BOTH artifact builds, min-of-2 reports the two-disk-scan
    // steady state — the per-pass JSON keeps the split visible
    "ann_hybrid_rrf_stored", "ann_hybrid_rrf_stored_stack",
    "dd_url_dedup", "txt_html_extract", "txt_domain_cap",
    // text/retrieval family (VERDICT r6 #2): the posting-list pair
    // explode (contamination), the multi-filter curation rollup, BM25
    // top-k, the capstone composition, and the span-marking semi join
    "txt_contamination", "txt_curation_report", "txt_bm25_topk",
    "txt_final_corpus", "txt_span_removal", "txt_dsir_weights",
    // seeded training-order shuffle (r12): the two-level bucket rank
    // must scale like a hash aggregate, never like a one-task sort
    "txt_train_order",
    // persisted-LM ingest quality gate (r13): vocabulary-sized freq
    // join behind a bucket-pruned artifact read
    "ingest_lm_gate")

  /** The synth100x + size-triggered-two-level pass (r12, VERDICT r11
    * #2): the standing gap was that the 1M+ envelope rows were pure
    * arithmetic — `cells = 142` at synth10x sits a factor 7 below
    * `IvfFlatMaxCells = 1024`, so the two-level coarse model and the
    * log-growth probe ceiling had only ever been exercised by
    * `forceTable` seams, never by SIZE. Two measured points close it:
    *
    *  - `synth100x` (500k docs / 200k vectors — 100× synth1x): the
    *    verdict's requested family subset, min-of-2 + executed-plan
    *    lint like the main curve. HONEST NOTE the table also prints:
    *    at 200k vectors `cells = ⌈√N⌉ = 448` is STILL under the 1024
    *    flat cap — the threshold binds at ~1.05M vectors, which is
    *    why the second point exists.
    *  - `synth1m` (1.2M vectors, doc tables small — the ANN paths
    *    read only embeddings): `ivfDefaultCells(1.2e6) = 1096 > 1024`,
    *    so the NATURAL dispatcher (no forcing seam anywhere) takes
    *    the two-level table path for the first time by size; the
    *    printed `actual cells` comes from the materialized model
    *    (`ivfIndexStatsActual` — ground truth, not projection) and
    *    the first projected envelope row (1M) becomes a measurement.
    */
  private def run100x(spark: SparkSession): Unit = {
    val synthDir = java.nio.file.Files
      .createTempDirectory("graft-synth100x").toString
    tools.SynthCorpus.writeCorpus(spark, synthDir,
      nDocs = 500000L, nVecs = 200000L)
    val queries = SparkEntry.queries
    var failed = List.empty[String]
    var lint = List.empty[String]
    def sweep(label: String, dir: String, fams: Seq[String])
        : Seq[(String, Double, Long, Seq[Double])] = fams.map { name =>
      var lastRun: Option[org.apache.spark.sql.DataFrame] = None
      def onePass(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          val df = queries(name)(spark, dir)
          df.queryExecution.toRdd.foreach(_ => ())
          lastRun = Some(df)
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[scalebench] $name@$label FAILED: ${e.getMessage}")
          None
        }
      }
      val p1 = onePass()
      val p2 = p1.flatMap(_ => onePass())
      val t = for (a <- p1; b <- p2) yield math.min(a, b)
      if (t.isEmpty) failed ::= s"$name@$label"
      lastRun.foreach { df =>
        plans.RegistryAudit.unexempt(name, df).foreach { f =>
          System.err.println(s"[scalebench] $name@$label LINT: $f")
          lint ::= s"$name@$label: $f"
        }
      }
      val n = if (t.isEmpty) -1L
        else try queries(name)(spark, dir).count()
        catch { case _: Throwable => -1L }
      (name, t.getOrElse(0.0), n, Seq(p1, p2).flatten)
    }
    val fams100 = sys.env.get("SPARK_GRAFT_SCALE_FILTER")
      .map(_.r).map(re => Families.filter(n => re.findFirstIn(n).isDefined))
      .getOrElse(Seq(
        "dd_exact", "dd_semdedup_2l", "dd_embed_gate_shuffle",
        "ann_ivf_topk", "ann_ivfpq_topk", "ann_ivfpq_stored",
        "ann_ivfpq_frame", "ann_ivfpq_append"))
    val r100 = sweep("synth100x", synthDir, fams100)
    println("| query | synth100x s (min of 2) | passes | out rows |")
    println("|---|---|---|---|")
    r100.foreach { case (name, t, n, ps) =>
      println(f"| $name | $t%.2f | ${ps.map(p => f"$p%.2f").mkString(", ")} | $n |")
    }
    val (c100, p100, pq100) =
      llmdata.Similarity.ivfIndexStatsActual(spark, synthDir)
    println(f"| synth100x ivf stats (ACTUAL model) | cells=$c100 " +
      f"| ivf probes=$p100 (${p100.toDouble / c100}%.3f) " +
      f"| ivfpq probes=$pq100 (${pq100.toDouble / c100}%.3f) |")
    println(s"NOTE: 200k vectors -> target cells = ${
      llmdata.Similarity.ivfIndexStatsAt(200000L)._1} <= 1024 flat cap:" +
      " the two-level threshold does NOT bind at synth100x (it binds" +
      " at ~1.05M vectors) — the synth1m point below size-triggers it.")

    // the size-trigger point: ANN families read only embeddings, so
    // the doc side stays small and 1.2M vectors fit the sandbox
    Memo.releaseDir(synthDir)
    val dir1m = java.nio.file.Files
      .createTempDirectory("graft-synth1m").toString
    tools.SynthCorpus.writeCorpus(spark, dir1m,
      nDocs = 2000L, nVecs = 1200000L)
    val r1m = sweep("synth1m", dir1m, Seq("ann_ivf_topk", "ann_ivfpq_topk"))
    println("| query | synth1m (1.2M vecs) s (min of 2) | passes | out rows |")
    println("|---|---|---|---|")
    r1m.foreach { case (name, t, n, ps) =>
      println(f"| $name | $t%.2f | ${ps.map(p => f"$p%.2f").mkString(", ")} | $n |")
    }
    val (c1m, p1m, pq1m) =
      llmdata.Similarity.ivfIndexStatsActual(spark, dir1m)
    val (cProj, _, _) = llmdata.Similarity.ivfIndexStatsAt(1200000L)
    println(f"| synth1m ivf stats (ACTUAL materialized model) | cells=$c1m " +
      f"| ivf probes=$p1m (${p1m.toDouble / c1m}%.3f) " +
      f"| ivfpq probes=$pq1m (${pq1m.toDouble / c1m}%.3f) |")
    println(s"size-trigger: target cells = $cProj > 1024 flat cap -> " +
      s"NATURAL two-level dispatch (no forcing seam); actual model " +
      s"cells = $c1m (per-coarse-cell rounding above the target, as " +
      s"documented at ivfIndexStats).")
    val twoLevel = cProj > llmdata.Similarity.IvfFlatMaxCells
    val rows = (r100.map(("synth100x", _)) ++ r1m.map(("synth1m", _)))
      .map { case (l, (name, t, n, ps)) =>
        "\"" + l + ":" + name + "\":{\"sec\":" + t + ",\"rows\":" + n +
          ",\"passes\":" + ps.mkString("[", ",", "]") + "}"
      }.mkString("{", ",", "}")
    val fs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ls = lint.sorted.map("\"" + _.replace("\"", "'") + "\"")
      .mkString("[", ",", "]")
    println(s"""{"metric":"scale_100x","queries":$rows,"failed":$fs,""" +
      s""""lint_clean":${lint.isEmpty},"lint":$ls,""" +
      s""""ivf_synth100x":{"cells":$c100,"ivf_probes":$p100,"ivfpq_probes":$pq100},""" +
      s""""ivf_synth1m":{"cells":$c1m,"ivf_probes":$p1m,"ivfpq_probes":$pq1m,""" +
      s""""target_cells":$cProj,"two_level_by_size":$twoLevel}}""")
    spark.stop()
    if (failed.nonEmpty || lint.nonEmpty) sys.exit(1)
  }

  /** Streaming-vs-batch composed-ingest overhead (r12): the
    * [[graft.llmdata.Ingest.streamIngest]] scaladoc claims the stream
    * adds SCHEDULING, not new data movement — this pass measures it
    * instead of asserting it. One synthetic corpus, the held-out 10%
    * split into four equal sub-shards, ingested twice from identical
    * bootstraps: once as four [[graft.llmdata.Ingest.run]] calls
    * (batch arm, per-shard timed) and once as four parquet files
    * drained by `streamIngest` under `maxFilesPerTrigger = 1` (four
    * micro-batches, batchId = shard id). A warm-up shard on scratch
    * dirs runs FIRST through both code paths so JIT/codegen warmth
    * doesn't flatter whichever arm runs second. The printed ratio is
    * the whole claim: stream per-shard ≈ batch per-shard. */
  private def runIngestBench(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.llmdata.Ingest
    val corpus = java.nio.file.Files
      .createTempDirectory("graft-ingestbench-corpus").toString
    tools.SynthCorpus.writeCorpus(spark, corpus,
      nDocs = 20000L, nVecs = 8000L)
    val docs = Tables.documents(spark, corpus)
    val emb = Tables.embeddings(spark, corpus)
      .select(col("vec_id"), col("embedding"))
    val baseDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val shardRows = docs.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("text"), col("source"))
      .join(emb.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"), "left")
      .localCheckpoint()
    val subRems = Seq(7L, 17L, 27L, 37L)
    def subShard(rem: Long) = shardRows.filter(col("doc_id") % 40 === rem)
    def freshDirs(tag: String): Ingest.Dirs = {
      val work = java.nio.file.Files
        .createTempDirectory(s"graft-ingestbench-$tag").toString
      val dirs = Ingest.dirsUnder(work)
      Ingest.bootstrap(spark, corpus, dirs, 10, 7)
      dirs
    }
    // verification threshold 0.8: the synthetic 31-word vocabulary
    // makes organic docs Jaccard-overlap far above the real corpus's
    // 0.2 default, which would classify nearly the whole shard
    // near-dup and leave the append stages unmeasured — at 0.8 only
    // the planted near-identical class drops, so every stage of both
    // arms does real work
    val VerifyThreshold = 0.8
    // a crawl-realistic url column: 3 hex digits of page space per
    // source (the default generator's 1-digit space is built to
    // saturate — every doc a url_dup past ~320 docs — which would
    // no-op the very append stages this bench measures)
    // the ingest-scale 5-hex page space (single-digit-% url collision
    // rate — non-vacuous url arm without the 3-hex space's saturating
    // cross-shard collision CHAINS, which would serialize the wave
    // schedule on fixture physics rather than workload physics)
    val benchUrl = ingestScaleUrl
    def runShard(dirs: Ingest.Dirs, rem: Long, id: Long): Ingest.Status = {
      val sub = subShard(rem)
      Ingest.run(spark, dirs, baseDocs, sub.drop("embedding"),
        sub.filter(col("embedding").isNotNull)
          .select(col("doc_id").as("vec_id"), col("embedding")), id,
        threshold = VerifyThreshold, rawUrl = benchUrl)
    }
    def drainStream(dirs: Ingest.Dirs, src: String): Double = {
      val cp = java.nio.file.Files
        .createTempDirectory("graft-ingestbench-cp").toString
      val t0 = System.nanoTime()
      val q = Ingest.streamIngest(spark, dirs, baseDocs,
        spark.readStream.schema(shardRows.schema)
          .option("maxFilesPerTrigger", 1).parquet(src),
        cp, threshold = VerifyThreshold, onStatus = _ => (),
        rawUrl = benchUrl)
      q.processAllAvailable()
      q.stop()
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: both code paths end-to-end on scratch dirs
    runShard(freshDirs("warm-b"), subRems.head, 0L)
    val warmSrc = java.nio.file.Files
      .createTempDirectory("graft-ingestbench-warmsrc").toString
    subShard(subRems.head).coalesce(1).write.mode("append").parquet(warmSrc)
    drainStream(freshDirs("warm-s"), warmSrc)

    // each arm runs TWICE on fresh deployments and the MIN total is
    // compared (r14 — the Bench min-of-2 stance: single-shot arm
    // totals measured 1.1×–2.8× apart across identical-code runs on
    // this host; the min of two fresh runs is the comparable number)
    def batchArm(): (Double, Seq[Double], Ingest.Dirs) = {
      val bDirs = freshDirs("batch")
      val ts = subRems.zipWithIndex.map { case (rem, i) =>
        val t0 = System.nanoTime()
        runShard(bDirs, rem, i.toLong)
        (System.nanoTime() - t0) / 1e9
      }
      (ts.sum, ts, bDirs)
    }
    val (b1, bTimes1, bDirs) = batchArm()
    val (b2, bTimes2, _) = batchArm()
    val (bTotal, bTimes) = if (b1 <= b2) (b1, bTimes1) else (b2, bTimes2)
    // stream arm: four files, one micro-batch each
    val src = java.nio.file.Files
      .createTempDirectory("graft-ingestbench-src").toString
    subRems.foreach(rem =>
      subShard(rem).coalesce(1).write.mode("append").parquet(src))
    val sDirs = freshDirs("stream")
    val s1 = drainStream(sDirs, src)
    val s2 = drainStream(freshDirs("stream2"), src)
    val sTotal = math.min(s1, s2)
    // the two compositions must agree before their times are compared
    def fates(dirs: Ingest.Dirs): Map[String, Long] =
      graft.sync.ManifestStore.readStore(spark, dirs.ledgerDir).get
        .filter(col("fate") =!= Ingest.DoneFate) // completion markers
        .groupBy(col("fate")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (bFates, sFates) = (fates(bDirs), fates(sDirs))
    require(bFates == sFates,
      s"arms diverged: batch $bFates vs stream $sFates")
    val nShards = subRems.size
    println("| arm | shards | total s | per-shard s | per-shard passes |")
    println("|---|---|---|---|---|")
    println(f"| batch (Ingest.run ×$nShards) | $nShards | $bTotal%.2f " +
      f"| ${bTotal / nShards}%.2f | ${bTimes.map(t => f"$t%.2f").mkString(", ")} |")
    println(f"| stream (streamIngest, 4 micro-batches) | $nShards " +
      f"| $sTotal%.2f | ${sTotal / nShards}%.2f | (one drain) |")
    println(f"| stream/batch per-shard ratio | | | ${sTotal / bTotal}%.2f | |")
    println(s"""{"metric":"ingest_stream_overhead","shards":$nShards,""" +
      s""""batch_total_s":$bTotal,"stream_total_s":$sTotal,""" +
      s""""batch_per_shard":${bTotal / nShards},""" +
      s""""stream_per_shard":${sTotal / nShards},""" +
      s""""ratio":${sTotal / bTotal},""" +
      s""""fates":${bFates.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + k + "\":" + v }.mkString("{", ",", "}")}}""")
    spark.stop()
  }

  /** MULTI-SHARD ingest throughput (r15, VERDICT r14 #1 — the
    * write-path wall): the maintainer lease serializes [[graft.llmdata
    * .Ingest.run]] to one shard at a time, so N queued shards pay N
    * full compositions. This measures the wall — sequential wall
    * seconds at 1×/4×/16× queued shards — and the batched tail
    * ([[graft.llmdata.Ingest.runBatch]]: one classify cascade + one
    * commit/delta per artifact for the whole batch) at 4× and 16×,
    * with fates REQUIRED bit-equal to the sequential arm before any
    * time is reported. Min of 2 fresh deployments per arm (the r14
    * host-noise stance). 16 shards × ~125 docs from the 10% holdout
    * of a 20k-doc corpus: small shards on purpose — the per-shard
    * FIXED overhead is exactly what a production cadence amortizes
    * and what batching exists to beat. */
  private def runIngestBatchBench(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.llmdata.Ingest
    val corpus = java.nio.file.Files
      .createTempDirectory("graft-ibatch-corpus").toString
    tools.SynthCorpus.writeCorpus(spark, corpus,
      nDocs = 20000L, nVecs = 8000L)
    val docs = Tables.documents(spark, corpus)
    val emb = Tables.embeddings(spark, corpus)
      .select(col("vec_id"), col("embedding"))
    val baseDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val shardRows = docs.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("text"), col("source"))
      .join(emb.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"), "left")
      .localCheckpoint()
    val nShards = 16
    // 16 sub-slices of the holdout (~125 docs each)
    def subShard(j: Int) = shardRows
      .filter(col("doc_id") % 160 === (10L * j + 7L))
    val VerifyThreshold = 0.8
    // the ingest-scale 5-hex page space (single-digit-% url collision
    // rate — non-vacuous url arm without the 3-hex space's saturating
    // cross-shard collision CHAINS, which would serialize the wave
    // schedule on fixture physics rather than workload physics)
    val benchUrl = ingestScaleUrl
    def freshDirs(tag: String): Ingest.Dirs = {
      val work = java.nio.file.Files
        .createTempDirectory(s"graft-ibatch-$tag").toString
      val dirs = Ingest.dirsUnder(work)
      Ingest.bootstrap(spark, corpus, dirs, 10, 7)
      dirs
    }
    def shardOf(j: Int): Ingest.BatchShard = {
      val sub = subShard(j)
      Ingest.BatchShard(j.toLong, sub.drop("embedding"),
        sub.filter(col("embedding").isNotNull)
          .select(col("doc_id").as("vec_id"), col("embedding")))
    }
    def fatesFor(dirs: Ingest.Dirs, upTo: Int): Map[(Long, Long), (String, Long)] =
      graft.sync.ManifestStore.readStore(spark, dirs.ledgerDir).get
        .filter(col("fate") =!= Ingest.DoneFate &&
          col("shard_id") < upTo.toLong)
        .collect().map(r => (r.getAs[Long]("shard_id"),
          r.getAs[Long]("doc_id")) ->
          ((r.getAs[String]("fate"),
            Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong)
              .getOrElse(-1L)))).toMap
    // sequential arm: per-shard wall seconds, cumulative at 1/4/16
    def seqArm(): (Seq[Double], Ingest.Dirs) = {
      val dirs = freshDirs("seq")
      val ts = (0 until nShards).map { j =>
        val b = shardOf(j)
        val t0 = System.nanoTime()
        Ingest.run(spark, dirs, baseDocs, b.docs, b.emb, b.shardId,
          threshold = VerifyThreshold, rawUrl = benchUrl)
        (System.nanoTime() - t0) / 1e9
      }
      (ts, dirs)
    }
    def batchArm(n: Int, tag: String): (Double, Ingest.Dirs) = {
      val dirs = freshDirs(tag)
      val batch = (0 until n).map(shardOf)
      val t0 = System.nanoTime()
      Ingest.runBatch(spark, dirs, baseDocs, batch,
        threshold = VerifyThreshold, rawUrl = benchUrl)
      ((System.nanoTime() - t0) / 1e9, dirs)
    }
    // warm-up: both code paths end-to-end on scratch deployments
    locally {
      val d = freshDirs("warm-seq")
      val b = shardOf(0)
      Ingest.run(spark, d, baseDocs, b.docs, b.emb, 0L,
        threshold = VerifyThreshold, rawUrl = benchUrl)
      batchArm(2, "warm-batch")
    }
    // min-of-2 fresh deployments per arm; fates from the kept run
    val (seqTs1, seqDirs1) = seqArm()
    val (seqTs2, seqDirs2) = seqArm()
    val (seqTs, seqDirs) =
      if (seqTs1.sum <= seqTs2.sum) (seqTs1, seqDirs1)
      else (seqTs2, seqDirs2)
    def minBatch(n: Int, tag: String): (Double, Ingest.Dirs) = {
      val (t1, d1) = batchArm(n, s"$tag-a")
      val (t2, d2) = batchArm(n, s"$tag-b")
      if (t1 <= t2) (t1, d1) else (t2, d2)
    }
    val (b4, b4Dirs) = minBatch(4, "b4")
    val (b16, b16Dirs) = minBatch(16, "b16")
    // fates BIT-EQUAL before any time is believed
    val seqF4 = fatesFor(seqDirs, 4)
    val seqF16 = fatesFor(seqDirs, 16)
    require(fatesFor(b4Dirs, 4) == seqF4,
      "batch-4 fates diverged from sequential")
    require(fatesFor(b16Dirs, 16) == seqF16,
      "batch-16 fates diverged from sequential")
    val docsN = shardRows.count()
    val docsPerShard = docsN.toDouble / nShards
    val seq1 = seqTs.head
    val seq4 = seqTs.take(4).sum
    val seq16 = seqTs.sum
    def docsHour(nDocs: Double, s: Double): Double = nDocs / s * 3600.0
    println("| arm | shards | wall s | docs/hour | speedup vs sequential |")
    println("|---|---|---|---|---|")
    println(f"| sequential | 1 | $seq1%.2f | ${docsHour(docsPerShard, seq1)}%.0f | 1.00 |")
    println(f"| sequential | 4 | $seq4%.2f | ${docsHour(4 * docsPerShard, seq4)}%.0f | 1.00 |")
    println(f"| sequential | 16 | $seq16%.2f | ${docsHour(16 * docsPerShard, seq16)}%.0f | 1.00 |")
    println(f"| runBatch | 4 | $b4%.2f | ${docsHour(4 * docsPerShard, b4)}%.0f | ${seq4 / b4}%.2f |")
    println(f"| runBatch | 16 | $b16%.2f | ${docsHour(16 * docsPerShard, b16)}%.0f | ${seq16 / b16}%.2f |")
    println(s"""{"metric":"ingest_batch","shards":$nShards,""" +
      s""""docs_per_shard":$docsPerShard,""" +
      s""""seq_s_1":$seq1,"seq_s_4":$seq4,"seq_s_16":$seq16,""" +
      s""""batch_s_4":$b4,"batch_s_16":$b16,""" +
      s""""speedup_4":${seq4 / b4},"speedup_16":${seq16 / b16},""" +
      s""""docs_hour_seq_16":${docsHour(16 * docsPerShard, seq16)},""" +
      s""""docs_hour_batch_16":${docsHour(16 * docsPerShard, b16)}}""")
    spark.stop()
  }

  /** Stage attribution for ONE 16-shard runBatch — the diagnostic
    * behind the ingest_batch speedup work (where do the batched wall
    * seconds go?). Same fixtures as [[runIngestBatchBench]], one
    * deployment, one batch, per-stage seconds printed. */
  private def runIngestBatchProfile(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.llmdata.Ingest
    val corpus = java.nio.file.Files
      .createTempDirectory("graft-ibprof-corpus").toString
    tools.SynthCorpus.writeCorpus(spark, corpus,
      nDocs = 20000L, nVecs = 8000L)
    val docs = Tables.documents(spark, corpus)
    val emb = Tables.embeddings(spark, corpus)
      .select(col("vec_id"), col("embedding"))
    val baseDocs = docs.filter(col("doc_id") % 10 =!= 7)
    val shardRows = docs.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("text"), col("source"))
      .join(emb.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"), "left")
      .localCheckpoint()
    // the ingest-scale 5-hex page space (single-digit-% url collision
    // rate — non-vacuous url arm without the 3-hex space's saturating
    // cross-shard collision CHAINS, which would serialize the wave
    // schedule on fixture physics rather than workload physics)
    val benchUrl = ingestScaleUrl
    def shardOf(j: Int): Ingest.BatchShard = {
      val sub = shardRows.filter(col("doc_id") % 160 === (10L * j + 7L))
      Ingest.BatchShard(j.toLong, sub.drop("embedding"),
        sub.filter(col("embedding").isNotNull)
          .select(col("doc_id").as("vec_id"), col("embedding")))
    }
    def once(tag: String, n: Int): Unit = {
      val work = java.nio.file.Files
        .createTempDirectory(s"graft-ibprof-$tag").toString
      val dirs = Ingest.dirsUnder(work)
      Ingest.bootstrap(spark, corpus, dirs, 10, 7)
      val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val t0 = System.nanoTime()
      Ingest.runBatch(spark, dirs, baseDocs, (0 until n).map(shardOf),
        threshold = 0.8, rawUrl = benchUrl,
        onStage = (s, t) => stages(s) = stages.getOrElse(s, 0.0) + t)
      val total = (System.nanoTime() - t0) / 1e9
      val attributed = stages.values.sum
      println(f"ingestbatchprofile $tag n=$n total=$total%.2f " +
        f"residual=${total - attributed}%.2f " +
        stages.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    }
    once("warm", 2)
    once("b16", 16)
    spark.stop()
  }

  /** Per-shard ingest cost vs CORPUS size (r13, VERDICT r12 #4): the
    * SAME 500-doc shard ingested into bootstrapped deployments over
    * 1×/10×/100× document corpora, per-stage wall seconds from
    * [[graft.llmdata.Ingest.run]]'s `onStage` hook. Before r13 the
    * classify stage re-aggregated the full corpus store per shard —
    * a cost this table would show growing ~linearly in the corpus;
    * with the keeper tables + bucket-pruned lookups it must stay
    * near-flat (the residual slope is the narrow keeper scan, ~24 B/
    * key, the honest note below). The embedding side is held at 4k
    * vectors across points: the corpus axis under test is the DOC
    * corpus (the classification reference); growing the ANN artifact
    * too would bury a classification measurement under one-time
    * index training ([[run100x]] already measures that axis). */
  /** The ingest-scale fixtures shared by `ingestscale` and
    * `classifyprofile`: crawl-realistic url space + the 0.8 verify
    * threshold, like runIngestBench but with a FIVE-hex page space
    * (1M pages/source) — the 3-hex space saturates by 2M docs (every
    * shard url taken, all 500 docs url_dup, append stages idle),
    * which would compare a working shard at 1x against a no-op shard
    * at 100x; at 5 hex the collision rate stays single-digit-percent
    * at every point. */
  private def ingestScaleUrl: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    concat(lit("https://www."), col("source"), lit(".com/p/"),
      substring(md5(concat(col("doc_id").cast("string"), lit(":u"))), 1, 5))
  }

  /** ONE fixed 500-doc shard for every scale point: ids far above any
    * corpus, text perturbed so no row is an exact corpus duplicate. */
  private def ingestScaleShard(spark: SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    tools.SynthCorpus.documents(spark, 500L, seed = 137L)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" ingestscale"),
          (col("doc_id") % 97).cast("string")).as("text"),
        col("source"))
      .localCheckpoint()
  }

  /** A bootstrapped deployment over an nDocs-doc synthetic corpus
    * (embeddings held at 4k — the corpus axis under test is the DOC
    * corpus); returns (corpusDir, dirs). */
  private def ingestScaleDeployment(spark: SparkSession, label: String,
                                    nDocs: Long,
                                    classifyOnly: Boolean = false)
      : (String, graft.llmdata.Ingest.Dirs) = {
    import graft.llmdata.Ingest
    val corpus = java.nio.file.Files
      .createTempDirectory(s"graft-ingestscale-$label").toString
    tools.SynthCorpus.writeCorpus(spark, corpus, nDocs, 4000L)
    val work = java.nio.file.Files
      .createTempDirectory(s"graft-ingestscale-work-$label").toString
    val dirs = Ingest.dirsUnder(work)
    // shardRem ≥ shardMod never matches: the FULL corpus is the base.
    // classifyOnly (r15 — the 20M decade): build just the classify
    // surface; the skipped postings/ANN/LM builds would double the
    // fixture cost without touching the probe under measurement.
    if (classifyOnly)
      Ingest.bootstrapClassifyOnly(spark, corpus, dirs,
        rawUrl = ingestScaleUrl)
    else Ingest.bootstrap(spark, corpus, dirs, 10, 11,
      rawUrl = ingestScaleUrl)
    (corpus, dirs)
  }

  /** One classify-profile point in BOTH join-shape modes: `auto`
    * (the production ceiling decides — broadcast at these corpus
    * sizes) and `pointlookup` (broadcast ceiling forced to 0, so the
    * probe exercises the format-3 sorted-index pushdown path — the
    * shape a past-ceiling 100-TB deployment runs). Returns
    * mode → (per-arm seconds, per-arm counts). */
  private def classifyProfilePoint(spark: SparkSession, label: String,
                                   nDocs: Long,
                                   shard: org.apache.spark.sql.DataFrame,
                                   classifyOnly: Boolean = false)
      : Map[String, (Map[String, Double], Map[String, Long])] = {
    import graft.llmdata.Ingest
    val (_, dirs) = ingestScaleDeployment(spark, label, nDocs, classifyOnly)
    Map(
      "auto" -> Ingest.profileClassify(spark, dirs, shard, 0.8,
        ingestScaleUrl),
      "pointlookup" -> Ingest.profileClassify(spark, dirs, shard, 0.8,
        ingestScaleUrl, broadcastCeiling = 0L))
  }

  /** Per-ARM classify attribution at the ingest-scale corpus points
    * (the measurement tool behind the classify column): forces each
    * cascade arm with a timed count via Ingest.profileClassify, in
    * both join-shape modes (r14 — the pointlookup rows are the
    * corpus-flat proof for the past-broadcast-ceiling probe). */
  private def runClassifyProfile(spark: SparkSession,
                                 extra: Seq[String]): Unit = {
    val shard = ingestScaleShard(spark)
    def point(label: String, nDocs: Long,
              classifyOnly: Boolean = false): Unit =
      classifyProfilePoint(spark, label, nDocs, shard, classifyOnly)
        .toSeq.sortBy(_._1)
        .foreach { case (mode, (t, c)) =>
          println(s"classifyprofile $label docs=$nDocs mode=$mode " +
            t.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.2f" }
              .mkString(" ") + " | " +
            c.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
              .mkString(" "))
        }
    if (extra.contains("20m")) {
      // ONE MORE DECADE on the gate probe (r15, VERDICT r14 #3): the
      // 20M-doc / ~160M-key point, classify-surface-only deployment
      // (the full bootstrap would double the fixture cost with
      // artifacts the probe never reads). If gate_probe stays within
      // ~1.5x of the 2M point, the fixed-overhead attribution holds
      // and the point lookup is flat-for-purpose.
      point("warm", 20000L, classifyOnly = true)
      point("20m", 20000000L, classifyOnly = true)
    } else {
      point("warm", 20000L)
      Seq(("1x", 20000L), ("10x", 200000L), ("100x", 2000000L))
        .foreach { case (l, n) => point(l, n) }
    }
    spark.stop()
  }

  private def runIngestScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.llmdata.Ingest
    val stageNames = Seq("classify", "corpus", "keepers", "lex", "ann", "gates")
    val benchUrl = ingestScaleUrl
    val shard = ingestScaleShard(spark)
    val shardEmb = tools.SynthCorpus.embeddings(spark, 500L, seed = 139L)
      .select((col("vec_id") + lit(10000000L)).as("vec_id"),
        col("embedding"))
      .localCheckpoint()
    def point(label: String, nDocs: Long)
        : (Long, Map[String, Double], Double, Long, (Int, Int)) = {
      val (corpus, dirs) = ingestScaleDeployment(spark, label, nDocs)
      val stages = scala.collection.mutable.Map.empty[String, Double]
      val t0 = System.nanoTime()
      val st = Ingest.run(spark, dirs, Tables.documents(spark, corpus),
        shard, shardEmb, 0L, threshold = 0.8, rawUrl = benchUrl,
        onStage = (s, t) => stages(s) = t)
      val total = (System.nanoTime() - t0) / 1e9
      require(st.fates.values.sum == 500L, s"$label lost rows: ${st.fates}")
      (nDocs, stages.toMap, total, st.fates.getOrElse("kept", 0L),
        graft.llmdata.Dedup.gateBandParams(spark, dirs.shingleGateDir))
    }
    point("warm", 20000L) // JIT/codegen warm-up through the full path
    val rows = Seq(("1x", 20000L), ("10x", 200000L), ("100x", 2000000L))
      .map { case (l, n) => (l, point(l, n)) }
    // header/separator count = label + stages + total + kept + gate
    // (ADVICE r13: the r13 rows emitted a 10th `gate NxM` cell the
    // 9-column header didn't declare, so the table no longer rendered)
    println("| corpus docs | " + stageNames.mkString(" s | ") +
      " s | total s | kept/500 | gate |")
    println("|" + ("---|" * (stageNames.size + 4)))
    rows.foreach { case (l, (n, st, tot, kept, (gb, gr))) =>
      println(s"| $l ($n) | " + stageNames.map(k =>
        f"${st.getOrElse(k, 0.0)}%.2f").mkString(" | ") +
        f" | $tot%.2f | $kept | ${gb}x$gr |")
    }
    println("NOTE: classify is corpus-flat by mechanism since the " +
      "adaptive gate banding (Dedup.GateBandLadder bounds the " +
      "per-probe candidate mass at build; candidate ids push into " +
      "the corpus-text scan as parquet In filters under " +
      s"CandIdPushdownMax=${Ingest.CandIdPushdownMax}); past " +
      s"${Ingest.GateBroadcastMaxKeys} persisted keys the gate probe " +
      "takes the format-3 POINT-LOOKUP shape (gpart-pruned, " +
      s"In(sig) pushed under GateSigPushdownMax=${Ingest.GateSigPushdownMax} " +
      "over the sorted-within-bucket layout) - see classifyprofile's " +
      "dual-mode rows; the residual narrow term is the pruned keeper " +
      "scan (~24 B/key).")
    val js = rows.map { case (l, (n, st, tot, kept, (gb, gr))) =>
      "\"" + l + "\":{\"docs\":" + n + "," +
        stageNames.map(k => "\"" + k + "\":" + st.getOrElse(k, 0.0))
          .mkString(",") + ",\"total\":" + tot +
        ",\"kept\":" + kept +
        ",\"gate_bands\":" + gb + ",\"gate_rows\":" + gr + "}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"ingest_scale","points":$js}""")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id) AS s")
      .write.format("noop").mode("overwrite").save()
    // host calibration (VERDICT r14 #2): every ScaleBench mode's JSON
    // carries the same fixed CPU-bound calib_sec Bench emits, so
    // cross-round curve comparisons can divide out host drift
    val calib = Bench.calibSec(spark)
    println(f"""{"metric":"calib","calib_sec":$calib}""")
    if (args.headOption.contains("100x")) { run100x(spark); return }
    if (args.headOption.contains("ingest")) { runIngestBench(spark); return }
    if (args.headOption.contains("ingestbatch")) { runIngestBatchBench(spark); return }
    if (args.headOption.contains("ingestbatchprofile")) { runIngestBatchProfile(spark); return }
    if (args.headOption.contains("ingestscale")) { runIngestScale(spark); return }
    if (args.headOption.contains("classifyprofile")) { runClassifyProfile(spark, args.drop(1).toSeq); return }

    val synth1xDir = java.nio.file.Files
      .createTempDirectory("graft-synth1x").toString
    tools.SynthCorpus.writeCorpus(spark, synth1xDir,
      nDocs = 5000L, nVecs = 2000L)
    val synthDir = java.nio.file.Files
      .createTempDirectory("graft-synth10x").toString
    tools.SynthCorpus.writeCorpus(spark, synthDir,
      nDocs = 50000L, nVecs = 20000L)
    val scales = Seq(
      ("sf0.01", "/root/testdata/sf0.01", 500L, 500L),
      ("sf0.1", "/root/testdata/sf0.1", 5000L, 2000L),
      ("synth1x", synth1xDir, 5000L, 2000L),
      ("synth10x", synthDir, 50000L, 20000L))

    val queries = SparkEntry.queries
    var failed = List.empty[String]
    var lint = List.empty[String]
    // local-iteration subset knob (r16, like Bench's filter; never set
    // by the driver): regex over family names — a filtered sweep is a
    // profiling run, not a curve-table refresh
    val famFilter = sys.env.get("SPARK_GRAFT_SCALE_FILTER")
      .map(_.r).map(re => (n: String) => re.findFirstIn(n).isDefined)
      .getOrElse((_: String) => true)
    val rows = Families.filter(famFilter).map { name =>
      val times = scales.map { case (label, dir, _, _) =>
        var lastRun: Option[org.apache.spark.sql.DataFrame] = None
        def onePass(): Option[Double] = {
          val t0 = System.nanoTime()
          try {
            val df = queries(name)(spark, dir)
            // drives df's OWN QueryExecution: full materialization AND
            // the finalized adaptive plan for the per-scale lint
            df.queryExecution.toRdd.foreach(_ => ())
            lastRun = Some(df)
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"[scalebench] $name@$label FAILED: ${e.getMessage}")
            None
          }
        }
        // both pass times ride the JSON next to the min (VERDICT r9
        // #6) so a host-load outlier is self-diagnosing
        val p1 = onePass()
        val p2 = p1.flatMap(_ => onePass())
        val t = for (a <- p1; b <- p2) yield math.min(a, b)
        if (t.isEmpty) failed ::= s"$name@$label"
        lastRun.foreach { df =>
          plans.RegistryAudit.unexempt(name, df).foreach { f =>
            System.err.println(s"[scalebench] $name@$label LINT: $f")
            lint ::= s"$name@$label: $f"
          }
        }
        // output size contextualizes the time ratio: a pair-family
        // whose RESULT densifies with the corpus should cost more —
        // the claim under test is time ∝ work, not time ∝ constant
        val n = if (t.isEmpty) -1L
          else try queries(name)(spark, dir).count()
          catch { case _: Throwable => -1L }
        (label, t.getOrElse(0.0), n, Seq(p1, p2).flatten)
      }
      name -> times
    }
    // query-BATCH scaling on the 20k-vector synthetic corpus (VERDICT
    // r10 #2): the frame path's per-query cost must hold ~flat as the
    // batch grows 400× — past QFrameThreshold the auto-dispatch takes
    // the frame path, so only small batches also measure the driver
    // placement. Min of 2 passes per cell; indexes are warm from the
    // family sweep above (steady-state serving cost, like Bench).
    val qBatchCells = Seq(
      ("ivfpq-driver", 5, false), ("ivfpq-driver", 50, false),
      ("ivfpq-frame", 5, true), ("ivfpq-frame", 50, true),
      ("ivfpq-frame", 500, true), ("ivfpq-frame", 2000, true),
      ("ivf-driver", 50, false),
      ("ivf-frame", 50, true), ("ivf-frame", 500, true))
    val qBatch = qBatchCells.map { case (mode, q, ff) =>
      def pass(): Double = {
        val t0 = System.nanoTime()
        val df =
          if (mode.startsWith("ivfpq"))
            llmdata.Similarity.ivfPqTopK(spark, synthDir, q, 10,
              frameQueries = ff)
          else
            llmdata.Similarity.ivfTopK(spark, synthDir, q, 10,
              frameQueries = ff)
        df.queryExecution.toRdd.foreach(_ => ())
        (System.nanoTime() - t0) / 1e9
      }
      val t = math.min(pass(), pass())
      (mode, q, t)
    }

    Memo.release()

    // drift regression rows (r13, VERDICT r12 #9): one ANN-drift point
    // and one gate-drift point, both at the 0.2 rebuild threshold,
    // ride the per-round JSON — an append-recall regression surfaces
    // round-over-round without re-running the full grids by hand.
    // The gate point sits at nBase = 28k so the re-key genuinely
    // MOVES the width (35k total crosses the 32k bit boundary).
    val (driftApp, driftReb, driftFrac, driftBoost) =
      llmdata.RecallProbe.driftCase(spark, 2000L, 0.2, 5, 10)
    val (gRecA, gRecR, gLoadA, gLoadR, gBitsA, gBitsR) =
      llmdata.RecallProbe.gateDriftCase(spark, 28000L, 0.2, 40)
    // classify-arm regression rows (r14, VERDICT r13 #8): the
    // profiler's per-arm seconds at the 10x ingest-scale point, both
    // join-shape modes, ride the per-round JSON so a reappearing
    // corpus-linear arm surfaces round-over-round without re-running
    // the manual classifyprofile sweep.
    val classifyArms =
      classifyProfilePoint(spark, "curve10x", 200000L,
        ingestScaleShard(spark))

    // markdown table: times, output rows, and the 10x-step ratios
    // (synth10x / synth1x — the SAME generator at both ends, so the
    // step is a pure 10x input-volume change) — docs and embeddings
    // both grow 10x on that step, so t-ratio ≤ max(10, rows-ratio)
    // means at-most-linear scaling in input + output work
    println("| query | sf0.01 s/rows | sf0.1 s/rows | synth1x s/rows | synth10x s/rows | t(10x)/t(1x) | out(10x)/out(1x) |")
    println("|---|---|---|---|---|---|---|")
    rows.foreach { case (name, ts) =>
      val m = ts.map { case (l, t, n, _) => l -> ((t, n)) }.toMap
      val tRatio =
        if (m("synth1x")._1 > 0) m("synth10x")._1 / m("synth1x")._1 else Double.NaN
      val nRatio =
        if (m("synth1x")._2 > 0) m("synth10x")._2.toDouble / m("synth1x")._2 else Double.NaN
      println(f"| $name | ${m("sf0.01")._1}%.2f/${m("sf0.01")._2} " +
        f"| ${m("sf0.1")._1}%.2f/${m("sf0.1")._2} " +
        f"| ${m("synth1x")._1}%.2f/${m("synth1x")._2} " +
        f"| ${m("synth10x")._1}%.2f/${m("synth10x")._2} " +
        f"| ${tRatio}%.1f | ${nRatio}%.1f |")
    }
    // scanned-fraction observability (r8 #4): what the corpus-scaled
    // IVF defaults resolve to at each scale point — the fraction must
    // FALL as the corpus grows past the probe floors. The projected
    // rows apply the SAME pure functions (uncapped ⌈√N⌉ cells + the
    // r10 log-growth probe ceiling) at production sizes: past ~250k
    // vectors the fraction keeps falling instead of stalling at 25%
    // (VERDICT r9 #1/#2; SimilaritySpec pins the envelope).
    val scan = scales.map { case (label, dir, _, _) =>
      val (c, p, pq) = llmdata.Similarity.ivfIndexStats(spark, dir)
      (label, c, p, pq)
    } ++ Seq(1000000L, 100000000L, 1000000000L).map { nn =>
      val (c, p, pq) = llmdata.Similarity.ivfIndexStatsAt(nn)
      (s"projected:$nn", c, p, pq)
    }
    println("| scale | ivf cells | ivf probes (scan frac) | ivfpq probes (scan frac) |")
    println("|---|---|---|---|")
    scan.foreach { case (label, c, p, pq) =>
      println(f"| $label | $c | $p (${p.toDouble / c}%.2f) | $pq (${pq.toDouble / c}%.2f) |")
    }
    println("| ivfpq query batch (synth10x, 20k vecs) | sec | sec/query |")
    println("|---|---|---|")
    qBatch.foreach { case (mode, q, t) =>
      println(f"| $mode@$q | $t%.2f | ${t / q}%.4f |")
    }
    println("| drift@0.2 | appended | rebuilt/re-keyed | note |")
    println("|---|---|---|---|")
    println(f"| ann recall (2k base) | $driftApp%.3f | $driftReb%.3f " +
      f"| measured delta $driftFrac%.3f; drift-aware probes " +
      f"$driftBoost%.3f |")
    println(f"| gate recall (28k base) | $gRecA%.3f | $gRecR%.3f " +
      f"| bits $gBitsA -> $gBitsR |")
    println(f"| gate cand/probe (28k base) | $gLoadA%.1f | $gLoadR%.1f " +
      "| frozen width carries the load |")
    val qs = rows.map { case (n, ts) =>
      "\"" + n + "\":{" + ts.map { case (l, t, c, passes) =>
        "\"" + l + "\":{\"sec\":" + t + ",\"rows\":" + c +
          ",\"passes\":" + passes.mkString("[", ",", "]") + "}"
      }.mkString(",") + "}"
    }.mkString("{", ",", "}")
    val fs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ls = lint.sorted.map("\"" + _.replace("\"", "'") + "\"")
      .mkString("[", ",", "]")
    val sc = scan.map { case (label, c, p, pq) =>
      "\"" + label + "\":{\"cells\":" + c + ",\"ivf_probes\":" + p +
        ",\"ivfpq_probes\":" + pq + "}"
    }.mkString("{", ",", "}")
    val qb = qBatch.map { case (mode, q, t) =>
      "\"" + mode + "@" + q + "\":{\"sec\":" + t +
        ",\"sec_per_query\":" + (t / q) + "}"
    }.mkString("{", ",", "}")
    val drift = s""""drift_recall@0.2":{"ann_appended":$driftApp,""" +
      s""""ann_appended_drift_probes":$driftBoost,""" +
      s""""ann_rebuilt":$driftReb,"ann_delta_fraction":$driftFrac,""" +
      s""""gate_frozen":$gRecA,"gate_rekeyed":$gRecR,""" +
      s""""gate_load_frozen":$gLoadA,"gate_load_rekeyed":$gLoadR,""" +
      s""""gate_bits_frozen":$gBitsA,"gate_bits_rekeyed":$gBitsR}"""
    val ca = classifyArms.toSeq.sortBy(_._1).map { case (mode, (t, c)) =>
      "\"" + mode + "\":{" +
        (t.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v } ++
          c.toSeq.sortBy(_._1).map { case (k, v) => "\"n_" + k + "\":" + v })
          .mkString(",") + "}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_curve","calib_sec":$calib,"queries":$qs,"failed":$fs,"lint_clean":${lint.isEmpty},"lint":$ls,"ivf_scan":$sc,"q_batch":$qb,"classify_arms@10x":$ca,$drift}""")
    spark.stop()
    if (failed.nonEmpty || lint.nonEmpty) sys.exit(1)
  }
}
