package graft.llmdata

import graft.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Diagnostic main: measures each approximate ANN path's recall@k
  * against [[Similarity.bruteForceTopK]] on a corpus dir, across a
  * small grid of the knob that governs that path's cost/recall trade
  * (IVF probes, PQ rerank pool, PCA dims × shortlist). Used to SET the
  * SimilaritySpec recall floors from measurements instead of hope —
  * run it whenever the index structure or the corpus generator
  * changes:
  *
  * {{{
  * sbt -batch "runMain graft.llmdata.RecallProbe /root/testdata/sf0.001"
  * sbt -batch "runMain graft.llmdata.RecallProbe synth:20000"   // 10x corpus
  * }}}
  *
  * `synth:<nVecs>` generates the deterministic
  * [[graft.tools.SynthCorpus]] embeddings at that size into a temp dir
  * first (VERDICT r6 #7: the recall floors must hold on the 10×
  * corpus, not just the driver scales).
  */
object RecallProbe {

  /** One RECALL-UNDER-DRIFT case (VERDICT r11 #3) — the scenario the
    * append path's frozen-model bound actually meets: the standing
    * index was built (centroids/books trained) on the BASE
    * distribution, then a SHIFTED shard arrives — [[graft.tools
    * .SynthCorpus.clusteredEmbeddings]] with a different seed, i.e.
    * entirely NEW cluster centers the frozen coarse model never saw —
    * and lands through [[AnnIndex.append]]. Shard queries (the new
    * distribution querying itself, the worst case for a stale
    * quantizer) are scored against the brute-force truth for both the
    * appended index and a full rebuild over the union.
    *
    * Layout puts nQ SHARD rows at ids [0, nQ) — so every existing
    * entry point's `vec_id < nQueries` convention makes the queries
    * shard queries — the base at [nQ, nQ + nBase), and the rest of
    * the shard above (the coarse trainer's centroid init samples ids
    * from the bottom of the range, so the base block must start near
    * 0 for the base-only model to train at full cell count). Returns
    * (recall of the appended index, recall of the full rebuild,
    * measured [[AnnIndex.deltaFraction]]). The measured grid (SURVEY
    * §2.13) is what justifies [[AnnIndex.RebuildDeltaFraction]];
    * SimilaritySpec gates a floor at that threshold. */
  private[graft] def driftCase(spark: SparkSession, nBase: Long,
                                 fraction: Double, nQ: Int, k: Int,
                                 shiftSeed: Long = 91L)
      : (Double, Double, Double, Double) = {
    val nShard = math.round(nBase * fraction / (1.0 - fraction))
    require(nShard >= nQ, s"shard $nShard smaller than the query batch $nQ")
    def temp(p: String) = java.nio.file.Files
      .createTempDirectory(s"graft-drift-$p").toString
    val (baseDir, combDir, idxA, idxR) =
      (temp("base"), temp("comb"), temp("idxa"), temp("idxr"))
    val shard0 = graft.tools.SynthCorpus
      .clusteredEmbeddings(spark, nShard, seed = shiftSeed)
    val shardLow = shard0.filter(col("vec_id") < nQ)
    val shardHigh = shard0.filter(col("vec_id") >= nQ)
      .withColumn("vec_id", col("vec_id") + lit(nBase))
    val base = graft.tools.SynthCorpus
      .clusteredEmbeddings(spark, nBase)
      .withColumn("vec_id", col("vec_id") + lit(nQ.toLong))
    val shard = shardLow.unionByName(shardHigh)
    base.write.mode("overwrite").parquet(s"$baseDir/embeddings.parquet")
    base.unionByName(shard).write.mode("overwrite")
      .parquet(s"$combDir/embeddings.parquet")
    // standing index: model trained on the BASE distribution only;
    // the shifted shard encodes against that frozen model
    AnnIndex.write(spark, baseDir, idxA)
    AnnIndex.append(spark, idxA,
      shard.select(col("vec_id"), col("embedding")))
    // the comparison point: a full rebuild re-trains on the union
    AnnIndex.write(spark, combDir, idxR)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(spark, combDir, nQ, k))
    def recall(df: DataFrame): Double =
      (exact & pairs(df)).size.toDouble / exact.size
    val r = (recall(AnnIndex.ivfPqTopK(spark, combDir, idxA, nQ, k)),
      recall(AnnIndex.ivfPqTopK(spark, combDir, idxR, nQ, k)),
      AnnIndex.deltaFraction(spark, idxA),
      // the drift-compensating probe knob (r14, VERDICT r13 #7): the
      // SAME appended index queried at the staleness-scaled probe
      // budget — the recall a deployment buys back without a rebuild
      recall(AnnIndex.ivfPqTopK(spark, combDir, idxA, nQ, k,
        probes = AnnIndex.driftAwareProbes(spark, idxA))))
    Seq(baseDir, combDir).foreach(Memo.releaseDir) // temp corpora must not pin memos
    r
  }

  /** One EMBED-GATE-under-drift case (r13, VERDICT r12 #6): the ANN
    * drift grid covers the index; this covers the embedding gate's
    * FROZEN KEYING WIDTH. Appends inherit the base generation's
    * `bitsPerBand` (the frozen-keying contract) while [[Dedup
    * .embedBandBits]] is corpus-adaptive — so as shifted shards land,
    * the standing gate keys a GROWN corpus at a width sized for the
    * smaller one. What actually drifts is measured here, per delta
    * fraction, appended-at-frozen-width vs re-keyed rebuild:
    *
    *  - RECALL on planted near-identical re-posts (the gate's target
    *    class): hyperplane collision depends only on pairwise angle,
    *    never on the data distribution, so recall should HOLD at the
    *    frozen width (and sit slightly above the re-key's, coarser
    *    keys colliding more) — the grid verifies rather than assumes;
    *  - PER-PROBE CANDIDATE LOAD: expected bucket width is n/2^bits,
    *    so the frozen width's load grows with every append while the
    *    re-key returns it to the [[Dedup.EmbedMaxBucketWidth]]
    *    envelope — THIS is the gate's real drift axis and the reason
    *    [[graft.llmdata.Ingest.rebuild]] re-keys it.
    *
    * Probes are deterministic jitters (cos ≈ 0.9997) of the first
    * `nProbes` SHARD vectors — re-posts of the shifted distribution,
    * the worst case for a stale keying. Returns (recall appended,
    * recall rebuilt, per-probe candidate load appended, load rebuilt,
    * bits appended, bits rebuilt). */
  private[graft] def gateDriftCase(spark: SparkSession, nBase: Long,
                                     fraction: Double, nProbes: Int,
                                     shiftSeed: Long = 91L)
      : (Double, Double, Double, Double, Int, Int) = {
    val nShard = math.round(nBase * fraction / (1.0 - fraction))
    require(nShard >= nProbes,
      s"shard $nShard smaller than the probe batch $nProbes")
    def temp(p: String) = java.nio.file.Files
      .createTempDirectory(s"graft-gatedrift-$p").toString
    val (baseDir, combDir, idxA, idxR) =
      (temp("base"), temp("comb"), temp("idxa"), temp("idxr"))
    val base = graft.tools.SynthCorpus.clusteredEmbeddings(spark, nBase)
      .select(col("vec_id"), col("embedding"))
    val shard = graft.tools.SynthCorpus
      .clusteredEmbeddings(spark, nShard, seed = shiftSeed)
      .select((col("vec_id") + lit(nBase)).as("vec_id"), col("embedding"))
      .localCheckpoint()
    base.write.mode("overwrite").parquet(s"$baseDir/embeddings.parquet")
    base.unionByName(shard).write.mode("overwrite")
      .parquet(s"$combDir/embeddings.parquet")
    // standing gate: keyed at the BASE width, shard appended frozen
    Dedup.writeEmbedBandIndex(spark, baseDir, idxA)
    Dedup.appendEmbedBandIndex(spark, idxA, shard)
    // comparison point: a re-keyed rebuild over the union
    Dedup.writeEmbedBandIndex(spark, combDir, idxR)
    // near-identical re-posts of shard vectors: ±1% per-dim jitter on
    // a unit vector (cos ≈ 0.9997); hyperplane signs are
    // scale-invariant so no renormalization is needed
    val probes = shard.filter(col("vec_id") < lit(nBase + nProbes))
      .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
        transform(col("embedding"), (v, j) =>
          v + (pmod(xxhash64(col("vec_id"), j), lit(1000L)).cast("float")
            / lit(1000.0f) - lit(0.5f)) * lit(0.02f)).as("embedding"))
      .localCheckpoint()
    def score(idxDir: String): (Double, Double) = {
      val idx = Dedup.loadEmbedBandIndex(spark, idxDir)
      val cands = Dedup.streamingEmbedGate(probes, idx)
        .select(col("vec_id"), col("corpus_id")).distinct()
        .localCheckpoint()
      val hits = cands
        .filter(col("corpus_id") === col("vec_id") - lit(1000000000L))
        .count()
      (hits.toDouble / nProbes, cands.count().toDouble / nProbes)
    }
    val (ra, la) = score(idxA)
    val (rr, lr) = score(idxR)
    val bitsA = Dedup.loadEmbedBandIndex(spark, idxA).bitsPerBand
    val bitsR = Dedup.loadEmbedBandIndex(spark, idxR).bitsPerBand
    Seq(baseDir, combDir).foreach(Memo.releaseDir)
    (ra, rr, la, lr, bitsA, bitsR)
  }

  def main(args: Array[String]): Unit = {
    val spec = args.headOption.getOrElse("/root/testdata/sf0.001")
    val (nQ, k) = (args.lift(1).map(_.toInt).getOrElse(5),
      args.lift(2).map(_.toInt).getOrElse(10))
    val spark = graft.Session.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if (spec.startsWith("drift:")) {
      // recall-under-drift grid (VERDICT r11 #3): appended-vs-rebuilt
      // recall on shard queries at growing delta fractions of a
      // SHIFTED shard — the evidence behind AnnIndex
      // .RebuildDeltaFraction. `drift:<nBase>`.
      val nBase = spec.stripPrefix("drift:").toLong
      println(f"drift grid: nBase=$nBase nQ=$nQ k=$k shifted shard " +
        "(new cluster centers) appended against the frozen base model")
      println("| delta fraction | recall appended | drift-aware probes " +
        "| recall rebuilt | gap |")
      println("|---|---|---|---|---|")
      for (f <- Seq(0.05, 0.10, 0.20, 0.35, 0.50)) {
        val (ra, rr, df, rb) = driftCase(spark, nBase, f, nQ, k)
        println(f"| $df%.3f | $ra%.3f | $rb%.3f | $rr%.3f | ${rr - ra}%.3f |")
      }
      spark.stop()
      return
    }
    if (spec.startsWith("gatedrift:")) {
      // embed-gate drift grid (r13, VERDICT r12 #6): recall holds at
      // the frozen width (angle-only physics) while the per-probe
      // candidate LOAD grows until the re-key retires it — the
      // evidence behind Ingest.rebuild's gate re-keying.
      val nBase = spec.stripPrefix("gatedrift:").toLong
      println(s"embed-gate drift grid: nBase=$nBase shifted shard " +
        "appended at the FROZEN base width vs a re-keyed rebuild")
      println("| delta fraction | recall frozen | recall re-keyed " +
        "| cand/probe frozen | cand/probe re-keyed | bits frozen/re-keyed |")
      println("|---|---|---|---|---|---|")
      val nP = math.max(nQ, 40) // enough probes for a stable ratio
      for (f <- Seq(0.05, 0.10, 0.20, 0.35, 0.50)) {
        val (ra, rr, la, lr, ba, br) = gateDriftCase(spark, nBase, f, nP)
        println(f"| $f%.2f | $ra%.3f | $rr%.3f | $la%.1f | $lr%.1f | $ba/$br |")
      }
      spark.stop()
      return
    }
    val dir =
      if (spec.startsWith("synth:")) {
        val n = spec.stripPrefix("synth:").toLong
        val d = java.nio.file.Files
          .createTempDirectory(s"graft-recall-synth$n").toString
        graft.tools.SynthCorpus.embeddings(spark, n)
          .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
        d
      } else if (spec.startsWith("synthc:")) {
        // planted-cluster corpus (VERDICT r9 #2): the regime where
        // recall is governed by probe targeting, not scanned fraction
        val n = spec.stripPrefix("synthc:").toLong
        val d = java.nio.file.Files
          .createTempDirectory(s"graft-recall-synthc$n").toString
        graft.tools.SynthCorpus.clusteredEmbeddings(spark, n)
          .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
        d
      } else spec

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(spark, dir, nQ, k))
    def recall(df: DataFrame): Double =
      (exact & pairs(df)).size.toDouble / exact.size

    val n = Similarity.corpusCount(spark, dir)
    val (cells, ivfP, ivfpqP) = Similarity.ivfIndexStatsAt(n)
    println(f"corpus=$dir nQ=$nQ k=$k exact_pairs=${exact.size} " +
      f"cells=$cells ivf_probes=$ivfP ivfpq_probes=$ivfpqP")
    for (p <- Seq(2, 4, 6, 8))
      println(f"ivf   probes=$p%-2d                recall=${
        recall(Similarity.ivfTopK(spark, dir, nQ, k, probes = p))}%.3f")
    // scanned-fraction grid (VERDICT r9 #2): recall at 25%/10%/3% of
    // the cells — on the clustered corpus (synthc:) these justify the
    // log-growth probe ceiling; on the structure-free corpora recall
    // tracks the fraction by construction
    for (frac <- Seq(0.25, 0.10, 0.03)) {
      val p = math.max(1, math.ceil(frac * cells).toInt)
      println(f"ivf   probes=$p%-3d (${frac * 100}%2.0f%% scanned)  recall=${
        recall(Similarity.ivfTopK(spark, dir, nQ, k, probes = p))}%.3f")
      println(f"ivfpq probes=$p%-3d (${frac * 100}%2.0f%% scanned)  recall=${
        recall(Similarity.ivfPqTopK(spark, dir, nQ, k, probes = p))}%.3f")
    }
    println(f"ivf   corpus-scaled default      recall=${
      recall(Similarity.ivfTopK(spark, dir, nQ, k))}%.3f")
    println(f"ivf   forced two-level table     recall=${
      recall(Similarity.ivfTopK(spark, dir, nQ, k, forceTable = true))}%.3f")
    for (rf <- Seq(4, 8, 12, 16, 64, 200, 300))
      println(f"pq    rerankFactor=$rf%-3d         recall=${
        recall(Similarity.pqTopK(spark, dir, nQ, k, rerankFactor = rf))}%.3f")
    println(f"pq    corpus-scaled default      recall=${
      recall(Similarity.pqTopK(spark, dir, nQ, k))}%.3f")
    for (rp <- Seq(64, 160, 256, 512))
      println(f"ivfpq rerankPool=$rp%-4d          recall=${
        recall(Similarity.ivfPqTopK(spark, dir, nQ, k, rerankPool = rp))}%.3f")
    for (p <- Seq(8, 10, 12))
      println(f"ivfpq probes=$p%-2d pool=256        recall=${
        recall(Similarity.ivfPqTopK(spark, dir, nQ, k, probes = p, rerankPool = 256))}%.3f")
    println(f"ivfpq fixed default              recall=${
      recall(Similarity.ivfPqTopK(spark, dir, nQ, k))}%.3f")
    for ((d, c) <- Seq((8, 50), (16, 50), (16, 100), (24, 100), (32, 100),
        (24, 400), (32, 400), (32, 1000), (32, 2000)))
      println(f"pca   dims=$d%-2d cands=$c%-4d       recall=${
        recall(Similarity.pcaTopK(spark, dir, nQ, k, pcaDims = d, nCandidates = c))}%.3f")
    println(f"pca   corpus-scaled default      recall=${
      recall(Similarity.pcaTopK(spark, dir, nQ, k))}%.3f")
    for (mp <- Seq(false, true))
      println(f"lsh   multiProbe=$mp%-5s          recall=${
        recall(Similarity.lshTopK(spark, dir, nQ, k, multiProbe = mp))}%.3f")
    println(f"lsh   fixed radius=1 (at-scale)  recall=${
      recall(Similarity.lshTopK(spark, dir, nQ, k, probeRadius = 1))}%.3f")
    spark.stop()
  }
}
