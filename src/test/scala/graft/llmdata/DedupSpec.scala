package graft.llmdata

import graft.{Memo, SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Correctness gates for the hash-based dedup operators whose xxhash64
  * signatures DuckDB cannot reproduce (their CORRECTNESS entries are
  * rows-only): MinHash-LSH is validated by recall against the exact
  * Jaccard join, SimHash by its own distance invariants.
  */
class DedupSpec extends SparkSpec {

  private def pairKey(df: DataFrame) =
    df.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact dedup partitions the corpus: survivors' copy counts sum to the row count") {
    val docs = Tables.documents(spark, sf)
    val dd = Dedup.exactDedup(spark, sf)
    assert(dd.agg(sum(col("n_copies"))).collect()(0).getLong(0) === docs.count())
    assert(dd.select("doc_id").distinct().count() === dd.count())
  }

  test("lead-chain shingle postings equal the array-form shingle sets exactly") {
    val fromArrays = Dedup.docShingles(spark, sf)
      .select(col("doc_id"), explode(col("sh")).as("g")).distinct()
    val postings = Dedup.shinglePostings(spark, sf)
    assert(postings.exceptAll(fromArrays).count() === 0)
    assert(fromArrays.exceptAll(postings).count() === 0)
  }

  test("df-capped jaccard (the registered form) is conservative vs the uncapped baseline") {
    val uncapped = Dedup.jaccardPairs(spark, sf, 0.2)
      .withColumnRenamed("jaccard", "j_uncapped")
    val capped = Dedup.jaccardPairs(spark, sf, 0.2,
      maxDocFreq = Some(LlmQueries.JaccardDocFreqCap))
    // per-doc sizes are computed pre-cap, so dropping hot shingles can
    // only shrink |∩|: every capped pair must exist uncapped, with a
    // jaccard estimate that is never inflated
    val joined = capped.join(uncapped, Seq("id_a", "id_b"), "left")
    assert(capped.count() > 0)
    assert(joined.filter(col("j_uncapped").isNull).count() === 0,
      "capping must not invent pairs")
    assert(joined.filter(col("jaccard") > col("j_uncapped")).count() === 0,
      "capping must not inflate a pair's jaccard")
  }

  test("minhash-LSH near-dup recovers the exact Jaccard pairs at threshold 0.5") {
    val exact = Dedup.jaccardPairs(spark, sf, 0.5)
    val approx = Dedup.minhashNearDup(spark, sf, 0.5)
    val exactPairs = pairKey(exact)
    val approxPairs = pairKey(approx)
    assert(exactPairs.nonEmpty, "corpus has no planted near-dups to measure against")
    // 16 bands × 2 rows: miss probability ≈1% at J=0.5, ~0 at the
    // planted J≈0.9 — demand ≥90% recall, no false positives
    val recall = (exactPairs & approxPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.9, s"recall $recall over ${exactPairs.size} exact pairs")
    assert((approxPairs -- exactPairs).isEmpty,
      "candidates are exact-verified, so no pair below threshold may survive")
  }

  test("minhash jaccard values equal the exact join's values on shared pairs") {
    val exact = Dedup.jaccardPairs(spark, sf, 0.5)
      .withColumnRenamed("jaccard", "j_exact")
    val approx = Dedup.minhashNearDup(spark, sf, 0.5)
    val joined = approx.join(exact, Seq("id_a", "id_b"))
    assert(joined.filter(col("jaccard") =!= col("j_exact")).count() === 0)
  }

  test("simhash pairs respect the Hamming bound, ordering, and determinism") {
    val pairs = Dedup.simhashNearDup(spark, sf, 6).cache()
    assert(pairs.filter(col("hamming") > 6 || col("hamming") < 0).count() === 0)
    assert(pairs.filter(col("id_a") >= col("id_b")).count() === 0)
    assert(pairKey(pairs) === pairKey(Dedup.simhashNearDup(spark, sf, 6)))
    pairs.unpersist()
  }

  test("banded hamming join is EXHAUSTIVE up to nBands - 1 bits (ADVICE r8)") {
    import spark.implicits._
    // adversarial planted pair: 5 flipped bits spread so that every
    // one of the four 16-bit bands differs (bits 0, 16, 32, 48, 49) —
    // the pair the old fixed 4x16 layout silently dropped. The 8x8
    // auto-banding must recover it: bands 1, 3, 5, 7 still agree.
    val a = 0x0123456789ABCDEFL
    val b = a ^ ((1L << 0) | (1L << 16) | (1L << 32) | (1L << 48) | (1L << 49))
    assert(java.lang.Long.bitCount(a ^ b) === 5)
    val sigs = Seq((1L, a), (2L, b)).toDF("id", "sig64")
    val got8 = Dedup.hammingPairs(sigs, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got8 === Set((1L, 2L)),
      "8-band layout must guarantee every pair at distance <= 7")
    // the probabilistic 16-bit banding drops exactly this spread pair
    val got4 = Dedup.hammingPairs(sigs, maxDist = 6, nBands = Some(4))
      .collect()
    assert(got4.isEmpty,
      "4x16 banding cannot see a pair differing in all four bands " +
        "(the documented recall trade)")
    // exhaustiveness sweep: EVERY 2-id pair at distance d <= 7 must
    // surface under the auto 8-band layout, wherever the bits land
    // exhaustive in ONE job: 2k ids per planted pair, distances 1..7
    val rnd = new scala.util.Random(7)
    val planted = (0 until 24).map { i =>
      val base = rnd.nextLong()
      val d = 1 + i % 7
      val flips = rnd.shuffle((0 until 64).toList).take(d)
      (base, flips.foldLeft(base)((acc, j) => acc ^ (1L << j)))
    }
    val rows = planted.zipWithIndex.flatMap { case ((x, y), i) =>
      Seq((2L * i, x), (2L * i + 1, y))
    }
    val found = Dedup.hammingPairs(rows.toDF("id", "sig64"), maxDist = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.indices.foreach { i =>
      assert(found.contains((2L * i, 2L * i + 1)),
        s"case $i: planted pair at distance " +
          s"${java.lang.Long.bitCount(planted(i)._1 ^ planted(i)._2)} must be found")
    }
    // a radius the 8-band pigeonhole cannot guarantee must REFUSE on
    // the auto path (silent recall loss is the r8 defect), and run
    // only under an explicit probabilistic opt-in
    val tiny = Seq((1L, 0L), (2L, 255L)).toDF("id", "sig64")
    val refused = intercept[IllegalArgumentException] {
      Dedup.hammingPairs(tiny, maxDist = 8)
    }
    assert(refused.getMessage.contains("pigeonhole"))
    assert(Dedup.hammingPairs(tiny, maxDist = 8, nBands = Some(8))
      .count() === 1L, "explicit nBands opts into the wide radius")
  }

  test("LSH-bucketed embedding near-dup recovers ≥90% of exact cosine pairs") {
    val exact = pairKey(Dedup.embeddingNearDupExact(spark, sf, 0.4))
    val approx = pairKey(Dedup.embeddingNearDup(spark, sf, 0.4))
    assert(exact.nonEmpty)
    val recall = (exact & approx).size.toDouble / exact.size
    // 8 bands × 2 bits: P(candidate) at cos 0.4 ≈ 0.98
    assert(recall >= 0.9, s"recall $recall over ${exact.size} exact pairs")
    assert((approx -- exact).isEmpty,
      "candidates are exact-cosine-verified, so no sub-threshold pair may survive")
  }

  // deterministic hot-bucket corpus: positive scalings of one base
  // vector share every hyperplane sign, so ALL land in the same
  // (band, bucket) in all 8 bands — the adversarial skew the width
  // bound exists for
  private def hotVectors(m: Int): Seq[(Long, Array[Float])] = {
    val base = Array.tabulate(64)(i => (math.sin(i + 1.0) * 2).toFloat)
    (0L until m.toLong).map(i => (i, base.map(x => x * (1.0f + i * 1e-3f))))
  }

  test("planted hot bucket: tiled kernel equals the unbounded kernel pair-for-pair") {
    import spark.implicits._
    val loose = (100L until 140L).map(i =>
      (i, Array.tabulate(64)(d => (math.sin(i * 64.0 + d) * 2).toFloat)))
    val vecs = (hotVectors(60) ++ loose).toDF("vec_id", "embedding")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // width 60 > 8 forces ceil(60/8) = 8 chunks → 36 tiles per band;
    // pin the banding so both runs verify the SAME candidate set (the
    // default corpus-scaled bits would differ between the two widths)
    val bounded = rows(Dedup.embedPairsOf(spark, vecs, 0.9,
      maxBucketWidth = 8, bitsPerBand = Some(2)))
    val unbounded = rows(Dedup.embedPairsOf(spark, vecs, 0.9,
      maxBucketWidth = Int.MaxValue, bitsPerBand = Some(2)))
    assert(bounded === unbounded, "tiling must not change the pair set or a single cosine")
    // every within-bucket pair lands in exactly one tile: all 60·59/2
    // planted pairs (cosine 1.0 across positive scalings) must survive
    assert(bounded.count { case (a, b, _) => a < 60 && b < 60 } === 60 * 59 / 2)
  }

  test("degenerate hot bucket fails loudly, pointing at upstream exact dedup") {
    import spark.implicits._
    val vecs = hotVectors(60).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Dedup.embedPairsOf(spark, vecs, 0.9, maxBucketWidth = 8, maxChunks = 4).count()
    }
    assert(ex.getMessage.contains("exact dedup"))
  }

  test("near-identical documents collide in simhash (distance ≤ planted-dup bound)") {
    // the corpus' exact-Jaccard near-dups (J≥0.5) must also be close in
    // simhash space — token multisets differ by a small fraction
    val near = Dedup.jaccardPairs(spark, sf, 0.8).select("id_a", "id_b")
    assert(near.count() > 0)
    val sigs = Dedup.simhashes(Tables.documents(spark, sf))
    val withDist = near
      .join(sigs.select(col("doc_id").as("id_a"), col("simhash").as("sh_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("simhash").as("sh_b")), "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
    assert(withDist.filter(col("hamming") > 16).count() === 0,
      "a J≥0.8 pair should never be >16 bits apart in simhash space")
  }

  test("connected components equal a local union-find over the same edges") {
    val edges = Dedup.jaccardPairs(spark, sf, 0.2,
      maxDocFreq = Some(LlmQueries.JaccardDocFreqCap)).select("id_a", "id_b")
    val pairs = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // reference: driver-side union-find (path compression), min id as root
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("star-contraction CC equals min-label CC on the near-dup graph") {
    val edges = Dedup.jaccardPairs(spark, sf, 0.2,
      maxDocFreq = Some(LlmQueries.JaccardDocFreqCap)).select("id_a", "id_b")
    def labelSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labelSet(Dedup.connectedComponentsStar(edges))
      === labelSet(Dedup.connectedComponents(edges)))
  }

  test("star-contraction converges on a 1000-link chain (the O(diameter) killer)") {
    // min-label propagation would need 999 rounds here; star contraction
    // halves depth per round and finishes in ~log n
    val chain = spark.range(999)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val labels = Dedup.connectedComponentsStar(chain).cache()
    try {
      assert(labels.count() === 1000)
      assert(labels.filter(col("cluster_id") =!= 0L).count() === 0,
        "every chain node must label to the component minimum 0")
    } finally { labels.unpersist(); () }
  }

  test("embedding clusters equal a union-find over the embedding near-dup pairs") {
    val pairs = Dedup.embeddingNearDup(spark, sf, 0.4)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    val got = Dedup.embeddingClusters(spark, sf, 0.4)
      .select(col("vec_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("cluster resolution on an edgeless graph returns empty, not an error") {
    // jaccard is ≤ 1, so threshold 1.5 yields zero pairs: the CC loop
    // must converge immediately on an empty node set
    assert(Dedup.nearDupClusters(spark, sf, 1.5).count() === 0)
  }

  test("cluster resolution keeps exactly one canonical doc per cluster") {
    val cl = Dedup.nearDupClusters(spark, sf, 0.2,
      maxDocFreq = Some(LlmQueries.JaccardDocFreqCap)).cache()
    try {
      assert(cl.count() > 0)
      // one keeper per cluster, and it is the min doc_id
      val perCluster = cl.groupBy("cluster_id").agg(
        sum(when(col("keep"), 1).otherwise(0)).as("n_keep"),
        min("doc_id").as("min_id"),
        count(lit(1)).as("n"),
        first("cluster_size").as("sz"))
      assert(perCluster.filter(col("n_keep") =!= 1).count() === 0)
      assert(perCluster.filter(col("min_id") =!= col("cluster_id")).count() === 0)
      assert(perCluster.filter(col("n") =!= col("sz")).count() === 0)
      assert(perCluster.filter(col("n") < 2).count() === 0,
        "singletons must not be listed")
      // transitivity did real work on this corpus: more clustered docs
      // than a pair list could cover disjointly implies merged pairs
      val nDocs = cl.count()
      val nClusters = perCluster.count()
      assert(nDocs > 2 * nClusters,
        s"expected merged clusters, got $nDocs docs in $nClusters clusters")
    } finally { cl.unpersist(); () }
  }

  /** Driver-side reference of [[Dedup.pageRankEdges]]'s micro-exact
    * power iteration — identical literals/association, so the
    * distributed result must match it bit-for-bit. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = deg.size
    val init = math.floor(1000000.0 / n + 0.5).toLong
    val tele = math.floor(0.15 * 1000000.0 / n + 0.5).toLong
    var pr: Map[Long, Long] = deg.map { case (k, _) => k -> init }
    for (_ <- 1 to iters) {
      val contrib = pr.map { case (k, v) =>
        k -> math.floor(0.85 * v / deg(k) + 0.5).toLong }
      pr = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> (tele + es.iterator.map(e => contrib(e._1)).sum) }
    }
    pr
  }

  test("pagerank equals the micro-exact driver reference on a star+chain graph") {
    // star 0-(1..5) plus chain 10-11-12: a hub, leaves, and a path
    val edgeSeq = Seq[(Long, Long)](
      (0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L), (10L, 11L), (11L, 12L))
    val edges = spark.createDataFrame(edgeSeq).toDF("id_a", "id_b")
    val got = Dedup.pageRankEdges(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refPageRank(edgeSeq, 3))
    // the hub dominates its leaves; the chain middle dominates its ends
    assert(got(0L) > got(1L) && got(11L) > got(10L) && got(12L) === got(10L))
  }

  test("pagerank on the near-dup graph: node set, positivity, mass conservation") {
    val edges = Dedup.jaccardPairs(spark, sf, 0.2,
      maxDocFreq = Some(LlmQueries.JaccardDocFreqCap)).select("id_a", "id_b")
    val nodes = edges.select(col("id_a").as("id"))
      .union(edges.select(col("id_b").as("id"))).distinct().count()
    val pr = Dedup.pageRank(spark, sf, 0.2,
      maxDocFreq = Some(LlmQueries.JaccardDocFreqCap)).cache()
    try {
      assert(pr.count() === nodes)
      assert(pr.filter(col("pr_micro") <= 0).count() === 0)
      // per round each node contributes ≤0.5 micro rounding error on its
      // out-contribution and ≤0.5 on the teleport term: after 3 rounds
      // total mass stays within 3·n micros of 1.0
      val mass = pr.agg(sum(col("pr_micro"))).head.getLong(0)
      assert(math.abs(mass - 1000000L) <= 3 * nodes,
        s"mass $mass drifted more than rounding allows for $nodes nodes")
      // exact distributed-vs-reference parity on the real corpus graph
      val pairSeq = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val got = pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === refPageRank(pairSeq, 3))
    } finally { pr.unpersist(); () }
  }

  test("pagerank on an edgeless graph returns empty, not an error") {
    assert(Dedup.pageRank(spark, sf, 1.5).count() === 0)
  }

  test("row-local LSH band keys equal the aggregate-form keys on the whole corpus") {
    val rowLocal = Dedup.lshBandsRowLocal(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")))
    val aggregate = Dedup.corpusBandIndex(spark, sf)
      .withColumnRenamed("corpus_id", "doc_id")
    assert(rowLocal.count() > 0)
    assert(rowLocal.exceptAll(aggregate).count() === 0)
    assert(aggregate.exceptAll(rowLocal).count() === 0)
  }

  test("near-dup gate: copies and near-dups collide with their source, unique docs pass") {
    import spark.implicits._
    val srcText = Tables.documents(spark, sf)
      .filter(col("doc_id") === 0L).collect()(0).getAs[String]("text")
    val incoming = Seq(
      (100000L, srcText),                              // exact copy
      (100001L, "zz1 zz2 " + srcText),                 // near-dup (prefix noise)
      (100002L, (0 until 60).map(i => s"uniq$i").mkString(" "))) // unique
      .toDF("doc_id", "text")
    val hits = Dedup.streamingNearDupGate(incoming,
        Dedup.corpusBandIndex(spark, sf))
      .select(col("doc_id"), col("corpus_id")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    assert(hits.contains(100000L) && hits(100000L).exists(_._2 == 0L),
      "exact copy must collide with its source")
    assert(hits.contains(100001L) && hits(100001L).exists(_._2 == 0L),
      "near-dup must collide with its source")
    assert(!hits.contains(100002L), "unique doc must pass the gate")
  }

  test("triangle census: clique, path, and star graphs hit the known values") {
    import spark.implicits._
    def census(edges: Seq[(Long, Long)]) =
      Dedup.triangleStatsEdges(edges.toDF("id_a", "id_b")).collect()(0)
    // K4: 4 nodes, 6 edges, 12 wedges, 4 triangles, coefficient 1
    val k4 = census(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert((k4.getLong(0), k4.getLong(1), k4.getLong(2), k4.getLong(3)) ===
      ((4L, 6L, 12L, 4L)))
    assert(k4.getDouble(4) === 1.0)
    // path 1-2-3-4: 2 wedges, no triangle
    val path = census(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert((path.getLong(2), path.getLong(3), path.getDouble(4)) === ((2L, 0L, 0.0)))
    // star (hub 1): 3 wedges at the hub, no triangle — and the
    // degree-ordering sends every edge INTO the hub (out-degree 1 per leaf)
    val star = census(Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    assert((star.getLong(2), star.getLong(3), star.getDouble(4)) === ((3L, 0L, 0.0)))
  }

  test("triangle census is id-range-safe: >2^32 and negative ids orient correctly") {
    import spark.implicits._
    def census(edges: Seq[(Long, Long)]) =
      Dedup.triangleStatsEdges(edges.toDF("id_a", "id_b")).collect()(0)
    // K3 on ids that break a deg*2^32+id packed key
    val big = 1L << 33
    val k3 = census(Seq((big, big + 1), (big, -5L), (big + 1, -5L)))
    assert((k3.getLong(1), k3.getLong(3)) === ((3L, 1L)))
    // path over mixed-sign ids: no phantom triangle
    val p = census(Seq((-10L, big), (big, -2L)))
    assert((p.getLong(2), p.getLong(3)) === ((1L, 0L)))
  }

  test("row-local LSH band keys: short docs emit no keys instead of crashing") {
    import spark.implicits._
    val r = Dedup.lshBandsRowLocal(Seq(
      (1L, "only two"), (2L, "one"), (3L, ""),
      (4L, "three token doc")).toDF("doc_id", "text"))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(r === Set(4L))
  }

  test("triangle census equals a brute-force reference on 20 random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    (1 to 20).foreach { trial =>
      val n = 4 + rng.nextInt(9) // 4..12 nodes
      val edges = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rng.nextDouble() < 0.4
      } yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        val adj = edges.toSet
        def conn(x: Long, y: Long) = adj((x min y, x max y))
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val refTri = (for {
          i <- nodes; j <- nodes if i < j; k <- nodes if j < k
          if conn(i, j) && conn(j, k) && conn(i, k)
        } yield 1).size
        val deg = nodes.map(v => edges.count(e => e._1 == v || e._2 == v))
        val refWedges = deg.map(d => d.toLong * (d - 1) / 2).sum
        val got = Dedup.triangleStatsEdges(edges.toDF("id_a", "id_b")).collect()(0)
        assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ===
          ((nodes.size.toLong, edges.size.toLong, refWedges, refTri.toLong)),
          s"trial $trial: edges=$edges")
      }
    }
  }

  test("triangle census on the corpus graph is non-vacuous and bounded") {
    val r = Dedup.triangleStats(spark, sf).collect()(0)
    assert(r.getLong(3) >= 1L, "corpus near-dup graph should close >= 1 triangle")
    assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
  }

  test("containment catches whole-inclusion pairs symmetric Jaccard dilutes away") {
    import spark.implicits._
    // a short doc quoted VERBATIM inside a much longer one: every
    // shingle of doc 1 appears in doc 2, so containment(1 in 2) = 1.0,
    // but Jaccard = 3/(3 + 62 - 3) ≈ 0.05 — below any useful threshold.
    // This asymmetry is the operator's reason to exist.
    val filler = (1 to 60).map(i => s"f$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft-cont").toString
    Seq((1L, "q1 q2 q3 q4 q5"), (2L, s"q1 q2 q3 q4 q5 $filler"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val cont = Dedup.containmentPairs(spark, tmp, 0.9).collect()
    assert(cont.length === 1)
    val r = cont(0)
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
    assert(r.getDouble(2) === 1.0, "short side must be fully contained")
    assert(r.getDouble(3) < 0.1, "long side's coefficient stays small")
    assert(Dedup.jaccardPairs(spark, tmp, 0.2).count() === 0,
      "symmetric Jaccard must miss the inclusion pair (the asymmetry under test)")
  }

  test("planted low-df shingle groups are recovered by the CAPPED Jaccard path at two corpus sizes") {
    // VERDICT r6 #1: the registered df<=6 cap excludes every shingle of
    // the 31-word global vocabulary above sf0.01, so without planted
    // rare runs the pair-explode and cluster-fixpoint paths only ever
    // executed WITH OUTPUT at toy scale. SynthCorpus now plants
    // group-unique token runs (df <= group size <= 6 at ANY corpus
    // size, by construction); this asserts the capped registered path
    // recovers every planted intra-group pair and resolves each group
    // into one cluster — at two sizes, so the recovery provably does
    // not decay as the corpus grows (the old generator's did).
    import graft.tools.SynthCorpus
    for (n <- Seq(1000L, 4000L)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-planted-$n").toString
      SynthCorpus.documents(spark, n).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val groups = SynthCorpus.plantedJaccardGroups(n)
      assert(groups.length >= (if (n >= 4000) 4 else 1) &&
        groups.forall(g => g.length >= 2 && g.length <= 6))
      val expectedPairs = groups.flatMap(g =>
        for (i <- g.indices; j <- (i + 1) until g.length)
          yield (g(i), g(j))).toSet
      val got = pairKey(Dedup.jaccardPairs(spark, dir, 0.2,
        maxDocFreq = Some(graft.llmdata.LlmQueries.JaccardDocFreqCap)))
      val missed = expectedPairs -- got
      assert(missed.isEmpty,
        s"n=$n: capped Jaccard missed planted pairs $missed")
      // cluster resolution: each planted group ends up in ONE cluster
      val labels = Dedup.nearDupClusters(spark, dir, 0.2,
        maxDocFreq = Some(graft.llmdata.LlmQueries.JaccardDocFreqCap))
        .select("doc_id", "cluster_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      groups.foreach { g =>
        val cids = g.map(labels.get).distinct
        assert(cids.length === 1 && cids.head.isDefined,
          s"n=$n: planted group $g split across clusters $cids")
      }
      Memo.release()
    }
  }

  test("semdedup pair graph equals brute-force within-cluster cosine pairs (both models)") {
    val eps = 0.4
    Seq(false, true).foreach { twoLevel =>
      def assignDf = if (twoLevel) Similarity.semAssignTwoLevelFor(spark, sf)
        else Similarity.semClusterAssign(spark, sf)
      val assign = assignDf
        .select(col("vec_id"), col("cluster"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
      val brute = (for {
        a <- assign; b <- assign
        if a._1 < b._1 && a._2 == b._2
        if Similarity.cosine6(a._3, b._3) >= eps
      } yield (a._1, b._1)).toSet
      val keys = assignDf
        .select(lit(0).as("band"), col("cluster").as("bucket"),
          col("vec_id"), col("embedding"))
      val kernel = pairKey(Dedup.boundedPairsKeyed(spark, keys, eps,
        Dedup.EmbedMaxBucketWidth, Dedup.EmbedMaxChunks, "spec"))
      assert(brute.nonEmpty,
        s"twoLevel=$twoLevel: vacuous corpus, no within-cluster pair at eps")
      assert(kernel === brute, s"twoLevel=$twoLevel")
      // the same pair set must survive forced tiling of the cluster keying
      val tiled = pairKey(Dedup.boundedPairsKeyed(spark, keys, eps,
        maxBucketWidth = 8, maxChunks = 256, "spec-tiled"))
      assert(tiled === brute, s"twoLevel=$twoLevel")
    }
  }

  test("semdedup keeps exactly one member per group: the farthest from its centroid (both models)") {
    Seq(false, true).foreach { twoLevel =>
      val out = Dedup.semDedup(spark, sf, 0.4, twoLevel).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(3),
          r.getLong(4), r.getBoolean(5), r.getDouble(2)))
      // columns: vec_id, cluster, centroid_sim, grp, grp_size, keep
      assert(out.length.toLong === Tables.embeddings(spark, sf).count())
      val byGrp = out.groupBy(_._3)
      byGrp.foreach { case (grp, ms) =>
        assert(ms.map(_._2).distinct.length === 1,
          s"twoLevel=$twoLevel: group $grp spans clusters — pairs must be cluster-scoped")
        assert(ms.count(_._5) === 1,
          s"twoLevel=$twoLevel: group $grp keeps ${ms.count(_._5)} members")
        assert(ms.forall(_._4.toInt === ms.length),
          s"twoLevel=$twoLevel: group $grp size mismatch")
        val keeper = ms.minBy(m => (m._6, m._1))
        assert(keeper._5,
          s"twoLevel=$twoLevel: group $grp keeper must be argmin (centroid_sim, vec_id)")
        assert(grp === ms.map(_._1).min,
          s"twoLevel=$twoLevel: group id must be the min member id")
      }
      // non-vacuous: at least one multi-member group exists at this eps
      assert(byGrp.exists(_._2.length > 1), s"twoLevel=$twoLevel")
    }
  }

  test("two-level trainer with ONE coarse cell equals the flat trainer exactly (r8 #1)") {
    import spark.implicits._
    // dense-id corpus with planted cluster structure: 5 Gaussian-ish
    // centers, deterministic perturbations
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(5)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val corpus = (0L until 200L).map { i =>
      val c = centers((i % 5).toInt)
      (i, c.zipWithIndex.map { case (v, j) =>
        v + 0.1f * ((i * 31 + j) % 7 - 3) }.toSeq)
    }.toDF("vec_id", "embedding")
    // flat: k = ceil(200 / 8) = 25; the two-level program with ONE
    // coarse cell and the same width must reproduce it exactly —
    // seeds, Lloyd updates, and tie-breaks are the same math run
    // through the table mechanism instead of plan literals
    val flat = Similarity.ivfCentroids(spark, corpus, 25)
    val coarse1 = Array(0 -> Seq.fill(64)(1.0f))
    val cents = Similarity.twoLevelCentroids(spark, corpus, coarse1, 8L)
    val table = cents.collect()
      .map(r => (r.getInt(1), r.getSeq[Float](2))).sortBy(_._1)
    assert(table.length === flat.length)
    flat.foreach { case (cid, c) =>
      assert(table(cid)._1 === cid)
      assert(table(cid)._2 === c, s"centroid $cid diverged between mechanisms")
    }
    // and the assignment mechanisms agree row-for-row: same cluster id
    // (sub * 1 + 0 = flat cid) and same exact micro-quantized cosine
    val aFlat = Similarity.assignWithLiterals(corpus, flat)
      .collect().map(r => (r.getLong(0), (r.getInt(2), r.getLong(3)))).toMap
    val aTable = Similarity.assignWithTable(spark, corpus, coarse1, cents)
      .collect().map(r => (r.getLong(0), (r.getInt(2), r.getLong(3)))).toMap
    assert(aFlat === aTable)
  }

  test("embed band bits: the bucket-width envelope holds uncapped past the old 8-bit ceiling (r12)") {
    // verified scales unchanged — the retired cap never bound below
    // ~524k vectors, so every recorded output stays byte-identical
    assert(Dedup.embedBandBits(2000L) === 2)
    assert(Dedup.embedBandBits(20000L) === 4)
    assert(Dedup.embedBandBits(200000L) === 7)
    // past the old cap the EXPECTED width (per-row candidate load)
    // stays inside the tile bound instead of growing linearly with N
    for (n <- Seq(1000000L, 100000000L, 1000000000L, 1000000000000L)) {
      val bits = Dedup.embedBandBits(n)
      val width = n.toDouble / (1L << bits)
      assert(width <= Dedup.EmbedMaxBucketWidth,
        s"n=$n bits=$bits width=$width blows the tile bound")
      assert(bits <= 30, s"n=$n bits=$bits exceeds the exact-Int bucket bound")
    }
    // monotone: a bigger corpus never keys coarser
    val seq = Seq(1000L, 100000L, 10000000L, 1000000000L)
      .map(Dedup.embedBandBits(_))
    assert(seq === seq.sorted)
    // the plane pool actually covers the uncapped banding
    assert(8 * 30 <= Similarity.MaxPlanes)
  }

  test("uncapped banding holds recall ≈1 for the near-identical class at extreme bit widths (r12)") {
    // the measured half of the r12 uncap's documented trade: per-band
    // collision probability is p^bits, so wider keys cost recall at
    // FIXED similarity — but the gate's target class (near-identical
    // re-posts, p → 1) must survive every realistic width. 25
    // bits/band is the ~1e11-vector keying, far past the retired
    // 8-bit cap; the exact reference is driver all-pairs cosine over
    // the synthetic corpus (its twins plant cos ≈ 0.995 — the driver
    // testdata embeddings are twin-free at this sf, verified: the
    // vacuity guard below is load-bearing).
    val corpus = graft.tools.SynthCorpus.embeddings(spark, 2000L)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val vecs = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val nearIdentical = (for {
      a <- vecs; b <- vecs
      if a._1 < b._1 && Similarity.cosine6(a._2, b._2) >= 0.99
    } yield (a._1, b._1)).toSet
    assert(nearIdentical.size >= 30,
      s"vacuous: only ${nearIdentical.size} twin pairs planted")
    val wide = pairKey(Dedup.embedPairsOf(spark, corpus,
      threshold = 0.99, bitsPerBand = Some(25)))
    // verification is exact, so wide ⊆ nearIdentical and the ratio IS
    // band recall; at cos 0.995 the all-8-bands miss probability is
    // (1 − 0.968^25)^8 ≈ 1%, and the keying is deterministic (fixed
    // SplitMix planes) — the measured value is reproducible, not a
    // flake surface
    val recall = (wide & nearIdentical).size.toDouble / nearIdentical.size
    assert(recall >= 0.9,
      s"near-identical recall $recall collapsed at 25 bits/band " +
        s"(${wide.size}/${nearIdentical.size})")
    Memo.release()
  }

  test("embed-gate drift at the rebuild threshold: recall holds at the frozen width; the re-key restores the width envelope (r13)") {
    // nBase = 28k + a 0.2-fraction shifted shard = 35k total, which
    // crosses the 32k bit boundary — so the re-key genuinely MOVES
    // the width and the comparison is non-vacuous
    val (ra, rr, la, lr, ba, br) =
      RecallProbe.gateDriftCase(spark, 28000L, 0.2, 40)
    assert(ba === Dedup.embedBandBits(28000L), s"frozen width $ba")
    assert(br === Dedup.embedBandBits(35000L) && br > ba,
      s"the re-key must move the width past the boundary: $ba -> $br")
    // recall floor at exactly AnnIndex.RebuildDeltaFraction: angle-only
    // collision physics — the frozen width must NOT cost the gate its
    // near-identical target class
    assert(ra >= 0.9,
      s"frozen-width gate recall $ra collapsed at the 0.2 threshold")
    assert(rr >= 0.9, s"re-keyed gate recall $rr collapsed")
    // the drift axis the rebuild actually retires: per-probe candidate
    // load — coarser frozen keys collide MORE as the corpus grows
    assert(la > lr,
      s"frozen width must carry the higher candidate load, got " +
        s"frozen=$la re-keyed=$lr")
    Memo.release()
  }

  test("gate-index compaction folds key segments row-identically, preserves the carried width, and races loudly (r12)") {
    import graft.sync.GenDir
    import java.nio.file.Files
    def keySet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select(col("corpus_id"), col("band"),
          col("bucket").cast("long"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // EMBED kind (meta carries bits)
    val ed = Files.createTempDirectory("graft-gatecompact-embed").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    Dedup.writeEmbedBandIndexBase(spark, sf, ed, col("corpus_id") % 10 =!= 7)
    (0 until 2).foreach { i =>
      Dedup.appendEmbedBandIndex(spark, ed,
        emb.filter(col("vec_id") % 20 === (10 * i + 7)), Some(s"s$i"))
    }
    val before = Dedup.loadEmbedBandIndex(spark, ed)
    val beforeKeys = keySet(before.keys)
    val n = Dedup.compactGateIndex(spark, ed)
    val gen = GenDir.newest(spark, ed).map(_._2).get
    assert(GenDir.deltas(spark, gen).isEmpty, "every segment folded")
    val after = Dedup.loadEmbedBandIndex(spark, ed)
    assert(after.bitsPerBand === before.bitsPerBand,
      "the carried keying width must survive the fold verbatim")
    assert(keySet(after.keys) === beforeKeys)
    assert(n === beforeKeys.size.toLong)
    // SHINGLE kind (no bits in the meta)
    val sd = Files.createTempDirectory("graft-gatecompact-shingle").toString
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    Dedup.writeBandIndexBase(spark, sf, sd, col("corpus_id") % 10 =!= 7)
    Dedup.appendBandIndex(spark, sd,
      docs.filter(col("doc_id") % 10 === 7), Some("s0"))
    def shingleKeys(df: org.apache.spark.sql.DataFrame) =
      df.select(col("corpus_id"), col("band"), col("sig"))
        .collect().map(_.toSeq).toSet
    val sBefore = shingleKeys(Dedup.loadBandIndex(spark, sd))
    Dedup.compactGateIndex(spark, sd)
    assert(GenDir.deltas(spark,
      GenDir.newest(spark, sd).map(_._2).get).isEmpty)
    assert(shingleKeys(Dedup.loadBandIndex(spark, sd)) === sBefore)
    // the listing-window race fails loudly, never a narrower gate
    val rd = Files.createTempDirectory("graft-gatecompact-race").toString
    Dedup.writeEmbedBandIndexBase(spark, sf, rd, col("corpus_id") % 10 =!= 7)
    Dedup.appendEmbedBandIndex(spark, rd,
      emb.filter(col("vec_id") % 20 === 7), Some("s0"))
    val e = intercept[IllegalStateException] {
      Dedup.compactGateIndexWithSeam(spark, rd, () =>
        { Dedup.appendEmbedBandIndex(spark, rd,
            emb.filter(col("vec_id") % 20 === 17), Some("racer")); () })
    }
    assert(e.getMessage.contains("MISSING"), e.getMessage)
  }

  test("serving gate loads survive a vacuum reclaiming the resolved generation, and stay consumable after later vacuums (r12)") {
    import graft.sync.GenDir
    import java.nio.file.Files
    val d = Files.createTempDirectory("graft-gateserve").toString
    Dedup.writeEmbedBandIndex(spark, sf, d) // gen-0
    def keySet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("corpus_id"), col("band"),
          col("bucket").cast("long"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expected = keySet(Dedup.loadEmbedBandIndex(spark, d).keys)
    // a gate loaded BEFORE any vacuum must stay consumable after one —
    // a stream-static join re-reads its static side per micro-batch,
    // so eager materialization is load-bearing even without the race
    val early = Dedup.servingEmbedBandIndex(spark, d)
    // the race: resolve gen-0, then a rebuild + vacuum reclaim gen-0's
    // files inside the resolve-to-scan window — the one-shot retry
    // must land on the newest committed generation, never die mid-scan
    val served = Dedup.servingEmbedBandIndexWithSeam(spark, d, () => {
      Dedup.writeEmbedBandIndex(spark, sf, d) // gen-1 supersedes
      GenDir.vacuum(spark, d)                 // gen-0's files are gone
    })
    assert(keySet(served.keys) === expected)
    assert(served.bitsPerBand === early.bitsPerBand)
    assert(keySet(early.keys) === expected,
      "a materialized serving gate must survive later vacuums")
    // the UNWRAPPED lazy load does die on the same race — the serving
    // form's retry is load-bearing, not decorative
    val lazyIdx = Dedup.loadEmbedBandIndex(spark, d)
    Dedup.writeEmbedBandIndex(spark, sf, d)
    GenDir.vacuum(spark, d)
    val e = intercept[Throwable] { lazyIdx.keys.collect() }
    assert(graft.sync.ManifestStore.isFileNotFound(e),
      s"expected a vanished-file failure, got: $e")
    // shingle twin: same contract through the shared seam shape
    val sd = Files.createTempDirectory("graft-gateserve-shingle").toString
    Dedup.writeBandIndex(spark, sf, sd)
    def sKeys(df: org.apache.spark.sql.DataFrame) =
      df.select(col("corpus_id"), col("band"), col("sig"))
        .collect().map(_.toSeq).toSet
    val sExpected = sKeys(Dedup.loadBandIndex(spark, sd))
    val sServed = Dedup.servingBandIndexWithSeam(spark, sd, () => {
      Dedup.writeBandIndex(spark, sf, sd)
      GenDir.vacuum(spark, sd)
    })
    assert(sKeys(sServed) === sExpected)
  }

  test("embedding gate collisions contain every verified near-dup pair (keying agreement)") {
    // the gate and the batch pair kernel must share ONE keying
    // (hyperplanes, band count, corpus-adaptive bit width): every
    // exact-verified near-dup pair came from a shared bucket, so the
    // self-gated corpus must collide on it — a bit-width mismatch
    // between index and stream side would silently empty the gate
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val gate = Dedup.streamingEmbedGate(corpus,
      Dedup.corpusEmbedBandIndex(spark, sf))
      .select(col("vec_id"), col("corpus_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = pairKey(Dedup.embeddingNearDup(spark, sf, 0.4))
    assert(verified.nonEmpty)
    verified.foreach { case (a, b) =>
      assert(gate.contains((a, b)) || gate.contains((b, a)),
        s"verified pair ($a, $b) missing from the gate's candidates")
    }
  }

  test("semantic contamination: exact ≡ driver brute on the sample; LSH form recall ≥0.9, sims exact") {
    // driver-side split + cosine reference over the FULL corpus
    def splitOf(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:split".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2)
      if (h < "cc") "train" else if (h < "e6") "val" else "test"
    }
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val tau = 0.3
    def brute(filter: Long => Boolean): Map[Long, (Long, Double)] = {
      val test = vecs.filter(v => filter(v._1) && splitOf(v._1) == "test")
      val train = vecs.filter(v => filter(v._1) && splitOf(v._1) == "train")
      test.flatMap { case (tid, tv) =>
        val cands = train
          .map { case (aid, av) => (aid, Similarity.cosine6(tv, av)) }
          .filter(c => !c._2.isNaN && c._2 >= tau)
        if (cands.isEmpty) None
        else Some(tid -> cands.minBy(c => (-c._2, c._1)))
      }.toMap
    }
    // exact sampled registered form ≡ the reference restricted to it
    val exact = Dedup.semanticContamination(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(exact === brute(_ % LlmQueries.EmbedPairsSampleMod == 0))
    assert(exact.nonEmpty, "vacuous sample: no cross-split pair at tau")
    // full-corpus LSH form: ≥0.9 of the reference's top-1 rows appear
    // with the identical (train_id, sim); every reported sim is exact
    val full = brute(_ => true)
    val lsh = Dedup.semanticContaminationLsh(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(full.nonEmpty)
    val hits = full.count { case (tid, best) => lsh.get(tid).contains(best) }
    assert(hits.toDouble / full.size >= 0.9,
      s"LSH contamination recall ${hits.toDouble / full.size} over ${full.size}")
    lsh.foreach { case (tid, (aid, sim)) =>
      val ref = vecs.toMap
      assert(sim === Similarity.cosine6(ref(tid), ref(aid)),
        s"sim not exact for ($tid, $aid)")
      assert(splitOf(tid) == "test" && splitOf(aid) == "train")
    }
  }

  test("url-first corpus dedup: fates partition the corpus, the url stage fires, keepers are first-seen (r10 #5)") {
    import org.apache.spark.sql.functions._
    val cap = Some(graft.llmdata.LlmQueries.JaccardDocFreqCap)
    val rep = Dedup.urlDedupCorpus(spark, sf, 0.2, cap).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    // fates are a PARTITION of each source's raw docs
    rep.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped_url") +
        r.getAs[Long]("n_dropped_exact") + r.getAs[Long]("n_dropped_neardup")
        === r.getAs[Long]("n_raw"), s"fates must partition: $r")
    }
    assert(rep.map(_.getAs[Long]("n_raw")).sum === nDocs)
    // the URL stage is non-vacuous: the crawl generator plants
    // surface-variant re-fetches at every scale
    assert(rep.map(_.getAs[Long]("n_dropped_url")).sum > 0,
      "url_dup fate must fire on the crawl-shaped corpus")
    // url-first can only shrink the kept set vs the exact-first report
    val base = Dedup.dedupCorpus(spark, sf, 0.2, cap).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_kept")).toMap
    rep.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= base(r.getAs[String]("source")),
        "adding a drop stage must not keep more docs")
    }
    // first-seen keeper: recompute url keepers directly — every kept
    // doc must be the min doc id of its canonical-URL group
    val cu = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        TextAnalysis.canonicalUrl(TextAnalysis.syntheticCrawlUrl).as("cu"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cu"))
    val dupKeys = cu.withColumn("mn", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("mn")).count()
    assert(dupKeys === rep.map(_.getAs[Long]("n_dropped_url")).sum,
      "n_dropped_url must equal the non-first-seen canonical-URL rows")
  }

  test("two-level semdedup is deterministic across a full cache release and retrain") {
    def run(): Seq[(Long, Int, Long, Long, Boolean)] =
      Dedup.semDedup(spark, sf, 0.4, twoLevel = true).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(3),
          r.getLong(4), r.getBoolean(5))).toSeq.sortBy(_._1)
    val first = run()
    Memo.release()
    val second = run()
    assert(first === second,
      "retraining the two-level model from scratch must reproduce every verdict")
  }

  test("corpus-adaptive gate banding (r13): collision-heavy corpora escalate the keying, appends inherit it, near-identical recall survives the top step") {
    import spark.implicits._
    import java.nio.file.Files
    // a corpus whose every pair shares the same fixed token runs
    // (J ≈ 0.16 across ALL pairs): at the fixed (16, 2) keying the
    // per-probe candidate mass is O(corpus) — the exact linear load
    // the ladder exists to retire — while no pair is near-identical
    val docs = (0L until 2000L).map { k =>
      val toks = (0 until 60).map(i =>
        if (i % 7 < 4) s"c$i" else s"u${k}_$i")
      (k, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-adaptive-gate").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val idxDir =
      Files.createTempDirectory("graft-adaptive-idx").toString + "/gate"
    Dedup.writeBandIndex(spark, dir, idxDir)
    val (gb, gr) = Dedup.gateBandParams(spark, idxDir)
    assert((gb, gr) !== ((Dedup.NumBands, Dedup.RowsPerBand)),
      "a collision-heavy corpus must escalate off the fixed keying")
    def candPerDoc(b: Int, r: Int): Double =
      Dedup.corpusBandIndex(spark, dir, b, r)
        .groupBy(col("band"), col("sig")).agg(count(lit(1)).as("df"))
        .agg(sum(col("df") * (col("df") - lit(1L)))).head
        .getLong(0).toDouble / 2000.0
    assert(candPerDoc(Dedup.NumBands, Dedup.RowsPerBand) >
      10 * Dedup.GateCandPerDocTarget,
      "the fixed keying's candidate mass is the reason to escalate")
    assert(candPerDoc(gb, gr) <= Dedup.GateCandPerDocTarget,
      "the chosen keying must meet the per-probe target")
    // appends INHERIT the escalated keying: the delta's keys equal
    // the row-local form at the PERSISTED params, and the meta
    // survives the append unchanged
    val srcText = docs.filter(col("doc_id") === 0L).head.getString(1)
    val shard = Seq((900001L, "zz1 zz2 " + srcText))
      .toDF("doc_id", "text")
    Dedup.appendBandIndex(spark, idxDir, shard, Some("s0"))
    assert(Dedup.gateBandParams(spark, idxDir) === ((gb, gr)))
    val appended = Dedup.loadBandIndex(spark, idxDir)
      .filter(col("corpus_id") === 900001L)
      // project away the format-3 gpart bucket column (r14): the pin
      // is about the KEYING, which the bucket is derived from
      .select(col("corpus_id"), col("band"), col("sig"))
      .collect().map(_.toSeq).toSet
    val expect = Dedup.lshBandsRowLocal(shard, gb, gr)
      .withColumnRenamed("doc_id", "corpus_id")
      .select(col("corpus_id"), col("band"), col("sig"))
      .collect().map(_.toSeq).toSet
    assert(appended === expect,
      "appended keys must be the row-local keying at the inherited params")
    // and the appended re-post COLLIDES with its source through the
    // escalated index — the gate still gates
    val hit = Dedup.streamingNearDupGate(shard,
        Dedup.loadBandIndex(spark, idxDir), bands = gb, rows = gr)
      .filter(col("doc_id") === 900001L && col("corpus_id") === 0L)
    assert(hit.count() > 0, "near-identical re-post must survive the gate")
    // recall floor at the TOP ladder step over a planted re-post
    // class (prefix-noised copies, J ≈ 0.95): ≥ 0.9 measured — the
    // documented trade (J = 0.9 collides at ≈ 0.94, J → 1 at ≈ 1;
    // loose-threshold dedup belongs to the batch pair families)
    val (tb, tr) = Dedup.GateBandLadder.last
    val srcTexts = docs.filter(col("doc_id") < 20L)
      .orderBy(col("doc_id")).collect().map(_.getString(1))
    val reposts = srcTexts.zipWithIndex.map { case (t, i) =>
      (910000L + i, s"zz$i $t")
    }.toSeq.toDF("doc_id", "text")
    val hits = Dedup.streamingNearDupGate(reposts,
        Dedup.corpusBandIndex(spark, dir, tb, tr), bands = tb, rows = tr)
      .filter(col("corpus_id") === col("doc_id") - lit(910000L))
      .select(col("doc_id")).distinct().count()
    assert(hits >= 18L,
      s"top-step recall on 20 planted near-identical re-posts: got $hits")
  }
}
