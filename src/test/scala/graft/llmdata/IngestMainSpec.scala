package graft.llmdata

import graft.{Memo, SparkSpec, Tables}
import graft.sync.{GenDir, ManifestStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The composed ingestion job's contract (VERDICT r11 #1): a crash at
  * ANY seam — including BETWEEN the two index appends, the window the
  * verdict names — followed by a re-run of the same shard converges
  * EVERY artifact (postings, ANN index, both gate indexes, ledger) to
  * exactly the unbroken run's state, with no double-appended delta
  * anywhere. Plus the r11 #8 auto-compaction trigger and the fate
  * classifier's non-vacuity. */
class IngestMainSpec extends SparkSpec {

  private def shardMod = 10
  private def shardRem = 7

  private def docs = Tables.documents(spark, sf)
  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding"))
  private def baseDocs = docs.filter(col("doc_id") % shardMod =!= shardRem)
  private def shard = docs.filter(col("doc_id") % shardMod === shardRem)
  private def shardEmb = emb.filter(col("vec_id") % shardMod === shardRem)

  private def freshDirs(): Ingest.Dirs =
    Ingest.dirsUnder(PristineDeployment.fresh("ingest-spec") { work =>
      Ingest.bootstrap(spark, sf, Ingest.dirsUnder(work),
        shardMod, shardRem)
    })

  /** Everything observable about the artifact set, for convergence
    * comparison: postings rows + scalars, ANN answers, both gates'
    * key sets, per-artifact delta counts, and the ledger fates. */
  private def stateOf(dirs: Ingest.Dirs): (Set[String], (Long, Long),
      Seq[String], Set[String], Set[String], (Int, Int, Int),
      Map[String, Long], (Set[Long], Set[Long]),
      (Set[String], Set[String])) = {
    val h = LexStore.open(spark, dirs.lexDir)
    val post = LexStore.loadAt(spark, h,
      Seq("vector", "window", "merge", "spark"))
    val postRows = post.post.collect().map(_.toString).toSet
    val ann = AnnIndex.ivfPqTopK(spark, sf, dirs.annDir, 5, 10)
      .collect().map(_.toString).toSeq
    val shingle = Dedup.loadBandIndex(spark, dirs.shingleGateDir)
      .collect().map(_.toString).toSet
    val embIdx = Dedup.loadEmbedBandIndex(spark, dirs.embedGateDir)
    val embKeys = embIdx.keys.collect().map(_.toString).toSet
    def nDeltas(root: String): Int =
      GenDir.deltas(spark, GenDir.newest(spark, root).get._2).length
    val fates = ManifestStore.readStore(spark, dirs.ledgerDir)
      .map(_.groupBy(col("fate")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      .getOrElse(Map.empty[String, Long]) // pre-run dirs: empty ledger
    // the corpus stores joined the convergence surface in r12 — a
    // crash between the sink and an append must converge them too
    def idsOf(dir: String, idCol: String): Set[Long] =
      ManifestStore.readStore(spark, dir)
        .map(_.select(col(idCol)).collect().map(_.getLong(0)).toSet)
        .getOrElse(Set.empty[Long])
    // the keeper tables joined the convergence surface in r13 — a
    // crash between the keeper appends and an index append must
    // converge them too
    def keeperRows(dir: String): Set[String] =
      ManifestStore.readStore(spark, dir)
        .map(_.drop("kpart").collect().map(_.toString).toSet)
        .getOrElse(Set.empty[String])
    (postRows, (h.n, h.sumDl), ann, shingle, embKeys,
      (nDeltas(dirs.lexDir), nDeltas(dirs.shingleGateDir),
        nDeltas(dirs.embedGateDir)), fates,
      (idsOf(dirs.corpusDocsDir, "doc_id"),
        idsOf(dirs.corpusEmbDir, "vec_id")),
      (keeperRows(dirs.urlKeeperDir), keeperRows(dirs.hashKeeperDir)))
  }

  private lazy val unbroken: (Ingest.Dirs, Ingest.Status) = {
    val dirs = freshDirs()
    val st = Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L)
    (dirs, st)
  }

  test("the unbroken run ingests, attributes fates, and the classifier is non-vacuous") {
    val (dirs, st) = unbroken
    assert(!st.replayed)
    assert(st.nRaw === shard.count())
    assert(st.fates.getOrElse("kept", 0L) > 0, s"fates: ${st.fates}")
    // the crawl-url generator plants canonical-URL collisions at every
    // scale, so the URL arm must fire on a shard-vs-base split too
    assert(st.fates.getOrElse("url_dup", 0L) > 0,
      s"url arm vacuous: ${st.fates}")
    assert(st.fates.values.sum === st.nRaw)
    assert(st.lexDocs === st.fates("kept"))
    assert(st.annRows === st.fates("kept"))
    assert(st.shingleKeys > 0 && st.embedKeys > 0)
    assert(st.deltaFraction > 0.0 && st.deltaFraction < 1.0)
    // the ledger records classification AND completion
    assert(ManifestStore.committed(spark, dirs.ledgerDir,
      Ingest.classifyBatch(0L)))
    assert(ManifestStore.committed(spark, dirs.ledgerDir,
      Ingest.doneBatch(0L)))
  }

  test("an all-duplicate shard no-ops every append cleanly and the artifacts stay loadable (r12)") {
    // a crawl re-fetch shard where EVERY doc is already in the corpus
    // is a legitimate, common case: kept = ∅, so all four appends see
    // an EMPTY frame. The contract: clean no-op, NO committed segment
    // (an empty partitioned delta is unreadable — a poison segment —
    // and even a readable empty one grows every later load's listing
    // cost), artifacts byte-identical, ledger still advances.
    val dirs = freshDirs()
    val before = stateOf(dirs)
    val dupShard = baseDocs.limit(40)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val noEmb = emb.filter(lit(false))
    val st = Ingest.run(spark, dirs, baseDocs, dupShard, noEmb, 0L)
    assert(!st.replayed)
    assert(st.nRaw === 40L)
    assert(st.fates.getOrElse("kept", 0L) === 0L, s"fates: ${st.fates}")
    assert(st.fates.values.sum === 40L)
    assert(st.lexDocs === 0L && st.annRows === 0L)
    assert(st.shingleKeys === 0L && st.embedKeys === 0L)
    val after = stateOf(dirs)
    // stateOf LOADING without error IS the no-poison-delta proof; the
    // delta counts pin that no empty segment was committed either
    assert(after.copy(_7 = before._7) === before,
      "an all-duplicate shard must leave every artifact untouched")
    assert(ManifestStore.committed(spark, dirs.ledgerDir,
      Ingest.doneBatch(0L)))
    val st2 = Ingest.run(spark, dirs, baseDocs, dupShard, noEmb, 0L)
    assert(st2.replayed, "the done seal must still short-circuit")
  }

  test("a replayed completed shard short-circuits on the ledger and mutates nothing") {
    val (dirs, _) = unbroken
    val before = stateOf(dirs)
    val st = Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L)
    assert(st.replayed, "a done-sealed shard must be recognized")
    assert(stateOf(dirs) === before, "a replay must not change any artifact")
  }

  test("killed BETWEEN the two index appends, the re-run converges every artifact to the unbroken result") {
    val (_, want) = unbroken
    val wantState = stateOf(unbroken._1)
    val dirs = freshDirs()
    // the kill: postings append committed, ANN append never ran
    val e = intercept[IllegalStateException] {
      Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L,
        crashAfter = Some("lex"))
    }
    assert(e.getMessage.contains("crash seam"))
    // the torn state is real: lex holds the shard delta, ann does not
    assert(GenDir.deltas(spark,
      GenDir.newest(spark, dirs.lexDir).get._2).nonEmpty)
    assert(GenDir.deltas(spark,
      GenDir.newest(spark, dirs.annDir).get._2).isEmpty)
    assert(!ManifestStore.committed(spark, dirs.ledgerDir,
      Ingest.doneBatch(0L)))
    // the re-run: lex append no-ops on its stamp, everything else runs
    val st = Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L)
    assert(!st.replayed)
    assert(st.fates === want.fates,
      "the re-run must re-read the SEALED classification, not re-decide")
    assert(stateOf(dirs) === wantState,
      "every artifact must converge to the unbroken run's state")
  }

  test("killed at every other seam, the re-run converges identically (classify / ann / gates)") {
    val wantState = stateOf(unbroken._1)
    Seq("classify", "corpus", "keepers", "ann", "gates").foreach { seam =>
      val dirs = freshDirs()
      intercept[IllegalStateException] {
        Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L,
          crashAfter = Some(seam))
      }
      val st = Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L)
      assert(!st.replayed, s"seam $seam")
      assert(stateOf(dirs) === wantState,
        s"artifacts diverged after a crash at seam '$seam'")
    }
  }

  test("the corpus stores accumulate base + kept rows exactly, and rebuild retires drift + re-keys the gate (r12)") {
    val dirs = freshDirs()
    Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L)
    // 1. the corpus stores ARE the current corpus: base ∪ kept, no
    // dropped doc, no duplicate row
    val keptIds = ManifestStore.readStore(spark, dirs.ledgerDir).get
      .filter(col("fate") === "kept").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(keptIds.nonEmpty)
    val baseIds = baseDocs.select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val storeDocs = ManifestStore.readStore(spark, dirs.corpusDocsDir).get
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(storeDocs.length === storeDocs.distinct.length,
      "corpus store must hold each doc once")
    assert(storeDocs.toSet === baseIds ++ keptIds)
    val baseVecs = emb.filter(col("vec_id") % shardMod =!= shardRem)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val shardVecs = shardEmb.select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    val storeVecs = ManifestStore.readStore(spark, dirs.corpusEmbDir).get
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(storeVecs === baseVecs ++ (keptIds & shardVecs))
    // 2. rebuild: drift present before, zero after, counts exact
    assert(AnnIndex.deltaFraction(spark, dirs.annDir) > 0.0)
    val snap = Files.createTempDirectory("graft-ingest-snap").toString
    val (nDocs, nVecs, gateKeys) = Ingest.rebuild(spark, dirs, snap)
    assert(nDocs === storeDocs.length.toLong)
    assert(nVecs === storeVecs.size.toLong)
    assert(AnnIndex.deltaFraction(spark, dirs.annDir) === 0.0,
      "a full re-train must retire the frozen-model drift")
    assert(GenDir.deltas(spark,
      GenDir.newest(spark, dirs.annDir).get._2).isEmpty,
      "the rebuilt generation starts clean")
    // 3. the rebuilt artifact answers ≡ the memoized path over the
    // same snapshot (the family's stored ≡ memoized identity)
    val stored = AnnIndex.ivfPqTopK(spark, snap, dirs.annDir, 5, 10)
      .collect().map(_.toString).toSeq
    val memo = Similarity.ivfPqTopK(spark, snap, 5, 10)
      .collect().map(_.toString).toSeq
    assert(stored === memo)
    // 4. the embed gate was re-keyed at the GROWN corpus's width —
    // the corpus-adaptive parameter only a rebuild can move
    val gate = Dedup.loadEmbedBandIndex(spark, dirs.embedGateDir)
    assert(gate.bitsPerBand === Dedup.embedBandBits(nVecs))
    assert(gateKeys === 8L * nVecs, "8 band keys per corpus vector")
    // 5. ingestion continues on the rebuilt artifacts: a further
    // shard (fresh ids, perturbed text) lands against the new
    // generations without error and seals its ledger entries
    val next = shard.limit(30)
      .withColumn("doc_id", col("doc_id") + 5000000L)
      .withColumn("text", concat(col("text"), lit(" zweiundvierzig")))
      .localCheckpoint()
    val st2 = Ingest.run(spark, dirs, baseDocs, next,
      emb.filter(lit(false)), 1L)
    assert(!st2.replayed && st2.nRaw === 30L)
    assert(st2.fates.values.sum === 30L)
    assert(ManifestStore.committed(spark, dirs.ledgerDir,
      Ingest.doneBatch(1L)))
    Memo.releaseDir(snap)
  }

  test("N appends past the segment budget auto-compact into one clean generation with pinned answers (r11 #8)") {
    val d = Files.createTempDirectory("graft-annindex-autocompact").toString
    AnnIndex.writeBase(spark, sf, d, col("vec_id") % 10 =!= 7)
    // 10 disjoint micro-shards of the held-out slice
    (0 until 10).foreach { i =>
      AnnIndex.append(spark, d,
        emb.filter(col("vec_id") % 100 === (10 * i + 7)),
        Some(s"shard-$i"))
    }
    assert(AnnIndex.shouldCompact(spark, d),
      "10 segments must trip the 8-segment budget")
    val before = AnnIndex.ivfPqTopK(spark, sf, d, 5, 10).collect().toSeq
    assert(AnnIndex.maybeCompact(spark, d), "the trigger must fire")
    val gen = AnnIndex.resolveGen(spark, d)
    assert(GenDir.deltas(spark, gen).isEmpty,
      "compaction must fold every segment")
    assert(AnnIndex.ivfPqTopK(spark, sf, d, 5, 10).collect().toSeq === before,
      "auto-compaction must not change any row")
    assert(!AnnIndex.shouldCompact(spark, d))
    // compaction folds segments, it does NOT re-train: the staleness
    // exposure must SURVIVE it (the `trained` meta field), so the
    // rebuild trigger can't be silenced by small-file hygiene
    val fracAfter = AnnIndex.deltaFraction(spark, d)
    assert(fracAfter > 0.0,
      s"drift accounting must survive compaction, got $fracAfter")
    // and a FULL rebuild (re-train) is what retires it
    AnnIndex.write(spark, sf, d)
    assert(AnnIndex.deltaFraction(spark, d) === 0.0)
  }

  test("a bootstrap killed midway RESUMES: per-artifact no-ops, standing generations untouched (review r12)") {
    val work = Files.createTempDirectory("graft-ingest-partialboot").toString
    val dirs = Ingest.dirsUnder(work)
    // the "crashed" state: only the first two artifacts built (the
    // old all-or-nothing probe saw lexDir and skipped the rest)
    LexStore.writeBase(spark, sf, dirs.lexDir,
      col("doc_id") % shardMod =!= shardRem)
    AnnIndex.writeBase(spark, sf, dirs.annDir,
      col("vec_id") % shardMod =!= shardRem)
    val lexGen = GenDir.newest(spark, dirs.lexDir).get
    val annGen = GenDir.newest(spark, dirs.annDir).get
    // re-run completes the remaining three artifacts...
    Ingest.bootstrap(spark, sf, dirs, shardMod, shardRem)
    assert(GenDir.newest(spark, dirs.shingleGateDir).nonEmpty)
    assert(GenDir.newest(spark, dirs.embedGateDir).nonEmpty)
    assert(ManifestStore.committed(spark, dirs.corpusDocsDir, 0L))
    assert(ManifestStore.committed(spark, dirs.corpusEmbDir, 0L))
    // ...and trusts the standing ones (no fresh generation)
    assert(GenDir.newest(spark, dirs.lexDir).get === lexGen)
    assert(GenDir.newest(spark, dirs.annDir).get === annGen)
    // the resumed deployment ingests normally
    val st = Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L)
    assert(st.fates.getOrElse("kept", 0L) > 0)
  }

  test("an empty shard is a traceless no-op; the id stays usable; a folded-away low id fails LOUDLY, never a silent drop (review r12)") {
    val dirs = freshDirs()
    val empty = docs.filter(lit(false))
    val st = Ingest.run(spark, dirs, baseDocs, empty,
      emb.filter(lit(false)), 0L)
    assert(!st.replayed && st.nRaw === 0L && st.fates.isEmpty)
    // no ledger trace — the old empty-manifest seal wedged the
    // deployment forever ("classification was never sealed")
    assert(!ManifestStore.committed(spark, dirs.ledgerDir,
      Ingest.classifyBatch(0L)))
    // the re-run converges and the id is still usable for real data
    assert(Ingest.run(spark, dirs, baseDocs, empty,
      emb.filter(lit(false)), 0L).nRaw === 0L)
    val real = Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L)
    assert(!real.replayed && real.nRaw === shard.count())
  }

  test("intra-shard near-dup pairs resolve first-seen; null text/url rows get fates instead of vanishing (review r12)") {
    import spark.implicits._
    val dirs = freshDirs()
    val freshText = "completely novel sentence with uncommon vocabulary " +
      "zirconium praseodymium molybdenum ytterbium neodymium gadolinium " +
      "dysprosium holmium erbium thulium lutetium scandium vanadium " +
      "rhenium osmium iridium platinum palladium rhodium ruthenium"
    val nearText = freshText.replace("zirconium", "zyrconium")
    val rows = Seq(
      (9000001L, freshText, "srcz", "https://fresh.example/a"),
      (9000002L, nearText, "srcz", "https://fresh.example/b"), // near dup of ...01
      (9000003L, null.asInstanceOf[String], "srcz",
        "https://fresh.example/c"),                            // null text
      (9000004L, freshText + " unique tail here", "srcz",
        null.asInstanceOf[String]))                            // null url
      .toDF("doc_id", "text", "source", "url")
    val st = Ingest.run(spark, dirs, baseDocs, rows,
      emb.filter(lit(false)), 0L, rawUrl = col("url"))
    // every row got a fate — the null-keyed rows used to vanish at
    // the intra-shard keeper joins
    assert(st.nRaw === 4L, s"fates: ${st.fates}")
    assert(st.fates.values.sum === 4L)
    val fates = ManifestStore.readStore(spark, dirs.ledgerDir).get
      .select(col("doc_id"), col("fate")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the SAME-SHARD near pair resolves first-seen: the earlier doc
    // keeps, the later classifies near_dup (the gate holds only the
    // standing corpus, so this is the intra-shard arm's catch)
    assert(fates(9000001L) === "kept", s"fates: $fates")
    assert(fates(9000002L) === "near_dup", s"fates: $fates")
    // null text quality-filters; null url never fires the url arm
    assert(fates(9000003L) === "filtered", s"fates: $fates")
    assert(fates(9000004L) === "near_dup" || fates(9000004L) === "kept",
      s"fates: $fates") // near ...01 by shingles; either arm is sound
  }

  test("the dedup reference is the STANDING corpus: url/exact duplicates of PRIOR shards classify as duplicates (r12)") {
    import spark.implicits._
    val dirs = freshDirs()
    val st0 = Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L)
    assert(st0.fates.getOrElse("kept", 0L) > 0)
    // a doc KEPT in shard 0 — present in the corpus store only, never
    // in any bootstrap base
    val keptId = ManifestStore.readStore(spark, dirs.ledgerDir).get
      .filter(col("fate") === "kept")
      .agg(min(col("doc_id"))).head.getLong(0)
    val keptText = docs.filter(col("doc_id") === keptId)
      .select(col("text")).head.getString(0)
    val noEmb = emb.filter(lit(false))
    // shard 1: one EXACT duplicate (same text, fresh id, fresh url).
    // Against the bootstrap base alone this is at best a gate
    // candidate (identical shingles → near_dup); against the standing
    // corpus it is the exact_dup it really is.
    val dup = Seq((keptId + 7000000L, keptText, "srcx"))
      .toDF("doc_id", "text", "source")
    val st1 = Ingest.run(spark, dirs, baseDocs, dup, noEmb, 1L)
    assert(st1.fates.getOrElse("exact_dup", 0L) === 1L,
      s"a text duplicate of a PRIOR SHARD's doc must be exact_dup: ${st1.fates}")
    // shard 2: a FRESH text re-fetched from the kept doc's URL (the
    // kept doc's canon url is in no base keeper — being kept means
    // the url arm did not fire for it). Against the bootstrap base
    // this doc would be KEPT; against the standing corpus it is the
    // url re-fetch it really is.
    val keptUrl = docs.filter(col("doc_id") === keptId)
      .select(TextAnalysis.syntheticCrawlUrl.as("u")).head.getString(0)
    val urlDup = Seq((keptId + 8000000L,
      "wholly original words never before committed anywhere in this " +
        "corpus repeated nowhere alpha beta gamma delta epsilon zeta " +
        "eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau",
      "srcy")).toDF("doc_id", "text", "source")
    val st2 = Ingest.run(spark, dirs, baseDocs, urlDup, noEmb, 2L,
      rawUrl = when(col("doc_id") >= 8000000L, lit(keptUrl))
        .otherwise(TextAnalysis.syntheticCrawlUrl))
    assert(st2.fates.getOrElse("url_dup", 0L) === 1L,
      s"a re-fetch of a PRIOR SHARD's url must be url_dup: ${st2.fates}")
  }

  test("continuous ingest folds its ManifestStore ledgers: manifests bounded, reads unchanged (r12)") {
    // 8 shards × 2 seals each = 16 ledger manifests — exactly the
    // SnapshotEvery cadence; without the fold+vacuum in run()'s
    // maintenance step, every later read replays ALL of them (one
    // listing + parse per shard forever — the small-file trap the
    // derived indexes already compact away)
    val dirs = freshDirs()
    // shard ids skip 7 — the gap proves the monotonicity guard below
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 8L)
    ids.zipWithIndex.foreach { case (id, j) =>
      val sub = shard.filter(col("doc_id") % 80 === (10L * j + 7L))
      Ingest.run(spark, dirs, baseDocs, sub,
        shardEmb.join(sub.select(col("doc_id").as("vec_id")), "vec_id"),
        id)
    }
    // a NEVER-ingested id below the fold must fail loudly — the
    // folded append ledger answers "committed" for every id under the
    // fold, and without the zero-fates guard this run would silently
    // drop its documents as a phantom replay (review r12)
    val e = intercept[IllegalStateException] {
      Ingest.run(spark, dirs, baseDocs,
        shard.limit(5), emb.filter(lit(false)), 7L)
    }
    assert(e.getMessage.contains("MONOTONE"), e.getMessage)
    // every shard's fates still read back exactly (the fold may not
    // change composition); done markers ride the same store as DATA
    // rows (fold-proof completion) and are excluded from fate math
    val fates = ManifestStore.readStore(spark, dirs.ledgerDir).get
      .filter(col("fate") =!= Ingest.DoneFate)
    assert(fates.select(col("shard_id")).distinct().count() === 8L)
    assert(fates.count() === shard.count(),
      "folding must not lose or duplicate one fate row")
    // and the ledger's manifest count is BOUNDED: a snapshot folded
    // the history and vacuum reclaimed the superseded manifests
    val mdir = new java.io.File(
      s"${dirs.ledgerDir.stripPrefix("file:")}/_manifest")
    val manifests = mdir.listFiles().map(_.getName)
      .filterNot(_.startsWith("."))
    assert(manifests.exists(_.endsWith(".snap")),
      s"expected a fold snapshot, got ${manifests.mkString(", ")}")
    assert(manifests.length < 16,
      s"16 commits must fold + vacuum, got ${manifests.length} " +
        s"manifests: ${manifests.mkString(", ")}")
  }

  test("keeper/corpus data compaction: one sorted segment per store, contents and fates identical, replay discipline intact (r14 #3)") {
    val dirs = freshDirs()
    val subs = (0 until 3).map(j =>
      shard.filter(col("doc_id") % 40 === (10L * j + 7L)).localCheckpoint())
    subs.zipWithIndex.foreach { case (sub, j) =>
      Ingest.run(spark, dirs, baseDocs, sub,
        shardEmb.join(sub.select(col("doc_id").as("vec_id")), "vec_id"),
        j.toLong)
    }
    val stores = Seq(
      (dirs.urlKeeperDir, "kpart", Seq("cu")),
      (dirs.hashKeeperDir, "kpart", Seq("h")),
      (dirs.corpusDocsDir, "part", Seq("doc_id")),
      (dirs.corpusEmbDir, "part", Seq("vec_id")))
    def rowsOf(d: String): Set[String] = {
      val df = ManifestStore.readStore(spark, d).get
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.toString).toSet
    }
    val before = stores.map { case (d, _, _) => d -> rowsOf(d) }.toMap
    // a probe shard classified against the standing deployment —
    // its fates must be bit-identical across the rewrite
    val probeShard = baseDocs.limit(30)
      .withColumn("doc_id", col("doc_id") + 3000000L)
      .withColumn("text", concat(col("text"), lit(" qq")))
      .localCheckpoint()
    val uniqueUrl =
      concat(lit("https://cq.example/"), col("doc_id").cast("string"))
    def classify(): Map[Long, (String, Long)] =
      Ingest.classifyShardKeeper(spark, dirs,
          Ingest.withDefaultSource(probeShard),
          Dedup.loadBandIndex(spark, dirs.shingleGateDir), 0.2, uniqueUrl)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("fate"),
            Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong)
              .getOrElse(-1L)))).toMap
    val wantFates = classify()
    assert(wantFates.nonEmpty)
    stores.foreach { case (d, pcol, sortCols) =>
      assert(ManifestStore.dataSegments(spark, d) > 1, s"$d pre")
      assert(ManifestStore.compactData(spark, d, pcol, sortCols).nonEmpty, d)
      ManifestStore.vacuum(spark, d)
      assert(ManifestStore.dataSegments(spark, d) === 1, s"$d post")
      assert(rowsOf(d) === before(d), s"$d rows changed across the rewrite")
      // idempotent + no-op once compacted: a second call declines
      assert(ManifestStore.compactData(spark, d, pcol, sortCols).isEmpty, d)
    }
    assert(classify() === wantFates,
      "fates diverged across the keeper/corpus rewrite")
    // the compacted keeper layout is SORTED within each bucket file —
    // the property the point-lookup page stats ride
    val (fsys, dd) = graft.sync.GenDir.fsOf(spark, dirs.urlKeeperDir)
    val cDirs = fsys.listStatus(
      new org.apache.hadoop.fs.Path(s"${dd.toString}/data")).toSeq
      .filter(_.getPath.getName.startsWith("c"))
    assert(cDirs.nonEmpty, "no compaction data dir")
    val aBucket = fsys.listStatus(cDirs.head.getPath).toSeq
      .filter(_.getPath.getName.contains("=")).head.getPath
    val cus = spark.read.parquet(aBucket.toString)
      .select(col("cu")).collect().map(_.getString(0)).toSeq
    assert(cus === cus.sorted, "bucket file not sorted by key")
    // replay discipline: shard 0 is done-sealed, so a replay still
    // short-circuits; and the fold-proof discriminator inputs hold —
    // batch 1 reads committed only via the fold, NOT explicitly, yet
    // the composed store still witnesses its rows
    val st = Ingest.run(spark, dirs, baseDocs, subs(0),
      shardEmb.join(subs(0).select(col("doc_id").as("vec_id")), "vec_id"),
      0L)
    assert(st.replayed)
    assert(ManifestStore.committed(spark, dirs.urlKeeperDir, 1L))
    assert(!ManifestStore.committedExplicitly(spark, dirs.urlKeeperDir, 1L))
  }

  test("should_rebuild fires on the OBSERVED gate candidate load when the corpus outruns the keying, below the delta-fraction trigger (r14 #5)") {
    // reproduce the grown-deployment state: a deployment bootstrapped
    // on a 20k-doc corpus whose GATE has since grown to cover 300k
    // collision-heavy synthetic docs (31-word vocabulary — high
    // background Jaccard; chance candidates/probe scale ~linearly in
    // gate size: measured 2.82/doc at a 20k gate, so ~42/doc at
    // 300k), still keyed at the FIXED (16, 2) banding the small
    // bootstrap chose (the ladder seam pins it; appends inherit the
    // keying, so only a rebuild re-keys — exactly the state the
    // trigger exists for)
    val corpus = java.nio.file.Files
      .createTempDirectory("graft-gateload-corpus").toString
    graft.tools.SynthCorpus.writeCorpus(spark, corpus, 20000L, 400L)
    val bigCorpus = java.nio.file.Files
      .createTempDirectory("graft-gateload-big").toString
    graft.tools.SynthCorpus.documents(spark, 300000L)
      .write.mode("overwrite").parquet(s"$bigCorpus/documents.parquet")
    val work = java.nio.file.Files
      .createTempDirectory("graft-gateload-work").toString
    val dirs = Ingest.dirsUnder(work)
    Ingest.bootstrap(spark, corpus, dirs, 10, 11) // shard never matches
    Dedup.writeBandIndexBase(spark, bigCorpus, dirs.shingleGateDir,
      lit(true), ladder = Seq((Dedup.NumBands, Dedup.RowsPerBand)))
    assert(Dedup.gateBandParams(spark, dirs.shingleGateDir) ===
      ((Dedup.NumBands, Dedup.RowsPerBand)))
    // one 200-doc shard with NO embeddings: the ANN delta fraction
    // stays ~0, far below RebuildDeltaFraction — the load axis alone
    // must flip the trigger
    val gateShard = graft.tools.SynthCorpus.documents(spark, 200L, seed = 431L)
      .select((col("doc_id") + lit(50000000L)).as("doc_id"), col("text"),
        col("source"))
    val st = Ingest.run(spark, dirs, Tables.documents(spark, corpus),
      gateShard, emb.filter(lit(false)), 0L, threshold = 0.95,
      rawUrl = concat(lit("https://gl.example/"),
        col("doc_id").cast("string")))
    assert(st.deltaFraction < graft.llmdata.AnnIndex.RebuildDeltaFraction,
      s"ann drift must stay below the fraction trigger: ${st.deltaFraction}")
    assert(st.gateCandPerDoc.exists(_ > Ingest.GateCandPerDocRebuild),
      s"expected the chance-collision load to blow the envelope, " +
        s"got ${st.gateCandPerDoc}")
    assert(st.shouldRebuild,
      s"should_rebuild must fire on the load axis: $st")
    // control: the SAME grown gate re-keyed by the real ladder keeps
    // the load inside the envelope and the trigger quiet (the
    // rebuild's re-key is exactly this call)
    Dedup.writeBandIndexBase(spark, bigCorpus, dirs.shingleGateDir,
      lit(true))
    val dirs2 = dirs // fresh ledger so classification re-runs
    val st2 = Ingest.run(spark, dirs2, Tables.documents(spark, corpus),
      gateShard.withColumn("doc_id", col("doc_id") + 1000L), emb.filter(lit(false)),
      1L, threshold = 0.95,
      rawUrl = concat(lit("https://gl2.example/"),
        col("doc_id").cast("string")))
    assert(st2.gateCandPerDoc.exists(_ <= Ingest.GateCandPerDocRebuild),
      s"re-keyed gate should bound the load: ${st2.gateCandPerDoc}")
    assert(!st2.shouldRebuild, s"trigger must go quiet after re-key: $st2")
  }

  test("keeper tables ARE the corpus aggregates: maintained per shard, bit-equal to the store-scan reference (r13 #1)") {
    val (dirs, _) = unbroken
    // bootstrapped at batch 0, extended by the shard as batch 1
    assert(ManifestStore.committed(spark, dirs.urlKeeperDir, 0L))
    assert(ManifestStore.committed(spark, dirs.hashKeeperDir, 0L))
    assert(ManifestStore.committed(spark, dirs.urlKeeperDir, 1L))
    // the keepers must equal what the legacy path would re-aggregate
    // from the corpus store on every shard — same keys, same min ids
    val store = ManifestStore.readStore(spark, dirs.corpusDocsDir).get
    val wantUrl = store.groupBy(col("cu"))
      .agg(min(col("doc_id")).as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotUrl = ManifestStore.readStore(spark, dirs.urlKeeperDir).get
      .select(col("cu"), col("url_match")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotUrl === wantUrl)
    val wantH = store
      .select(md5(coalesce(col("text"), lit("")).cast("binary")).as("h"),
        col("doc_id"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotH = ManifestStore.readStore(spark, dirs.hashKeeperDir).get
      .select(col("h"), col("exact_match")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotH === wantH)
    // keys are UNIQUE by construction (kept keys are proven absent
    // before they append) — the property that makes appends pure
    // accumulation, never a re-aggregation
    assert(gotUrl.size.toLong ===
      ManifestStore.readStore(spark, dirs.urlKeeperDir).get.count())
  }

  test("keeper-classified fates ≡ store-scan fates shard by shard, across the keeper crash seam (r13 #1)") {
    val dirs = freshDirs()
    (0 until 3).foreach { j =>
      val sub = shard.filter(col("doc_id") % 40 === (10L * j + 7L))
        .localCheckpoint()
      // the LEGACY reference decision, computed against the exact
      // standing state (corpus store + gate) this shard will land on
      val gate = Dedup.loadBandIndex(spark, dirs.shingleGateDir)
      val store = ManifestStore.readStore(spark, dirs.corpusDocsDir).get
      val want = Ingest.classifyShard(spark, store, sub, gate,
          gateBanding = Dedup.gateBandParams(spark, dirs.shingleGateDir))
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      // the middle shard crashes at the NEW keeper seam first
      if (j == 1) {
        val e = intercept[IllegalStateException] {
          Ingest.run(spark, dirs, baseDocs, sub,
            shardEmb.join(sub.select(col("doc_id").as("vec_id")), "vec_id"),
            j, crashAfter = Some("keepers"))
        }
        assert(e.getMessage.contains("keepers"))
      }
      Ingest.run(spark, dirs, baseDocs, sub,
        shardEmb.join(sub.select(col("doc_id").as("vec_id")), "vec_id"), j)
      val got = ManifestStore.readStore(spark, dirs.ledgerDir).get
        .filter(col("shard_id") === j && col("fate") =!= Ingest.DoneFate)
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("fate"),
          Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong)
            .getOrElse(-1L))).toMap
      assert(got === want,
        s"shard $j: keeper classification diverged from the store scan")
      assert(want.nonEmpty, s"shard $j vacuous")
    }
  }

  test("per-shard reads PRUNE: ledger to the shard bucket, keepers and candidate text to their key buckets (r13 #2/#3)") {
    val (dirs, _) = unbroken
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // ledger: fatesOf carries the sb partition filter
    val lp = planOf(Ingest.fatesOf(spark, dirs.ledgerDir, 0L))
    assert(lp.contains("PartitionFilters:") && lp.contains("sb#"),
      s"ledger read not shard-bucket-pruned:\n$lp")
    // keepers: a bounded bucket list partition-prunes the scan AND
    // returns exactly the full read restricted to those buckets
    val somePart = Ingest.kpartOf(lit("probe-key"))
    val parts = Seq(spark.range(1).select(somePart).head.getInt(0))
    val kp = planOf(Ingest.prunedKeeperRead(spark, dirs.urlKeeperDir, parts))
    assert(kp.contains("PartitionFilters:") && kp.contains("kpart#"),
      s"keeper read not bucket-pruned:\n$kp")
    val full = ManifestStore.readStore(spark, dirs.urlKeeperDir).get
    val nAll = full.count()
    val nPart = Ingest.prunedKeeperRead(spark, dirs.urlKeeperDir, parts).count()
    assert(nPart > 0L && nPart < nAll,
      s"expected a real restriction, got $nPart of $nAll")
    assert(nPart === full.filter(
      Ingest.kpartOf(col("cu")).isin(parts: _*)).count())
    // candidate text: same mechanics on the corpus store's part column
    val cp = planOf(Ingest.prunedCorpusText(spark, dirs.corpusDocsDir, Seq(3)))
    assert(cp.contains("PartitionFilters:") && cp.contains("part#"),
      s"candidate-text read not bucket-pruned:\n$cp")
    val ct = Ingest.prunedCorpusText(spark, dirs.corpusDocsDir, Seq(3))
      .select(col("corpus_id")).collect().map(_.getLong(0))
    assert(ct.nonEmpty && ct.forall(_ % 8 === 3),
      "bucket 3 must contain exactly the doc_id % 8 == 3 rows")
    // a BOUNDED candidate set's ids are PUSHED into the parquet scan
    // (r13, second session — the point-lookup form the classify
    // profiler motivated; r14 ADVICE: ONE `In` predicate via isin,
    // not a reduce-built Or tree): the In filter on doc_id reaches
    // PushedFilters, and the result is exactly those rows
    val pushed = Ingest.prunedCorpusText(spark, dirs.corpusDocsDir, Seq(3))
      .filter(col("corpus_id").isin(3L, 11L))
    val pp = planOf(pushed)
    assert(pp.contains("PushedFilters:") && pp.contains("In(doc_id"),
      s"candidate ids not pushed to the scan:\n$pp")
    assert(pushed.select(col("corpus_id")).collect().map(_.getLong(0))
      .toSet === Set(3L, 11L))
    // keeper point lookup (r13, second session): a bounded shard's
    // keys ride the keeper scan as a pushed In the same way
    val aKey = full.select(col("cu")).head.getString(0)
    val kPushed = Ingest.prunedKeeperRead(spark, dirs.urlKeeperDir, parts)
      .filter(col("cu").isin(aKey, "no-such-key"))
    val kpp = planOf(kPushed)
    assert(kpp.contains("PushedFilters:") && kpp.contains("In(cu"),
      s"keeper keys not pushed to the scan:\n$kpp")
  }

  test("past-ceiling gate probe: point lookup pushes In(sig) over the sorted format-3 index, prunes gpart, and equals the streamed scan (r14 #1)") {
    val (dirs, _) = unbroken
    // the format-3 layout: the persisted index carries the gpart
    // bucket column and the probe shape below partition-prunes on it
    // AND pushes the signature set as ONE In predicate
    val gate = Dedup.loadBandIndex(spark, dirs.shingleGateDir)
    assert(gate.columns.contains("gpart"), gate.columns.mkString(","))
    val someSigs = gate.select(col("sig")).limit(64).collect()
      .map(_.getLong(0)).toSeq
    assert(someSigs.size > 10) // past the default In-pushdown threshold
    spark.conf.set("spark.sql.parquet.pushDownInFilterThreshold",
      Ingest.GateSigPushdownMax + 1)
    val probePlan = gate
      .filter(col("gpart").isin(0, 1, 2) && col("sig").isin(someSigs: _*))
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("PartitionFilters:") &&
      probePlan.contains("gpart#"),
      s"gate probe not bucket-pruned:\n$probePlan")
    assert(probePlan.contains("PushedFilters:") &&
      probePlan.contains("In(sig"),
      s"gate sigs not pushed to the scan:\n$probePlan")
    // classification fates are IDENTICAL across the three join
    // shapes: broadcast (auto at this scale), forced point lookup
    // (ceiling 0), and forced streamed scan (ceiling 0 + pushdown 0).
    // The probe shard is built so the GATE arm decides: corpus texts
    // perturbed by one token (near-dup Jaccard, distinct hash) under
    // fresh unique urls (the url arm never fires).
    val probeShard = baseDocs.limit(40)
      .withColumn("doc_id", col("doc_id") + 2000000L)
      .withColumn("text", concat(col("text"), lit(" zz")))
    val uniqueUrl =
      concat(lit("https://u.example/"), col("doc_id").cast("string"))
    def fates(ceiling: Long, push: Int): Map[Long, (String, Long)] =
      Ingest.classifyShardKeeper(spark, dirs,
          Ingest.withDefaultSource(probeShard), gate, 0.2,
          uniqueUrl,
          broadcastCeiling = ceiling, sigPushdownMax = push)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("fate"),
            Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong)
              .getOrElse(-1L)))).toMap
    val viaBroadcast = fates(Long.MaxValue, Ingest.GateSigPushdownMax)
    val viaPoint = fates(0L, Ingest.GateSigPushdownMax)
    val viaStream = fates(0L, 0)
    assert(viaPoint === viaBroadcast,
      "point-lookup probe diverged from the broadcast shape")
    assert(viaStream === viaBroadcast,
      "streamed-scan probe diverged from the broadcast shape")
    assert(viaBroadcast.nonEmpty &&
      viaBroadcast.values.exists(_._1 == "near_dup"),
      s"vacuous: no near_dup fate in ${viaBroadcast.values.map(_._1).toSet}")
  }

  test("a second concurrent maintainer fails LOUDLY at entry; the survivor's artifacts equal a winner-only run (r13 #5)") {
    val wantState = stateOf(unbroken._1)
    val dirs = freshDirs()
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var holderErr: Option[Throwable] = None
    val holder = new Thread(() =>
      try ManifestStore.withLeaseForTest(spark, dirs.ledgerDir) {
        started.countDown()
        release.await()
      } catch { case t: Throwable => holderErr = Some(t); started.countDown() })
    holder.start()
    started.await()
    assert(holderErr.isEmpty, s"holder failed to claim: $holderErr")
    // the second maintainer dies loudly WITHOUT mutating anything
    val e = intercept[IllegalStateException] {
      Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L)
    }
    assert(e.getMessage.contains("held by another writer"), e.getMessage)
    release.countDown()
    holder.join()
    // the winner (re-)runs cleanly and the artifacts equal a
    // single-maintainer run's — the loser left no trace
    val st = Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L)
    assert(!st.replayed)
    assert(stateOf(dirs) === wantState)
  }

  test("ADVICE r12 hardening: unsafe shard keys refuse at write; negative shard ids refuse at entry; source is optional") {
    import spark.implicits._
    // a quote in a shard key would corrupt the delta marker JSON —
    // the stamp builder refuses it before any staging
    val bad = intercept[IllegalArgumentException] {
      GenDir.shardStamp(Some("""sh"ard"""))
    }
    assert(bad.getMessage.contains("unsafe"))
    assert(GenDir.shardStamp(Some("shard-3")) === ""","shard":"shard-3"""")
    assert(GenDir.shardStamp(None) === "")
    // shardId = -1 would collide sinkCorpus's batch 0 with bootstrap's
    val dirs = freshDirs()
    val neg = intercept[IllegalArgumentException] {
      Ingest.run(spark, dirs, baseDocs, shard, shardEmb, -1L)
    }
    assert(neg.getMessage.contains("non-negative"))
    // a source-less shard (the streamIngest row shape) ingests and
    // stores the documented literal instead of failing post-seal
    val bare = Seq((7100001L,
      "an entirely sourceless document with plenty of distinct novel " +
        "tokens aardvark binturong capybara dugong echidna fossa gerenuk " +
        "hoatzin ibex jerboa kinkajou lemming markhor numbat okapi pangolin"))
      .toDF("doc_id", "text")
    val st = Ingest.run(spark, dirs, baseDocs, bare,
      emb.filter(lit(false)), 0L)
    assert(st.fates.getOrElse("kept", 0L) === 1L, s"fates: ${st.fates}")
    val srcOf = ManifestStore.readStore(spark, dirs.corpusDocsDir).get
      .filter(col("doc_id") === 7100001L)
      .select(col("source")).head.getString(0)
    assert(srcOf === "stream")
  }

  test("upgrading a pre-keeper deployment is bootstrap-and-go: keepers seed from the standing corpus store (review r13)") {
    import spark.implicits._
    val dirs = freshDirs()
    val st0 = Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L)
    assert(st0.fates.getOrElse("kept", 0L) > 0)
    // simulate the pre-keeper (r12) on-disk layout: the keeper stores
    // never existed, but the corpus store holds base + shard 0
    def rmrf(p: String): Unit = {
      val _ = new scala.reflect.io.Directory(new java.io.File(p))
        .deleteRecursively()
    }
    rmrf(dirs.urlKeeperDir)
    rmrf(dirs.hashKeeperDir)
    // re-bootstrap: every other artifact no-ops; the keeper seed
    // aggregates the CORPUS STORE, so prior shards' kept keys are in
    assert(!ManifestStore.committed(spark, dirs.urlKeeperDir, 0L))
    Ingest.bootstrap(spark, sf, dirs, shardMod, shardRem)
    assert(ManifestStore.committed(spark, dirs.urlKeeperDir, 0L) &&
      ManifestStore.committed(spark, dirs.hashKeeperDir, 0L))
    // a text duplicate of a PRE-UPGRADE shard's kept doc must
    // classify exact_dup through the rebuilt keepers — a base-split
    // seed would have silently kept it
    val keptId = ManifestStore.readStore(spark, dirs.ledgerDir).get
      .filter(col("fate") === "kept")
      .agg(min(col("doc_id"))).head.getLong(0)
    val keptText = docs.filter(col("doc_id") === keptId)
      .select(col("text")).head.getString(0)
    val dup = Seq((keptId + 7200000L, keptText, "srcx"))
      .toDF("doc_id", "text", "source")
    val st1 = Ingest.run(spark, dirs, baseDocs, dup,
      emb.filter(lit(false)), 1L)
    assert(st1.fates.getOrElse("exact_dup", 0L) === 1L,
      s"pre-upgrade kept doc must stay the dedup reference: ${st1.fates}")
  }

  test("the persisted unigram LM serves the fifth fate signal: artifact-served scores decide rare_tokens exactly (r13 #8)") {
    import spark.implicits._
    val dirs = freshDirs()
    // bootstrap built the model artifact next to the others
    assert(GenDir.newest(spark, dirs.lmDir).nonEmpty)
    // two fresh docs: one OOV-gibberish (every token absent from the
    // standing corpus -> the ln(1/total) floor => avg far below any
    // threshold), one recombined from a real base doc's own tokens
    // (in-vocabulary, reversed order so no exact/near arm fires)
    val baseTokens = baseDocs.orderBy(col("doc_id"))
      .select(col("text")).head.getString(0).split(" ")
    val inVocab = baseTokens.reverse.mkString(" ")
    val oov = (1 to 30).map(i => s"zq${i}xv").mkString(" ")
    val rows = Seq((8100001L, oov, "srcz"),
      (8100002L, inVocab, "srcz")).toDF("doc_id", "text", "source")
    // the EXPECTED fates derive from the artifact-served scores — the
    // parity claim is exactly "classification applies the persisted
    // model's verdicts", not a hand-picked outcome
    val scores = LmStore.avgLogprob(spark, dirs.lmDir,
      rows.select(col("doc_id"), col("text"))).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("avg_logprob")).toMap
    assert(scores(8100001L) < -3.43,
      s"OOV doc must score under the threshold: ${scores(8100001L)}")
    val st = Ingest.run(spark, dirs, baseDocs, rows,
      emb.filter(lit(false)), 0L, lmMinAvgLogprob = Some(-3.43))
    assert(st.nRaw === 2L)
    val fates = ManifestStore.readStore(spark, dirs.ledgerDir).get
      .filter(col("fate") =!= Ingest.DoneFate)
      .select(col("doc_id"), col("fate")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fates(8100001L) === "filtered",
      s"the LM gate must filter the OOV doc: $fates")
    val expect2 = if (scores(8100002L) < -3.43) "filtered" else "kept"
    assert(fates(8100002L) === expect2,
      s"fate must follow the artifact score ${scores(8100002L)}: $fates")
    // knob OFF (the default): the same OOV doc is KEPT — the LM gate
    // is the deployment's choice, never an implicit behavior change
    val dirs2 = freshDirs()
    val st2 = Ingest.run(spark, dirs2, baseDocs,
      rows.filter(col("doc_id") === 8100001L), emb.filter(lit(false)), 0L)
    assert(st2.fates.getOrElse("kept", 0L) === 1L, s"fates: ${st2.fates}")
    // serving-shape identity: the bucket-pruned score path equals the
    // full-vocabulary scan bit-for-bit
    val pruned = LmStore.avgLogprob(spark, dirs.lmDir,
      rows.select(col("doc_id"), col("text"))).collect().map(_.toString).toSet
    val full = LmStore.avgLogprob(spark, dirs.lmDir,
      rows.select(col("doc_id"), col("text")), pruneTerms = false)
      .collect().map(_.toString).toSet
    assert(pruned === full)
    // and the registered entry is non-vacuous: kept AND at least one
    // filter arm fire on the driver corpus
    val verdicts = Ingest.ingestLmGate(spark, sf).collect()
      .map(_.getAs[String]("verdict")).toSeq
    assert(verdicts.contains("kept"), "gate entry: no kept docs")
    assert(verdicts.exists(_ != "kept"), "gate entry: no filtered docs")
  }

  test("store folds vs mid-flight shards: a fold past an unsunk batch fails LOUDLY on replay; a fold past a SUNK batch still no-ops (r13)") {
    // THE HAZARD: ManifestStore.committed is fold-implied for every
    // id at or below a snapshot, so a shard replayed after the
    // maintenance fold+vacuum passed its batch id used to look
    // "already sunk" and silently skip — kept rows in no store, a
    // later rebuild dropping them (the same class the r12 __done__
    // data marker fixed for the ledger).
    val dirs = freshDirs()
    // crash AFTER keepers, BEFORE the corpus sink: corpus batch 1
    // never written, keeper batch 1 witnessed by its own manifest
    intercept[IllegalStateException] {
      Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L,
        crashAfter = Some("keepers"))
    }
    // the deployment (wrongly) moves on: shard 1 lands, then the
    // maintenance-equivalent fold+vacuum passes corpus batch 1
    val next = shard.limit(5)
      .withColumn("doc_id", col("doc_id") + 9100000L)
      .withColumn("text", concat(col("text"), lit(" frisch")))
      .localCheckpoint()
    Ingest.run(spark, dirs, baseDocs, next, emb.filter(lit(false)), 1L)
    graft.sync.ManifestStore.snapshot(spark, dirs.corpusDocsDir)
    graft.sync.ManifestStore.vacuum(spark, dirs.corpusDocsDir)
    assert(ManifestStore.committed(spark, dirs.corpusDocsDir, 1L),
      "batch 1 must read fold-implied committed")
    // replay of shard 0 must fail LOUDLY at the corpus sink — never
    // silently drop the kept rows
    val e = intercept[IllegalStateException] {
      Ingest.run(spark, dirs, baseDocs, shard, shardEmb, 0L)
    }
    assert(e.getMessage.contains("MID-FLIGHT"), e.getMessage)

    // THE LEGITIMATE TWIN: a batch whose rows DID land but whose
    // manifest was folded+vacuumed must keep no-opping quietly
    val dirs2 = freshDirs()
    intercept[IllegalStateException] {
      Ingest.run(spark, dirs2, baseDocs, shard, shardEmb, 0L,
        crashAfter = Some("lex")) // corpus batch 1 fully committed
    }
    graft.sync.ManifestStore.snapshot(spark, dirs2.corpusDocsDir)
    graft.sync.ManifestStore.vacuum(spark, dirs2.corpusDocsDir)
    val st = Ingest.run(spark, dirs2, baseDocs, shard, shardEmb, 0L)
    assert(!st.replayed && st.fates.getOrElse("kept", 0L) > 0)
    assert(stateOf(dirs2) === stateOf(unbroken._1),
      "the folded-manifest replay must converge like any other")
  }

  test("registered entries: ingest fates roll up the ledger; stored-append BM25 ≡ the full-corpus scan bit-for-bit") {
    val fates = Ingest.ingestFates(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fates.getOrElse("kept", 0L) > 0 &&
      fates.getOrElse("url_dup", 0L) > 0, s"fates: $fates")
    val full = TextAnalysis.bm25TopK(spark, sf).collect().toSeq
    val composed = TextAnalysis.bm25TopKFromStore(spark,
      LexStore.appendLexFor(spark, sf)).collect().toSeq
    assert(composed === full,
      "base + appended shard must score bit-identically to a full build")
  }

  test("a zero-token corpus refuses the unigram-LM commit LOUDLY and leaves no staged corpse (review r13)") {
    // the hazard: an empty partitioned write emits only _SUCCESS, and
    // schema INFERENCE over that directory threw before the loud
    // total==0 refusal could run — wrong exception, leaked stage dir
    val lmDir = Files.createTempDirectory("graft-lm-empty").toString + "/lm"
    val e = intercept[IllegalStateException] {
      LmStore.writeBase(spark, sf, lmDir, lit(false)) // keep: no docs
    }
    assert(e.getMessage.contains("EMPTY unigram LM"),
      s"must be the documented refusal, got: ${e.getMessage}")
    assert(GenDir.newest(spark, lmDir).isEmpty,
      "nothing may commit for an empty corpus")
    // the refusal reclaimed its staging dir — no .tmp-* corpse for a
    // later vacuum to explain
    val root = new java.io.File(lmDir)
    val leftovers =
      if (root.exists()) root.listFiles().map(_.getName).toSeq else Seq.empty
    assert(leftovers.isEmpty, s"staged corpse left behind: $leftovers")
  }
}
