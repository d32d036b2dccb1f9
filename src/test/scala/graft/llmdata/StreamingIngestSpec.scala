package graft.llmdata

import graft.{Memo, SparkSpec, Tables}
import graft.sync.{GenDir, ManifestStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** The STREAMING ingestion twin's contract (r12): micro-batch id =
  * shard id, so Structured Streaming's same-batchId epoch replay
  * composes with [[Ingest.run]]'s ledger + stamped appends into
  * exactly-once across ALL FOUR artifacts — proven by killing the
  * stream INSIDE a batch (after the Lex append, the window the r11
  * verdict named), restarting from the checkpoint, and comparing
  * every artifact to an unbroken stream's. */
class StreamingIngestSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)
  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding"))
  private def baseDocs = docs.filter(col("doc_id") % 10 =!= 7)

  /** The streamed rows: the held-out shard's docs with their
    * embeddings attached (left join — a doc without an embedding
    * streams text-only, the twin of the batch job's separately-sized
    * shardEmb frame). */
  private lazy val shardRows = docs
    .filter(col("doc_id") % 10 === 7)
    .select(col("doc_id"), col("text"), col("source"))
    .join(emb.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"), "left")
    .localCheckpoint()

  /** Source dir with TWO part files (one per sub-shard) — with
    * maxFilesPerTrigger = 1 the stream ingests them as two
    * micro-batches. */
  private def writeSource(): String = {
    val src = Files.createTempDirectory("graft-streamingest-src").toString
    shardRows.filter(col("doc_id") % 20 === 7)
      .coalesce(1).write.mode("append").parquet(src)
    shardRows.filter(col("doc_id") % 20 === 17)
      .coalesce(1).write.mode("append").parquet(src)
    src
  }

  private def freshDirs(): Ingest.Dirs =
    Ingest.dirsUnder(PristineDeployment.fresh("streamingest") { work =>
      Ingest.bootstrap(spark, sf, Ingest.dirsUnder(work), 10, 7)
    })

  /** Observable artifact state ([[IngestMainSpec]]'s convergence
    * tuple): postings rows + scalars, ANN answers, both gates' key
    * sets, and the ledger's aggregate fates. */
  private def stateOf(dirs: Ingest.Dirs): (Set[String], (Long, Long),
      Seq[String], Set[String], Set[String], Map[String, Long],
      (Set[Long], Set[Long])) = {
    val h = LexStore.open(spark, dirs.lexDir)
    val post = LexStore.loadAt(spark, h,
      Seq("vector", "window", "merge", "spark"))
    val ann = AnnIndex.ivfPqTopK(spark, sf, dirs.annDir, 5, 10)
      .collect().map(_.toString).toSeq
    val shingle = Dedup.loadBandIndex(spark, dirs.shingleGateDir)
      .collect().map(_.toString).toSet
    val embKeys = Dedup.loadEmbedBandIndex(spark, dirs.embedGateDir)
      .keys.collect().map(_.toString).toSet
    val fates = ManifestStore.readStore(spark, dirs.ledgerDir).get
      .groupBy(col("fate")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the corpus stores joined the convergence surface in r12
    def idsOf(dir: String, idCol: String): Set[Long] =
      ManifestStore.readStore(spark, dir)
        .map(_.select(col(idCol)).collect().map(_.getLong(0)).toSet)
        .getOrElse(Set.empty[Long])
    (post.post.collect().map(_.toString).toSet, (h.n, h.sumDl),
      ann, shingle, embKeys, fates,
      (idsOf(dirs.corpusDocsDir, "doc_id"),
        idsOf(dirs.corpusEmbDir, "vec_id")))
  }

  private def startStream(dirs: Ingest.Dirs, src: String, cp: String,
                          buf: ArrayBuffer[Ingest.Status],
                          crashAt: Map[Long, String] = Map.empty) =
    Ingest.streamIngest(spark, dirs, baseDocs,
      spark.readStream.schema(shardRows.schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
      cp, onStatus = st => buf.synchronized { buf += st },
      crashAfterAt = crashAt)

  test("an unbroken stream ingests each file as one shard and equals the batch composition run in the same order") {
    val src = writeSource()
    val dirs = freshDirs()
    val cp = Files.createTempDirectory("graft-streamingest-cp").toString
    val buf = ArrayBuffer.empty[Ingest.Status]
    val q = startStream(dirs, src, cp, buf)
    q.processAllAvailable()
    q.stop()
    assert(buf.map(_.shardId).sorted === Seq(0L, 1L),
      "two files under maxFilesPerTrigger=1 must make two shards")
    assert(buf.forall(!_.replayed))
    assert(buf.map(_.nRaw).sum === shardRows.count())
    // batch reference: the SAME sub-shards through Ingest.run in the
    // ORDER the stream processed them (batch 1's dedup arms see the
    // artifacts batch 0 extended, so order is part of the identity;
    // the sealed ledger records exactly which docs each batch held)
    val byShard = ManifestStore.readStore(spark, dirs.ledgerDir).get
      .select(col("shard_id"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bDirs = freshDirs()
    buf.sortBy(_.shardId).foreach { st =>
      val sub = shardRows
        .filter(col("doc_id").isInCollection(byShard(st.shardId)))
      Ingest.run(spark, bDirs, baseDocs,
        sub.drop("embedding"),
        sub.filter(col("embedding").isNotNull)
          .select(col("doc_id").as("vec_id"), col("embedding")),
        st.shardId)
    }
    assert(stateOf(dirs) === stateOf(bDirs),
      "the streaming composition must equal the batch composition")
  }

  test("autoRebuild executes the drift trigger between epochs: drift retired, index covers the full corpus stores (r12)") {
    // the stream is the artifact family's single maintainer, so
    // between its own epochs is the one place the O(corpus) rebuild
    // can run live; rebuildAt is forced below any real drift so the
    // trigger fires deterministically on BOTH batches
    val src = writeSource()
    val dirs = freshDirs()
    val cp = Files.createTempDirectory("graft-streamingest-rbcp").toString
    val buf = ArrayBuffer.empty[Ingest.Status]
    val q = Ingest.streamIngest(spark, dirs, baseDocs,
      spark.readStream.schema(shardRows.schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
      cp, onStatus = st => buf.synchronized { buf += st },
      autoRebuild = true, rebuildAt = 1e-4)
    q.processAllAvailable()
    q.stop()
    assert(buf.map(_.shardId).sorted === Seq(0L, 1L))
    assert(buf.forall(_.shouldRebuild),
      "the forced budget must trip the trigger in every status")
    // the last rebuild retired all drift and the index covers exactly
    // the corpus stores' vectors (base + both batches' kept)
    assert(AnnIndex.deltaFraction(spark, dirs.annDir) === 0.0)
    val h = AnnIndex.open(spark, dirs.annDir)
    assert(h.deltas.isEmpty, "the rebuilt generation starts clean")
    val nVecs = ManifestStore.readStore(spark, dirs.corpusEmbDir).get.count()
    assert(h.nTotal === nVecs,
      s"index holds ${h.nTotal} vectors, corpus stores hold $nVecs")
    // the embed gate was re-keyed to the grown corpus's width and its
    // keys cover the same vector set
    val gate = Dedup.loadEmbedBandIndex(spark, dirs.embedGateDir)
    assert(gate.bitsPerBand === Dedup.embedBandBits(nVecs))
    assert(gate.keys.select(col("corpus_id")).distinct().count() === nVecs)
    // the training snapshots are reclaimed epoch-by-epoch — a
    // long-lived stream must not grow checkpoint disk by one corpus
    // copy per rebuild (review r12)
    val snaps = new java.io.File(cp).listFiles()
      .map(_.getName).filter(_.startsWith("rebuild-snap-"))
    assert(snaps.isEmpty, s"leaked snapshots: ${snaps.mkString(", ")}")
    // and so are the session memos built over them: no memo entry and
    // no cached plan (the rebuild's shingle postings) reads a snapshot
    assert(!Memo.dirs.exists(_.contains("rebuild-snap-")),
      s"memo entries over snapshots: ${Memo.dirs.mkString(", ")}")
    assert(cachedScanRoots.forall(!_.contains("rebuild-snap-")),
      s"cached plans over snapshots: ${cachedScanRoots.mkString(", ")}")
  }

  /** Root paths of every file scan under a cached plan of the session.
    * The cache manager keeps its entries private, hence the reflection. */
  private def cachedScanRoots: Seq[String] = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[Seq[org.apache.spark.sql.execution.CachedData]]
      .flatMap(_.plan.collectLeaves())
      .collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation }
      .collect { case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.toString) }
      .flatten
  }

  test("killed INSIDE a micro-batch, the restarted stream replays the same batchId and converges every artifact") {
    val src = writeSource()
    // unbroken reference over the same source
    val refDirs = freshDirs()
    val refCp = Files.createTempDirectory("graft-streamingest-refcp").toString
    val refQ = startStream(refDirs, src, refCp,
      ArrayBuffer.empty[Ingest.Status])
    refQ.processAllAvailable()
    refQ.stop()
    // run 1: dies after batch 1's Lex append — the r11 verdict's
    // named window, now inside a streaming epoch that will not commit
    val dirs = freshDirs()
    val cp = Files.createTempDirectory("graft-streamingest-cp2").toString
    val buf1 = ArrayBuffer.empty[Ingest.Status]
    val q1 = startStream(dirs, src, cp, buf1,
      crashAt = Map(1L -> "lex"))
    intercept[Exception] { q1.processAllAvailable() }
    assert(q1.exception.isDefined,
      "the injected crash must terminate the stream")
    q1.stop()
    assert(buf1.map(_.shardId) === Seq(0L),
      "only batch 0 completed before the crash")
    // run 2: same checkpoint, no seam — Structured Streaming replays
    // the uncommitted epoch as batch 1 with the same id; the sealed
    // classification and the stamped Lex delta make the replay
    // converge instead of double-appending
    val buf2 = ArrayBuffer.empty[Ingest.Status]
    val q2 = startStream(dirs, src, cp, buf2)
    q2.processAllAvailable()
    q2.stop()
    assert(buf2.map(_.shardId) === Seq(1L),
      "the restart must replay exactly the uncommitted batch")
    assert(stateOf(dirs) === stateOf(refDirs),
      "artifacts diverged across the kill + checkpoint restart")
  }
}
