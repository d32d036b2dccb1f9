package olapbench

import graft.SparkEntry
import graft.streaming.{Pipeline, Sinks, StreamMain, TransactionParser}
import graft.sync.ManifestStore
import graft.tx.{Enrichment, ProcessedStore, Splitter}
import org.apache.spark.BusFlush
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up, measure a workload for a fixed
  * time in whole rounds, and write the raw figures and the outputs to be
  * checked to `<work>/result.json`. `olapbench/run.py` starts it, checks
  * the outputs and prints the result line.
  *
  * Usage: Harness <workload> <seconds> <trace 0|1> <inputDir> <workDir> <cores>
  */
object Harness {

  private val Rate: java.time.LocalDate => Double = _ => Enrichment.DefaultRate

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg, in, work, cores) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"olapbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val layers = if (trace) Some(new Layers) else None
    layers.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    val out =
      try workload match {
        case "ingest_small_batches" | "ingest_large_batches" =>
          ingest(spark, seconds, layers, in, work)
        case "tx_queries" => txQueries(spark, seconds, layers, in, work)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    val result = out + ("peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(s"$work/result.json"), Json(result))
  }

  private def now(): Long = System.nanoTime()
  private def secsSince(t0: Long): Double = (now() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timeMs[T](f: => T): (T, Double) = {
    val t0 = now(); val r = f; (r, (now() - t0) / 1e6)
  }

  /** VmHWM, the peak resident set of this process. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def walk(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  private def materialize(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  // ------------------------------------------------------------- ingest

  /** Rounds of closed backlog drains through `StreamMain.run`, each into
    * fresh bucket stores, one file per micro-batch. */
  private def ingest(spark: SparkSession, seconds: Double, layers: Option[Layers],
                     in: String, work: String): Map[String, Any] = {
    val progress = new Progress
    spark.streams.addListener(progress)
    def drain(out: String) =
      StreamMain.run(spark, s"$in/main", out, maxFilesPerTrigger = Some(1),
        rateFor = Rate)
    StreamMain.run(spark, s"$in/warm", s"$work/out/warm",
      maxFilesPerTrigger = Some(1), rateFor = Rate)
    // the warm-up drain is too short to reach a ledger fold; fold and
    // vacuum its stores once so the timed drains' fold runs warm too
    Pipeline.StoreLayout(s"$work/out/warm").all.foreach { s =>
      ManifestStore.snapshot(spark, s)
      ManifestStore.vacuum(spark, s, 1)
    }
    BusFlush(spark.sparkContext)
    progress.clear()
    val setupEnd = System.currentTimeMillis()

    val before = layers.map(_.totals)
    val wall0 = System.currentTimeMillis()
    val t0 = now()
    val rounds = ArrayBuffer.empty[(StreamMain.Status, Double)]
    while (rounds.isEmpty || secsSince(t0) < seconds) {
      val r0 = now()
      val st = drain(s"$work/out/r${rounds.size}")
      rounds += ((st, secsSince(r0)))
    }
    val wall1 = System.currentTimeMillis()
    BusFlush(spark.sparkContext)
    val batches = progress.dataBatches
    val batchMs = batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val lastRoot = s"$work/out/r${rounds.size - 1}"
    val layout = Pipeline.StoreLayout(lastRoot)
    val storeFiles = layout.all.flatMap(walk)
    val lastStatus = rounds.last._1

    val traced = layers.map { l =>
      val busy = l.stageBusyMs(wall0, wall1)
      val window = Layers.window(l.totals - before.get, wall1 - wall0, busy, batches.size)
      def phase(k: String) = median(batches.map(_.durations.getOrElse(k, 0L).toDouble))
      val perRound = batches.groupBy(_.runId).values
        .map(_.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3).toSeq
      val (_, readMs) = timeMs(layout.all.foreach(s =>
        ManifestStore.withStore(spark, s)(_.map(_.count()).getOrElse(0L))))
      window ++ replayDecodeEnrich(spark, in) ++ replayManifest(spark, in, work) ++ Map(
        "stream.add_batch_ms" -> phase("addBatch"),
        "stream.wal_commit_ms" -> phase("walCommit"),
        "stream.commit_offsets_ms" -> phase("commitOffsets"),
        "stream.latest_offset_ms" -> phase("latestOffset"),
        "stream.query_planning_ms" -> phase("queryPlanning"),
        "stream.outside_batches_s" ->
          median(rounds.map(_._2).zip(perRound).map { case (w, b) => w - b }.toSeq),
        "manifest.read_count_s" -> readMs / 1e3,
        "manifest.files" -> storeFiles.count { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") || n.endsWith(".csv")
        }.toDouble)
    }

    // read back the last round's stores for the output check
    val readBack = layout.all.map { store =>
      val name = Paths.get(store).getFileName.toString
      val (n, cents) = ManifestStore.withStore(spark, store)(_.map { df =>
        val r = df.agg(count(lit(1)),
          coalesce(sum(round(col("Amount_USD") * 100).cast("long")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }.getOrElse((0L, 0L)))
      name -> Seq(n, cents)
    }.toMap
    val committed = lastStatus.total
    Map(
      "setup_end_ms" -> setupEnd,
      "attempted" -> batches.size,
      "op_ms" -> batchMs,
      "op_names" -> batchMs.map(_ => "micro_batch"),
      "round_s" -> rounds.map(_._2).toSeq,
      "stored_bytes_per_row" -> storeFiles.map(Files.size(_)).sum.toDouble / committed,
      "check" -> Map(
        "statuses" -> rounds.map { case (st, _) =>
          Map("new_batches" -> st.newBatches, "valid" -> st.valid,
            "fraud" -> st.fraud, "errors" -> st.errors, "invalid_log" -> st.invalid)
        }.toSeq,
        "read_back" -> readBack),
      "layers" -> traced.getOrElse(Map.empty))
  }

  /** Decode, and enrich plus split, replayed on the first file of the
    * backlog: the per-row work of one micro batch, without the
    * streaming engine or the stores. */
  private def replayDecodeEnrich(spark: SparkSession, in: String): Map[String, Double] = {
    val text = spark.read.text(walk(s"$in/main").map(_.toString).min).persist()
    val krows = text.count() / 1000.0
    val decodeMs = (1 to 5).map(_ => timeMs(materialize(TransactionParser.fromJsonValue(text)))._2)
    val decoded = TransactionParser.fromJsonValue(text).persist()
    decoded.count()
    val enrichMs = (1 to 5).map { _ =>
      timeMs {
        val b = Enrichment.enrich(decoded, Enrichment.DefaultRate).persist()
        try Seq(Splitter.valid(b), Splitter.fraud(b),
          Enrichment.project(Splitter.errors(b)), Splitter.invalid(b)).foreach(materialize)
        finally b.unpersist()
      }._2
    }
    decoded.unpersist(); text.unpersist()
    Map("decode.ms_per_krow" -> median(decodeMs) / krows,
      "enrich.ms_per_krow" -> median(enrichMs) / krows)
  }

  /** The per-batch store protocol of the committed fan-out
    * (`Pipeline.startFanOutCommitted`, Pipeline.scala:196-224), replayed
    * through the public `ManifestStore` calls on side stores, one batch
    * per backlog file: ledger probe, commit and fold check per store,
    * then one explicit fold and vacuum per store. The replay must follow
    * that protocol: the `ymd` partition key, the four split projections
    * and the fold cadence. */
  private def replayManifest(spark: SparkSession, in: String,
                             work: String): Map[String, Double] = {
    val layout = Pipeline.StoreLayout(s"$work/replay")
    val probe, commit, fold = ArrayBuffer.empty[Double]
    val ymd = coalesce(
      col("Year").cast("long") * 10000L + col("Month").cast("long") * 100L +
        col("Day").cast("long"),
      lit(0L))
    walk(s"$in/main").map(_.toString).sorted.zipWithIndex.foreach { case (f, id) =>
      val b = Enrichment.enrich(TransactionParser.fromJsonValue(spark.read.text(f)),
        Enrichment.DefaultRate).persist()
      try {
        val parts = Seq(
          layout.valid -> Splitter.valid(b).withColumn("ymd", ymd),
          layout.fraud -> Splitter.fraud(b).withColumn("ymd", ymd),
          layout.errors -> Enrichment.project(Splitter.errors(b)).withColumn("ymd", ymd),
          layout.invalidLog -> Splitter.invalid(b)
            .select(Sinks.validationLogColumns.map(col): _*)
            .withColumn("ymd", lit(0L)))
        parts.foreach { case (store, df) =>
          probe += timeMs(ManifestStore.committed(spark, store, id.toLong))._2
          commit += timeMs(ManifestStore.commit(df, store, id.toLong, "ymd", append = true))._2
          fold += timeMs(ManifestStore.maybeSnapshot(spark, store, Pipeline.SnapshotEvery))._2
        }
      } finally b.unpersist()
    }
    val snap = layout.all.map(s => timeMs(ManifestStore.snapshot(spark, s))._2)
    val vac = layout.all.map(s => timeMs(ManifestStore.vacuum(spark, s, 1))._2)
    Map("manifest.committed_ms" -> median(probe.toSeq),
      "manifest.commit_ms" -> median(commit.toSeq),
      "manifest.maybe_snapshot_ms" -> median(fold.toSeq),
      "manifest.snapshot_ms" -> median(snap),
      "manifest.vacuum_ms" -> median(vac))
  }

  // ---------------------------------------------------------- tx_queries

  /** One client in a closed loop making rounds over the `tx*` registry
    * entries, in name order, on the generated `events` table. */
  private def txQueries(spark: SparkSession, seconds: Double, layers: Option[Layers],
                        in: String, work: String): Map[String, Any] = {
    val dir = s"$in/events"
    val entries = SparkEntry.queries.toSeq.filter(_._1.matches("tx[0-9]+_.*")).sortBy(_._1)
    val (processed, buildMs) = timeMs(ProcessedStore.processedTable(spark, dir))
    val processedBytes = processed.inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    val eventRows = spark.read.parquet(s"$dir/events.parquet").count()
    // warm-up round: each entry's result is written for the oracle check
    entries.foreach { case (name, fn) =>
      fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$work/check/$name")
    }
    val oracles = SparkEntry.oracleSql.filter(e => entries.exists(_._1 == e._1))
    // two more rounds let the JIT settle: timed rounds right after the
    // first one still speed up by a fifth
    (1 to 2).foreach(_ => entries.foreach { case (_, fn) => materialize(fn(spark, dir)) })
    BusFlush(spark.sparkContext)
    val setupEnd = System.currentTimeMillis()

    val before = layers.map(_.totals)
    val wall0 = System.currentTimeMillis()
    val t0 = now()
    val opMs = ArrayBuffer.empty[Double]
    val opNames = ArrayBuffer.empty[String]
    val roundS = ArrayBuffer.empty[Double]
    val perEntry = scala.collection.mutable.Map.empty[String, ArrayBuffer[Map[String, Double]]]
    while (roundS.isEmpty || secsSince(t0) < seconds) {
      val r0 = now()
      entries.foreach { case (name, fn) =>
        val e0 = layers.map(_.totals)
        val w0 = System.currentTimeMillis()
        val (_, ms) = timeMs(materialize(fn(spark, dir)))
        opMs += ms
        opNames += name
        layers.foreach { l =>
          val w1 = System.currentTimeMillis()
          BusFlush(spark.sparkContext)
          perEntry.getOrElseUpdate(name, ArrayBuffer.empty) += (Layers.window(
            l.totals - e0.get, w1 - w0, l.stageBusyMs(w0, w1), 1) + ("wall_ms" -> ms))
        }
      }
      roundS += secsSince(r0)
    }
    val wall1 = System.currentTimeMillis()
    BusFlush(spark.sparkContext)

    val traced = layers.map { l =>
      Files.writeString(Paths.get(s"$work/per_entry.json"), Json(perEntry.map {
        case (k, runs) => k -> runs.head.keys.map(m => m -> median(runs.map(_(m)).toSeq)).toMap
      }.toMap))
      Layers.window(l.totals - before.get, wall1 - wall0,
        l.stageBusyMs(wall0, wall1), roundS.size) ++ Map(
        "processed_store.build_s" -> buildMs / 1e3)
    }
    Map(
      "setup_end_ms" -> setupEnd,
      "attempted" -> opMs.size,
      "op_ms" -> opMs.toSeq,
      "op_names" -> opNames.toSeq,
      "round_s" -> roundS.toSeq,
      "stored_bytes_per_row" -> processedBytes.toDouble / eventRows,
      "check" -> Map("oracles" -> oracles, "entries" -> entries.map(_._1)),
      "layers" -> traced.getOrElse(Map.empty))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
  }
}
