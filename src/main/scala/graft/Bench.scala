package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at the given scale
  * factor and prints ONE JSON line.
  *
  * Measurement contract (VERDICT r01 fixes):
  *  - results are materialized by executing the query's OWN
  *    `QueryExecution` to exhaustion (`toRdd.foreach`) — the same
  *    full-plan materialization as the earlier noop-format write (every
  *    row of every partition is produced; a bare `count()` would let
  *    Catalyst prune columns and skip sort work), chosen because a
  *    `df.write` runs a SEPARATE QueryExecution: the lint below would
  *    otherwise walk an adaptive plan that never executed and still
  *    shows the INITIAL physical plan (the PlanSpec AQE tests document
  *    the same drive-this-queryExecution gotcha);
  *  - a failing query is recorded in `"failed"` and the process exits
  *    non-zero, so a broken query can never bench as a fast success;
  *  - every query's EXECUTED plan is linted through the shared
  *    registry policy ([[graft.plans.RegistryAudit]], VERDICT r6 #6):
  *    PlanAuditSpec gates the compiled plan at test scale, but AQE may
  *    choose DIFFERENT physical plans at bench scale — this lints the
  *    final adaptive plan the benched run actually executed. Findings
  *    land in `"lint"`, `"lint_clean"` goes false, and the process
  *    exits non-zero: a scale-killer can never bench as a success.
  */
object Bench {

  /** Host-calibration workload (VERDICT r14 #2): a FIXED, data-free,
    * CPU-bound aggregate — pinned row count, codegen'd hash+sum over
    * `spark.range`, no file IO — whose wall seconds measure the HOST,
    * not the engine. Both bench mains run it first and emit
    * `calib_sec` (min of 2, like every other entry), so cross-round
    * comparisons can divide out host drift (the r13/r14 verdicts each
    * burned a section relitigating morning-vs-afternoon load) instead
    * of arguing about it in prose. Normalized totals are
    * `total / calib_sec` — dimensionless, host-independent to first
    * order. */
  private[graft] def calibSec(spark: SparkSession): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      // avg (not sum) over the hash: summing 400M raw xxhash64 values
      // overflows a long under ANSI mode; the hash work is the point
      spark.range(400000000L)
        .selectExpr("avg(xxhash64(id) % 1000000) AS h", "sum(id % 97) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(pass(), pass())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Neutral warm-up (no test-table data touched): boots the scheduler,
    // codegen compiler, and noop write path so their one-time cost isn't
    // attributed to whichever query sorts first alphabetically.
    spark.range(1000000).selectExpr("sum(id) AS s")
      .write.format("noop").mode("overwrite").save()
    // host calibration BEFORE the query sweep (VERDICT r14 #2): the
    // fixed CPU-bound workload's seconds ride the JSON as calib_sec
    val calib = calibSec(spark)
    var failed = List.empty[String]
    val nameFilter0 = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.r).map(re => (n: String) => re.findFirstIn(n).isDefined)
      .getOrElse((_: String) => true)
    // cold/warm split for deployment-building entries (VERDICT r14
    // #7): ingest_fates' FIRST pass constructs a whole ingest
    // deployment (bootstrap + one shard run — ~20 s of fixture work
    // that is not query cost). Build the memoized fixture BEFORE the
    // sweep and emit its seconds separately, so both timed passes of
    // the entry measure pure query cost and the bench total can never
    // absorb fixture construction.
    val fixtureSec: Double =
      if (!nameFilter0("ingest_fates")) 0.0
      else {
        val t0 = System.nanoTime()
        try graft.llmdata.Ingest.ingestArtifactsFor(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] ingest fixture build FAILED: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
    // Min of 2 passes per query (VERDICT r03 #6): a loaded host inflates
    // single-shot timings ~uniformly; the min of two back-to-back runs is
    // far more robust while keeping the JSON contract unchanged. A query
    // failing EITHER pass lands in `failed` exactly once with time 0.0
    // (the failed list + non-zero exit are authoritative; a sentinel 0
    // can never be mistaken for a measured success alongside them), and a
    // first-pass failure is not re-run.
    var lint = List.empty[String]
    // Local-iteration subset knob (never set by the driver): a regex
    // over query names. A filtered run is NOT a contract run — the
    // JSON line still prints, but with only the matching entries.
    val nameFilter = nameFilter0
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => nameFilter(n) }.map { case (name, fn) =>
      var lastRun: Option[org.apache.spark.sql.DataFrame] = None
      def onePass(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          // drives df's OWN QueryExecution: full materialization AND
          // the finalized adaptive plan for the lint below
          df.queryExecution.toRdd.foreach(_ => ())
          lastRun = Some(df)
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
        }
      }
      // BOTH pass times are recorded next to the min (VERDICT r9 #6):
      // min-of-2 hides which pass a host-load spike hit, so an outlier
      // reads as a regression — [t1, t2] makes it self-diagnosing
      val p1 = onePass()
      val p2 = p1.flatMap(_ => onePass())
      val t = for (a <- p1; b <- p2) yield math.min(a, b)
      if (t.isEmpty) failed ::= name
      // lint the FINAL adaptive plan the run above executed — the
      // registry policy at the benched scale, not the test scale
      lastRun.foreach { df =>
        graft.plans.RegistryAudit.unexempt(name, df).foreach { f =>
          System.err.println(s"[bench] $name LINT: $f")
          lint ::= s"$name: $f"
        }
      }
      (name, t.getOrElse(0.0), Seq(p1, p2).flatten)
    }
    // memo builds against hits, so a warm-memo pass reads as one
    System.err.println("[bench] memo " + Memo.stats.toSeq.sortBy(_._1)
      .map { case (kind, s) =>
        f"$kind hits=${s.hits} misses=${s.misses} build_s=${s.buildSeconds}%.3f"
      }.mkString("; "))
    Memo.release()
    // r16 (VERDICT r15 #4): the one-line JSON grew with the entry
    // count until a truncated stdout capture cost round 15 its
    // round-over-round geomean. Two defenses, same keys and format the
    // driver already parses: (a) per-entry seconds print with THREE
    // decimals (ms precision — sub-ms digits of a wall clock are
    // noise), roughly halving the line; (b) the identical line is
    // also persisted to a temp file whose path goes to STDERR, so a
    // clipped stdout is recoverable. The line stays LAST on stdout.
    def f3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val ps = results.map { case (k, _, passes) =>
      "\"" + k + "\":" + passes.map(f3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val fs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ls = lint.sorted.map("\"" + _.replace("\"", "'") + "\"")
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // a FILTERED run is not a contract run (ADVICE r14): the marker
    // makes a partial JSON line impossible to ingest as a full result
    val filtered = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(re => s""","filtered":"${re.replace("\\", "\\\\")
        .replace("\"", "'")}"""").getOrElse("")
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","calib_sec":${f3(calib)},"total_calib_norm":${f3(total / calib)},"ingest_fixture_sec":${f3(fixtureSec)},"queries":$qs,"passes":$ps,"failed":$fs,"lint_clean":${lint.isEmpty},"lint":$ls$filtered,"sf":"$sfDir"}"""
    try {
      val side = java.nio.file.Files.createTempFile("graft-bench-", ".json")
      java.nio.file.Files.write(side, (line + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] json also written to $side")
    } catch { case _: Throwable => () } // the stdout line is the contract
    println(line)
    spark.stop()
    if (failed.nonEmpty || lint.nonEmpty) sys.exit(1)
  }
}
