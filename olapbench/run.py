#!/usr/bin/env python3
"""Ingest-and-query benchmark of the engine.

Usage (from the root of a checkout):
    python3 olapbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness on first use (sbt, offline), makes the
workload's inputs from the seed, runs the harness in one JVM, checks the
outputs apart from the program, and prints one JSON line last on stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Exits non-zero without a result line when the build, the run or a check
fails.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "classpath.txt")

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ingest_small_batches", "ingest_large_batches", "tx_queries")
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"
JVM_TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s", "op_ms": "ms", "rows_per_s": "1/s",
    "stored_bytes_per_row": "B", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "stream.add_batch_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.latest_offset_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.outside_batches_s": "s",
    "decode.ms_per_krow": "ms", "enrich.ms_per_krow": "ms",
    "manifest.committed_ms": "ms", "manifest.commit_ms": "ms",
    "manifest.maybe_snapshot_ms": "ms", "manifest.snapshot_ms": "ms",
    "manifest.vacuum_ms": "ms", "manifest.read_count_s": "s",
    "manifest.files": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms", "codegen.compile_ms": "ms", "exec.ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.driver_gap_s": "s", "spark.scan_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.output_bytes": "B",
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("olapbench: " + msg, file=sys.stderr)
    sys.exit(1)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout or interrupt the whole
    group is killed and waited for."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def newest_mtime(paths):
    newest = 0.0
    for top in paths:
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the engine and the harness with sbt in offline mode when the
    classpath file is missing or older than any source."""
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    build_files = [os.path.join(ROOT, "build.sbt"),
                   os.path.join(HARNESS, "build.sbt")]
    if not all(os.path.exists(p) for p in sources + build_files):
        fail("engine sources or build files are missing under " + ROOT)
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) > max(
            newest_mtime(sources), *map(os.path.getmtime, build_files)):
        return
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as f:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "export Compile/fullClasspath"],
                         timeout=840, cwd=HARNESS, env=env,
                         stdout=f, stderr=subprocess.STDOUT)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if code != 0 or not cp:
        fail("build failed (exit %d), see %s" % (code, log))
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())


def typical_op_ms(names, ms):
    """Geometric mean over the workload's distinct operations (one kind of
    micro batch, or the 16 tx entries) of each operation's median latency."""
    by = {}
    for n, m in zip(names, ms):
        by.setdefault(n, []).append(m)
    return statistics.geometric_mean([statistics.median(v) for v in by.values()])


def make_inputs(workload, seed, inputs):
    if workload == "tx_queries":
        return gen.write_events(seed, os.path.join(inputs, "events"))
    return gen.write_ingest(workload, seed, inputs)


def run_harness(workload, seconds, trace, inputs, work):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"] + opens +
           ["-cp", cp, "olapbench.Harness", workload, str(seconds),
            "1" if trace else "0", inputs, work, str(CORES)])
    log = os.path.join(work, "harness.log")
    with open(log, "w") as f:
        code = run_group(cmd, timeout=JVM_TIMEOUT_S, cwd=work,
                         stdout=f, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("harness exited with %d" % code)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    work = os.path.join(WORK, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "in")
    os.makedirs(inputs)
    expected = make_inputs(a.workload, a.seed, inputs)
    # set-up is timed from the JVM's launch: the build and the input
    # generation belong to the benchmark, not to the program
    setup_start = time.time()
    r = run_harness(a.workload, a.seconds, a.trace, inputs, work)

    if a.workload == "tx_queries":
        rows_per_round = expected["rows"] * len(r["check"]["entries"])
        problems = checks.check_tx(os.path.join(work, "check"),
                                   os.path.join(inputs, "events"),
                                   r["check"]["entries"], r["check"]["oracles"],
                                   expected["tx1"])
    else:
        rows_per_round = expected["rows"]
        problems = checks.check_ingest(r, expected)
    for p in problems:
        print("olapbench: check failed: " + p, file=sys.stderr)

    values = {
        "setup_s": r["setup_end_ms"] / 1e3 - setup_start,
        "op_ms": typical_op_ms(r["op_names"], r["op_ms"]),
        "rows_per_s": rows_per_round / statistics.median(r["round_s"]),
        "stored_bytes_per_row": r["stored_bytes_per_row"],
        "peak_rss_mb": r["peak_rss_mb"],
    }
    if a.trace:
        layers = r["layers"]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
        # the traced run's own timings, to compare with untraced runs
        # for the tracing overhead
        print("olapbench: traced op_ms %.1f rows_per_s %.1f"
              % (values["op_ms"], values["rows_per_s"]), file=sys.stderr)
        if a.workload == "tx_queries":
            print("olapbench: processed_store.build_s %.3f"
                  % layers["processed_store.build_s"], file=sys.stderr)
        side = os.path.join(work, "per_entry.json")
        if os.path.exists(side):
            keep = os.path.join(WORK, "per_entry-%s.json" % a.workload)
            shutil.copy(side, keep)
            print("olapbench: per-entry layers in " + keep, file=sys.stderr)
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": r["attempted"],
                      "failed": 0, "metrics": metrics}))


if __name__ == "__main__":
    main()
