#!/usr/bin/env python3
"""Benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (sbt, output under .bench_build/), and every run
generates its workload's input from --seed (cached per seed under
.bench_build/perfbench/inputs/). One JVM with local[nproc] then times
whole passes over the workload's query pool for --seconds, and every
query's result is checked against its DuckDB oracle with
scripts/selfcheck.py. The last line of stdout is one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones (perfbench/METRICS.md defines both), and the spans
of the traced ops are written to .bench_build/perfbench/runs/. The
command exits non-zero when the build, a run or an output check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CPUS = os.cpu_count() or 1
FILES = 2 * CPUS

# Per workload: the query pool, the input (generator kind and size), the
# input the queries are warmed up on and how many passes run on it before
# two untimed passes on the full input, and the percentile reported as
# latency_tail_s. The first ops on a cold JVM run up to twice as slow.
# wordcount's op times kept falling for about ten ops on the full input
# after a warm-up on a smaller one, so it warms up on the full input; the
# drains' warm-up mostly pays their cold start, so a small input does.
WORKLOADS = {
    "wordcount_corpus": {
        "pool": ["wordcount_topn"],
        "input": ("zipf_corpus", {"tokens": 4_000_000}),
        "warm": ("zipf_corpus", {"tokens": 4_000_000}),
        "warm_passes": 8,
        "tail": 75,
    },
    # the stream drains' input copies the sf0.1 fixture's events table:
    # 100,000 rows over 1,500 users (METRICS.md)
    "stream_drain": {
        "pool": ["events_stream_tws_totals", "events_stream_dedup",
                 "events_stream_tumbling", "events_stream_join"],
        "input": ("events", {"rows": 100_000, "users": 1_500}),
        "warm": ("events", {"rows": 10_000, "users": 150}),
        "warm_passes": 1,
        "tail": 90,
    },
}

END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
              "ops_per_s": "1/s", "cpu_s_per_op": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "build.s": "s",
    "catalyst.executions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.driver_only_s": "s",
    "scheduler.task_wait_s": "s", "scheduler.slot_busy_ratio": "ratio",
    "task.run_s": "s", "task.cpu_s": "s", "task.gc_s": "s",
    "task.peak_exec_mb": "MB", "task.failed": "count", "task.skew": "ratio",
    "scan.input_mb": "MB", "scan.input_rows": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.records": "count", "shuffle.write_s": "s",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "shuffle.combine_ratio": "ratio",
    "plan.exchanges": "count", "plan.reused_exchanges": "count",
    "plan.bhj": "count", "plan.shj": "count", "plan.smj": "count",
    "plan.join_yield": "ratio",
    "caching.release_s": "s", "caching.peak_mb": "MB",
    "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.state_commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.state_partitions": "count",
    "sink.output_mb": "MB",
    "trace.overhead_ratio": "ratio",
}

# JDK 17 module opens Spark needs outside spark-submit (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

SOURCES = ["src/main/scala/**/*.scala", "perfbench/src/**/*.scala",
           "perfbench/build.sbt", "perfbench/project/build.properties"]
SELFCHECK = os.path.join(ROOT, "scripts", "selfcheck.py")


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    """Compile the engine and the harness unless the sources are unchanged
    since the last build; return the class directory."""
    files = sorted(f for p in SOURCES
                   for f in glob.glob(os.path.join(ROOT, p), recursive=True))
    if not any(f.endswith("graft/SparkEntry.scala") for f in files):
        fail("engine sources (src/main/scala/graft) not found")
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "build.stamp")
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE,
                            stdin=subprocess.DEVNULL, stdout=fh,
                            stderr=subprocess.STDOUT, timeout=800).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc}), log in {log}")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


# the size parameters --scale multiplies (the smoke test runs tiny inputs)
SIZE_KEYS = ("tokens", "rows", "users")


def materialize(spec, seed, scale):
    kind, params = spec
    params = {k: max(50, int(v * scale)) if k in SIZE_KEYS else v
              for k, v in params.items()}
    params["files"] = FILES
    # the key covers the generator's code, so an edited generator never
    # serves inputs cached by an older one
    with open(gen.__file__, "rb") as fh:
        code = fh.read()
    key = hashlib.sha256(json.dumps([kind, params], sort_keys=True)
                         .encode() + code).hexdigest()[:12]
    dir_ = os.path.join(BUILD, "inputs", f"{kind}-{key}-s{seed}")
    return dir_, gen.materialize(dir_, kind, seed, params)


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, -(-p * len(s) // 100) - 1))]


def ratio(after, before):
    """Median over the queries of (median wall time of the query's ops in
    `after` / in `before`)."""
    ratios = []
    for q in sorted({o["q"] for o in after}):
        a = [o["s"] for o in before if o["q"] == q]
        b = [o["s"] for o in after if o["q"] == q]
        if a and b:
            ratios.append(statistics.median(b) / statistics.median(a))
    return statistics.median(ratios) if ratios else 1.0


def run_jvm(classes, wl, data, warm, args, run_dir):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME must name the Spark installation")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-Xms3g", "-Xmx3g", "-Xmn1g",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_home}/jars/*", "perfbench.Harness",
            "--pool", ",".join(wl["pool"]), "--cpus", str(CPUS),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--seed", str(args.seed), "--data", data, "--warm", warm,
            "--warm-passes", str(wl["warm_passes"]),
            "--scratch", tmp, "--out", os.path.join(run_dir, "out"),
            "--spans", os.path.join(run_dir, "spans.jsonl")]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.run(cmd, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=fh, text=True,
                              timeout=args.seconds + 120)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness failed (exit {proc.returncode}), log in {log}")
    with open(os.path.join(run_dir, "raw.json"), "w") as fh:
        fh.write(lines[-1][len("PERFBENCH "):])
    return json.loads(lines[-1][len("PERFBENCH "):])


def check(run_dir, data, pool):
    """Names of the pool's queries whose output fails the oracle check."""
    proc = subprocess.run(
        [sys.executable, SELFCHECK, os.path.join(run_dir, "out"),
         os.path.join(data, "check")] + pool,
        stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=120)
    passed = {l.split()[1] for l in proc.stdout.splitlines()
              if l.startswith("PASS ")}
    bad = [q for q in pool if q not in passed]
    if bad:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs tiny inputs)")
    args = ap.parse_args()
    if not os.path.exists(SELFCHECK):
        fail("scripts/selfcheck.py not found: run from a repository checkout")
    wl = WORKLOADS[args.workload]
    classes = build()
    data, props = materialize(wl["input"], args.seed, args.scale)
    warm, _ = materialize(wl["warm"], args.seed, args.scale)
    print("input " + json.dumps(props, sort_keys=True))

    run_dir = os.path.join(BUILD, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}"
                           f"-{os.getpid()}-{int(time.time())}")
    os.makedirs(run_dir)
    t0 = time.time()
    try:
        raw = run_jvm(classes, wl, data, warm, args, run_dir)
        t1 = time.time()
        bad = check(run_dir, data, wl["pool"])
    finally:
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)

    ops = raw["ops"]
    bad += [q for q, ok in raw["written"].items() if not ok]
    failed = sum(1 for o in ops if not o["ok"] or o["q"] in bad)
    untraced = [o for o in ops if not o["traced"]]
    walls = [o["s"] for o in untraced]
    n = len(ops)
    if args.trace:
        layers = raw["layers"]
        values = {k: statistics.fmean(row[k] for row in layers)
                  for k in PER_LAYER if k != "trace.overhead_ratio"}
        traced = [o for o in ops if o["traced"]]
        values["trace.overhead_ratio"] = ratio(traced, untraced)
        units = PER_LAYER
        wall = statistics.fmean(o["s"] for o in traced)
        share = {
            "fixed_share": (values["build.s"] + values["catalyst.analysis_s"]
                            + values["catalyst.optimization_s"]
                            + values["catalyst.planning_s"]
                            + values["scheduler.driver_only_s"]) / wall,
            "task_share": values["task.run_s"] / (wall * CPUS),
            "streaming_share": values["streaming.trigger_s"] / wall,
        }
        print("layer shares of op wall time " +
              json.dumps({k: round(v, 4) for k, v in share.items()}))
    else:
        values = {
            "setup_s": raw["setup_s"],
            "latency_p50_s": statistics.median(walls),
            "latency_tail_s": percentile(walls, wl["tail"]),
            "ops_per_s": n / raw["wall_s"],
            "cpu_s_per_op": raw["cpu_s"] / n,
            "peak_rss_mb": raw["peak_rss_mb"],
        }
        units = END_TO_END
    # how much the untraced ops' times moved between the run's two halves
    half = len(untraced) // 2
    drift = ratio(untraced[half:], untraced[:half])
    print(f"seconds: session {raw['session_s']:.1f} "
          f"setup {raw['setup_s']:.1f} timed {raw['wall_s']:.1f} "
          f"jvm {t1 - t0:.1f} "
          f"oracle-check {time.time() - t1:.1f}")
    print(f"ops {len(ops)} failed {failed} failed_ratio "
          f"{failed / len(ops):.4f} tail=p{wl['tail']} "
          f"drift {drift:.3f} "
          f"failed_checks {sorted(set(bad))}")
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
