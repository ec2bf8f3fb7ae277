#!/usr/bin/env python3
"""ETL benchmark of record for graft.

    python3 etlbench/run.py --workload csv_ingest --seed 1 --seconds 10 --trace 0
    python3 etlbench/run.py --workload all --seed 1     # every workload, both modes

Run from the root of a checkout. The first run builds the program from
source (etlbench/build.py); inputs are generated from the seed and cached
(etlbench/gen.py); every call's output is checked (etlbench/check.py).

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer ones. See etlbench/README.md for what each means.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(build.BUILD_DIR, "work")
DATA = os.path.join(build.BUILD_DIR, "data")

# an untraced run makes CLI invocations until it has measured --seconds of
# job time, and at least this many
MIN_INVOCATIONS = 2
# fixed heap and young generation: with G1's adaptive young generation the
# peak resident set spread by 15-20% between identical runs
HEAP, YOUNG = "2g", "512m"
RUN_DEADLINE_S = 170
# traced run: repeats of (untraced call, traced stages), and calls of the
# single-core baseline (the first is cold and not counted)
TRACE_REPEATS, BASELINE_CALLS = 2, 2

# the --add-opens set Spark needs on JDK 17 outside spark-submit (as in
# the program's own build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


class ProcessFailed(RuntimeError):
    """A harness JVM exited with a non-zero code."""


class Deadline:
    def __init__(self, seconds):
        self.end = time.monotonic() + seconds

    def left(self):
        left = self.end - time.monotonic()
        if left <= 0:
            raise RuntimeError("run deadline passed")
        return left


def jvm(role, workload, data, out, deadline, single_core=False, **opts):
    """Launch one harness JVM and return its result object."""
    os.makedirs(out)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    result = os.path.join(out, "result.json")
    cmd = ["java", *ADD_OPENS, "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG, "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    if single_core:
        cmd.append("-XX:ActiveProcessorCount=1")
    cmd += ["-cp", build.classpath(), "etlbench.Harness", "--role", role,
            "--workload", workload, "--data", data, "--out", out, "--result", result]
    for k, v in opts.items():
        cmd += ["--" + k, str(v)]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_MASTER"}
    with open(os.path.join(out, "jvm.log"), "w") as log:
        launch_ns = time.time_ns()
        cmd += ["--launch-us", str(launch_ns // 1000)]
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=ROOT, env=env)
        try:
            code = proc.wait(timeout=deadline.left())
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("%s JVM timed out" % role)
    print("%s JVM for %s: exit %d after %.1f s" % (
        role, workload, code, (time.time_ns() - launch_ns) / 1e9), file=sys.stderr)
    if code != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise ProcessFailed("%s JVM exited %d:\n%s" % (role, code, tail))
    with open(result) as f:
        return json.load(f)


def checked(workload, data, calls):
    """Check every call's output; returns (attempted, failed, recalls, precisions, dropped)."""
    failed, recalls, precisions, dropped = 0, [], [], []
    for c in calls:
        ok = c["ok"]
        if ok:
            ok, recall, precision, n_dropped, detail = check.CHECKS[workload](data, c["dir"])
            recalls.append(recall)
            precisions.append(precision)
            dropped.append(n_dropped)
            if not ok:
                print("check failed for %s: %s" % (c["dir"], detail), file=sys.stderr)
        failed += not ok
    return len(calls), failed, recalls, precisions, dropped


def metric(value, unit):
    return {"value": value, "unit": unit}


def untraced(workload, data, work, seconds, deadline):
    """CLI invocations until --seconds of job time (and MIN_INVOCATIONS) are
    measured. An invocation that exits non-zero counts as a failed call."""
    runs, crashed = [], 0
    while len(runs) + crashed < MIN_INVOCATIONS or (
            runs and sum(r["calls"][0]["s"] for r in runs) < seconds):
        out = os.path.join(work, "cli%d" % (len(runs) + crashed))
        try:
            runs.append(jvm("cli", workload, data, out, deadline))
        except ProcessFailed as e:
            print(e, file=sys.stderr)
            crashed += 1
    if not runs:
        raise RuntimeError("every invocation failed")
    calls = [r["calls"][0] for r in runs]
    attempted, failed, recalls, precisions, _ = checked(workload, data, calls)
    attempted += crashed
    failed += crashed
    job_s = statistics.median(c["s"] for c in calls)
    rows = gen_truth(data)["input_rows"]
    metrics = {
        "setup_s": metric(statistics.median(r["setup_s"] for r in runs), "s"),
        "job_s": metric(job_s, "s"),
        "rows_per_s": metric(rows / job_s, "1/s"),
        "peak_rss_mb": metric(statistics.median(r["vmhwm_kb"] for r in runs) / 1024.0, "MB"),
        "ok_frac": metric((attempted - failed) / attempted, "ratio"),
        "dup_recall": metric(min(recalls, default=0.0), "ratio"),
        "dup_precision": metric(min(precisions, default=0.0), "ratio"),
    }
    return attempted, failed, metrics


def self_times(spans):
    """Median self time per stage: span duration minus its base spans'."""
    by_run = {}
    for s in spans:
        by_run.setdefault(s["run"], {})[s["name"]] = s
    selfs = {}
    for run in by_run.values():
        dur = {n: (s["end_ns"] - s["start_ns"]) / 1e9 for n, s in run.items()}
        for n, s in run.items():
            if n != "trace":
                selfs.setdefault(n, []).append(dur[n] - sum(dur[b] for b in s["base"]))
    return {n: statistics.median(v) for n, v in selfs.items()}, \
        statistics.median((r["engine.run"]["end_ns"] - r["engine.run"]["start_ns"]) / 1e9
                          for r in by_run.values())


def output_size(dirs):
    files = size = 0
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(base, n))
    return size / len(dirs), files / len(dirs)


def traced(workload, data, work, deadline):
    out = os.path.join(work, "trace")
    t = jvm("trace", workload, data, out, deadline, repeats=TRACE_REPEATS)
    b = jvm("baseline", workload, data, os.path.join(work, "base"), deadline,
            single_core=True, calls=BASELINE_CALLS)
    run_calls = [{"dir": d, "s": 0.0, "ok": True} for d in t["run_dirs"]]
    attempted, failed, _, _, dropped = checked(
        workload, data, t["first"] + t["warm"] + b["warm"] + run_calls)
    with open(os.path.join(out, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    selfs, traced_job = self_times(spans)
    untraced_job = statistics.median(c["s"] for c in t["warm"])
    single_job = statistics.median(c["s"] for c in b["warm"][1:])
    counters = {k: statistics.median(c[k] for c in t["counters"]) for k in t["counters"][0]}
    rows = gen_truth(data)["input_rows"]
    bytes_out, files_out = output_size(t["run_dirs"])
    if workload == "near_dedup":
        pairs, pair_precision = check.candidate_pairs(data, out)
    else:
        pairs, pair_precision = 0, 1.0
    self_sum = sum(selfs.values())
    metrics = {
        "sources.scan_s": metric(selfs["sources.scan"], "s"),
        "sources.write_s": metric(selfs["engine.run"], "s"),
        "sources.bytes_out": metric(bytes_out, "bytes"),
        "sources.files_out": metric(files_out, "count"),
        "infer.sample_s": metric(selfs["infer.sample"], "s"),
        "infer.cast_s": metric(selfs["infer.cast"], "s"),
        "transform.project_s": metric(selfs["transform.project"], "s"),
        "validate.check_s": metric(selfs["validate.check"], "s"),
        "validate.rejected_rows": metric(
            statistics.median(dropped) if workload == "parquet_validate_export" else 0,
            "count"),
        "engine.plan_s": metric(selfs["engine.plan"], "s"),
        "engine.spark_jobs": metric(counters["jobs"], "count"),
        "engine.source_reads_per_row": metric(counters["records_read"] / rows, "ratio"),
        "functions.minhash_sig_s": metric(selfs["functions.minhash_sig"], "s"),
        "llm.minhash_pairs_s": metric(selfs["llm.minhash_pairs"], "s"),
        "llm.closure_s": metric(selfs["llm.closure"], "s"),
        "llm.candidate_pairs": metric(pairs, "count"),
        "llm.pair_precision": metric(pair_precision, "ratio"),
        "spark.executor_cpu_s": metric(counters["cpu_ns"] / 1e9, "s"),
        "spark.gc_s": metric(counters["gc_ms"] / 1e3, "s"),
        "spark.shuffle_write_bytes": metric(counters["shuffle_write_bytes"], "bytes"),
        "spark.spill_bytes": metric(counters["spill_bytes"], "bytes"),
        "spark.tasks": metric(counters["tasks"], "count"),
        "spark.speedup_vs_1core": metric(single_job / untraced_job, "x"),
        "trace.cold_job_s": metric(t["first"][0]["s"], "s"),
        "trace.self_sum_s": metric(self_sum, "s"),
        "trace.job_s": metric(traced_job, "s"),
        "trace.untraced_job_s": metric(untraced_job, "s"),
        "trace.overhead_s": metric(traced_job - untraced_job, "s"),
    }
    return attempted, failed, metrics


def gen_truth(data):
    with open(os.path.join(data, "truth.json")) as f:
        return json.load(f)


def one(workload, seed, seconds, trace):
    deadline = Deadline(RUN_DEADLINE_S)
    data = os.path.join(DATA, workload, "seed-%d" % seed)
    gen.GENERATORS[workload](data, seed)
    work = os.path.join(WORK, "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        if trace:
            attempted, failed, metrics = traced(workload, data, work, deadline)
        else:
            attempted, failed, metrics = untraced(workload, data, work, seconds, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(gen.GENERATORS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    if args.workload == "all":
        for w in gen.GENERATORS:
            for trace in (0, 1):
                print(json.dumps({"workload": w, "trace": trace,
                                  **one(w, args.seed, args.seconds, trace)}), flush=True)
        return 0
    print(json.dumps(one(args.workload, args.seed, args.seconds, args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
