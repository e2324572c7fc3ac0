#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark (see build.py) on first use, runs
the workload in its own JVM, checks the outputs, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (spans go to .bench_trace/). The
line before it holds diagnostics: loadavg at start and end, sample
counts, generator lateness, check counts.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("ingest_backlog", "analytics_heavies")
# The layers whose per-layer metrics each workload measures. A traced run
# must report every per-layer metric of its own layers; the other layers
# did no work there and read 0.
LAYERS = {
    "ingest_backlog": ("sources.", "streaming.", "storage.", "events.", "spark.", "jvm."),
    "analytics_heavies": ("queries.",),
}
# A run must end within this many seconds; a run that also builds gets
# the build's own time on top.
RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(2, n))


def jvm_command(classes, jars, run_dir, args):
    n = cpus()
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           f"-XX:ParallelGCThreads={n}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "graftbench.Main",
    ] + args
    return cmd, n


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_lines(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)


def oracle_check(data_dir, out_dir):
    """Each dumped query result against its DuckDB oracle; returns the
    names of the queries whose rows, columns or values differ."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{data_dir}/documents.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for q, sql in sorted(oracle.items()):
        t = pq.read_table(os.path.join(out_dir, q))
        s_cols = list(t.column_names)
        s_rows = list(zip(*[t.column(c).to_pylist() for c in s_cols]))
        a = con.execute(sql).arrow()
        d_cols = list(a.column_names)
        d_rows = list(zip(*[a.column(c).to_pylist() for c in d_cols]))
        if sorted(s_cols) != sorted(d_cols) or table_lines(s_cols, s_rows) != table_lines(d_cols, d_rows):
            bad.append(q)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes, jars = build.build()

    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    trace_file = os.path.join(ROOT, ".bench_trace", f"{a.workload}-seed{a.seed}.jsonl")
    result_file = os.path.join(run_dir, "result.json")
    cmd, n = jvm_command(classes, jars, run_dir, [
        a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir,
        os.path.join(HERE, "data"), result_file, trace_file])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n))
    log_path = os.path.join(ROOT, ".bench_run", f"{a.workload}-{os.getpid()}.log")
    t0 = time.time()
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                 cwd=run_dir, start_new_session=True)
            try:
                code = p.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                code = "timeout"
        if code != 0 or not os.path.exists(result_file):
            with open(log_path) as log:
                tail = log.read()[-6000:]
            sys.stderr.write(tail)
            sys.exit(f"benchmark JVM failed ({code})")
        with open(result_file) as f:
            r = json.load(f)
        if a.workload == "analytics_heavies":
            t_oracle = time.time()
            bad = oracle_check(os.path.join(HERE, "data"), os.path.join(run_dir, "analytics"))
            r["diagnostics"]["oracle_s"] = round(time.time() - t_oracle, 3)
            if bad:
                per_query = r["attempted"] // len(json.load(open(os.path.join(run_dir, "analytics", "oracle_sql.json"))))
                r["correct"] = False
                r["failed"] = min(r["attempted"], r["failed"] + per_query * len(bad))
                r["diagnostics"]["oracle_mismatch"] = bad
            r["diagnostics"]["oracle_checked"] = True
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        metrics = {}
        for m in wanted:
            got = r["metrics"].get(m["name"])
            if got is None:
                if not a.trace or m["name"].startswith(LAYERS[a.workload]):
                    sys.exit(f"workload {a.workload} did not measure {m['name']}")
                got = {"value": 0.0, "unit": m["unit"]}
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        diag = dict(r["diagnostics"], wall_s=round(time.time() - t0, 3))
        if a.trace:
            # the traced run's own end-to-end figures, for the tracing overhead
            diag["end_to_end"] = {m["name"]: r["metrics"][m["name"]]["value"]
                                  for m in spec["end_to_end"] if m["name"] in r["metrics"]}
        print(json.dumps({"diagnostics": diag}))
        print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                          "failed": r["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.exists(log_path):
            os.remove(log_path)


if __name__ == "__main__":
    main()
