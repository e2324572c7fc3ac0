#!/usr/bin/env python3
"""Per-stage and per-task times of graft's micro-batch jobs, from a Spark event log.

    python3 tools/stage_times.py <event log file or dir>

Reads a Spark event log: zstd-compressed, as Spark 4 writes it by
default, or plain JSON lines; a file, a rolling log's directory, or a
directory whose newest entry is a log. Prints, for every micro-batch
job (description `graft effects batch <n>`), each stage's wall time
and each of its tasks':

- launch delay: task launch minus stage submission, ms;
- deser: executor deserialization of the task (closure, plan), ms;
- run: executor run time, ms;
- cpu: executor CPU time, ms.

The last lines give the median over all those jobs of each stage
position's wall time and of its slowest task's launch delay and
deserialization. Enable the log for any run with, for example,

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/events" \\
        python3 perfbench/run.py --workload ingest_backlog --trace 0

(the directory must exist). A zstd log needs the `zstd` command on PATH.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
JOBS = "graft effects batch"


def event_files(path):
    """The log's files in order: a file is itself; a rolling log's dir
    (Spark 4's default, `eventlog_v2_<app>/events_<n>_<app>[.zstd]`)
    its `events_*` files by n; any other dir its newest entry."""
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if not n.startswith(".")]
    parts = [n for n in names if n.startswith("events_")]
    if parts:
        return [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    if not names:
        sys.exit(f"no event log in {path}")
    return event_files(max((os.path.join(path, n) for n in names), key=os.path.getmtime))


def lines(path):
    with open(path, "rb") as f:
        compressed = f.read(4) == ZSTD_MAGIC
    if not compressed:
        with open(path, "rb") as f:
            yield from f
        return
    # a log still being written ends mid-frame: keep what decodes
    proc = subprocess.Popen(["zstd", "-dc", path], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    yield from proc.stdout
    proc.wait()


def read(files):
    jobs = {}     # job id -> (description, [stage ids])
    stages = {}   # (stage id, attempt) -> {"name", "submitted", "completed"} (ms)
    tasks = {}    # (stage id, attempt) -> [task rows]
    for raw in (line for f in files for line in lines(f)):
        try:
            e = json.loads(raw)
        except ValueError:
            continue  # the cut-off last line of a live log
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            if desc.startswith(JOBS):
                jobs[e["Job ID"]] = (desc, e.get("Stage IDs", []))
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = e["Stage Info"]
            s = stages.setdefault((info["Stage ID"], info.get("Stage Attempt ID", 0)), {})
            s["name"] = info.get("Stage Name", "")
            if info.get("Submission Time") is not None:
                s["submitted"] = info["Submission Time"]
            if info.get("Completion Time") is not None:
                s["completed"] = info["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e.get("Task Info", {}), e.get("Task Metrics") or {}
            tasks.setdefault((e["Stage ID"], e.get("Stage Attempt ID", 0)), []).append({
                "id": ti.get("Task ID"),
                "launch": ti.get("Launch Time"),
                "deser": tm.get("Executor Deserialize Time", 0),
                "run": tm.get("Executor Run Time", 0),
                "cpu": tm.get("Executor CPU Time", 0) / 1e6,
            })
    return jobs, stages, tasks


def batch_number(desc):
    tail = desc.rsplit(" ", 1)[-1]
    return int(tail) if tail.isdigit() else -1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", help="event log file, or a directory holding event logs")
    args = ap.parse_args()
    files = event_files(args.log)
    jobs, stages, tasks = read(files)
    print(f"# {' '.join(files)}: {len(jobs)} jobs described '{JOBS} <n>'")
    by_position = {}  # stage position in its job -> [(wall, max launch delay, max deser)]
    for job_id, (desc, stage_ids) in sorted(jobs.items(), key=lambda j: (batch_number(j[1][0]), j[0])):
        print(f"job {job_id}  {desc}")
        ran = [(sid, att) for (sid, att) in sorted(stages) if sid in stage_ids and "submitted" in stages[(sid, att)]]
        for pos, key in enumerate(ran):
            s = stages[key]
            wall = s.get("completed", s["submitted"]) - s["submitted"]
            ts = sorted(tasks.get(key, []), key=lambda t: t["id"])
            print(f"  stage {key[0]}.{key[1]}  {wall:5d} ms  {len(ts)} tasks  {s['name'][:60]}")
            for t in ts:
                delay = t["launch"] - s["submitted"]
                print(f"    task {t['id']:6d}  launch delay {delay:4d}  deser {t['deser']:4d}"
                      f"  run {t['run']:5d}  cpu {t['cpu']:7.1f} ms")
            if ts:
                by_position.setdefault(pos, []).append((
                    wall, max(t["launch"] - s["submitted"] for t in ts), max(t["deser"] for t in ts)))
    for pos, rows in sorted(by_position.items()):
        med = [statistics.median(r[i] for r in rows) for i in range(3)]
        print(f"median over {len(rows)} jobs, stage position {pos}: wall {med[0]:.0f} ms,"
              f" slowest task's launch delay {med[1]:.0f} ms, deser {med[2]:.0f} ms")


if __name__ == "__main__":
    main()
