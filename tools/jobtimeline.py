#!/usr/bin/env python3
"""Timeline of SQL executions, jobs and stages from a Spark event log.

Enable the log through Spark's own confs, for example:

    tools/run_main.sh -Dspark.eventLog.enabled=true \
        -Dspark.eventLog.dir=/tmp/evlog -Dspark.eventLog.compress=false \
        graft.Bench                  # SPARK_GRAFT_BENCH_ONLY=em03_kmeans_census

then

    python3 tools/jobtimeline.py /tmp/evlog/eventlog_v2_local-...  [--jobs]
    python3 tools/jobtimeline.py LOG --segment 'save at' --jobs

Every job is listed with its start offset from the first job, duration,
stage and task counts, executor CPU, shuffle records written/read and the
gap since the previous job ended, and described by its SQL execution or,
for a job outside any (schema inference, RDD actions), by its first
stage's name, which carries its call site (`parquet at X.scala:43`).
`--segment REGEX` cuts the log into
segments, each ending with a SQL execution whose description matches
(`graft.Bench` ends every timed operation with a `save` to the noop sink),
and prints per-segment totals: executions, jobs, stages, tasks,
exchanges (stages that write shuffle output), CPU and wall time. The
event log covers the whole application, the cold pass included.
"""
import argparse
import json
import os
import re
import sys
from collections import defaultdict


def lines(path):
    """A single event log file, or a rolling log's `eventlog_v2_*`
    directory (its `events_<n>_*` files in order)."""
    files = [path]
    if os.path.isdir(path):
        ev = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in
                 sorted(ev, key=lambda f: int(f.split("_")[1]))]
    for p in files:
        if p.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            sys.exit(f"{p}: compressed event log; rerun with "
                     "-Dspark.eventLog.compress=false")
        with open(p) as f:
            yield from f


def load(path):
    execs, jobs, stages = {}, {}, {}
    tasks = defaultdict(lambda: {"n": 0, "cpu_ns": 0, "sw": 0, "sr": 0})
    for line in lines(path):
        e = json.loads(line)
        ev = e.get("Event", "")
        if ev.endswith("SparkListenerSQLExecutionStart"):
            execs[e["executionId"]] = {
                "id": e["executionId"], "start": e["time"], "end": None,
                "desc": (e.get("description") or "").splitlines()[0:1]}
        elif ev.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            xid = props.get("spark.sql.execution.id")
            infos = e.get("Stage Infos") or [{}]
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"],
                "end": None, "stages": e.get("Stage IDs", []),
                "exec": int(xid) if xid is not None else None,
                "first_stage": infos[0].get("Stage Name", "")}
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages[si["Stage ID"]] = {
                "tasks": si.get("Number of Tasks", 0),
                "start": si.get("Submission Time"),
                "end": si.get("Completion Time")}
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            t = tasks[e["Stage ID"]]
            t["n"] += 1
            t["cpu_ns"] += m.get("Executor CPU Time", 0)
            t["sw"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Records Written", 0)
            t["sr"] += (m.get("Shuffle Read Metrics") or {}).get(
                "Total Records Read", 0)
    return execs, jobs, stages, tasks


def job_row(j, stages, tasks):
    run = [s for s in j["stages"] if s in stages]  # skipped stages never ran
    return {
        "stages": len(run),
        "tasks": sum(tasks[s]["n"] for s in run),
        "cpu_s": sum(tasks[s]["cpu_ns"] for s in run) / 1e9,
        "sw": sum(tasks[s]["sw"] for s in run),
        "sr": sum(tasks[s]["sr"] for s in run),
        "exchanges": sum(1 for s in run if tasks[s]["sw"] > 0),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--segment", help="regex on SQL execution descriptions "
                    "that closes a segment")
    ap.add_argument("--jobs", action="store_true", help="list every job")
    a = ap.parse_args()
    execs, jobs, stages, tasks = load(a.log)
    if not jobs:
        sys.exit("no jobs in the log")
    t0 = min(j["start"] for j in jobs.values())
    ordered = sorted(jobs.values(), key=lambda j: (j["start"], j["id"]))

    def desc(j):
        """The job's SQL execution description; a job outside any SQL
        execution (schema inference, RDD actions) shows its first stage's
        name, which carries the call site."""
        if j["exec"] is None:
            return j["first_stage"][:60]
        x = execs.get(j["exec"])
        return x["desc"][0][:60] if x and x["desc"] else ""

    if a.jobs:
        print(f"{'job':>5} {'at_s':>8} {'dur_ms':>7} {'gap_ms':>7} "
              f"{'stg':>3} {'tasks':>5} {'cpu_ms':>7} {'shuf_w':>8} "
              f"{'shuf_r':>8} {'exec':>5}  description")
        prev_end = None
        for j in ordered:
            r = job_row(j, stages, tasks)
            dur = (j["end"] or j["start"]) - j["start"]
            gap = "" if prev_end is None else j["start"] - prev_end
            prev_end = max(prev_end or 0, j["end"] or j["start"])
            print(f"{j['id']:>5} {(j['start'] - t0) / 1e3:>8.3f} {dur:>7} "
                  f"{gap:>7} {r['stages']:>3} {r['tasks']:>5} "
                  f"{r['cpu_s'] * 1e3:>7.0f} {r['sw']:>8} {r['sr']:>8} "
                  f"{'' if j['exec'] is None else j['exec']:>5}  "
                  f"{desc(j)}")

    # segments: cut after each closing execution's end
    cuts = []
    if a.segment:
        pat = re.compile(a.segment)
        cuts = sorted(x["end"] or x["start"] for x in execs.values()
                      if x["desc"] and pat.search(x["desc"][0]))
    segs = defaultdict(list)
    for j in ordered:
        segs[sum(1 for c in cuts if c < j["start"])].append(j)
    print(f"{'segment':>7} {'execs':>5} {'jobs':>5} {'stages':>6} "
          f"{'tasks':>6} {'exchanges':>9} {'cpu_s':>7} {'wall_s':>7}")
    for k in sorted(segs):
        js = segs[k]
        rows = [job_row(j, stages, tasks) for j in js]
        wall = (max((j["end"] or j["start"]) for j in js)
                - min(j["start"] for j in js)) / 1e3
        xs = {j["exec"] for j in js if j["exec"] is not None}
        print(f"{k:>7} {len(xs):>5} {len(js):>5} "
              f"{sum(r['stages'] for r in rows):>6} "
              f"{sum(r['tasks'] for r in rows):>6} "
              f"{sum(r['exchanges'] for r in rows):>9} "
              f"{sum(r['cpu_s'] for r in rows):>7.2f} {wall:>7.2f}")


if __name__ == "__main__":
    main()
