#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload end to end on tiny inputs.

    python3 perfbench/smoke.py

Runs each workload of BENCHMARK.json (plus the extra `corpus_open`) once
with --smoke --trace 1 (sf0.001 fixtures, a short stream) and asserts that
the run is correct and that every end-to-end and per-layer metric name is
printed with a finite value. Then it corrupts one expected result digest
and asserts that the run reports the failure. Takes a couple of minutes
once the build exists.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--smoke"] + list(extra),
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    rec = json.loads(lines[-2][len("BENCH_RECORD "):])
    return rec, json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import run as runner
    workloads = [w["name"] for w in spec["workloads"]] + runner.EXTRA_WORKLOADS
    for w in workloads:
        rec, line = run(w, "--trace", "1")
        assert line["correct"] and line["failed"] == 0, (w, rec["errors"])
        assert set(line) == {"correct", "attempted", "failed", "metrics"}, line
        names = {m["name"] for m in spec["per_layer"]}
        assert set(line["metrics"]) == names, (w, names ^ set(line["metrics"]))
        for m in spec["end_to_end"]:
            v = rec["end_to_end"].get(m["name"])
            assert isinstance(v, float) and math.isfinite(v), (w, m["name"], v)
        print(f"ok   {w}: {len(spec['end_to_end'])} end-to-end and "
              f"{len(names)} per-layer metrics, {line['attempted']} operations")
    rec, line = run("olap", "--trace", "0",
                    "--perturb-digest", "q01_pricing_summary")
    assert not line["correct"] and line["failed"] >= 1, line
    assert any("q01_pricing_summary" in e for e in rec["errors"]), rec["errors"]
    print(f"ok   perturbed digest: failed={line['failed']} of {line['attempted']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
