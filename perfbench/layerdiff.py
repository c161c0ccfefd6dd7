#!/usr/bin/env python3
"""Name the layer that moved between two sets of benchmark results.

    python3 perfbench/layerdiff.py BEFORE AFTER

BEFORE and AFTER are files of records written by `run.py --out FILE`, or
captured run.py output (lines starting with "BENCH_RECORD "). Each may hold
several runs per workload: untraced runs (--trace 0) give the end-to-end
medians (traced runs stand in when a file has none), traced runs
(--trace 1) the per-layer medians.

For each workload in both files it prints the end-to-end deltas, then the
per-layer deltas ranked by their share of the end-to-end change: a time
metric's share is its delta in seconds over the delta of the end-to-end
metric it feeds (`cold_s` for index builds and state restore, `suite_s`
otherwise). Count and size metrics have no share; they follow, ranked by
relative change.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SECONDS = {"s": 1.0, "ms": 1e-3}


def load(path):
    recs = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("BENCH_RECORD "):
                line = line[len("BENCH_RECORD "):]
            if line.startswith("{") and '"workload"' in line:
                recs.append(json.loads(line))
    return recs


def medians(recs, workload, trace, key):
    """Per-metric medians over the workload's records with this trace
    setting; end-to-end figures fall back to traced runs (which measure
    them on their untraced passes) when a file has no untraced run."""
    mine = [r for r in recs if r["workload"] == workload]
    if key == "end_to_end" and not any(int(r["trace"]) == trace for r in mine):
        trace = 1 - trace
    vals = {}
    for r in mine:
        if int(r["trace"]) == trace:
            for k, v in r[key].items():
                if isinstance(v, (int, float)):
                    vals.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def units():
    try:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        return {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    except OSError:
        return {}


def target(metric):
    """The end-to-end metric a per-layer time feeds: the cold-path layers
    (index builds, state restore after a restart) feed cold_s, the rest
    the warm suite."""
    cold = metric.startswith("index.") or metric.endswith("restore_ms")
    return "cold_s" if cold else "suite_s"


def rel(a, b):
    return (b - a) / abs(a) if a else float("inf") if b else 0.0


def report(before, after, out=sys.stdout):
    unit = units()
    workloads = sorted({r["workload"] for r in before} & {r["workload"] for r in after})
    if not workloads:
        print("no workload appears in both files", file=out)
        return 1
    for w in workloads:
        e0, e1 = medians(before, w, 0, "end_to_end"), medians(after, w, 0, "end_to_end")
        print(f"== {w}", file=out)
        for k in sorted(set(e0) & set(e1)):
            print(f"   {k:<24} {e0[k]:>12.4f} -> {e1[k]:>12.4f}  ({rel(e0[k], e1[k]):+.1%})",
                  file=out)
        d_e2e = {m: e1.get(m, 0.0) - e0.get(m, 0.0) for m in ("suite_s", "cold_s")}
        l0, l1 = medians(before, w, 1, "per_layer"), medians(after, w, 1, "per_layer")
        if not (l0 and l1):
            print("   (no traced runs in both files: no per-layer attribution)", file=out)
            continue
        timed, other = [], []
        for k in sorted(set(l0) & set(l1)):
            d = l1[k] - l0[k]
            if d == 0:
                continue
            u = unit.get(k, "")
            if u in SECONDS:
                base = d_e2e[target(k)]
                share = d * SECONDS[u] / base if base else float("nan")
                timed.append((abs(share) if base else 0.0, k, d, share, u))
            else:
                other.append((abs(rel(l0[k], l1[k])), k, d, rel(l0[k], l1[k]), u))
        print("   layers ranked by share of the end-to-end change "
              f"(suite_s {d_e2e['suite_s']:+.4f} s, cold_s {d_e2e['cold_s']:+.4f} s):",
              file=out)
        for _, k, d, share, u in sorted(timed, reverse=True):
            print(f"     {k:<36} {l0[k]:>12.4f} -> {l1[k]:>12.4f} {u:<3} "
                  f"delta {d:+.4f}  share {share:+.0%} of {target(k)}", file=out)
        for _, k, d, r, u in sorted(other, reverse=True):
            print(f"     {k:<36} {l0[k]:>12.4f} -> {l1[k]:>12.4f} {u:<5} ({r:+.1%})",
                  file=out)
    return 0


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    return report(load(sys.argv[1]), load(sys.argv[2]))


if __name__ == "__main__":
    sys.exit(main())
