#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 16 --trace 0

Builds the engine and harness from source (perfbench/build.py), generates
the parquet fixtures once per build, then runs the workload in a fresh JVM
with its own index, Spark-local, checkpoint and temp directories under
.bench_build/runs/, which are wiped before and after. The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. The line before it ("BENCH_RECORD ...") is
the full record: every metric measured, per-query times, the fixture
fingerprint and the environment. See perfbench/README.md.
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

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
RUN_TIMEOUT_S = 170
# runnable by hand, not part of BENCHMARK.json's set (see README.md)
EXTRA_WORKLOADS = ["olap", "corpus_open"]
# A fixed, pre-touched heap: resident memory and GC behaviour then do not
# depend on how the heap happened to grow, which made peak_rss_mb and the
# timings spread between otherwise identical runs. The session runs nproc
# task threads, and this engine keeps the JIT busy through every query (its
# generated code is compiled anew on each execution); with the JVM's default
# JIT and GC thread counts on top, the cores are oversubscribed and the
# timings follow the OS scheduler. Half as many JIT and GC threads as cores
# (at least two) keeps that extra load smaller.
HELPERS = max(2, len(os.sched_getaffinity(0)) // 2)
JVM_OPTS = [f"-XX:CICompilerCount={HELPERS}", f"-XX:ParallelGCThreads={HELPERS}",
            "-XX:ConcGCThreads=1",
            "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def java(args, classes, env, log, timeout):
    """Run a JVM in its own process group; kill the group on timeout."""
    cp = os.pathsep.join([classes, os.path.join(build.jars_dir(), "*")])
    with open(log, "w") as out:
        p = subprocess.Popen(["java"] + JVM_OPTS + ["-cp", cp] + args,
                             stdout=out, stderr=subprocess.STDOUT, env=env,
                             cwd=ROOT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def scratch_env(run_dir):
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_INDEX_DIR": os.path.join(run_dir, "index"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    for k in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, k), exist_ok=True)
    return env


def fixtures(classes):
    """Generate the ScaleData fixtures once per generator version (not
    timed)."""
    root = os.path.join(build.BUILD, f"fixtures-{build.fixture_key()}")
    if os.path.isfile(os.path.join(root, "_ALL_DONE")):
        return root
    os.makedirs(root, exist_ok=True)
    gen = os.path.join(root, ".gen")
    os.makedirs(gen, exist_ok=True)
    env = scratch_env(gen)
    opts = ["-Djava.io.tmpdir=" + env["TMPDIR"]]
    log = os.path.join(build.BUILD, "fixtures.log")
    if java(opts + ["graftbench.Main", "fixtures", root], classes, env, log,
            600) != 0:
        raise RuntimeError("fixture generation failed:\n" + tail(log))
    shutil.rmtree(gen, ignore_errors=True)
    open(os.path.join(root, "_ALL_DONE"), "w").close()
    return root


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def digests_tsv(path):
    with open(os.path.join(HERE, "digests.json")) as f:
        d = json.load(f)
    with open(path, "w") as f:
        for fixture, qs in sorted(d["digests"].items()):
            for q, v in sorted(qs.items()):
                f.write(f"{fixture}\t{q}\t{v}\n")


def finite(v):
    return isinstance(v, (int, float)) and math.isfinite(v)


def summarize(rec, trace, bench):
    """The result line: the selected metric set, named, with units.

    A missing or non-finite end-to-end metric counts as a failed operation;
    a per-layer metric the workload does not exercise reads 0."""
    failed = rec["failed"]
    metrics = {}
    if trace:
        for m in bench["per_layer"]:
            v = rec["per_layer"].get(m["name"])
            metrics[m["name"]] = {"value": v if finite(v) else 0.0,
                                  "unit": m["unit"]}
    else:
        for m in bench["end_to_end"]:
            v = rec["end_to_end"].get(m["name"])
            if not finite(v):
                failed += 1
                v = 0.0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": failed == 0, "attempted": max(1, rec["attempted"]),
            "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001, a short stream)")
    ap.add_argument("--out", help="append the full record to this JSONL file")
    ap.add_argument("--record-digests", action="store_true",
                    help="write the result digests instead of checking them")
    ap.add_argument("--perturb-digest", metavar="QUERY",
                    help="self-check: corrupt one expected digest")
    a = ap.parse_args()

    bench = spec()
    known = [w["name"] for w in bench["workloads"]] + EXTRA_WORKLOADS
    if a.workload not in known:
        sys.exit(f"unknown workload {a.workload}; one of {known}")
    try:
        classes, key = build.build()
        fx = fixtures(classes)
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired) as e:
        print(f"setup failed: {e}", file=sys.stderr)
        sys.exit(2)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(build.BUILD, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        env = scratch_env(run_dir)
        dig = os.path.join(run_dir, "digests.tsv")
        digests_tsv(dig)
        if a.perturb_digest:
            with open(dig) as f:
                rows = f.read().splitlines()
            with open(dig, "w") as f:
                for r in rows:
                    fx_, q, v = r.split("\t")
                    f.write(f"{fx_}\t{q}\t{'0:0' if q == a.perturb_digest else v}\n")
        out = os.path.join(run_dir, "result.json")
        flags = (["smoke"] if a.smoke else []) + \
            (["record"] if a.record_digests else [])
        args = ["-Djava.io.tmpdir=" + env["TMPDIR"], "graftbench.Main", "run",
                a.workload, str(a.seed), str(a.seconds), str(a.trace), fx,
                run_dir, dig, out] + flags
        log = os.path.join(run_dir, "jvm.log")
        t0 = time.time()
        rc = java(args, classes, env, log, RUN_TIMEOUT_S)
        if rc != 0 or not os.path.isfile(out):
            print(f"benchmark JVM exited {rc}:\n{tail(log)}", file=sys.stderr)
            sys.exit(1)
        with open(out) as f:
            rec = json.load(f)
        rec["wall_s"] = time.time() - t0
        rec["build_key"] = key
        if a.record_digests:
            rec["recorded_digests"] = {}
            for name in os.listdir(run_dir):
                if name.startswith("result.json.digests."):
                    fixture = name[len("result.json.digests."):]
                    with open(os.path.join(run_dir, name)) as f:
                        rec["recorded_digests"][fixture] = dict(
                            line.split("\t") for line in f.read().splitlines())
        spans = os.path.join(run_dir, "spans.json")
        if os.path.isfile(spans):
            os.makedirs(os.path.join(build.BUILD, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(build.BUILD, "traces",
                                            f"{tag}.json"))
        for e in rec.get("errors", []):
            print(f"error: {e}", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.out:
        with open(a.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
    print("BENCH_RECORD " + json.dumps(rec))
    print(json.dumps(summarize(rec, a.trace == 1, bench)))


if __name__ == "__main__":
    main()
