#!/usr/bin/env python3
"""Certify the expected result digests against the DuckDB oracle.

    python3 perfbench/certify.py

For every fixture in digests.json, writes the digested queries' results as
parquet (graftbench.Main dump), compares them with each query's oracle SQL
in DuckDB through the repository's tools/check.py, and checks that the
digest of exactly those rows equals the committed one. The outcome is
recorded under "certified" in digests.json: per fixture, the queries whose
rows equal the oracle's ("oracle"), differ from it ("oracle_mismatch": the
committed digest is then the engine's own output, a finding about the
engine) or have no oracle SQL ("no_oracle"). Exits 1 on any mismatch. Needs the duckdb Python module; a development tool, not part
of a benchmark run.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run as runner  # noqa: E402


def main():
    path = os.path.join(HERE, "digests.json")
    with open(path) as f:
        doc = json.load(f)
    classes, _ = build.build()
    fx_root = runner.fixtures(classes)
    check = os.path.join(build.ROOT, "tools", "check.py")
    certified, bad = {}, []
    for fixture, want in sorted(doc["digests"].items()):
        out = os.path.join(build.BUILD, "certify", fixture)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        env = runner.scratch_env(os.path.join(out, ".run"))
        fx_dir = os.path.join(fx_root, fixture)
        rc = runner.java(["-Djava.io.tmpdir=" + env["TMPDIR"], "graftbench.Main",
                          "dump", fx_dir, out, ",".join(sorted(want))],
                         classes, env, os.path.join(build.BUILD, "certify.log"), 900)
        if rc != 0:
            sys.exit(f"dump failed on {fixture}: see .bench_build/certify.log")
        with open(os.path.join(out, "digests.tsv")) as f:
            got = dict(line.split("\t") for line in f.read().splitlines())
        bad += [f"{fixture}/{q}: dumped {got.get(q)} != committed {d}"
                for q, d in want.items() if got.get(q) != d]
        p = subprocess.run([sys.executable, check, fx_dir, out],
                           stdout=subprocess.PIPE, text=True)
        print(p.stdout)
        passed = {line.split()[1] for line in p.stdout.splitlines()
                  if line.startswith("PASS ")}
        with open(os.path.join(out, "oracle_sql.json")) as f:
            has_oracle = set(json.load(f))
        bad += [f"{fixture}/{q}: oracle mismatch" for q in has_oracle - passed]
        certified[fixture] = {
            "oracle": sorted(passed & set(want)),
            "oracle_mismatch": sorted(has_oracle - passed),
            "no_oracle": sorted(set(want) - has_oracle)}
    doc["certified"] = certified
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    for b in bad:
        print("FAIL", b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
