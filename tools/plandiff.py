#!/usr/bin/env python3
"""Diff two `graft.PlanDump` directories, ignoring run-to-run noise.

    python3 tools/plandiff.py BEFORE_DIR AFTER_DIR [--strip PREFIX ...]

Each `<query>.txt` present in either directory is compared after
normalising what differs between two dumps of the same plan:
expression ids (`#123`, `#123L`), `plan_id=N`, lambda variable suffixes
(`x_12`), JVM lambda class names (`$Lambda$6336/0x00007fd4c573c6d0`),
identity hashes (`@1a2b3c4d`), and whole-stage-codegen ids
(`[codegen id : N]`, `*(N)`), because Spark may number two independent
codegen subtrees in either order (so which operators fuse into one stage
is not compared), the stage ids of AQE query stages (`Arguments: N`
under a `...QueryStage` node), which follow the order stages finish in,
and the offsets of `Scale`'s per-partition offset maps (the `values`
list of `element_at(map(keys: [...], values: [...]), __pid)`), which
come from a sampled range partitioning; their keys are kept, so a change
in partition count still shows.
`--strip PREFIX` removes a path prefix (for example each
checkout's root, which index paths contain). Prints a unified diff per
differing query and a summary line; exits 1 when any query differs.
"""
import argparse
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{6,8}\b"), "@H"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"(element_at\(map\(keys: \[[^\]]*\], values: )\[[^\]]*\]"
                r"(\), __pid\b)"), r"\1[N]\2"),
]
NODE = re.compile(r"^\(\d+\) ")
STAGE_ID = re.compile(r"^Arguments: \d+$")


def normalise(text, strip):
    for p in strip:
        text = text.replace(p, "")
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    lines, node = [], ""
    for line in text.splitlines():
        if NODE.match(line):
            node = line
        elif "QueryStage" in node and STAGE_ID.match(line):
            line = "Arguments: N"
        lines.append(line)
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--strip", action="append", default=[],
                    help="path prefix to remove (repeatable)")
    a = ap.parse_args()
    names = sorted({f for d in (a.before, a.after) for f in os.listdir(d)
                    if f.endswith(".txt")})
    differ = []
    for n in names:
        pa, pb = (os.path.join(d, n) for d in (a.before, a.after))
        if not (os.path.exists(pa) and os.path.exists(pb)):
            differ.append(n)
            print(f"only in {'after' if os.path.exists(pb) else 'before'}: {n}")
            continue
        la = normalise(open(pa).read(), a.strip)
        lb = normalise(open(pb).read(), a.strip)
        if la != lb:
            differ.append(n)
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                la, lb, f"before/{n}", f"after/{n}", lineterm="", n=1))
    print(f"{len(names) - len(differ)} same, {len(differ)} differ"
          + (f": {' '.join(differ)}" if differ else ""))
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
