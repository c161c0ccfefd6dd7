#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into a directory keyed by a hash of every source file.

    python3 perfbench/build.py            # prints the classes directory

No network and no sbt: the Spark jars are the only dependency, found under
$SPARK_HOME/jars (or next to the spark-submit on PATH); they include the
Scala compiler.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def jars_dir():
    """$SPARK_HOME/jars, or the jars of the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                               recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    if not harness:
        raise BuildError("no harness sources under perfbench/src")
    return engine + harness


def source_key(srcs):
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def fixture_key():
    """Hash of the code that generates the parquet fixtures."""
    files = [os.path.join(ROOT, "src/main/scala/graft", f) for f in (
        "ScaleData.scala", "core/ParquetFiles.scala")] + \
        [os.path.join(HERE, "src/graftbench/Inputs.scala")]
    return source_key([f for f in files if os.path.isfile(f)])


def compiler_cp():
    jars = jars_dir()
    parts = [os.path.join(jars, f"scala-{m}-{SCALA}.jar")
             for m in ("compiler", "library", "reflect")]
    missing = [p for p in parts if not os.path.isfile(p)]
    if missing:
        raise BuildError(f"scala compiler jars not found: {missing}")
    return os.pathsep.join(parts)


def build(timeout=600):
    """Compile if needed; returns (classes_dir, key)."""
    srcs = sources()
    key = source_key(srcs)
    classes = os.path.join(BUILD, f"classes-{key}")
    if os.path.isfile(os.path.join(classes, ".ok")):
        return classes, key
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", compiler_cp(), "scala.tools.nsc.Main", "-nowarn",
           "-cp", os.path.join(jars_dir(), "*"), "-d", tmp, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=timeout, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    os.remove(argfile)
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
