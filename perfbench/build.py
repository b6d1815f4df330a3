#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/perfbench/classes, using the Scala compiler that ships with
the Spark distribution (the program's own build also takes its jars from
there). Rebuilds only when a source file changed.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    spark-submit on PATH whose distribution ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars", "*")
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: program sources not found at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    return files


def resources():
    res = os.path.join(ROOT, "src", "main", "resources")
    return sorted(p for p in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def stamp(files):
    h = hashlib.sha256()
    for p in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the runtime class path."""
    cp = spark_jars()
    files = sources()
    res = resources()
    want = stamp(files + res)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return CLASSES + os.pathsep + cp
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for p in res:
        dst = os.path.join(CLASSES, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp_file, "w") as f:
        f.write(want)
    return CLASSES + os.pathsep + cp


if __name__ == "__main__":
    build()
