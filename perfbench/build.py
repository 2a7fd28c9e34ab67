"""Builds the engine and the benchmark harness from source.

Compiles every Scala file under src/main/scala (the engine) and
perfbench/src (the harness) with the Scala compiler that ships in the
Spark distribution's jars ($SPARK_JARS, else $SPARK_HOME/jars), into
.bench_build/classes, and copies the engine's resources next to them. A
stamp of the sources' content makes a rebuild of unchanged sources a
no-op.

Usage (from the repository root): python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS") or os.path.join(
    os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
BUILD = ".bench_build"


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"),
                             recursive=True))
    return engine, bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root="."):
    """Returns the classes directory, building it when sources changed."""
    engine, bench = sources(root)
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    build_dir = os.path.join(root, BUILD)
    classes = os.path.join(build_dir, "classes")
    res = sorted(glob.glob(os.path.join(root, "src/main/resources/**/*"),
                           recursive=True))
    want = stamp(engine + bench + [r for r in res if os.path.isfile(r)])
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + engine + bench
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    res_root = os.path.join(root, "src/main/resources")
    for f in res:
        if os.path.isfile(f):
            dst = os.path.join(tmp, os.path.relpath(f, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(build())
