#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark harness (perfbench/src) into one class directory.

The compiler is the Scala 2.13 compiler that ships in the Spark jars, so the
build needs no dependency resolution. The output directory is keyed by a hash
of every source file, so an unchanged tree is never rebuilt.

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """The Spark jars the engine builds against: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else os.path.join(os.environ["SPARK_HOME"], "jars")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files
                       if f.endswith(".scala") or f.endswith(".java"))
    return sorted(out)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths + sorted(
            os.path.join(b, f) for b, _, fs in os.walk(RESOURCES) for f in fs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def missing_tree():
    """The engine sources this benchmark compiles, or None when present."""
    need = os.path.join(ROOT, "src", "main", "scala", "graft", "service",
                        "ExportService.scala")
    return None if os.path.isfile(need) else need


def build(log=sys.stderr):
    """Compile if needed; return the class directory."""
    if missing_tree():
        raise SystemExit(f"perfbench: engine sources not found "
                         f"({os.path.relpath(missing_tree(), ROOT)})")
    srcs = sources()
    out = os.path.join(BUILD, "classes-" + tree_hash(srcs))
    if os.path.isfile(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(BUILD, "scalac-args.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", tmp, "@" + args]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
