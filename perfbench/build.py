"""Build file for the benchmark: compiles the program's main sources together
with the harness under perfbench/src into one class directory.

The program is built from source in the checkout on every new source tree;
the result is cached under `.bench_build/` keyed by a hash of every source
file, so later runs on the same tree reuse it.

Spark and the Scala compiler come from the Spark distribution the program
itself builds against: `$SPARK_HOME/jars`, or failing that the
`unmanagedBase` directory named in the repository's build.sbt.

Usage: python3 perfbench/build.py      (prints the class directory)
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The directory holding the Spark (and Scala compiler) jars."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if os.path.isdir(c) and any(n.startswith("spark-core") for n in os.listdir(c)):
            return c
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def scala_sources(top):
    out = []
    for d, _, files in os.walk(top):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def source_key(sources, jars):
    h = hashlib.sha256()
    h.update(jars.encode())
    for p in sources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def ensure_built(log=sys.stderr):
    """Compile if this source tree has no cached build; return the class dir."""
    program = scala_sources(PROGRAM_SRC) if os.path.isdir(PROGRAM_SRC) else []
    if not any(p.endswith("SparkEntry.scala") for p in program):
        raise BuildError("program sources not found under src/main/scala")
    harness = scala_sources(HARNESS_SRC)
    if not harness:
        raise BuildError("harness sources not found under perfbench/src")
    jars = spark_jars()
    sources = program + harness
    classes = os.path.join(BUILD_DIR, "classes-" + source_key(sources, jars))
    if os.path.isfile(os.path.join(classes, "BUILD_OK")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cp = os.path.join(jars, "*")
    print(f"[perfbench] compiling {len(sources)} sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited {r.returncode}")
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    # drop builds of other source trees so the cache stays one build deep
    for name in os.listdir(BUILD_DIR):
        if name.startswith("classes-") and os.path.join(BUILD_DIR, name) != tmp:
            shutil.rmtree(os.path.join(BUILD_DIR, name), ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
