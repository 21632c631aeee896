"""Build file of the graft benchmark package.

Compiles graft's main sources (``src/main/scala``) together with the
benchmark's own sources (``perfbench/src``) into one class directory with
the Scala compiler that ships among Spark's jars, so the benchmark needs
neither sbt nor a network. The output is reused while no source file
changes (a content hash over every input is kept next to it).

    python3 perfbench/build.py            # build into .bench_build/
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
BUILD_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def sbt_unmanaged_base():
    """The jar directory graft's build.sbt names in `unmanagedBase`, if any."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            text = f.read()
    except OSError:
        return None
    m = re.search(r'^\s*unmanagedBase\s*:=\s*file\("([^"]+)"\)', text, re.M)
    return m.group(1) if m else None


def spark_jars():
    """Directory of Spark's jars: $SPARK_HOME/jars, else next to
    spark-submit on PATH, else the jar directory build.sbt compiles against
    (so the benchmark also runs from an environment without either)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        candidates.append(os.path.join(home, "jars"))
    base = sbt_unmanaged_base()
    if base:
        candidates.append(base if os.path.isabs(base)
                          else os.path.join(ROOT, base))
    for jars in candidates:
        if os.path.isdir(jars) and any(
                f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    raise BuildError("no Spark installation with a Scala compiler found "
                     "(set SPARK_HOME)")


def scala_sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise BuildError("graft sources not found under " + GRAFT_SRC)
    out = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            out.extend(os.path.join(dirpath, f)
                       for f in files if f.endswith(".scala"))
    return sorted(out)


def compile_command(jars, sources, dest):
    return ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g",
            "-Djava.io.tmpdir=" + BUILD_DIR,
            "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
            "-usejavacp", "-nowarn", "-d", dest] + sources


def build():
    """Compile if any input changed; returns the class directory."""
    sources = scala_sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in sources:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update(" ".join(compile_command(jars, [], "")).encode())
    stamp = digest.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return CLASSES
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    proc = subprocess.Popen(compile_command(jars, sources, tmp),
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BuildError("compilation timed out")
    if code != 0:
        raise BuildError("compilation failed with exit code %d" % code)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("build: " + str(e), file=sys.stderr)
        sys.exit(2)
