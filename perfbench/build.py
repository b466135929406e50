"""Build file of the graft benchmark: compiles graft's main sources together
with the benchmark sources into one class directory.

Usage (from the repository root):

    python3 perfbench/build.py        # prints the class directory

The Scala compiler and every dependency come from the Spark distribution
($SPARK_HOME/jars, or the one whose spark-submit is on PATH), so the build
needs neither sbt nor a network. Output lands in .bench_build/classes-<digest>,
keyed by the digest of every source file: an unchanged tree is not rebuilt.
"""

import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
PROGRAM_SOURCES = os.path.join("src", "main", "scala")
BENCH_SOURCES = os.path.join(BENCH_DIR, "src")
BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return home


def classpath_jars():
    return os.path.join(spark_home(), "jars", "*")


def scala_files(root):
    found = []
    for dirpath, _, names in os.walk(root):
        found.extend(os.path.join(dirpath, n) for n in names if n.endswith(".scala"))
    return sorted(found)


def build(root="."):
    """Compile if needed; return the absolute class directory."""
    program_dir = os.path.join(root, PROGRAM_SOURCES, "graft")
    if not os.path.isdir(program_dir):
        raise BuildError(f"program sources not found under {PROGRAM_SOURCES}")
    sources = scala_files(os.path.join(root, PROGRAM_SOURCES)) + scala_files(BENCH_SOURCES)
    digest = hashlib.sha256()
    for path in sources:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    out = os.path.abspath(os.path.join(root, BUILD_DIR, "classes-" + digest.hexdigest()[:16]))
    if os.path.isdir(out):
        return out
    staging = out + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", classpath_jars()] + sources
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if done.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac exited with {done.returncode}")
    os.rename(staging, out)
    for old in os.listdir(os.path.dirname(out)):
        if old.startswith("classes-") and os.path.join(os.path.dirname(out), old) != out:
            shutil.rmtree(os.path.join(os.path.dirname(out), old), ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(2)
