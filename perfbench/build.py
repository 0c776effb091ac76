"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) with
the Scala compiler that ships in Spark's jar directory, into
`.bench_build/perfbench/classes`. The build is skipped when neither the
sources nor the JDK changed since the last one.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("cannot find Spark's jars: set SPARK_HOME")
    return m.group(1)


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        found += glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([os.path.join(OUT, "classes"),
                            os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def build():
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("no engine sources under src/main/scala: "
                         "run from the root of a repository checkout")
    h = hashlib.sha256()
    h.update(subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True).stderr)
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    stamp = os.path.join(OUT, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jars] + srcs,
        capture_output=True, text=True, timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("compilation failed")
    shutil.rmtree(os.path.join(OUT, "classes"), ignore_errors=True)
    os.rename(tmp, os.path.join(OUT, "classes"))
    with open(stamp, "w") as f:
        f.write(key)


if __name__ == "__main__":
    build()
