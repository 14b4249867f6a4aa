"""Build file of the benchmark: compiles the program's sources
(src/main/scala) and the benchmark child (kgbench/scala) with the Scala
compiler that ships among Spark's jars, into .bench_build/classes.

    python3 kgbench/build.py

The build is skipped when a stamp of every source's path and content
matches the last build. Nothing is written outside .bench_build.
"""

import glob
import hashlib
import os
import re
import subprocess
import sys

BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "kgbench/scala"]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory the project's own
    build compiles against (build.sbt's unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("kgbench: build.sbt names no unmanagedBase jar directory")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"kgbench: no Spark jars under {jar_dir}")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        for root, _, files in os.walk(d):
            found += [os.path.join(root, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def build():
    srcs = sources()
    if not any(s.startswith("src/") for s in srcs):
        raise SystemExit("kgbench: program sources (src/main/scala) not found; "
                         "run from the repository root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(CLASSES, exist_ok=True)
    jars = spark_jars()
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"kgbench: compile failed ({r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
