#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the repo's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/scala) with the
Scala compiler that ships among the Spark jars the repo builds against, into
.bench_build/perfbench/<source hash>/classes. A build whose source hash is
already present is reused.

    python3 perfbench/build.py            # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def jar_dir():
    """$SPARK_HOME/jars, else the directory the repo's own build.sbt compiles
    against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def spark_jars():
    d = jar_dir()
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError(f"no Spark jars with a Scala compiler under {d}")
    return jars


def sources():
    repo = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not repo:
        raise BuildError(f"no program sources under {ROOT}/src/main/scala")
    if not own:
        raise BuildError(f"no benchmark sources under {HERE}/scala")
    return repo + own


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    base = os.path.join(os.environ.get("PERFBENCH_BUILD_DIR", os.path.join(ROOT, ".bench_build")),
                        "perfbench")
    out = os.path.join(base, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return classes, jars
    if os.path.isdir(base):
        shutil.rmtree(base)  # older builds of this checkout
    os.makedirs(classes)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    open(os.path.join(out, "OK"), "w").close()
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.stderr.write(f"build: {e}\n")
        sys.exit(2)
