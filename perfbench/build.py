#!/usr/bin/env python3
"""Build the benchmark: compile the repository's main Scala sources and
the benchmark's own sources (perfbench/scala) with the Scala compiler
that ships in the Spark distribution, against Spark's jars.

Classes land in .bench_build/perfbench/<source hash>/classes under the
repository root, so an unchanged tree is compiled once. Spark's jars are
found through $SPARK_HOME, else through the installed pyspark package.

    python3 perfbench/build.py        # prints the classpath to run with
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        pyspark = None
    if pyspark is not None:
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(jars):
            return jars
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: {main} is missing; run from a full checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile if needed; return the classpath that runs the benchmark."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out_root = os.path.join(ROOT, ".bench_build", "perfbench")
    out = os.path.join(out_root, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if not os.path.isfile(os.path.join(out, "OK")):
        shutil.rmtree(out_root, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", classes, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            raise SystemExit(f"build: scalac failed with code {r.returncode}")
        open(os.path.join(out, "OK"), "w").close()
    return classes + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(build())
