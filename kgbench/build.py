#!/usr/bin/env python3
"""Build file of the KG benchmark.

Compiles the engine (src/main/scala) together with the harness
(kgbench/src) into one class directory with scalac, against the Spark
distribution's jars (SPARK_HOME, or the one that provides spark-submit
on PATH). A stamp of the sources' contents makes repeated builds in the
same checkout a no-op.

    python3 kgbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "kgbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def sources():
    found = []
    for base in (ENGINE_SRC, HARNESS_SRC):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def engine_present():
    return bool(glob.glob(os.path.join(ENGINE_SRC, "graft", "*.scala")))


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def build():
    """Returns the class directory, compiling first if sources changed."""
    if not engine_present():
        raise BuildError("engine sources not found under " + ENGINE_SRC)
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    compiler = [glob.glob(os.path.join(jars, "scala-%s-2.*.jar" % part))
                for part in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError("scala compiler jars not found in " + jars)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(sorted(c[0] for c in compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-cp", os.path.join(jars, "*"), "-d", classes] + srcs
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          timeout=600)
    if done.returncode != 0:
        sys.stderr.write(done.stdout.decode(errors="replace"))
        raise BuildError("scalac failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit("build: %s" % e)
