#!/usr/bin/env python3
"""Run one workload of the KG benchmark.

    python3 kgbench/run.py --workload kg_batch --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source (kgbench/build.py), then
runs the harness in a fresh JVM from the root of the checkout. Everything
it writes goes under .bench_build/kgbench/. The last line of standard
output is the result as one JSON object; see kgbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
import build  # noqa: E402  (kgbench/build.py, beside this file)

JVM_TIMEOUT_S = 175
# the module openings Spark needs on JDK 17 outside spark-submit, and the
# engine's own JVM settings, as the repository's build.sbt sets them
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_FLAGS = ["-Xmx3g", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=300",
             "-XX:+ParallelRefProcEnabled", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Djava.awt.headless=true"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["kg_batch", "kg_snapshot"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--turns", type=int, help="corpus size override (self-test)")
    ap.add_argument("--corrupt-triples", action="store_true",
                    help="damage every checked triple set (self-test)")
    a = ap.parse_args()

    try:
        classes = build.build()
        cp = build.classpath(classes)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit("kgbench: %s" % e)

    base = build.OUT
    work = os.path.join(base, "work-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in OPENS]
           + JVM_FLAGS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "kgbench.KgBench",
                          "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--work", work])
    if a.turns:
        cmd += ["--turns", str(a.turns)]
    if a.corrupt_triples:
        cmd += ["--corrupt-triples"]

    result = None
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith("{"):
                result = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or result is None:
        sys.exit("kgbench: harness exited with %s and %s" %
                 (code, "a result" if result else "no result"))
    json.loads(result)
    print(result)


if __name__ == "__main__":
    main()
