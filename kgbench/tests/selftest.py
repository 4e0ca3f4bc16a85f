#!/usr/bin/env python3
"""Self-test of the KG benchmark: every workload once on a tiny corpus.

    python3 kgbench/tests/selftest.py

Asserts that every metric BENCHMARK.json names prints with its unit, with
tracing off and on, and that a deliberately corrupted triple set is
counted as failed. Exits non-zero on the first failed assertion.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
TURNS = "2000"


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(ROOT, "kgbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--turns", TURNS] + list(extra)
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = done.stdout.strip().splitlines()
    assert done.returncode == 0 and lines, "%s failed with %s" % (cmd, done.returncode)
    return lines, json.loads(lines[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            lines, res = run(w, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == wanted[trace], "%s trace=%d: missing %s, extra %s, units %s" % (
                w, trace, sorted(set(wanted[trace]) - set(got)), sorted(set(got) - set(wanted[trace])),
                {k: (got[k], wanted[trace][k]) for k in got if k in wanted[trace] and got[k] != wanted[trace][k]})
            for name, unit in wanted[trace].items():
                assert any(l.startswith("metric %s " % name) and l.endswith(" " + unit)
                           for l in lines), "%s not printed with its unit" % name
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            print("ok %s trace=%d: %d metrics, %d checks" % (w, trace, len(got), res["attempted"]))
        _, bad = run(w, 0, "--corrupt-triples")
        assert not bad["correct"] and bad["failed"] >= 1, bad
        print("ok %s corrupted triples: %d of %d failed" % (w, bad["failed"], bad["attempted"]))
    print("selftest passed")


if __name__ == "__main__":
    main()
