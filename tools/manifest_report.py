#!/usr/bin/env python3
"""Dev-only driver-side tools (pairs with check_oracle.py — python/duckdb
are available to the driver harness only, never to the engine).

  manifest_report.py report <snapshot-root>
      Print the per-stage wall/rows profile recorded in manifest.json.

  manifest_report.py compare <rootA> <rootB> [stage]
      Set-compare a stage's latest snapshots (default: triples) between
      two runs by (subj, pred, obj)-equality via DuckDB.
"""
import json
import sys

import duckdb


def latest_dir(root, stage):
    entries = json.load(open(root + "/manifest.json"))
    snaps = [e["snapshot"] for e in entries if e["stage"] == stage]
    if not snaps:
        raise SystemExit(f"stage {stage} not in {root}/manifest.json")
    return f"{root}/{stage}/snap-{max(snaps)}/*.parquet"


def report(root):
    entries = json.load(open(root + "/manifest.json"))
    # latest snapshot per stage, in first-write order: pipeline order,
    # except the concurrently written outputs, in completion order
    latest, order = {}, []
    for e in entries:
        if e["stage"] not in latest:
            order.append(e["stage"])
        if e["stage"] not in latest or e["snapshot"] > latest[e["stage"]]["snapshot"]:
            latest[e["stage"]] = e
    total = 0
    print(f"{'stage':<30}{'rows':>14}{'wall_s':>10}{'parts':>7}")
    for s in order:
        e = latest[s]
        w = e.get("wall_ms", 0) / 1000.0
        total += w
        print(f"{s:<30}{e['rows']:>14,}{w:>10.2f}{len(e['partitions']):>7}")
    print(f"{'TOTAL (' + str(len(order)) + ' stages)':<30}{'':>14}{total:>10.2f}")


def compare(a, b, stage):
    da, db = latest_dir(a, stage), latest_dir(b, stage)
    con = duckdb.connect()
    cols = "subj, pred, obj"
    na = con.sql(f"SELECT count(*) FROM read_parquet('{da}')").fetchone()[0]
    nb = con.sql(f"SELECT count(*) FROM read_parquet('{db}')").fetchone()[0]
    diff = con.sql(
        f"SELECT count(*) FROM ((SELECT {cols} FROM read_parquet('{da}') EXCEPT "
        f"SELECT {cols} FROM read_parquet('{db}')) UNION ALL "
        f"(SELECT {cols} FROM read_parquet('{db}') EXCEPT "
        f"SELECT {cols} FROM read_parquet('{da}')))"
    ).fetchone()[0]
    print(json.dumps({"stage": stage, "rows_a": na, "rows_b": nb,
                      "symmetric_diff": diff, "equal": diff == 0}))


if __name__ == "__main__":
    if sys.argv[1] == "report":
        report(sys.argv[2])
    elif sys.argv[1] == "compare":
        compare(sys.argv[2], sys.argv[3],
                sys.argv[4] if len(sys.argv) > 4 else "triples")
    else:
        raise SystemExit(__doc__)
