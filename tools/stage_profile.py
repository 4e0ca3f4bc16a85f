#!/usr/bin/env python3
"""Summarize a Spark event log: top stages by total executor run time,
then Spark jobs and job-busy seconds per engine call site.

    SPARK_GRAFT_EVENTLOG=/tmp/spark-events <run a graft session>
    python3 tools/stage_profile.py /tmp/spark-events

Reads uncompressed event logs (graft.Sessions writes them so). A job's
call site is the one of the SQL execution that started it (AQE runs each
shuffle stage of a query as its own job, on a pool thread), else its
result stage's name. Job-busy seconds per call site sum its jobs'
submit-to-end walls; the total line is the union of all job intervals,
so overlapping jobs count once."""
import collections
import glob
import json
import os
import sys


def files(root):
    out = []
    for p in glob.glob(root + "/*"):
        # rolling logs (Spark's default) are a directory of events_* parts
        out.extend(sorted(glob.glob(p + "/events*")) if os.path.isdir(p) else [p])
    return [f for f in out if "appstatus" not in f]


def busy_union(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def main(root):
    run = collections.Counter()
    write = collections.Counter()
    read = collections.Counter()
    names = {}
    ntasks = collections.Counter()
    executions = {}  # SQL execution id -> call site
    job_site, job_start, job_end = {}, {}, {}
    for f in files(root):
        if f.rsplit(".", 1)[-1] in ("zstd", "lz4", "lzf", "snappy"):
            sys.exit(f"{f} is compressed: decompress it first (zstd -d), or log with "
                     "spark.eventLog.compress=false as graft.Sessions does")
        for line in open(f, encoding="utf-8"):
            try:
                e = json.loads(line)
            except Exception:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerStageSubmitted" or ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                names[si["Stage ID"]] = si["Stage Name"].split("\n")[0][:90]
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                m = e.get("Task Metrics") or {}
                run[sid] += m.get("Executor Run Time", 0)
                ntasks[sid] += 1
                sw = m.get("Shuffle Write Metrics") or {}
                write[sid] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                read[sid] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                executions[e["executionId"]] = e.get("description", "?").split("\n")[0][:90]
            elif ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.root.id", props.get("spark.sql.execution.id"))
                stages = e.get("Stage Infos") or [{}]
                site = stages[-1].get("Stage Name", "?").split("\n")[0][:90]
                job_site[jid] = executions.get(int(ex), site) if ex is not None else site
                job_start[jid] = e.get("Submission Time", 0)
            elif ev == "SparkListenerJobEnd":
                job_end[e["Job ID"]] = e.get("Completion Time", 0)
    total = sum(run.values())
    print(f"total executor run time: {total/1000:.1f}s across {len(run)} stages")
    for sid, t in run.most_common(25):
        print(f"stage {sid:4d} {t/1000:8.1f}s tasks={ntasks[sid]:4d} "
              f"wr={write[sid]/1e6:8.1f}MB rd={read[sid]/1e6:8.1f}MB  {names.get(sid,'?')}")

    done = [j for j in job_site if j in job_end]
    if not done:
        return
    spans = [(job_start[j], job_end[j]) for j in done]
    window = max(e for _, e in spans) - min(s for s, _ in spans)
    print(f"\n{len(done)} jobs, busy {busy_union(spans)/1000:.1f}s of a {window/1000:.1f}s window")
    jobs = collections.Counter(job_site[j] for j in done)
    busy = collections.Counter()
    for j in done:
        busy[job_site[j]] += job_end[j] - job_start[j]
    for site, n in jobs.most_common():
        print(f"{n:5d} jobs {busy[site]/1000:8.1f}s  {site}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark-events")
