#!/usr/bin/env python3
"""Spark jobs per SQL call site, from a Spark event log.

    python3 scripts/eventlog_jobs.py <eventlog> [--top N]

<eventlog> is an event log file (plain JSON lines, or zstd-compressed
with a .zstd/.zst suffix, decompressed with the `zstd` command-line
tool) or a rolling event log directory (its events_* files are read in
order). Write one by running a Spark program with
-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir>.

Prints, per SQL call site (the execution's description, e.g.
"parquet at LayerStore.scala:304"): the SQL executions, the jobs and
the summed job wall time (submission to completion). Then the same for
jobs that belong to no SQL execution, keyed by their first stage's
call site: on a parquet read these are schema-inference jobs
(footer reads that run before any query does).
"""
import argparse
import collections
import json
import os
import subprocess
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def event_files(path):
    if not os.path.isdir(path):
        return [path]
    names = sorted((n for n in os.listdir(path) if n.startswith("events_")),
                   key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in names]


def lines(path):
    if path.endswith((".zstd", ".zst")):
        out = subprocess.run(["zstd", "-dc", path], check=True, stdout=subprocess.PIPE).stdout
        yield from out.decode("utf-8").splitlines()
    else:
        with open(path, encoding="utf-8") as f:
            yield from f


def read(path):
    """(execution id -> description, job id -> [call site, exec id, start, end])."""
    execs, jobs = {}, {}
    for f in event_files(path):
        for line in lines(f):
            if not line.strip():
                continue
            e = json.loads(line)
            kind = e.get("Event")
            if kind == SQL_START:
                execs[e["executionId"]] = e.get("description", "")
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                stages = e.get("Stage Infos") or [{}]
                site = min(stages, key=lambda s: s.get("Stage ID", 0)).get("Stage Name", "?")
                jobs[e["Job ID"]] = [site, None if exec_id is None else int(exec_id),
                                     e.get("Submission Time"), None]
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]][3] = e.get("Completion Time")
    return execs, jobs


def report(title, rows, top):
    """rows: call site -> (executions, jobs, wall ms)."""
    total = [sum(r[i] for r in rows.values()) for i in range(3)]
    print("%s: %d jobs, %.2f s job wall" % (title, total[1], total[2] / 1000.0))
    print("  %6s %6s %9s  %s" % ("execs", "jobs", "wall_s", "call site"))
    for site, (n_exec, n_jobs, wall) in sorted(rows.items(), key=lambda kv: (-kv[1][1], kv[0]))[:top]:
        print("  %6s %6d %9.3f  %s" % (n_exec if n_exec else "-", n_jobs, wall / 1000.0, site))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("eventlog")
    ap.add_argument("--top", type=int, default=40, help="call sites shown per table")
    args = ap.parse_args()
    execs, jobs = read(args.eventlog)
    sql = collections.defaultdict(lambda: [set(), 0, 0])
    other = collections.defaultdict(lambda: [0, 0, 0])
    for site, exec_id, start, end in jobs.values():
        wall = (end - start) if start is not None and end is not None else 0
        if exec_id is None:
            row = other[site]
        else:
            row = sql[execs.get(exec_id, "execution %d" % exec_id)]
            row[0].add(exec_id)
        row[1] += 1
        row[2] += wall
    print("%d jobs, %d SQL executions" % (len(jobs), len(execs)))
    report("jobs in SQL executions, per call site",
           {k: (len(v[0]), v[1], v[2]) for k, v in sql.items()}, args.top)
    report("jobs outside SQL executions (schema inference on parquet reads)",
           {k: tuple(v) for k, v in other.items()}, args.top)


if __name__ == "__main__":
    sys.exit(main())
