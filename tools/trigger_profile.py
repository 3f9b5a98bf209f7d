#!/usr/bin/env python3
"""Per-trigger SQL executions and job timing of one tag workload.

Run from the root of a checkout:

    python3 tools/trigger_profile.py --workload tag_live_mem --seed 1 --seconds 8

Runs one `perfbench/run.py` workload with Spark's event log switched on
(`spark.eventLog.*` system properties through JAVA_TOOL_OPTIONS, written
to a temporary directory that is removed afterwards), then reads the log
and prints, for every data trigger of every streaming run:

  execs   SQL executions the trigger started (the engine's own plus any
          the sink starts)
  gap_ms  time from the start of the trigger's first SQL execution (the
          start of its addBatch phase) to the submission of its first job
  job_ms  wall time from that first job's submission to the completion of
          the trigger's last job

and a median line per run. A trigger is a data trigger when its progress
event reports input rows. The benchmark's own stdout is passed through.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
BATCH_DESC = re.compile(r"runId = ([0-9a-f-]+)\s+batch = (\d+)")


def run_workload(args, log_dir):
    props = ["-Dspark.eventLog.enabled=true",
             f"-Dspark.eventLog.dir=file://{log_dir}",
             "-Dspark.eventLog.compress=false"]
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        [env.get("JAVA_TOOL_OPTIONS", "")] + props).strip()
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    subprocess.run(cmd, env=env, check=True)


def read_events(log_dir):
    # Spark 4 writes a rolling log: a directory of events_* files
    for f in sorted(Path(log_dir).rglob("events*")):
        with open(f) as lines:
            for line in lines:
                if line.strip():
                    yield json.loads(line)


def profile(events):
    """{(runId, batch): [execution start ms]}, job records, data triggers."""
    execs = defaultdict(list)
    exec_batch = {}
    jobs = {}
    triggers = []
    for e in events:
        kind = e.get("Event")
        if kind == SQL_START:
            m = BATCH_DESC.search(e.get("description") or "")
            if m:
                key = (m.group(1), int(m.group(2)))
                execs[key].append(e["time"])
                exec_batch[str(e["executionId"])] = key
        elif kind == "SparkListenerJobStart":
            ex = (e.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {"exec": ex, "submit": e["Submission Time"]}
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == PROGRESS:
            p = e["progress"]
            # the logged progress carries input rows per source only
            rows = sum(s.get("numInputRows", 0) for s in p.get("sources", []))
            if rows > 0:
                triggers.append((p["runId"], p["batchId"], rows))
    batch_jobs = defaultdict(list)
    for j in jobs.values():
        key = exec_batch.get(j["exec"])
        if key and "end" in j:
            batch_jobs[key].append(j)
    rows = []
    for run_id, batch, n in triggers:
        key = (run_id, batch)
        starts, js = execs.get(key, []), batch_jobs.get(key, [])
        first = min(js, key=lambda j: j["submit"]) if js else None
        rows.append({
            "run": run_id, "batch": batch, "rows": n, "execs": len(starts),
            "gap_ms": first["submit"] - min(starts) if first and starts else None,
            "job_ms": max(j["end"] for j in js) - first["submit"] if first else None,
        })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="tag_live_mem",
                    choices=("tag_live_mem", "tag_drain_http"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not Path("perfbench/run.py").is_file():
        sys.exit("run from the root of a checkout")
    log_dir = tempfile.mkdtemp(prefix="trigger-profile-")
    try:
        run_workload(args, log_dir)
        rows = profile(read_events(log_dir))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    print(f"{'run':8} {'batch':>5} {'rows':>5} {'execs':>5} {'gap_ms':>7} {'job_ms':>7}")
    by_run = defaultdict(list)
    for r in rows:
        by_run[r["run"]].append(r)
        print(f"{r['run'][:8]:8} {r['batch']:5d} {r['rows']:5d} {r['execs']:5d} "
              f"{r['gap_ms'] if r['gap_ms'] is not None else '-':>7} "
              f"{r['job_ms'] if r['job_ms'] is not None else '-':>7}")
    for run, rs in by_run.items():
        def med(k):
            v = [r[k] for r in rs if r[k] is not None]
            return statistics.median(v) if v else float("nan")
        print(f"median {run[:8]}: {len(rs)} data triggers, execs {med('execs')}, "
              f"gap_ms {med('gap_ms')}, job_ms {med('job_ms')}")


if __name__ == "__main__":
    main()
