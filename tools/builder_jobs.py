#!/usr/bin/env python3
"""Spark jobs of one query-suite workload, by the call site that started them.

Run from the root of a checkout:

    python3 tools/builder_jobs.py --workload suite_fixed --seed 1 --seconds 8

Runs one `perfbench/run.py` suite workload with Spark's event log switched
on (`spark.eventLog.*` system properties through JAVA_TOOL_OPTIONS, written
to a temporary directory that is removed afterwards), then reads the log
and prints one line per job call site: the `callSite.short` of the action
that started the job's SQL execution (its root execution, for a subquery
or a broadcast), e.g. `parquet at Tables.scala:41`, or, for a job outside
any SQL execution, the call site Spark names its result stage by:

  kind       build: the job ran while a query was being built; consume:
             it belongs to the SQL execution of the suite's checksum
             `collect` (Suite.scala), subqueries and broadcasts included
  jobs       jobs started from that call site over the whole run (the
             untimed warm-up pass included)
  median_ms  median wall time of those jobs, submission to completion
  total_ms   their summed wall time

Builder lines come first, ranked by total_ms. The last line gives the
number of samples (checksum executions) so counts read per sample. The
benchmark's own stdout is passed through.
"""
import argparse
import shutil
import statistics
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

from trigger_profile import SQL_START, read_events, run_workload

CONSUME_SITE = "collect at Suite.scala"


def profile(events):
    """[(kind, call site, wall ms)] per job, and the number of samples."""
    exec_site = {}
    jobs = {}
    for e in events:
        kind = e.get("Event")
        if kind == SQL_START:
            # an execution's description is its action's call site
            exec_site[str(e["executionId"])] = e.get("description") or ""
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            # a nested execution (a subquery, a broadcast) names its root
            ex = props.get("spark.sql.execution.root.id") or \
                props.get("spark.sql.execution.id")
            result = max(e["Stage Infos"], key=lambda s: s["Stage ID"])
            jobs[e["Job ID"]] = {"exec": ex, "site": result["Stage Name"],
                                 "submit": e["Submission Time"]}
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
    rows = []
    for j in jobs.values():
        if "end" in j:
            site = exec_site.get(j["exec"]) or j["site"]
            kind = "consume" if site.startswith(CONSUME_SITE) else "build"
            rows.append((kind, site, j["end"] - j["submit"]))
    samples = sum(s.startswith(CONSUME_SITE) for s in exec_site.values())
    return rows, samples


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="suite_fixed",
                    choices=("suite_fixed", "suite_exec"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not Path("perfbench/run.py").is_file():
        sys.exit("run from the root of a checkout")
    log_dir = tempfile.mkdtemp(prefix="builder-jobs-")
    try:
        run_workload(args, log_dir)
        rows, samples = profile(read_events(log_dir))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    by_site = defaultdict(list)
    for kind, site, ms in rows:
        by_site[(kind, site)].append(ms)
    order = sorted(by_site.items(),
                   key=lambda kv: (kv[0][0] != "build", -sum(kv[1])))
    print(f"{'kind':8} {'jobs':>5} {'median_ms':>9} {'total_ms':>8}  call site")
    for (kind, site), ms in order:
        print(f"{kind:8} {len(ms):5d} {statistics.median(ms):9.1f} "
              f"{sum(ms):8d}  {site}")
    build = [ms for (k, _), v in by_site.items() if k == "build" for ms in v]
    print(f"samples {samples}: {len(build)} build jobs "
          f"({len(build) / max(samples, 1):.2f} per sample), "
          f"{sum(build)} ms of build-job wall")


if __name__ == "__main__":
    main()
