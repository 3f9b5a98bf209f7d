#!/usr/bin/env python3
"""Freeze the two query suites from a census of every declared query.

The census (records/census.csv) comes from `graft.perfbench.Main
characterize`: two traced samples per query on the benchmark's fixture,
memos cleared before each; the CSV keeps the warm (second) sample's
layers. This script classifies each query by where that sample spent
its wall time and draws a seeded sample of each class. It was run once,
at the commit that introduced the benchmark; its output, suites.json,
is the frozen record later runs check against.

    python3 perfbench/select_suites.py --csv census.jsonl > perfbench/records/census.csv
    python3 perfbench/select_suites.py perfbench/records/census.csv > perfbench/suites.json

The first form turns the characterize output (one JSON line per query)
into the committed CSV: the cold (first) and warm (second) totals, the
warm sample's checksum and layers, and whether the checksum repeated.

Rule (see RULE below): a query whose samples are error-free is
eligible; one whose two samples disagree on the checksum is checked on
row count alone. Its execution share is the union of
stage intervals (builder jobs plus the consume action) divided by the
sample's wall time; its builder share counts the builder's jobs alone.
Share < 0.5 -> fixed-cost class; share >= 0.7 -> execution class, drawn
in two strata: consume-dominated (builder share < 0.3) and builders
that run eager jobs (builder share >= 0.3). Each stratum is limited to
queries whose warm sample fits its time band (so a pass fits the run
budget), and a seeded random sample is drawn.
"""
import csv
import json
import random
import sys

SEED = 20261017
RULE = {
    "suite_fixed": [
        {"share_max": 0.5, "wall_max_s": 1.0, "count": 6},
    ],
    "suite_exec": [
        {"share_min": 0.7, "eager_max": 0.3, "wall_min_s": 0.5,
         "wall_max_s": 1.5, "count": 2},
        {"share_min": 0.7, "eager_min": 0.3, "wall_max_s": 2.5, "count": 1},
    ],
}


def classify(rows):
    out = {}
    for r in rows:
        if r["ok"] != "true":
            continue
        wall = float(r["warm_s"])
        exec_s = float(r["exec_wall_s"]) + float(r["build_exec_wall_s"])
        out[r["query"]] = {
            "wall_s": wall, "share": exec_s / wall if wall > 0 else 0,
            "eager": float(r["build_exec_wall_s"]) / wall if wall > 0 else 0,
            "sum": int(r["checksum"]) if r["checksum"] else None,
            "rows": int(r["rows"]),
            "rows_only": r["checksum_stable"] != "true",
        }
    return out


def draw(cls, strata, rng):
    picked, pools = [], []
    for rule in strata:
        pool = sorted(
            q for q, c in cls.items()
            if c["share"] < rule.get("share_max", 2)
            and c["share"] >= rule.get("share_min", -1)
            and c["eager"] < rule.get("eager_max", 2)
            and c["eager"] >= rule.get("eager_min", -1)
            and rule.get("wall_min_s", 0) <= c["wall_s"] <= rule["wall_max_s"])
        pools.append(len(pool))
        picked += rng.sample(pool, min(rule["count"], len(pool)))
    return {
        "rule": strata, "pool_sizes": pools,
        "queries": [{"name": q, "sum": cls[q]["sum"], "rows": cls[q]["rows"],
                     "rows_only": cls[q]["rows_only"],
                     "census_wall_s": round(cls[q]["wall_s"], 3),
                     "census_exec_share": round(cls[q]["share"], 3),
                     "census_builder_exec_share": round(cls[q]["eager"], 3)}
                    for q in sorted(picked)],
    }


LAYERS = ["build_s", "build_jobs", "build_exec_wall_s", "analysis_s",
          "optimization_s", "planning_s", "exec_wall_s", "task_s", "jobs",
          "stages", "tasks", "shuffle_mb", "gap_s"]


def census_csv(path):
    w = csv.writer(sys.stdout, lineterminator="\n")
    w.writerow(["query", "ok", "cold_s", "warm_s", "rows", "checksum",
                "checksum_stable"] + LAYERS)
    for r in sorted((json.loads(l) for l in open(path)), key=lambda r: r["query"]):
        lay = r["layers"]
        w.writerow([r["query"], str(r["ok"]).lower(), f"{r['total_s'][0]:.3f}",
                    f"{r['total_s'][1]:.3f}", r["rows"][1],
                    "" if r["sum"][1] is None else r["sum"][1],
                    str(r["sum"][0] == r["sum"][1] and r["rows"][0] == r["rows"][1]).lower()]
                   + [f"{lay.get('query.' + k, 0):.3f}" for k in LAYERS])


def main():
    if sys.argv[1] == "--csv":
        census_csv(sys.argv[2])
        return
    rows = list(csv.DictReader(open(sys.argv[1])))
    cls = classify(rows)
    rng = random.Random(SEED)
    suites = {
        "about": "Frozen query lists for suite_fixed and suite_exec; see "
                 "select_suites.py for the rule. Checksums are graft.Bench's "
                 "(sum of xxhash64 over every output column) on the "
                 "benchmark's own fixture (Fixture.scala, seed 42, sf0.1). "
                 "rows_only queries are checked on row count alone because "
                 "their output bits differed between two census samples.",
        "seed": SEED,
        "census_queries": len(rows),
        "workloads": {n: draw(cls, r, rng) for n, r in RULE.items()},
    }
    json.dump(suites, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
