#!/usr/bin/env python3
"""Rank where each workload's time goes, from a traced and an untraced run.

    python3 perfbench/layer_table.py <traces-dir> <seed>[,<seed>...] > perfbench/records/layers.md

Reads <workload>-s<seed>-t1.record.json (the traced run: per-layer
values) and <workload>-s<seed>-t0.record.json (the untraced run: the
end-to-end values) for every workload and seed, and prints a markdown
report: one table per workload ranking its layers by time (first seed),
and the tracing overhead, the median traced work_s (trace.work_s)
against the median untraced work_s over all the seeds given.
"""
import json
import statistics
import sys
from pathlib import Path

WORKLOADS = ("tag_drain_http", "tag_live_mem", "suite_fixed", "suite_exec")

# (layer, metric, how the time is counted); each table is one unit of work
TRIGGER_LAYERS = [
    ("engine: addBatch (decode, filter, dedup, sink)", "trigger.add_batch_ms"),
    ("engine: queryPlanning", "trigger.query_planning_ms"),
    ("engine: walCommit (offset log)", "trigger.wal_commit_ms"),
    ("engine: commitOffsets (commit log)", "trigger.commit_offsets_ms"),
    ("source: latestOffset", "source.latest_offset_ms"),
    ("source: getBatch", "source.get_batch_ms"),
]
QUERY_LAYERS = [
    ("query builders (incl. eager jobs)", "query.build_s"),
    ("Catalyst: analysis", "query.analysis_s"),
    ("Catalyst: optimization", "query.optimization_s"),
    ("Catalyst: planning", "query.planning_s"),
    ("execution: stage wall", "query.exec_wall_s"),
    ("residual gap (job submission, result collection)", "query.gap_s"),
]


def table(rows, total, unit):
    out = [f"| layer | {unit} | share |", "|---|---:|---:|"]
    for name, v in rows:
        share = f"{100 * v / total:.1f}%" if total else "-"
        out.append(f"| {name} | {v:.3f} | {share} |")
    return out


def tag_report(pl, e2e):
    trig = pl["trigger.p50_ms"]
    rows = sorted(((n, pl[m]) for n, m in TRIGGER_LAYERS), key=lambda r: -r[1])
    out = [f"Per data trigger, the engine's sequential phases (means; trigger "
           f"p50 {trig:.0f} ms; shares of their sum):", ""]
    out += table(rows, sum(v for _, v in rows), "ms")
    data = max(pl["trigger.count"] - pl["trigger.no_data_count"], 1)
    out += ["", f"Inside addBatch ({pl['trigger.add_batch_ms']:.0f} ms), per data trigger; "
            "these run in the batch's tasks, side by side on the cores, and are "
            "summed over tasks, so they overlap and are not shares of addBatch:", "",
            f"- sink: store.update busy time {pl['store.update_ms'] / data:.1f} ms "
            f"(parallelism {pl['store.parallelism']:.2f})",
            f"- dedup state: update {pl['dedup.update_ms']:.1f} ms, "
            f"commit {pl['dedup.commit_ms']:.1f} ms (summed over state partitions)"]
    out += ["", f"Sink: {pl['store.update_calls']:.0f} updates, "
            f"p50 {pl['store.update_p50_ms']:.2f} ms, p99 {pl['store.update_p99_ms']:.2f} ms, "
            f"{pl['store.requests_per_update']:.2f} requests/update, "
            f"{pl['store.conflict_retries']:.0f} conflict retries, "
            f"{pl['store.noop_writes']:.0f} no-op writes, parallelism {pl['store.parallelism']:.2f}."]
    out += [f"Decode (batch job over the same records): {pl['decode.rows_in']:.0f} rows in, "
            f"{pl['decode.errors']:.0f} errors, {pl['decode.url_rows']:.0f} url rows, "
            f"{pl['decode.filtered_out']:.0f} filtered out, {pl['decode.batch_ms']:.0f} ms. "
            f"Dedup dropped {pl['dedup.dropped_rows']:.0f}; state {pl['dedup.state_rows']:.0f} rows, "
            f"{pl['dedup.state_bytes'] / 1024:.0f} KiB."]
    return out


def suite_report(pl, e2e):
    rows = sorted(((n, pl[m]) for n, m in QUERY_LAYERS), key=lambda r: -r[1])
    total = sum(v for _, v in rows)
    out = [f"One pass over the list (per-query medians, summed; {total:.3f} s):", ""]
    out += table(rows, total, "s")
    out += ["", f"Execution: {pl['query.jobs']:.0f} jobs, {pl['query.stages']:.0f} stages, "
            f"{pl['query.tasks']:.0f} tasks, task time {pl['query.task_s']:.3f} s, "
            f"core utilisation {pl['query.core_util']:.2f}, shuffle {pl['query.shuffle_mb']:.2f} MB. "
            f"Builders started {pl['query.build_jobs']:.0f} jobs. "
            f"CachePool scope release (outside the samples): {pl['cache.release_s']:.3f} s."]
    return out


def main():
    d, seeds = Path(sys.argv[1]), sys.argv[2].split(",")
    seed = seeds[0]
    load = lambda w, s, t: json.loads((d / f"{w}-s{s}-t{t}.record.json").read_text())
    print("# Per-layer record\n")
    print("Written by layer_table.py from one traced (--trace 1) and one "
          "untraced run per workload. The untraced values are single runs; "
          "the medians of ten runs are in proof.md.\n")
    for w in WORKLOADS:
        t1, t0 = load(w, seed, 1), load(w, seed, 0)
        pl, e2e = t1["per_layer"], t0["end_to_end"]
        env = t1["env"]
        print(f"## {w} (seed {seed}; {env['cores']} cores, heap {env['heap_mb']} MB, "
              f"Spark {env['spark']})\n")
        print("End to end, untraced: " + ", ".join(
            f"{k} {v:.4g}" for k, v in sorted(e2e.items())) + ".\n")
        lines = tag_report(pl, e2e) if w.startswith("tag") else suite_report(pl, e2e)
        print("\n".join(lines))
        traced = statistics.median(load(w, s, 1)["per_layer"]["trace.work_s"] for s in seeds)
        plain = statistics.median(load(w, s, 0)["end_to_end"]["work_s"] for s in seeds)
        print(f"\nTracing: {pl['trace.spans']:.0f} spans; median work_s over seeds "
              f"{', '.join(seeds)}: {traced:.4g} s traced against {plain:.4g} s untraced "
              f"({100 * (traced / plain - 1):+.1f}%; compare with the workload's "
              f"run-to-run spread in proof.md).\n")


if __name__ == "__main__":
    main()
