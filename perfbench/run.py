#!/usr/bin/env python3
"""Benchmark runner for the graft tagging pipeline and query suites.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tag_drain_http --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first call builds the library from the checkout's sources together
with the harness in perfbench/src (sbt, offline), and, for the query
suites, generates their parquet tables; both are cached under
.bench_build (or $CARGO_TARGET_DIR) keyed by a hash of their inputs.
Each run then starts one JVM that sets up (session, fixtures, untimed
warm-up), measures for --seconds, checks every output, and prints an
info line followed by the result object as the last line of stdout.
With --trace 1 the run reports the per-layer metrics instead of the
end-to-end ones and also writes its span log. Every run leaves its full
record (end-to-end and per-layer values, per-query detail, failures,
cores, heap and Spark version) under <build>/traces/. See perfbench/README.md for the metric definitions.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
WORKLOADS = ("tag_drain_http", "tag_live_mem", "suite_fixed", "suite_exec")
SUITE_SF = "0.1"
HEAP = "4g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        files = sorted(f for f in p.rglob("*") if f.is_file()) if p.is_dir() else [p]
        for f in files:
            h.update(str(f.relative_to(p.parent)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def sbt_env(out):
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = out / "tmp-sbt"
    tmp.mkdir(parents=True, exist_ok=True)
    # sbt's scratch files (its socket directory) and the JVM's perf-data
    # file go under the build directory, not the system tmp
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, out):
    """Compile library + harness once per source state; return the classpath."""
    srcs = [root / "src" / "main", BENCH / "src", BENCH / "build.sbt",
            BENCH / "project" / "build.properties"]
    stamp = tree_hash(srcs)
    # one classes directory serves every source state, so only the state
    # it was last compiled from may reuse it
    cp_file = out / "classpath.txt"
    if cp_file.is_file():
        built, cp = cp_file.read_text().split("\n", 1)
        if built == stamp:
            return cp.strip()
    print(f"perfbench: building ({stamp})", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         f"-Dperfbench.target={out / 'sbt-target'}",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(out), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if "sbt-target" in l and l.count(os.pathsep) > 10]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp_file.write_text(stamp + "\n" + cp[-1].strip())
    return cp[-1].strip()


def java_cmd(cp, tmp, *args):
    # a fixed young generation and a heap that starts at its maximum keep
    # G1 from making run-dependent sizing choices: it grows a heap that
    # can grow when its recent pauses were long, so the same work ran with
    # 2.0 to 2.5 GB of committed heap and peak RSS between 1.3 and 1.8 GB
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m", "-XX:-UsePerfData",
             *opens, f"-Djava.io.tmpdir={tmp}",
             "-cp", cp, "graft.perfbench.Main"] + [str(a) for a in args])


def run_java(cmd, log, timeout):
    """Run the JVM to completion (or kill it at the timeout); stdout lines."""
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"timed out after {timeout} s; see {log}")
    if proc.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"exit code {proc.returncode}; see {log}")
    return out.splitlines()


def fixture(root, out, cp):
    """The query suites' tables, generated once per generator version."""
    gen = BENCH / "src" / "main" / "scala" / "graft" / "perfbench" / "Fixture.scala"
    d = out / f"fixture-{tree_hash([gen])}-sf{SUITE_SF}"
    if not (d / "_DONE").is_file():
        shutil.rmtree(d, ignore_errors=True)
        tmp = out / "tmp-fixture"
        tmp.mkdir(parents=True, exist_ok=True)
        run_java(java_cmd(cp, tmp, "fixture", d, SUITE_SF), out / "fixture.log", 600)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(str(d) + ".work", ignore_errors=True)
        (d / "_DONE").write_text("ok\n")
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir() or not (root / "build.sbt").is_file():
        fail("run from the root of a checkout that holds the program's sources")
    out = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    out.mkdir(parents=True, exist_ok=True)
    with open(out / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = build(root, out)
        fix = fixture(root, out, cp) if a.workload and a.workload.startswith("suite") else out
    cores = len(os.sched_getaffinity(0))

    tag = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = out / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # a failed run keeps its work directory (and stderr.log) for inspection
    if a.selftest:
        lines = run_java(java_cmd(cp, work / "tmp", "selftest", work),
                         work / "stderr.log", RUN_TIMEOUT_S)
        print("\n".join(lines))
        shutil.rmtree(work, ignore_errors=True)
        return
    cmd = java_cmd(cp, work / "tmp", "run", "--workload", a.workload,
                   "--seed", a.seed, "--seconds", a.seconds,
                   "--trace", a.trace, "--cores", cores, "--work", work,
                   "--fixture", fix, "--suites", BENCH / "suites.json",
                   "--record", work / "record.json",
                   "--launch-ns", time.time_ns())
    lines = run_java(cmd, work / "stderr.log", RUN_TIMEOUT_S)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("malformed result line")
    traces = out / "traces"
    traces.mkdir(exist_ok=True)
    for f in ("record.json", "spans.jsonl"):
        if (work / f).is_file():
            shutil.copy(work / f, traces / f"{tag}.{f}")
    shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
