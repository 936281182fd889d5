#!/usr/bin/env python3
"""Runs one workload of the benchmark, or all of them, and prints the metrics.

    python3 perfbench/run.py --workload ingest_mix --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12

Builds the program and the benchmark (perfbench/build.py), then runs each
workload in its own JVM (graft.bench.Main) in a fresh run directory under
<build dir>/runs/, which also holds java.io.tmpdir, so no index from an earlier
run is found. Human-readable lines come first; the last line a
workload prints is one JSON object with `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics, or with --trace 1 the per-layer
ones). The spans of a traced run are written to
<build dir>/traces/<workload>-seed<seed>.jsonl.

Exits 1 when a correctness check failed, 2 when the program could not be
built or run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest_mix", "curate_batch")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these opens (the same list
# build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPTS = ["-Xmx3g", "-XX:MetaspaceSize=512m", "-XX:SoftRefLRUPolicyMSPerMB=0",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


class RunError(Exception):
    pass


def remove_stale_runs(runs):
    """Run directories are named <workload>-<seed>-<pid>; remove those whose
    process has ended (a killed run leaves its data behind)."""
    for d in runs.glob("*-*-*") if runs.is_dir() else ():
        try:
            os.kill(int(d.name.rsplit("-", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def run_workload(workload, seed, seconds, trace, classes, jars):
    """One JVM run; returns (report lines, result object)."""
    runs = build.build_dir() / "runs"
    remove_stale_runs(runs)
    run_dir = runs / f"{workload}-{seed}-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    traces = build.build_dir() / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + JVM_OPTS
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
              f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
              "-cp", f"{classes}{os.pathsep}{jars}/*",
              "graft.bench.Main", workload, str(seed), str(seconds), str(trace),
              str(run_dir), str(traces / f"{workload}-seed{seed}.jsonl")])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RunError(f"{workload}: benchmark JVM timed out")
        if code != 0:
            raise RunError(f"{workload}: benchmark JVM exited with {code}")
        return ((run_dir / "report.txt").read_text().splitlines(),
                json.loads((run_dir / "result.json").read_text()))
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not 1 <= a.seconds <= 60:
        ap.error("--seconds must be within 1..60")
    correct = True
    try:
        classes = build.build()
        jars = build.spark_jars()
        for w in WORKLOADS if a.workload == "all" else (a.workload,):
            report, result = run_workload(w, a.seed, a.seconds, a.trace, classes, jars)
            for line in report:
                print(f"{w}: {line}" if a.workload == "all" else line)
            print(json.dumps(result), flush=True)
            correct = correct and result["correct"]
    except (build.BuildError, RunError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
