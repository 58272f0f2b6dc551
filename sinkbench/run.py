#!/usr/bin/env python3
"""Sink benchmark: committed-record throughput and micro-batch latency.

Usage, from the repository root:

    python3 sinkbench/run.py --workload sink_bulk --seed 1 --seconds 10 --trace 0
    python3 sinkbench/run.py --workload all --seed 1 --seconds 10 --trace 0
    python3 sinkbench/run.py --selftest

Builds the program from source (see build.py), then runs one JVM per
workload. Prints every metric by name with its unit, and as the last line
one JSON object with the keys correct, attempted, failed and metrics.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. See NOTES.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["sink_bulk", "sink_small_files", "sink_curated_text"]
# one run (after the build) must end within 180 s
RUN_BUDGET_S = 170
# the JVM stops a stuck query with this much of the budget left
STOP_MARGIN_S = 25
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def commit(key):
    try:
        res = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        if res.returncode == 0 and res.stdout.strip():
            return res.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + key


def jvm(classpath, main_args, run_dir, budget_s):
    """Runs the benchmark JVM; returns (exit code, stdout) or None on timeout."""
    tmp = run_dir / "tmp"
    tmp.mkdir()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # C1 only: a one-minute process never reaches C2's steady state, and
    # C2 compiling in the background competes with the measured batches.
    # A fixed heap keeps peak RSS comparable between runs; no perf-data
    # file keeps every write inside the checkout.
    cmd += ["-Xms2g", "-Xmx2g", "-Xss4m", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.callstack.depth=64",
            "-cp", os.pathsep.join(str(c) for c in classpath),
            "sinkbench.Main"] + main_args
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=run_dir, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode, out


def log_tail(run_dir, n=40):
    try:
        return "".join((run_dir / "jvm.log").read_text(errors="replace").splitlines(True)[-n:])
    except OSError:
        return ""


def run_one(classpath, key, args, workload):
    """One JVM for one workload. Returns (lines, result dict) or raises."""
    runs = build.ROOT / ".bench_work"
    run_dir = runs / f"{workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    if run_dir.exists():
        raise RuntimeError(f"{run_dir} already exists; refusing to start")
    run_dir.mkdir(parents=True)
    try:
        main_args = ["--workload", workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--work", str(run_dir / "work"), "--cores", str(cores()),
                     "--commit", commit(key),
                     "--budget-s", str(RUN_BUDGET_S - STOP_MARGIN_S)]
        res = jvm(classpath, main_args, run_dir, RUN_BUDGET_S)
        if res is None:
            raise RuntimeError(f"{workload}: no result within {RUN_BUDGET_S} s\n" + log_tail(run_dir))
        code, out = res
        lines = out.splitlines()
        if code != 0 or not lines:
            raise RuntimeError(f"{workload}: benchmark JVM exited with {code}\n" + log_tail(run_dir))
        result = json.loads(lines[-1])
        return lines[:-1], result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            runs.rmdir()
        except OSError:
            pass


def selftest(classpath):
    runs = build.ROOT / ".bench_work"
    run_dir = runs / f"selftest-p{os.getpid()}"
    run_dir.mkdir(parents=True)
    try:
        res = jvm(classpath, ["--selftest", "--work", str(run_dir / "work")], run_dir, 600)
        if res is None:
            print("selftest: timed out", file=sys.stderr)
            return 1
        code, out = res
        print(out, end="")
        if code != 0:
            print(log_tail(run_dir), file=sys.stderr)
        return code
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            runs.rmdir()
        except OSError:
            pass


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    args = p.parse_args()
    if not args.selftest and not args.workload:
        p.error("--workload is required")
    try:
        classpath, key = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if args.selftest:
        return selftest(classpath)

    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for w in workloads:
        t0 = time.monotonic()
        try:
            lines, result = run_one(classpath, key, args, w)
        except (RuntimeError, ValueError) as e:
            print(f"run failed: {e}", file=sys.stderr)
            return 1
        for line in lines:
            print(line)
        print(f"# {w}: run took {time.monotonic() - t0:.1f} s")
        results[w] = result
    if len(workloads) == 1:
        print(json.dumps(results[workloads[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()},
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
