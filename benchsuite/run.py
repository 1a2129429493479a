#!/usr/bin/env python3
"""Benchmark entry point.

    python3 benchsuite/run.py --workload logs|corpus \
        --seed N --seconds S --trace 0|1

Run from the repository root. Generates (once per seed) the workload's
inputs and expected outputs, then starts the measured process
(``worker.py``) in its own session, samples the summed resident memory of
that process, its JVM and its Python workers, reaps every process of the
session, removes the run's scratch directory and prints the result as the
last line of standard output. Progress and Spark logs go to standard error.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: the whole run, input generation included, ends well inside 180 s
DEADLINE_S = 170.0
PAGE = os.sysconf("SC_PAGE_SIZE")
#: JVM heap, initial and maximum alike, so resident memory does not
#: depend on when the collector decides to grow the heap
JVM_HEAP = "1g"


def _session_procs(sid: int) -> dict:
    """-> {pid: (parent pid, command line)} of every live (not zombie)
    process in session sid."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmdline = f.read()
        except OSError:
            continue
        # stat fields 3, 4 and 6: state, parent pid, session
        if int(fields[3]) == sid and fields[0] != "Z":
            procs[int(entry)] = (int(fields[1]), cmdline)
    return procs


def _resident_bytes(procs: dict) -> int:
    """Summed RSS. A JVM child that has the JVM's own command line is a
    fork that has not yet exec'd a helper command; its pages are the JVM's,
    so it is not counted twice."""
    total = 0
    for pid, (ppid, cmdline) in procs.items():
        if ppid in procs and procs[ppid][1] == cmdline and b"java" in cmdline:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


def _reap(sid: int) -> None:
    """Kill every process left in the worker's session and wait until the
    last one is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _session_procs(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        t0 = time.time()
        while _session_procs(sid) and time.time() - t0 < 5:
            time.sleep(0.05)
        if not _session_procs(sid):
            return


def _become_subreaper() -> None:
    """Have the worker's orphans (its JVM, once the worker has exited)
    re-parented to this process instead of to init, so that this process
    collects their exit status before it exits."""
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _wait_orphans() -> None:
    """Collect the exit status of every ended descendant re-parented here."""
    t0 = time.time()
    while time.time() - t0 < 5:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)


def _clean_stale_runs() -> None:
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        if name.startswith("run-"):
            pid = int(name.split("-")[1])
            if not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["logs", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    pkg = os.path.join(ROOT, "security_log_analysis_rust_spark")
    if not (os.path.isdir(pkg) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("benchsuite: the package is not here; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import inputs

    _clean_stale_runs()
    spec = inputs.ensure_inputs(os.path.join(WORK, "inputs"), args.workload, args.seed)
    print(f"[benchsuite] inputs ready after {time.time() - t_start:.1f} s",
          file=sys.stderr, flush=True)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_path = os.path.join(run_dir, "result.json")
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        "TZ": "UTC",
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, env.get("PYTHONPATH", "")]),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--spec", spec,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--result", result_path, "--cpus", str(cpus),
           "--spawned-at", repr(time.time())]
    peak = 0
    _become_subreaper()
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr,
                            start_new_session=True)
    try:
        while proc.poll() is None:
            peak = max(peak, _resident_bytes(_session_procs(proc.pid)))
            if time.time() - t_start > DEADLINE_S:
                print("benchsuite: deadline passed, stopping the worker",
                      file=sys.stderr)
                break
            time.sleep(0.2)
    finally:
        _reap(proc.pid)
        proc.wait()
        _wait_orphans()
    try:
        if proc.returncode != 0 or not os.path.exists(result_path):
            print(f"benchsuite: worker failed (exit {proc.returncode})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": peak / 1e6, "unit": "MB"}
    for note in result.pop("notes"):
        print(f"# {note}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    # a layer that never runs on this workload did no work: its metrics are 0
    idle = set(result.pop("idle_layers"))
    got, zeroed = result["metrics"], []
    for m in declared:
        if m["name"] not in got and m["name"].split(".")[0] in idle:
            got[m["name"]] = {"value": 0, "unit": m["unit"]}
            zeroed.append(m["name"])
    wrong = [m["name"] for m in declared
             if got.get(m["name"], {}).get("unit") != m["unit"]]
    if wrong:
        print(f"benchsuite: metrics missing or in another unit: {', '.join(wrong)}",
              file=sys.stderr)
        return 1
    result["metrics"] = {m["name"]: got[m["name"]] for m in declared}
    if zeroed:
        print(f"# 0 because their layer does not run on {args.workload}: "
              f"{', '.join(zeroed)}")
    print(f"# attempted={result['attempted']} failed={result['failed']} "
          f"workload={args.workload} seed={args.seed} cpus={cpus} heap={JVM_HEAP}")
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
