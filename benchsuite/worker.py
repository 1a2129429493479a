"""The measured process: one Spark session, one workload, one client.

Started by ``run.py`` after the inputs and expected outputs exist. It builds
the session, warms the workload with a fixed number of untimed iterations,
times iterations for ``--seconds``, checks every operation against the
expectations in ``spec.json``, and writes its result to ``--result``.
With ``--trace 1`` it runs the traced variant instead (``workloads.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)


def start_session(cpus: int, run_dir: str, trace: bool):
    """The package's own session factory on ``local[cpus]``; everything the
    session writes (local dirs, JVM temp files, event logs) stays in
    ``run_dir``."""
    from security_log_analysis_rust_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"),
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.time()
    spark = get_spark(app_name=f"benchsuite-local{cpus}", cpus=cpus,
                      shuffle_partitions=2 * cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.time() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--spec", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()

    import workloads

    with open(args.spec) as f:
        spec = json.load(f)
    spark, session_s = start_session(args.cpus, args.run_dir, bool(args.trace))
    print(f"[benchsuite] session {session_s:.1f} s, worker up "
          f"{time.time() - args.spawned_at:.1f} s", file=sys.stderr, flush=True)
    bench = workloads.WORKLOADS[args.workload](spark, spec, args.run_dir, args.cpus)
    try:
        if args.trace:
            result = bench.run_traced(args.seconds, session_s,
                                      lambda cpus: start_session(cpus, args.run_dir, True))
        else:
            result = bench.run_timed(args.seconds, args.spawned_at)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.close()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
