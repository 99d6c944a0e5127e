"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds every input from ``--seed``
(perfbench/gen.py), starts the program's own Spark session on
``local[nproc]``, sets the workload up several times, measures it for
``--seconds`` seconds, checks its outputs against an independent DuckDB
computation, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (perfbench/trace.py).  A provenance line
and the per-layer tags are printed (and written under the work directory)
before the result line.  All scratch files live in ``.perfbench_work/``
under the checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPEATS = 3
DEADLINE_S = 170  # a hung run stops here, before three minutes have passed


def _abort() -> None:
    """Watchdog: stop the JVM and exit non-zero without printing a result."""
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=10)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        print(f"run exceeded {DEADLINE_S} s", file=sys.stderr)
        os._exit(3)


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def main() -> int:
    args = _parse()
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    # Every process the run starts keeps its scratch files in the checkout:
    # Python's tempfile, and each JVM (Spark's launcher included) for its
    # temp dir; perf-data files, which the JVM always puts in /tmp, are off.
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    watchdog = threading.Timer(DEADLINE_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        sys.path.insert(0, str(ROOT))
        # Imports that need the program: a directory holding only the
        # benchmark fails here, before any result is printed.
        from perfbench import harness, workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}; choose from "
                  f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        result, report = harness.run(
            workloads.WORKLOADS[args.workload], WORK, args.seed, args.seconds,
            bool(args.trace), SETUP_REPEATS)
    finally:
        watchdog.cancel()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
