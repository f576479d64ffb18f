"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload join_tile --seed 1 --seconds 14 --trace 0

Run from the root of a checkout of the repository. The run generates its
inputs from --seed, starts a fresh Spark JVM on local[nproc], sets the
workload up (timed as setup_s: session start, per-session caches and one
warm-up pass), runs the workload's untimed settle passes, then runs passes
back to back for --seconds and checks every pass against a numpy
reference. With --trace 1 it instead runs a traced pass between two
untraced ones, on join_tile then a few passes in a second session on
local[nproc/4], and reports per-layer metrics. Every process the run
starts has ended when it exits.

Human-readable lines go to standard output first; the last line is one
JSON object with the keys correct, attempted, failed and metrics.
Exits non-zero without a result when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a run must end well inside the 180 s a caller allows, shutdown included
DEADLINE_S = 150


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class DeadlineExceeded(BaseException):
    """Raised by SIGALRM; a BaseException so no pass handler swallows it."""


def _deadline(signum, frame):
    raise DeadlineExceeded(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import whitebox_tools_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench import harness as H

    H.prepare_environment()
    from perfbench import report
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    H.adopt_orphans()
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    nproc = len(os.sched_getaffinity(0))
    w = WORKLOADS[args.workload](args.seed, nproc)
    try:
        w.inputs()
        out = (report.traced if args.trace else report.measured)(w, args.seconds)
    finally:
        signal.alarm(0)
        try:
            H.stop_jvm()
        finally:
            H.end_children()
    for line in out.pop("lines"):
        print(line)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
