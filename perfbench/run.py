#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {stream_ingest,maintenance}
        --seed N --seconds S --trace {0,1}

Runs one workload against the ``lakehouse`` package of this checkout on a
local[4] Spark session and prints, as the last line of stdout, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Scratch data lives in ``.perfbench_work/`` under the
checkout and is removed on exit. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    REPO_ROOT, Ops, alive, descendants, start_session, work_dir,
)
from perfbench.workloads import END_TO_END  # noqa: E402


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM it launched (which exits
    when its stdin closes) and for the Python workers the JVM forked."""
    started = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while alive(started) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = alive(started)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if left:
        print(f"killed {len(left)} leftover worker processes", file=sys.stderr)


def run_workload(spark, work: str, workload: str, seed: int, seconds: float,
                 *, tracer=None, tiny: bool = False):
    """Run one workload on a live session, with scratch data under
    ``work``. Returns the op log, the end-to-end metrics, the records of
    the workload's unit op and, when traced, the table's end state."""
    from perfbench.workloads import WORKLOADS

    os.makedirs(work, exist_ok=True)
    ops = Ops(tracer)
    if tracer:
        tracer.install()
    try:
        metrics, table, unit = WORKLOADS[workload](
            spark, work, seed, seconds, ops, tiny=tiny)
    finally:
        if tracer:
            tracer.uninstall()
    state = tracer.table_state(table) if tracer else None
    return ops, metrics, unit, state


def result(ops: Ops, metrics: dict, tracer=None) -> dict:
    """The JSON result: with a tracer, its per-layer metrics; without, the
    end-to-end ones."""
    units = tracer.units if tracer else END_TO_END
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO_ROOT, "lakehouse", "__init__.py")):
        print(f"no lakehouse package under {REPO_ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    work = work_dir()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(
            os.path.join(work, "eventlog"),
            os.path.join(REPO_ROOT, ".perfbench_work", "traces",
                         f"{args.workload}-seed{args.seed}.spans.jsonl"),
        )
    try:
        t0 = time.perf_counter()
        spark = start_session(work, event_log_dir=tracer and tracer.event_dir)
        print(f"session start {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        try:
            ops, metrics, unit, state = run_workload(
                spark, work, args.workload, args.seed, args.seconds,
                tracer=tracer)
        finally:
            stop_spark(spark)
        if tracer:
            metrics = tracer.layer_metrics(ops, unit, state, metrics)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in ops.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(ops.summary(), file=sys.stderr)
    print(json.dumps(result(ops, metrics, tracer)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
