"""Smoke test of the benchmark at tiny size (one Spark session, about two
minutes on 4 cores):

    python3 -m pytest perfbench -q -p no:cacheprovider

Every workload, untraced and traced, must emit exactly the metrics that
BENCHMARK.json names, each with its unit, and pass its own checks; and a
deliberately wrong expected value must surface as a failed op.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import workloads
from perfbench.common import REPO_ROOT, start_session
from perfbench.run import result, run_workload, stop_spark
from perfbench.trace import Tracer

with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# enough stream batches to reach a replay; one maintenance cycle after
# the warm-up cycle
SECONDS = workloads.STREAM_REPLAY_EVERY / workloads.STREAM_BATCHES_PER_S


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = start_session(work, event_log_dir=os.path.join(work, "eventlog"))
    yield spark, work
    stop_spark(spark)


def _run(session, workload, trace, tmp_path):
    spark, work = session
    tracer = None
    if trace:
        tracer = Tracer(os.path.join(work, "eventlog"),
                        str(tmp_path / "spans.jsonl"))
    run_dir = str(tmp_path / "run")
    ops, metrics, unit, state = run_workload(
        spark, run_dir, workload, 5, SECONDS, tracer=tracer, tiny=True)
    if tracer:
        metrics = tracer.layer_metrics(ops, unit, state, metrics)
    return result(ops, metrics, tracer)


@pytest.mark.parametrize("trace", [False, True], ids=["untraced", "traced"])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_emitted_with_its_unit(session, workload, trace, tmp_path):
    out = _run(session, workload, trace, tmp_path)
    want = {m["name"]: m["unit"]
            for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    if trace:
        # layer self times add up to the op wall
        cov = out["metrics"]["trace.self_time_coverage"]["value"]
        assert abs(cov - 1) <= 0.1
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_wrong_expected_value_counts_a_failed_op(session, tmp_path, monkeypatch):
    real = workloads.expected_transcode_bytes
    monkeypatch.setattr(workloads, "expected_transcode_bytes",
                        lambda lens: real(lens) + 1)
    out = _run(session, "maintenance", False, tmp_path)
    assert not out["correct"]
    # one transcode pass after each cycle: the warm-up and the one reported
    assert out["failed"] == 2
    assert out["attempted"] > out["failed"]
