"""Ops alarm evaluation (lakehouse/alerts.py): planted fixtures must
fire exactly the expected rules and a healthy table stays silent."""

import pyspark.sql.functions as F
import pytest

from lakehouse import CLIPS_SCHEMA, Table
from lakehouse.alerts import AlertError, evaluate_alerts
from lakehouse.catalog import Catalog
from lakehouse.synth import synth_clips_df


def _mk(spark, root, n=40, files=4):
    t = Table.create(spark, str(root), CLIPS_SCHEMA)
    t.append(synth_clips_df(spark, n, seed=5, n_days=2),
             target_file_count=files)
    return t


def _fired(df):
    return sorted(r.alert for r in df.collect())


def test_stale_table_and_maintenance(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    last = t.meta.snapshots[-1].timestamp_ms
    rules = [
        {"kind": "stale_table", "max_age_ms": 60_000},
        {"kind": "stale_maintenance", "max_age_ms": 60_000},
    ]
    # fresh: table not stale, but maintenance NEVER ran → only that fires
    got = evaluate_alerts(t, rules, now_ms=last + 1000)
    assert _fired(got) == ["stale_maintenance"]
    # long idle: both fire
    got = evaluate_alerts(t, rules, now_ms=last + 3_600_000)
    assert _fired(got) == ["stale_maintenance", "stale_table"]
    # after compaction both clear at a fresh clock
    t.compact()
    last2 = t.meta.snapshots[-1].timestamp_ms
    got = evaluate_alerts(t, rules, now_ms=last2 + 1000)
    assert _fired(got) == []


def test_slow_commit_and_backlogs(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", files=6)
    t.append(synth_clips_df(spark, 10, start=100, seed=6, n_days=1),
             target_file_count=2)
    now = t.meta.snapshots[-1].timestamp_ms + 1
    # every real commit takes >0 ms → threshold 0 fires, huge doesn't
    assert _fired(evaluate_alerts(
        t, [{"kind": "slow_commit", "max_commit_ms": 0}], now_ms=now
    )) == ["slow_commit"]
    assert _fired(evaluate_alerts(
        t, [{"kind": "slow_commit", "max_commit_ms": 10**9}], now_ms=now
    )) == []
    # 2 snapshots retained
    assert _fired(evaluate_alerts(
        t, [{"kind": "snapshot_backlog", "max_snapshots": 1}], now_ms=now
    )) == ["snapshot_backlog"]
    # 8 live files > 5 → compaction-debt alarm; clears after compact
    assert _fired(evaluate_alerts(
        t, [{"kind": "small_files", "max_files": 5}], now_ms=now
    )) == ["small_files"]
    t.compact()
    assert _fired(evaluate_alerts(
        t, [{"kind": "small_files", "max_files": 5}],
        now_ms=t.meta.snapshots[-1].timestamp_ms + 1,
    )) == []


def test_delete_backlog(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    victim = t.scan().select("clip_id").first()[0]
    t.delete([("clip_id", "=", victim)], mode="mor")
    now = t.meta.snapshots[-1].timestamp_ms + 1
    rule = [{"kind": "delete_backlog", "max_delete_files": 0}]
    assert _fired(evaluate_alerts(t, rule, now_ms=now)) == [
        "delete_backlog"
    ]
    t.materialize_deletes()
    assert _fired(evaluate_alerts(
        t, rule, now_ms=t.meta.snapshots[-1].timestamp_ms + 1
    )) == []


def test_stream_stalled(spark, tmp_path):
    import datetime

    from lakehouse.streaming import PROGRESS_SCHEMA

    prog = Table.create(spark, str(tmp_path / "prog"), PROGRESS_SCHEMA)
    ts = datetime.datetime(2026, 8, 21, 6, 0, 0,
                           tzinfo=datetime.timezone.utc)
    prog.append(spark.createDataFrame(
        [("q1", "r1", 3, ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
          100, 10.0, 12.0, 800, "sink")],
        PROGRESS_SCHEMA,
    ), target_file_count=1)
    base_ms = int(ts.timestamp() * 1000)
    t = _mk(spark, tmp_path / "t")
    rule = lambda age: [{
        "kind": "stream_stalled", "max_age_ms": age,
        "progress_table": prog,
    }]
    assert _fired(evaluate_alerts(
        t, rule(60_000), now_ms=base_ms + 3_600_000
    )) == ["stream_stalled"]
    assert _fired(evaluate_alerts(
        t, rule(60_000), now_ms=base_ms + 1000
    )) == []


def test_catalog_sweep_and_severity(spark, tmp_path):
    cat = Catalog.create(str(tmp_path / "wh"))
    for name in ("a", "b"):
        cat.create_table(spark, name, CLIPS_SCHEMA)
    cat.load_table(spark, "a").append(
        synth_clips_df(spark, 10, seed=7, n_days=1), target_file_count=1
    )
    # b has NO commits: stale_table fires for it at any clock
    ta = cat.load_table(spark, "a")
    now = ta.meta.snapshots[-1].timestamp_ms + 1000
    got = cat.alerts(spark, [{
        "kind": "stale_table", "max_age_ms": 60_000,
        "severity": "page", "name": "ingest-stopped",
    }], now_ms=now)
    rows = got.collect()
    assert [(r.table_name, r.alert, r.severity) for r in rows] == [
        ("b", "ingest-stopped", "page")
    ]
    assert "no commits at all" in rows[0].message


def test_unknown_kind_refused(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=5, files=1)
    with pytest.raises(AlertError, match="unknown alert kind"):
        evaluate_alerts(t, [{"kind": "nope", "x": 1}])


def test_catalog_sweep_evaluates_stream_stalled_once(spark, tmp_path):
    """ADVICE r4: a stream_stalled rule reads ONE fixed progress
    table; a warehouse sweep must evaluate it once (attributed to the
    progress table), not once per catalog table."""
    import datetime

    from lakehouse.streaming import PROGRESS_SCHEMA

    cat = Catalog.create(str(tmp_path / "wh"))
    for name in ("a", "b", "c"):
        cat.create_table(spark, name, CLIPS_SCHEMA)
        cat.load_table(spark, name).append(
            synth_clips_df(spark, 5, seed=3, n_days=1), target_file_count=1
        )
    prog = Table.create(spark, str(tmp_path / "progress"), PROGRESS_SCHEMA)
    ts = datetime.datetime(2026, 8, 21, 6, 0, 0,
                           tzinfo=datetime.timezone.utc)
    prog.append(spark.createDataFrame(
        [("q1", "r1", 3, ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
          100, 10.0, 12.0, 800, "sink")],
        PROGRESS_SCHEMA,
    ), target_file_count=1)
    base_ms = int(ts.timestamp() * 1000)
    got = cat.alerts(spark, [
        {"kind": "stream_stalled", "max_age_ms": 60_000,
         "progress_table": prog},
        {"kind": "stale_table", "max_age_ms": 3_600_000_000},
    ], now_ms=base_ms + 3_600_000).collect()
    stalled = [r for r in got if r.alert == "stream_stalled"]
    assert len(stalled) == 1  # once per sweep, not once per table
    assert stalled[0].table_name == "progress"


def test_catalog_sweep_names_scope_stream_rules(spark, tmp_path):
    """``names=`` scopes stream_stalled rules too: a rule whose progress
    table is outside the subset is not evaluated (its progress table is
    never scanned), one inside it fires as usual."""
    import datetime

    from lakehouse.streaming import PROGRESS_SCHEMA

    cat = Catalog.create(str(tmp_path / "wh"))
    cat.create_table(spark, "a", CLIPS_SCHEMA)
    cat.load_table(spark, "a").append(
        synth_clips_df(spark, 5, seed=3, n_days=1), target_file_count=1
    )
    cat.create_table(spark, "progress", PROGRESS_SCHEMA)
    prog = cat.load_table(spark, "progress")
    ts = datetime.datetime(2026, 8, 21, 6, 0, 0,
                           tzinfo=datetime.timezone.utc)
    prog.append(spark.createDataFrame(
        [("q1", "r1", 3, ts.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
          100, 10.0, 12.0, 800, "sink")],
        PROGRESS_SCHEMA,
    ), target_file_count=1)
    base_ms = int(ts.timestamp() * 1000)
    rules = [{"kind": "stream_stalled", "max_age_ms": 60_000,
              "progress_table": prog}]

    scanned = []
    real_scan = prog.scan
    prog.scan = lambda *a, **kw: scanned.append(1) or real_scan(*a, **kw)
    got = cat.alerts(spark, rules, now_ms=base_ms + 3_600_000, names=["a"])
    assert got.collect() == [] and scanned == []

    got = cat.alerts(
        spark, rules, now_ms=base_ms + 3_600_000, names=["a", "progress"]
    ).collect()
    assert [(r.table_name, r.alert) for r in got] == [
        ("progress", "stream_stalled")
    ]
    assert scanned
