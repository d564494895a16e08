"""Incremental materialized rollup (lakehouse/rollup.py): every refresh
path — initial full compute, append delta, MoR-delete delta, COW merge
delta, data-neutral compaction, count-reaches-0 group drop, and the
min/max delete-recompute path — is compared row-for-row against the
full recompute (``expected()``).
"""

import pytest
from pyspark.sql import functions as F

from lakehouse import CLIPS_SCHEMA, Table
from lakehouse.rollup import MaterializedRollup
from lakehouse.synth import synth_clips_pdf


def _base(spark, root, *, rows=80):
    t = Table.create(spark, root, CLIPS_SCHEMA)
    for i in range(2):
        pdf = synth_clips_pdf(
            range(i * rows // 2, (i + 1) * rows // 2), seed=42, n_days=3
        )
        t.append(
            spark.createDataFrame(pdf, schema=CLIPS_SCHEMA),
            target_file_count=2,
        )
    return t


AGGS = {
    "n": ("count", None),
    "dur_sum": ("sum", "CAST(dur_ms AS BIGINT)"),
    "dur_min": ("min", "dur_ms"),
    "dur_max": ("max", "dur_ms"),
}


def _fp(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


@pytest.fixture()
def pair(spark, tmp_path):
    t = _base(spark, str(tmp_path / "base"))
    r = MaterializedRollup.create(
        spark,
        str(tmp_path / "rollup"),
        t,
        group_by=["event_date", "sr_hz"],
        aggs=AGGS,
    )
    return t, r


def _check(r):
    assert _fp(r.scan()) == _fp(r.expected())


def test_initial_full_then_noop(pair):
    t, r = pair
    res = r.refresh()
    assert res.mode == "full"
    _check(r)
    assert r.refresh().mode == "noop"


def test_append_delta_is_incremental(spark, pair):
    t, r = pair
    r.refresh()
    pdf = synth_clips_pdf(range(200, 230), seed=7, n_days=5)
    t.append(spark.createDataFrame(pdf, schema=CLIPS_SCHEMA))
    res = r.refresh()
    assert res.mode == "incremental" and res.groups_changed > 0
    # inserts never trigger the min/max recompute path
    assert res.groups_recomputed == 0
    _check(r)


def test_delete_delta_recomputes_minmax_groups(pair):
    t, r = pair
    # at 4-file test scale this delete is "table-wide" and the cost
    # guard would (correctly) resync; disable it to exercise the
    # min/max recompute algebra itself
    r.table.set_properties(rollup_resync_cost_ratio="off")
    r.refresh()
    t.delete("dur_ms <= 1200", mode="mor", key="clip_id")
    res = r.refresh()
    assert res.mode == "incremental"
    # some surviving group lost rows -> exact recompute for min/max
    assert res.groups_recomputed > 0
    _check(r)


def test_count_reaches_zero_drops_group(spark, pair):
    t, r = pair
    r.table.set_properties(rollup_resync_cost_ratio="off")
    r.refresh()
    # wipe one whole group (every row of one (event_date, sr_hz) pair)
    row = t.scan().select("event_date", "sr_hz").first()
    t.delete(
        f"event_date = DATE'{row.event_date}' AND sr_hz = {row.sr_hz}",
        mode="cow",
    )
    res = r.refresh()
    assert res.mode == "incremental"
    _check(r)
    got = r.scan().filter(
        (F.col("event_date") == F.lit(row.event_date))
        & (F.col("sr_hz") == row.sr_hz)
    )
    assert got.count() == 0


def test_compaction_is_data_neutral(pair):
    t, r = pair
    r.refresh()
    t.compact()
    res = r.refresh()
    # rows cancel in the CDC diff: no group changes, rollup untouched
    assert res.mode == "incremental" and res.groups_changed == 0
    _check(r)


def test_cow_merge_delta(spark, pair):
    t, r = pair
    r.table.set_properties(rollup_resync_cost_ratio="off")
    r.refresh()
    src = (
        t.scan()
        .filter(F.xxhash64("clip_id") % 3 == 0)
        .withColumn("dur_ms", F.col("dur_ms") + 10_000)
    )
    t.merge(src, key="clip_id")
    res = r.refresh()
    assert res.mode == "incremental" and res.groups_changed > 0
    _check(r)


def test_requires_count_agg(spark, tmp_path):
    t = _base(spark, str(tmp_path / "b2"), rows=8)
    with pytest.raises(ValueError, match="count"):
        MaterializedRollup.create(
            spark,
            str(tmp_path / "r2"),
            t,
            group_by=["sr_hz"],
            aggs={"m": ("min", "dur_ms")},
        )


def test_sum_goes_null_when_all_nonnull_inputs_deleted(spark, tmp_path):
    """SQL SUM over a group with no non-null inputs is NULL, not 0 —
    the hidden non-null counter must null the sum out when the last
    contributing row is deleted, without a recompute."""
    t = _base(spark, str(tmp_path / "b3"))
    r = MaterializedRollup.create(
        spark,
        str(tmp_path / "r3"),
        t,
        group_by=["event_date"],
        aggs={
            "n": ("count", None),
            "long_sum": (
                "sum",
                "CASE WHEN dur_ms > 2000 THEN CAST(dur_ms AS BIGINT) END",
            ),
        },
    )
    r.table.set_properties(rollup_resync_cost_ratio="off")
    r.refresh()
    _check(r)
    t.delete("dur_ms > 2000", mode="cow")
    res = r.refresh()
    assert res.mode == "incremental"
    # no min/max aggs -> pure algebra, no recompute
    assert res.groups_recomputed == 0
    _check(r)
    live = r.scan().filter(F.col("n") > 0)
    assert live.count() > 0
    assert live.filter(F.col("long_sum").isNotNull()).count() == 0


def test_refresh_survives_expired_sync_snapshot(spark, pair):
    """When base snapshot expiry removes the rollup's sync point, the
    CDC chain is unrecoverable — refresh must fall back to ONE atomic
    full-resync overwrite commit instead of raising, and still equal
    the full recompute."""
    t, r = pair
    r.refresh()
    pdf = synth_clips_pdf(range(300, 330), seed=9, n_days=4)
    t.append(spark.createDataFrame(pdf, schema=CLIPS_SCHEMA))
    t.delete("dur_ms <= 900", mode="cow")
    # expire everything but the head: the synced snapshot is gone
    t.expire_snapshots(keep_last=1)
    sids = {s.snapshot_id for s in t.snapshots()}
    assert r._props["rollup_synced_snapshot"] not in sids

    res = r.refresh()
    assert res.mode == "full-resync"
    _check(r)
    # one commit: the rollup table's history grew by exactly one
    # overwrite snapshot and stays scannable mid-history
    assert r.table.snapshots()[-1].operation == "overwrite"
    assert r.refresh().mode == "noop"


def test_derived_group_keys(spark, tmp_path):
    """Derived (expression) group keys — e.g. an hourly time bucket —
    group together with plain columns on every refresh path."""
    t = _base(spark, str(tmp_path / "bg"))
    r = MaterializedRollup.create(
        spark,
        str(tmp_path / "rg"),
        t,
        group_by=["sr_hz"],
        group_exprs={"day_hour": "date_trunc('HOUR', ingest_ts)"},
        aggs={
            "n": ("count", None),
            "dur_min": ("min", "dur_ms"),
        },
    )
    r.table.set_properties(rollup_resync_cost_ratio="off")
    assert r.refresh().mode == "full"
    _check(r)
    assert "day_hour" in r.scan().columns
    t.append(spark.createDataFrame(
        synth_clips_pdf(range(400, 430), seed=3, n_days=4),
        schema=CLIPS_SCHEMA,
    ))
    t.delete("dur_ms <= 1000", mode="mor", key="clip_id")
    res = r.refresh()
    assert res.mode == "incremental" and res.groups_changed > 0
    _check(r)


def test_table_wide_rewrite_takes_cost_guarded_full_resync(pair):
    """A positional-delete materialization rewrites every base file; the
    CDC diff would read old+new of everything (2x the table) while a
    recompute reads it once. The manifest-arithmetic cost guard must
    pick the full-resync overwrite — and the result still equals the
    full recompute."""
    t, r = pair
    r.refresh()
    t.delete("dur_ms <= 1400", mode="mor-pos")
    t.materialize_deletes()
    res = r.refresh()
    assert res.mode == "full-resync"
    _check(r)
    assert r.refresh().mode == "noop"


def test_data_neutral_chain_refreshes_without_reading(spark, pair, monkeypatch):
    """Compaction-only deltas advance the marker from the snapshot log
    alone — no scan, no diff (the 100 TB property: maintenance on the
    base must not cost the rollup a 2x read)."""
    t, r = pair
    r.refresh()
    t.compact()
    import lakehouse.ops.changes as changes

    def boom(*a, **kw):
        raise AssertionError("data-neutral refresh must not build a CDC diff")

    monkeypatch.setattr(changes, "row_changes", boom)
    res = r.refresh()
    assert res.mode == "incremental" and res.groups_changed == 0
    _check(r)


def test_sync_marker_is_atomic_with_refresh_commits(spark, pair, monkeypatch):
    """The synced-snapshot marker must ride the SAME commit as the
    refresh's data write: with any separate properties-only stamp
    disabled (simulating a crash right after the data commit), a replay
    refresh must still be a noop — never a double-apply."""
    from lakehouse.synth import synth_clips_pdf

    t, r = pair
    r.refresh()  # full build
    pdf = synth_clips_pdf(range(300, 330), seed=9, n_days=4)
    t.append(spark.createDataFrame(pdf, schema=CLIPS_SCHEMA))

    def separate_stamp(*a, **kw):
        raise AssertionError("data-changing refresh used a separate stamp")

    monkeypatch.setattr(Table, "set_properties", separate_stamp)
    monkeypatch.setattr(Table, "_set_properties", separate_stamp)
    res = r.refresh()  # incremental merge: marker inside the merge commit
    assert res.mode == "incremental" and res.groups_changed > 0
    monkeypatch.undo()
    assert r.refresh().mode == "noop"  # marker landed with the merge
    _check(r)


def test_mor_refreshed_rollup_resync_drops_delete_files(spark, pair):
    """A rollup refreshed with ``mode="mor"`` carries equality-delete
    files. A full resync (its synced base snapshot expired) swaps the
    recompute in for every live data AND delete file of the rollup."""
    t, r = pair
    r.table.set_properties(rollup_resync_cost_ratio="off")
    r.refresh()
    t.delete("dur_ms <= 1000", mode="cow")
    assert r.refresh(mode="mor").mode == "incremental"
    assert r.table.plan().delete_files
    pdf = synth_clips_pdf(range(300, 330), seed=9, n_days=4)
    t.append(spark.createDataFrame(pdf, schema=CLIPS_SCHEMA))
    t.delete("dur_ms <= 1400", mode="cow")
    t.expire_snapshots(keep_last=1)

    assert r.refresh(mode="mor").mode == "full-resync"
    assert not r.table.plan().delete_files
    _check(r)
    assert r.refresh().mode == "noop"
