"""Merge-on-read equality deletes: write path, read path, seq rule,
materialization, and the maintenance auto-materialize guard.

The capability VERDICT.md r1 flagged as the standard 10^12-row lever
the engine lacked: a 1-row COW delete rewrites a whole file; MoR makes
the delete commit O(deleted keys) and defers the rewrite.
"""

import os

import pytest
from pyspark.sql import functions as F

from lakehouse import CLIPS_SCHEMA, Table
from lakehouse.synth import synth_clips_pdf

DATE_SPEC = [
    {"name": "event_date", "transform": "identity", "source": "event_date"}
]


def _table(spark, root, *, rows=60, appends=2):
    t = Table.create(spark, root, CLIPS_SCHEMA, partition_spec=DATE_SPEC)
    per = rows // appends
    for i in range(appends):
        pdf = synth_clips_pdf(range(i * per, (i + 1) * per), seed=42, n_days=2)
        t.append(
            spark.createDataFrame(pdf, schema=CLIPS_SCHEMA),
            target_file_count=2,
        )
    return t


def _ids(t, **kw):
    return sorted(r.clip_id for r in t.scan(**kw).select("clip_id").collect())


def test_mor_delete_no_rewrite_and_scan_hides_rows(spark, table_root):
    t = _table(spark, table_root)
    all_ids = _ids(t)
    data_files_before = {e.file_path for e in t.live_files()}
    victim = all_ids[0]

    res = t.delete(f"clip_id = '{victim}'", mode="mor", key="clip_id")
    assert res.snapshot_id is not None and res.keys_deleted == 1
    # no data file was rewritten — that's the whole point
    assert {e.file_path for e in t.live_files()} == data_files_before
    assert len(t.plan().delete_files) == 1
    got = _ids(t)
    assert victim not in got and len(got) == len(all_ids) - 1
    # lazy/distributed scan agrees with the driver scan under MoR
    lazy = sorted(
        r.clip_id
        for r in t.scan(distributed_planning=True)
        .select("clip_id")
        .collect()
    )
    assert lazy == got


def test_mor_seq_rule_reinsert_survives(spark, table_root):
    """A row re-inserted AFTER the delete must survive (delete applies
    only to data files with strictly smaller seq)."""
    t = _table(spark, table_root)
    victim_pdf = synth_clips_pdf(range(0, 1), seed=42, n_days=2)
    victim = victim_pdf["clip_id"].iloc[0]
    t.delete(f"clip_id = '{victim}'", mode="mor", key="clip_id")
    assert victim not in _ids(t)

    t.append(spark.createDataFrame(victim_pdf, schema=CLIPS_SCHEMA))
    got = _ids(t)
    assert victim in got  # reborn row has larger seq than the delete


def test_mor_time_travel_sees_pre_delete_state(spark, table_root):
    t = _table(spark, table_root)
    pre = t.current_snapshot_id()
    n = len(_ids(t))
    t.delete("sr_hz = 8000", mode="mor", key="clip_id")
    assert len(_ids(t)) < n
    assert len(_ids(t, snapshot_id=pre)) == n


def test_materialize_deletes_drops_delete_files(spark, table_root):
    t = _table(spark, table_root)
    t.delete("sr_hz = 8000", mode="mor", key="clip_id")
    t.delete("dur_ms > 2500", mode="mor", key="clip_id")
    view_before = _ids(t)
    assert len(t.plan().delete_files) == 2

    res = t.materialize_deletes()
    assert res.snapshot_id is not None and res.delete_files_removed == 2
    assert t.plan().delete_files == []
    assert _ids(t) == view_before  # row set identical, now COW-clean
    # the delete parquet files are no longer referenced
    live = {e.file_path for e in t.live_files()}
    assert all("delete" not in p for p in live)


def test_maintenance_auto_materializes(spark, table_root):
    """compact() on a table with pending MoR deletes must not resurrect
    deleted rows (rewrites bump seq past the delete)."""
    t = _table(spark, table_root, rows=80, appends=4)
    files_before = len(t.live_files())
    t.delete("sr_hz = 8000", mode="mor", key="clip_id")
    view = _ids(t)
    t.compact(target_file_size=64 * 1024 * 1024)
    assert t.plan().delete_files == []  # materialized en route
    assert _ids(t) == view
    # materialize+compact consolidated the small files either way
    assert len(t.live_files()) < files_before


def test_row_changes_sees_mor_delete(spark, table_root):
    """CDC across a merge-on-read delete commit must emit exactly the
    deleted rows as _change_type='delete' (view diff, not file diff)."""
    from lakehouse.errors import LakehouseError

    t = _table(spark, table_root)
    base = t.current_snapshot_id()
    victims = set(
        r.clip_id
        for r in t.scan().filter("sr_hz = 8000").select("clip_id").collect()
    )
    assert victims
    t.delete("sr_hz = 8000", mode="mor", key="clip_id")

    changes = t.row_changes(from_snapshot_id=base).collect()
    assert {r._change_type for r in changes} == {"delete"}
    assert {r.clip_id for r in changes} == victims

    # the append-scan contract still rejects the row-changing commit
    with pytest.raises(LakehouseError, match="row-changing"):
        t.incremental_scan(from_snapshot_id=base)


def test_mor_delete_gc_keeps_delete_files(spark, table_root):
    """GC must treat live delete files as reachable."""
    t = _table(spark, table_root)
    res = t.delete("sr_hz = 8000", mode="mor", key="clip_id")
    assert res.delete_file is not None
    gc = t.remove_orphan_files(older_than_ms=int(1e18), dry_run=True)
    assert res.delete_file not in gc.deleted_files
    assert os.path.exists(os.path.join(t.root, res.delete_file))


def test_range_intersects_numeric_not_lexicographic():
    """Regression (round-2 review): manifest stats keep numbers as
    numbers; an earlier str() coercion compared ints lexicographically
    ('19999' < '2') and marked intersecting ranges disjoint — which made
    materialize_deletes skip affected files while dropping the delete
    files, permanently resurrecting deleted rows."""
    from lakehouse.ops.mor import _range_intersects

    assert _range_intersects({"min": 0, "max": 19999}, {"min": 2, "max": 50000})
    assert not _range_intersects({"min": 0, "max": 1}, {"min": 2, "max": 3})
    assert not _range_intersects({"min": 10, "max": 20}, {"min": 0, "max": 9})
    assert _range_intersects({"min": "a", "max": "c"}, {"min": "b", "max": "z"})
    assert _range_intersects({}, {"min": 1, "max": 2})  # missing → rewrite
    # incomparable types → conservative
    assert _range_intersects({"min": 1, "max": 2}, {"min": "x", "max": "y"})


def test_mor_numeric_key_materialize_no_resurrection(spark, tmp_path):
    """End-to-end form of the regression: numeric key whose string order
    inverts numeric order (1999 vs '2'); materialization must rewrite
    the affected file, not resurrect the deleted rows."""
    from pyspark.sql import types as T
    from lakehouse import Table

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = Table.create(spark, str(tmp_path / "num"), schema)
    df = spark.range(2000).selectExpr("id", "CAST(id AS STRING) AS v")
    t.append(df, target_file_count=1)
    t.delete("id >= 2 AND id < 100", mode="mor", key="id")
    assert t.scan().count() == 2000 - 98
    res = t.materialize_deletes()
    assert res.data_files_rewritten >= 1, (
        "numeric range intersection must mark the file affected"
    )
    assert t.scan().count() == 2000 - 98, "deleted rows resurrected"
    assert t.plan().delete_files == []


def test_overwrite_guard_same_names_different_transform(spark, tmp_path):
    """Regression (round-2 review): spec evolution that keeps field
    NAMES but changes transform parameters (bucket n=4 → n=8) must
    still trip the mixed-spec overwrite guard — files record their
    spec_id, so a name-set comparison can't be fooled."""
    import pytest as _pytest

    t = _table(spark, str(tmp_path / "t"), rows=40, appends=1)
    spec_v2 = [
        {"name": "event_date", "transform": "identity",
         "source": "event_date"},
    ]
    # same field NAME as identity spec? use bucket under a fresh name
    # twice with different n: evolve to bucket n=4, append, evolve to
    # bucket n=8 — name sets identical, definitions differ
    b4 = spec_v2 + [
        {"name": "srb", "transform": "bucket", "source": "sr_hz", "n": 4}
    ]
    b8 = spec_v2 + [
        {"name": "srb", "transform": "bucket", "source": "sr_hz", "n": 8}
    ]
    t.update_partition_spec(b4)
    pdf = synth_clips_pdf(range(40, 60), seed=42, n_days=2)
    t.append(spark.createDataFrame(pdf, schema=CLIPS_SCHEMA))
    t.update_partition_spec(b8)
    pdf2 = synth_clips_pdf(range(60, 70), seed=42, n_days=2)
    with _pytest.raises(ValueError, match="older partition spec"):
        t.overwrite_partitions(
            spark.createDataFrame(pdf2, schema=CLIPS_SCHEMA)
        )


def test_mor_validation_is_directional(spark, tmp_path):
    """Regression (round-2 review): a count-equality check let a
    null-key matched row and an unmatched duplicate-key row cancel out.
    The two failure modes must each raise on their own AND together."""
    from pyspark.sql import types as T
    from lakehouse import Table

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("flag", T.LongType(), True),
        ]
    )

    def fresh(name, rows):
        t = Table.create(spark, str(tmp_path / name), schema)
        t.append(spark.createDataFrame(rows, schema), target_file_count=1)
        return t

    # cancel-out scenario: r1(k=5, match), r2(k=5, no match), r3(null, match)
    t = fresh("both", [(5, 1), (5, 0), (None, 1)])
    with pytest.raises(ValueError, match="NULL"):
        t.delete("flag = 1", mode="mor", key="k")

    # over-delete alone
    t = fresh("over", [(5, 1), (5, 0)])
    with pytest.raises(ValueError, match="not unique"):
        t.delete("flag = 1", mode="mor", key="k")

    # under-delete alone (null key matched)
    t = fresh("under", [(None, 1), (7, 0)])
    with pytest.raises(ValueError, match="NULL"):
        t.delete("flag = 1", mode="mor", key="k")

    # clean case passes, and validate=False skips the extra passes
    t = fresh("ok", [(1, 1), (2, 0)])
    res = t.delete("flag = 1", mode="mor", key="k", validate=False)
    assert res.keys_deleted == 1
    assert t.scan().count() == 1


# --- positional deletes (Iceberg v2 position deletes, round 2) ---------------


def test_pos_delete_no_rewrite_and_scan_hides_rows(spark, table_root):
    """A positional delete commits only a (file_path, row_pos) file; no
    data file is rewritten, and scans hide exactly the matched rows —
    driver and lazy/distributed paths agreeing."""
    t = _table(spark, table_root)
    data_files_before = {e.file_path for e in t.live_files()}
    expect = sorted(
        r.clip_id
        for r in t.scan().filter("dur_ms <= 1500").select("clip_id").collect()
    )
    n_match = t.scan().count() - len(expect)

    res = t.delete("dur_ms > 1500", mode="mor-pos")
    assert res.snapshot_id is not None and res.keys_deleted == n_match
    assert {e.file_path for e in t.live_files()} == data_files_before
    dels = t.plan().delete_files
    assert len(dels) == 1 and dels[0].is_pos_delete
    assert dels[0].delete_key is None  # not an equality delete
    assert _ids(t) == expect
    lazy = sorted(
        r.clip_id
        for r in t.scan(distributed_planning=True)
        .select("clip_id")
        .collect()
    )
    assert lazy == expect


def test_pos_delete_reinsert_survives_and_time_travel(spark, table_root):
    """Rows re-appended after a positional delete land in new files
    (fresh paths, larger seq) and must survive; time travel still sees
    the pre-delete state."""
    t = _table(spark, table_root)
    pre = t.current_snapshot_id()
    n = len(_ids(t))
    victim_pdf = synth_clips_pdf(range(0, 5), seed=42, n_days=2)
    victims = sorted(victim_pdf["clip_id"])
    t.delete(f"clip_id in {tuple(victims)}", mode="mor-pos")
    assert not set(victims) & set(_ids(t))

    t.append(spark.createDataFrame(victim_pdf, schema=CLIPS_SCHEMA))
    got = _ids(t)
    assert set(victims) <= set(got)
    assert len(_ids(t, snapshot_id=pre)) == n


def test_pos_delete_handles_duplicate_keys(spark, table_root):
    """The case equality deletes must REFUSE (predicate splits rows that
    share a key), positional deletes handle exactly: two rows with the
    same clip_id but different dur_ms, delete only one of them."""
    pdf = synth_clips_pdf(range(0, 20), seed=42, n_days=2)
    twin = pdf.copy()
    twin["dur_ms"] = twin["dur_ms"] + 1
    t = Table.create(spark, table_root, CLIPS_SCHEMA, partition_spec=DATE_SPEC)
    t.append(spark.createDataFrame(pdf, schema=CLIPS_SCHEMA), target_file_count=2)
    t.append(spark.createDataFrame(twin, schema=CLIPS_SCHEMA), target_file_count=2)
    victim = pdf["clip_id"].iloc[0]
    d = int(pdf["dur_ms"].iloc[0])
    pred = f"clip_id = '{victim}' AND dur_ms = {d}"

    with pytest.raises(ValueError, match="not unique"):
        t.delete(pred, mode="mor", key="clip_id")

    res = t.delete(pred, mode="mor-pos")
    assert res.keys_deleted == 1
    left = t.scan().filter(f"clip_id = '{victim}'").collect()
    assert len(left) == 1 and left[0].dur_ms == d + 1


def test_pos_and_eq_deletes_coexist_and_materialize(spark, table_root):
    """One pending equality delete + one pending positional delete: the
    scan applies both; materialize folds both in and drops both delete
    files without changing the row set."""
    t = _table(spark, table_root)
    t.delete("sr_hz = 8000", mode="mor", key="clip_id")
    t.delete("dur_ms > 2500", mode="mor-pos")
    dels = t.plan().delete_files
    assert len(dels) == 2
    assert sorted(d.is_pos_delete for d in dels) == [False, True]
    view = _ids(t)
    expect = sorted(
        r.clip_id
        for r in t.scan(snapshot_id=sorted(
            s.snapshot_id for s in t.snapshots()
        )[-3])
        .filter("NOT (sr_hz = 8000) AND NOT (dur_ms > 2500)")
        .select("clip_id")
        .collect()
    )
    assert view == expect

    res = t.materialize_deletes()
    assert res.delete_files_removed == 2
    assert t.plan().delete_files == []
    assert _ids(t) == view


def test_pos_delete_maintenance_with_clustered_files(spark, table_root):
    """compact() auto-materializes pending positional deletes, including
    through the clustered-rewrite branch (files carrying a zkey)."""
    t = _table(spark, table_root, rows=80, appends=4)
    t.cluster(["clip_id", "dur_ms"], curve="zorder",
              target_file_size=64 * 1024 * 1024)
    t.delete("dur_ms > 1500", mode="mor-pos")
    view = _ids(t)
    t.compact(target_file_size=64 * 1024 * 1024)
    assert t.plan().delete_files == []
    assert _ids(t) == view


def test_row_changes_sees_pos_delete(spark, table_root):
    """CDC across a positional-delete commit emits exactly the deleted
    rows as _change_type='delete'."""
    t = _table(spark, table_root)
    pre = t.current_snapshot_id()
    res = t.delete("dur_ms > 2000", mode="mor-pos")
    post = t.current_snapshot_id()
    cdc = t.row_changes(from_snapshot_id=pre, to_snapshot_id=post)
    assert cdc.filter("_change_type = 'insert'").count() == 0
    dels = cdc.filter("_change_type = 'delete'")
    assert dels.count() == res.keys_deleted
    assert dels.filter("dur_ms <= 2000").count() == 0


# --- merge-on-read MERGE -----------------------------------------------------


def test_merge_mor_equals_cow_and_rewrites_nothing(spark, tmp_path):
    """MoR MERGE (one commit: equality-delete file + appends) must be
    row-identical to the COW merge on the same source, with ZERO target
    data files read or rewritten, and must survive materialization."""
    from test_maintenance import (
        _merge_source,
        make_small_file_table,
        scan_fingerprint,
    )

    t_cow = make_small_file_table(spark, str(tmp_path / "cow"), rows=100, appends=2)
    t_mor = make_small_file_table(spark, str(tmp_path / "mor"), rows=100, appends=2)
    src = _merge_source(
        spark, updates=range(0, 20), inserts=range(1000, 1015),
        deletes=range(20, 30),
    )
    t_cow.merge(src, key="clip_id")

    files_before = {e.file_path for e in t_mor.live_files()}
    res = t_mor.merge(src, key="clip_id", mode="mor")
    assert res.snapshot_id is not None
    assert res.files_touched == 0  # no target file rewritten
    # every pre-merge data file is still live (append-only commit)...
    assert files_before <= {e.file_path for e in t_mor.live_files()}
    # ...retired rows hide behind exactly one equality delete file
    dels = t_mor.plan().delete_files
    assert len(dels) == 1 and not dels[0].is_pos_delete

    assert scan_fingerprint(t_mor) == scan_fingerprint(t_cow)
    # each mode keeps its own snapshot-summary keys
    cow_sum = t_cow.meta.snapshots[-1].summary
    mor_sum = t_mor.meta.snapshots[-1].summary
    assert cow_sum["files_touched"] > 0 and "mode" not in cow_sum
    assert mor_sum["mode"] == "merge-on-read"
    assert mor_sum["keys_in_delete_file"] == 45  # every source key
    assert "files_touched" not in mor_sum

    # updated keys appended in the SAME commit as the delete survive it
    # (same seq — the strict sequence rule), already implied by the
    # fingerprint; materialization folds the delete in unchanged
    fp = scan_fingerprint(t_mor)
    t_mor.materialize_deletes()
    assert t_mor.plan().delete_files == []
    assert scan_fingerprint(t_mor) == fp


def test_merge_mor_rejects_null_and_duplicate_keys(spark, table_root):
    import pandas as pd

    from lakehouse.errors import MergeError

    t = _table(spark, table_root)
    before = t.current_snapshot_id()
    spark.catalog.clearCache()
    pdf = synth_clips_pdf(range(0, 4), seed=42, n_days=2)
    dup = pd.concat([pdf, pdf.iloc[[0]]], ignore_index=True)
    with pytest.raises(MergeError, match="duplicate"):
        t.merge(
            spark.createDataFrame(dup, schema=CLIPS_SCHEMA),
            key="clip_id", mode="mor",
        )
    from pyspark.sql import types as T

    nul = pdf.copy()
    nul.loc[0, "clip_id"] = None
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CLIPS_SCHEMA.fields]
    )
    with pytest.raises(MergeError, match="NULL"):
        t.merge(
            spark.createDataFrame(nul, schema=nullable),
            key="clip_id", mode="mor",
        )
    # a refused merge commits nothing and leaves no source cached
    assert t.current_snapshot_id() == before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_merge_mor_then_reinsert_seq_rule(spark, table_root):
    """A key deleted by a MoR merge and appended LATER must resurface
    (later seq), while the merge's own rows keep shadowing the originals."""
    t = _table(spark, table_root)
    victim_pdf = synth_clips_pdf(range(0, 1), seed=42, n_days=2)
    victim = victim_pdf["clip_id"].iloc[0]
    victim_pdf["op"] = "delete"
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        CLIPS_SCHEMA.fields + [T.StructField("op", T.StringType(), True)]
    )
    t.merge(
        spark.createDataFrame(victim_pdf, schema=schema),
        key="clip_id", mode="mor",
    )
    assert victim not in _ids(t)
    t.append(spark.createDataFrame(
        synth_clips_pdf(range(0, 1), seed=42, n_days=2), schema=CLIPS_SCHEMA
    ))
    assert victim in _ids(t)


# --- convert_deletes (eq→pos minor compaction) -------------------------------


def test_convert_deletes_folds_all_into_one_pos_file(spark, table_root):
    """Two equality deletes + one positional delete collapse into ONE
    positional file with no data rewrite and no visible-row change;
    materialization afterwards agrees."""
    t = _table(spark, table_root)
    t.delete("dur_ms <= 1200", mode="mor", key="clip_id")
    t.delete("sr_hz = 16000", mode="mor", key="clip_id")
    t.delete("dur_ms >= 2800", mode="mor-pos")
    assert len(t.plan().delete_files) == 3
    ids_before = _ids(t)
    data_before = {e.file_path for e in t.live_files()}

    res = t.convert_deletes()
    assert res.snapshot_id is not None
    assert res.eq_files_converted == 2 and res.pos_files_compacted == 1
    # zero data rewrites: every data file survives verbatim
    assert {e.file_path for e in t.live_files()} == data_before
    dels = t.plan().delete_files
    assert len(dels) == 1 and dels[0].is_pos_delete
    assert res.positions_written == dels[0].record_count > 0
    assert _ids(t) == ids_before
    # lazy/distributed scan applies the converted file identically
    lazy = sorted(
        r.clip_id
        for r in t.scan(distributed_planning=True).select("clip_id").collect()
    )
    assert lazy == ids_before

    t.materialize_deletes()
    assert t.plan().delete_files == []
    assert _ids(t) == ids_before


def test_convert_deletes_preserves_reinsert_seq_rule(spark, table_root):
    """A key deleted (MoR) then re-appended is visible with exactly one
    row; conversion must emit positions ONLY for the pre-delete rows, so
    the re-appended row survives both the convert and the fold-in."""
    t = _table(spark, table_root)
    victim = _ids(t)[0]
    pre_snap = t.current_snapshot_id()
    t.delete(f"clip_id = '{victim}'", mode="mor", key="clip_id")
    # re-append the exact pre-delete row (via time travel)
    row = t.scan(snapshot_id=pre_snap).filter(
        F.col("clip_id") == victim
    )
    t.append(row)
    assert _ids(t).count(victim) == 1

    res = t.convert_deletes()
    assert res.eq_files_converted == 1
    assert _ids(t).count(victim) == 1
    t.materialize_deletes()
    assert _ids(t).count(victim) == 1


def test_convert_deletes_noop_cases(spark, table_root):
    t = _table(spark, table_root)
    assert t.convert_deletes().snapshot_id is None  # nothing pending
    t.delete("dur_ms >= 2800", mode="mor-pos")
    # a single positional file: nothing to convert or compact
    assert t.convert_deletes().snapshot_id is None
    assert len(t.plan().delete_files) == 1


def test_merge_mor_sharded_delete_files(spark, table_root, monkeypatch):
    """Bulk MoR MERGE shards its equality-delete file by key range (no
    single repartition(1) wall at 10^12 rows); readers union the shards
    and the scan is unchanged."""
    import lakehouse.ops.mor as mor

    monkeypatch.setattr(mor, "DELETE_FILE_SHARD_ROWS", 8)
    t = _table(spark, table_root, rows=40, appends=2)
    src = t.scan().withColumn(
        "transcript", F.concat(F.col("transcript"), F.lit(" [v2]"))
    )
    res = t.merge(src, key="clip_id", mode="mor")
    dels = t.plan().delete_files
    assert len(dels) >= 3  # 40 keys / 8-per-shard
    assert all(not d.is_pos_delete for d in dels)
    # shards carry DISJOINT key ranges (range-sharded, not hashed)
    ranges = sorted(
        (d.stats["clip_id"]["min"], d.stats["clip_id"]["max"]) for d in dels
    )
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    got = t.scan()
    assert got.count() == 40
    assert got.filter(F.col("transcript").endswith(" [v2]")).count() == 40
    t.materialize_deletes()
    assert t.plan().delete_files == []
    assert t.scan().filter(
        F.col("transcript").endswith(" [v2]")
    ).count() == 40


def test_update_mor_equals_cow(spark, tmp_path):
    """MoR UPDATE (equality delete + appended updated rows, zero target
    rewrites) must be row-identical to the COW UPDATE on the same
    predicate/SET, and survive materialization."""
    t_cow = _table(spark, str(tmp_path / "cow"))
    t_mor = _table(spark, str(tmp_path / "mor"))
    set_exprs = {"transcript": "concat(transcript, ' [upd]')",
                 "dur_ms": "dur_ms + 1"}
    pred = "sr_hz = 8000"
    t_cow.update(set_exprs, pred)
    files_before = {e.file_path for e in t_mor.live_files()}
    res = t_mor.update(set_exprs, pred, mode="mor", key="clip_id")
    assert res.files_touched == 0
    assert files_before <= {e.file_path for e in t_mor.live_files()}

    from test_maintenance import scan_fingerprint

    assert scan_fingerprint(t_mor) == scan_fingerprint(t_cow)
    t_mor.materialize_deletes()
    assert scan_fingerprint(t_mor) == scan_fingerprint(t_cow)


def test_update_mor_with_pending_delete_no_resurrection(spark, table_root):
    """Rows hidden by a PENDING MoR delete must not come back as
    updated copies: the matched-rows read applies pending deletes."""
    t = _table(spark, table_root)
    victims = {
        r.clip_id
        for r in t.scan().filter("dur_ms <= 1000").select("clip_id").collect()
    }
    t.delete("dur_ms <= 1000", mode="mor", key="clip_id")
    n_visible = t.scan().count()
    t.update(
        {"transcript": "concat(transcript, ' [u]')"},
        "dur_ms <= 99999",
        mode="mor",
        key="clip_id",
    )
    got = t.scan()
    assert got.count() == n_visible
    assert not victims & {r.clip_id for r in got.select("clip_id").collect()}
    assert got.filter("transcript NOT LIKE '% [u]'").count() == 0
