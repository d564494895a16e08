"""One scan planner: the driver loop (``plan_scan``), the Spark job over
the manifests (``plan_scan_lazy``) and its driver-materialized form
(``Table.plan(distributed=True)``) prune through one per-entry test,
``meta/scan.EntryTest``, and so give one answer to "which files can
match" — also on a field-id-mapped table with a renamed column, Bloom
sidecars and pending merge-on-read deletes of both kinds."""

from __future__ import annotations

import os
import pickle

import pytest

from lakehouse import CLIPS_SCHEMA, Table
from lakehouse.meta.scan import plan_scan_lazy
from lakehouse.synth import clip_id_for, synth_clips_pdf

DATE_SPEC = [
    {"name": "event_date", "transform": "identity", "source": "event_date"}
]


def _df(spark, lo, hi):
    return spark.createDataFrame(
        synth_clips_pdf(range(lo, hi), seed=42, n_days=4), schema=CLIPS_SCHEMA
    )


@pytest.fixture
def mapped_mor_table(spark, table_root):
    """Renamed ``dur_ms`` (old files keep stats under the old name),
    Bloom sidecars on ``clip_id``, one pending equality delete and one
    pending positional delete."""
    t = Table.create(
        spark, table_root, CLIPS_SCHEMA, partition_spec=DATE_SPEC,
        properties={"bloom_columns": ["clip_id"]},
    )
    t.append(_df(spark, 0, 24))
    t.rename_column("dur_ms", "duration_ms")
    t.append(_df(spark, 24, 48).withColumnRenamed("dur_ms", "duration_ms"))
    t.delete(f"clip_id = '{clip_id_for(3)}'", mode="mor", key="clip_id")
    t.delete(f"clip_id = '{clip_id_for(30)}'", mode="mor-pos")
    return t


def _paths(entries):
    return sorted(e.file_path for e in entries)


def test_planners_agree_on_mapped_mor_table(spark, mapped_mor_table):
    t = mapped_mor_table
    rows = t.scan().select("event_date", "duration_ms").collect()
    durs = sorted(r.duration_ms for r in rows)
    filters = {
        "partition": [("event_date", "=", rows[0].event_date)],
        "renamed range": [("duration_ms", ">", durs[len(durs) // 2])],
        "bloom in": [("clip_id", "in", [clip_id_for(7), clip_id_for(40)])],
    }
    meta = t.meta
    for name, f in filters.items():
        driver = t.plan(filter=f)
        dist = t.plan(filter=f, distributed=True)
        lazy = plan_scan_lazy(spark, t.root, meta, filter=f)
        lazy_files = sorted(
            r.file_path for r in lazy.files_df.select("file_path").collect()
        )
        assert 0 < len(driver.files) < driver.candidate_files, name
        assert _paths(driver.files) == _paths(dist.files) == lazy_files, name
        assert len(driver.delete_files) == 2, name
        assert (
            _paths(driver.delete_files)
            == _paths(dist.delete_files)
            == _paths(lazy.delete_files)
        ), name
        # data entries only, on every planner
        assert (
            driver.candidate_files
            == dist.candidate_files
            == lazy.candidate_files
            == len(t.live_files())
        ), name


def test_files_df_lists_data_files_only_under_mor(spark, table_root):
    t = Table.create(spark, table_root, CLIPS_SCHEMA, partition_spec=DATE_SPEC)
    t.append(_df(spark, 0, 40))
    t.delete(
        "clip_id IN ('%s', '%s', '%s')"
        % (clip_id_for(1), clip_id_for(2), clip_id_for(3)),
        mode="mor", key="clip_id",
    )
    live = t.live_files()
    assert len(t.plan().delete_files) == 1
    f = t.files_df()
    assert f.count() == len(live)
    assert sorted(r.file_path for r in f.collect()) == _paths(live)
    assert f.groupBy().sum("record_count").first()[0] == sum(
        e.record_count for e in live
    )
    parts = [r.partition for r in t.partitions_df().collect()]
    assert "{}" not in parts and len(parts) == len({
        str(sorted(e.partition.items())) for e in live
    })


def test_batch_reader_reads_metadata_once(spark, table_root, monkeypatch):
    import lakehouse.datasource as ds

    t = Table.create(spark, table_root, CLIPS_SCHEMA, partition_spec=DATE_SPEC)
    t.append(_df(spark, 0, 16))
    calls = []
    real = ds.load_metadata

    def counting(root):
        calls.append(root)
        return real(root)

    monkeypatch.setattr(ds, "load_metadata", counting)
    reader = ds.LakehousePushdownBatchReader(t.root, {})
    # Spark pickles the reader into the read tasks before planning:
    # the metadata must not travel with it
    assert "_meta" not in pickle.loads(pickle.dumps(reader)).__dict__
    parts = reader.partitions()
    assert len(calls) == 1
    assert sum(len(p.files) for p in parts) == len(t.live_files())


def test_analyze_writes_through_unique_temp_files(spark, table_root):
    """A stale ``<name>.tmp`` left at the stats path (a crashed or
    concurrent writer) must not break the next analyze."""
    t = Table.create(spark, table_root, CLIPS_SCHEMA)
    t.append(_df(spark, 0, 16))
    sid = t.current_snapshot_id()
    stats_dir = os.path.join(t.root, "metadata", "stats")
    for name in (f"ndv-{sid}.json.tmp", f"hist-{sid}.json.tmp"):
        os.makedirs(os.path.join(stats_dir, name))
    assert t.analyze(["clip_id"])["clip_id"].ndv > 0
    assert "sr_hz" in t.analyze_histograms(["sr_hz"])
    assert sorted(os.listdir(stats_dir)) == sorted(
        [f"ndv-{sid}.json", f"hist-{sid}.json",
         f"ndv-{sid}.json.tmp", f"hist-{sid}.json.tmp"]
    )


def test_pack_by_size_is_first_fit_decreasing():
    from lakehouse.meta.manifests import DataFileEntry, pack_by_size

    files = [DataFileEntry(f"f{s}", file_size_bytes=s) for s in (2, 5, 9, 3, 4)]
    bins = pack_by_size(files, 8)
    assert [[e.file_size_bytes for e in b] for b in bins] == [
        [9], [5, 3], [4, 2],
    ]
