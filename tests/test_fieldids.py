"""Field-id column mapping: RENAME/DROP COLUMN without rewrites.

Iceberg-parity semantics (lakehouse/fieldids.py): renames and drops are
metadata-only commits; old files stay live under their write-time
physical names and every reader resolves columns by immutable field id.
"""

import os

import pytest

from lakehouse import CLIPS_SCHEMA, Table
from lakehouse.errors import SchemaEvolutionError
from lakehouse.synth import synth_clips_pdf

DATE_SPEC = [
    {"name": "event_date", "transform": "identity", "source": "event_date"}
]


def _make(spark, root, **kw):
    return Table.create(
        spark, root, CLIPS_SCHEMA, partition_spec=DATE_SPEC, **kw
    )


def _df(spark, lo, hi, n_days=4):
    return spark.createDataFrame(
        synth_clips_pdf(range(lo, hi), seed=42, n_days=n_days),
        schema=CLIPS_SCHEMA,
    )


def _live_paths(t):
    return sorted(e.file_path for e in t.plan().files)


def test_rename_is_metadata_only_and_scan_maps(spark, table_root):
    t = _make(spark, table_root)
    t.append(_df(spark, 0, 32))
    before = _live_paths(t)
    expected = {
        r.clip_id: r.transcript
        for r in t.scan().select("clip_id", "transcript").collect()
    }

    t.rename_column("transcript", "text_out")

    # zero data rewrites: exactly the same physical files stay live
    assert _live_paths(t) == before
    got = {
        r.clip_id: r.text_out
        for r in t.scan().select("clip_id", "text_out").collect()
    }
    assert got == expected
    assert "transcript" not in t.schema.names
    # new writes land under the new name and mix fine with old files
    t.append(
        _df(spark, 32, 48).withColumnRenamed("transcript", "text_out")
    )
    assert t.scan().filter("text_out IS NOT NULL").count() == 48


def test_rename_pruning_stays_correct(spark, table_root):
    t = _make(spark, table_root)
    t.append(_df(spark, 0, 16))
    t.rename_column("dur_ms", "duration_ms")
    t.append(
        _df(spark, 16, 32).withColumnRenamed("dur_ms", "duration_ms")
    )
    all_rows = t.scan().select("clip_id", "duration_ms").collect()
    hi = sorted(r.duration_ms for r in all_rows)[len(all_rows) // 2]
    want = sorted(
        r.clip_id for r in all_rows if r.duration_ms > hi
    )
    got = sorted(
        r.clip_id
        for r in t.scan(
            filter=[("duration_ms", ">", hi)]
        ).select("clip_id").collect()
    )
    assert got == want
    # old files' stats live under the OLD name: pruning must still be
    # able to use them (name translated per entry), never mis-prune
    plan = t.plan(filter=[("duration_ms", ">", hi)])
    assert len(plan.files) <= plan.candidate_files


def test_drop_then_readd_never_resurrects(spark, table_root):
    t = _make(spark, table_root)
    t.append(_df(spark, 0, 16))
    t.drop_column("codec")
    assert "codec" not in t.schema.names
    # same physical files; dropped values unreachable
    assert t.scan().count() == 16

    # re-add the NAME: fresh field id — old values must read as NULL
    from pyspark.sql import types as T

    t.evolve_schema(
        T.StructType(
            [*t.schema.fields, T.StructField("codec", T.StringType(), True)]
        )
    )
    vals = t.scan().select("codec").collect()
    assert all(r.codec is None for r in vals)
    new = _df(spark, 16, 24).withColumn(
        "codec", __import__("pyspark").sql.functions.lit("opus")
    )
    t.append(new.select(*[f.name for f in t.schema.fields]))
    got = {
        r.clip_id: r.codec
        for r in t.scan().select("clip_id", "codec").collect()
    }
    assert sum(v == "opus" for v in got.values()) == 8
    assert sum(v is None for v in got.values()) == 16


def test_rename_swap_stats_never_cross(spark, table_root):
    """a→tmp, b→a: predicates on the final 'a' must not prune with the
    old 'a' column's stats (the classic column-mapping trap)."""
    t = _make(spark, table_root)
    t.append(_df(spark, 0, 16))
    t.rename_column("dur_ms", "tmp_ms")
    t.rename_column("sr_hz", "dur_ms")  # old name now means sr_hz!
    rows = t.scan().select("clip_id", "dur_ms", "tmp_ms").collect()
    # 'dur_ms' now carries sample rates (8k/16k/44.1k domain)
    assert {r.dur_ms for r in rows} <= {8000, 16000, 22050, 44100, 48000}
    want = sorted(r.clip_id for r in rows if r.dur_ms >= 16000)
    got = sorted(
        r.clip_id
        for r in t.scan(filter=[("dur_ms", ">=", 16000)])
        .select("clip_id")
        .collect()
    )
    assert got == want


def test_compaction_migrates_renamed_files(spark, table_root):
    t = _make(spark, table_root)
    for lo in range(0, 32, 8):
        t.append(_df(spark, lo, lo + 8))
    t.rename_column("transcript", "text_out")
    before = {
        r.clip_id: r.text_out
        for r in t.scan().select("clip_id", "text_out").collect()
    }
    res = t.compact(small_file_threshold=10**9, min_input_files=2)
    assert res.files_rewritten > 0
    after = {
        r.clip_id: r.text_out
        for r in t.scan().select("clip_id", "text_out").collect()
    }
    assert after == before
    # migrated outputs physically carry the CURRENT name
    import pyarrow.parquet as pq

    for e in t.plan().files:
        names = pq.ParquetFile(
            os.path.join(t.root, e.file_path)
        ).schema_arrow.names
        if e.schema_id == t.meta.current_schema_id:
            assert "text_out" in names and "transcript" not in names


def test_dml_and_cdc_after_rename(spark, table_root):
    t = _make(spark, table_root)
    t.append(_df(spark, 0, 24))
    t.rename_column("transcript", "text_out")
    base_snap = t.current_snapshot_id()

    # COW update touching the renamed column
    t.update({"text_out": "'redacted'"}, [("sr_hz", ">", 0)])
    assert (
        t.scan().filter("text_out = 'redacted'").count() == 24
    )
    # MoR delete (eq key untouched by the rename)
    some = [r.clip_id for r in t.scan().select("clip_id").limit(4).collect()]
    t.delete([("clip_id", "in", some)], mode="mor")
    assert t.scan().count() == 20
    # CDC between the pre-update snapshot and now, on current names
    diff = t.row_changes(from_snapshot_id=base_snap)
    assert set(diff.columns) >= {"text_out", "_change_type"}
    assert diff.filter("_change_type = 'insert'").count() == 20


def test_merge_after_rename(spark, table_root):
    t = _make(spark, table_root)
    t.append(_df(spark, 0, 24))
    t.rename_column("transcript", "text_out")
    src = (
        _df(spark, 8, 12)
        .withColumnRenamed("transcript", "text_out")
        .withColumn(
            "text_out", __import__("pyspark").sql.functions.lit("merged")
        )
    )
    t.merge(src, key="clip_id")
    got = t.scan().filter("text_out = 'merged'").count()
    assert got == 4
    assert t.scan().count() == 24


def test_datasource_read_after_rename(spark, table_root):
    from lakehouse.datasource import register

    register(spark)
    t = _make(spark, table_root)
    t.append(_df(spark, 0, 16))
    t.rename_column("transcript", "text_out")
    t.append(
        _df(spark, 16, 24).withColumnRenamed("transcript", "text_out")
    )
    df = (
        spark.read.format("lakehouse")
        .load(t.root)
        .select("clip_id", "text_out")
    )
    native = {
        r.clip_id: r.text_out
        for r in t.scan().select("clip_id", "text_out").collect()
    }
    assert {r.clip_id: r.text_out for r in df.collect()} == native


def test_mapped_guards(spark, table_root):
    t = _make(spark, table_root)
    t.append(_df(spark, 0, 8))
    with pytest.raises(SchemaEvolutionError):
        t.rename_column("event_date", "d")  # partition source
    with pytest.raises(SchemaEvolutionError):
        t.rename_column("nope", "x")
    with pytest.raises(SchemaEvolutionError):
        t.rename_column("sr_hz", "dur_ms")  # exists
    t.delete([("clip_id", "=", "missing")], mode="mor")
    # pending eq delete keys on clip_id → rename/drop of clip_id blocked
    if any(d.delete_key == "clip_id" for d in t.plan().delete_files):
        with pytest.raises(SchemaEvolutionError):
            t.rename_column("clip_id", "cid")


def test_field_id_reconstruction_and_monotonicity(spark, table_root):
    from lakehouse import fieldids

    t = _make(spark, table_root)
    t.append(_df(spark, 0, 8))
    ids0 = fieldids.schema_field_ids(t.meta.schemas)[0]
    assert ids0["clip_id"] == 0 and len(set(ids0.values())) == len(ids0)
    t.rename_column("codec", "codec_name")
    ids1 = fieldids.schema_field_ids(t.meta.schemas)
    # rename keeps the id under the new name
    assert ids1[-1]["codec_name"] == ids0["codec"]
    # additive evolution after mapping embeds explicit ids with a fresh
    # id for the new column (monotone explicitness)
    from pyspark.sql import types as T

    t.evolve_schema(
        T.StructType(
            [*t.schema.fields, T.StructField("lang", T.StringType(), True)]
        )
    )
    ids2 = fieldids.schema_field_ids(t.meta.schemas)[-1]
    assert ids2["lang"] == max(ids0.values()) + 1
    assert fieldids.has_mapped_schemas(t.meta.schemas)


def _kv_table(spark, root, *, spec=None):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = Table.create(spark, root, schema, partition_spec=spec)
    t.append(
        spark.createDataFrame([(i, f"v{i}") for i in range(10)], schema)
    )
    return t


def test_materialize_deletes_after_rename_keeps_values(spark, table_root):
    t = _kv_table(spark, table_root)
    t.rename_column("v", "w")
    t.delete("k < 3", mode="mor", key="k")
    want = {(i, f"v{i}") for i in range(3, 10)}
    assert {(r.k, r.w) for r in t.scan().collect()} == want
    t.materialize_deletes()
    assert not t.plan().delete_files
    assert {(r.k, r.w) for r in t.scan().collect()} == want


def test_every_reader_returns_the_same_rows(spark, tmp_path):
    """One table with a renamed column, a DEFAULT-added column, and one
    pending equality plus one positional delete: every read path must
    return the same row set, before and after materialization."""
    from pyspark.sql import types as T

    from lakehouse.datasource import register
    from lakehouse.spj import storage_partitioned_join

    register(spark)
    spec = [{"name": "kb", "transform": "bucket", "source": "k", "n": 4}]
    t = _kv_table(spark, str(tmp_path / "t"), spec=spec)
    t.rename_column("v", "w")
    t.add_column("score", "bigint", default=7)
    t.append(
        spark.createDataFrame(
            [(i, f"v{i}", i * 100) for i in range(10, 15)], t.schema
        )
    )
    t.delete("k < 3", mode="mor", key="k")
    t.delete("w = 'v12'", mode="mor-pos")
    kinds = sorted(d.is_pos_delete for d in t.plan().delete_files)
    assert kinds == [False, True]

    cols = ["k", "w", "score"]
    want = {(i, f"v{i}", 7) for i in range(3, 10)} | {
        (i, f"v{i}", i * 100) for i in (10, 11, 13, 14)
    }

    def rows(df):
        return {tuple(r) for r in df.select(*cols).collect()}

    def readers():
        yield "scan", t.scan()
        yield "datasource", spark.read.format("lakehouse").load(t.root)
        yield "lazy", t.scan(distributed_planning=True)
        yield "changes", t.row_changes(from_snapshot_id=None).where(
            "_change_type = 'insert'"
        )

    for name, df in readers():
        assert rows(df) == want, name

    t.materialize_deletes()
    assert not t.plan().delete_files
    keys = Table.create(
        spark,
        str(tmp_path / "keys"),
        T.StructType([T.StructField("k", T.LongType())]),
        partition_spec=spec,
    )
    keys.append(spark.range(20).withColumnRenamed("id", "k"))
    spj = storage_partitioned_join(
        t, keys, on="k", select_a=["w", "score"], select_b=[]
    )
    for name, df in [
        *readers(),
        ("spj", spj),
        ("lineage", t.scan_with_lineage()),
    ]:
        assert rows(df) == want, name
