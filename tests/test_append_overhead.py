"""What one micro-batch append costs the driver, and that the cheap path
keeps the append's meaning.

A warm ``append_batch`` call pays for its Spark write job and a bounded
number of py4j round trips, whatever the column count; it reads the
table metadata once; the cached conform projection follows schema
changes between batches; and an empty batch commits nothing and leaves
no data file behind."""

from __future__ import annotations

import datetime
import os
import subprocess
import sys
import threading

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse import Table
from lakehouse import schema as schema_mod
from lakehouse.meta import snapshots as S
from lakehouse.meta.manifests import read_manifest
from lakehouse.schema import CLIPS_SCHEMA, conform
from lakehouse.streaming import append_batch
from lakehouse.synth import synth_clips_pdf

DATE_SPEC = [
    {"name": "event_date", "transform": "identity", "source": "event_date"}
]
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _clips(spark, start: int, n: int = 4):
    pdf = synth_clips_pdf(range(start, start + n), seed=start, n_days=2)
    return spark.createDataFrame(pdf, CLIPS_SCHEMA)


def _py4j_round_trips(monkeypatch, fn) -> int:
    """py4j commands ``fn`` sends from its own thread. py4j's release
    thread, which frees Java objects whenever Python collects them
    (objects of earlier work included), is not counted."""
    from py4j.clientserver import ClientServerConnection

    caller = threading.get_ident()
    sent = [0]
    orig = ClientServerConnection.send_command

    def counted(self, *a, **kw):
        if threading.get_ident() == caller:
            sent[0] += 1
        return orig(self, *a, **kw)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    try:
        fn()
    finally:
        monkeypatch.setattr(ClientServerConnection, "send_command", orig)
    return sent[0]


def _warm_append_round_trips(monkeypatch, table, batches) -> int:
    sink = append_batch(table)
    sink(batches[0], 0)  # warm: builds the conform projection
    return _py4j_round_trips(monkeypatch, lambda: sink(batches[1], 1))


def test_warm_append_batch_py4j_budget(spark, tmp_path, monkeypatch):
    clips = Table.create(
        spark, str(tmp_path / "clips"), CLIPS_SCHEMA, partition_spec=DATE_SPEC
    )
    clips_trips = _warm_append_round_trips(
        monkeypatch, clips, [_clips(spark, 0), _clips(spark, 4)]
    )
    assert clips_trips <= 100, clips_trips
    assert clips.scan().count() == 8

    wide_schema = T.StructType(
        [T.StructField("clip_id", T.StringType(), False)]
        + [T.StructField(f"c{i}", T.IntegerType()) for i in range(38)]
        + [T.StructField("event_date", T.DateType())]
    )
    wide = Table.create(
        spark, str(tmp_path / "wide"), wide_schema, partition_spec=DATE_SPEC
    )

    def wide_batch(start):
        day = datetime.date(2024, 1, 1)
        rows = [(f"w{start + r}", *range(38), day) for r in range(4)]
        return spark.createDataFrame(rows, wide_schema)

    batches = [wide_batch(0), wide_batch(4)]
    wide_trips = _warm_append_round_trips(monkeypatch, wide, batches)
    assert wide_trips <= clips_trips + 10, (clips_trips, wide_trips)
    assert wide.scan().count() == 8


def test_conform_follows_schema_changes_between_batches(spark, tmp_path):
    """Every batch has the same input columns (out of schema order, an
    extra one, ``n`` as a string); a DEFAULT added and an int→long
    widening between batches reach the next batch."""
    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("n", T.IntegerType()),
            T.StructField("s", T.StringType()),
        ]
    )
    t = Table.create(spark, str(tmp_path / "t"), schema)
    sink = append_batch(t)

    def batch(i):
        return spark.createDataFrame(
            [(str(i * 10), f"s{i}", "junk", f"k{i}")],
            "n string, s string, extra string, id string",
        )

    def uncached(df, target):
        # conform's projection written out plainly, built afresh
        present = set(df.columns)
        return df.select(
            *[
                (
                    F.col(f.name)
                    if f.name in present
                    else F.lit(schema_mod.field_default(f))
                )
                .cast(f.dataType)
                .alias(f.name)
                for f in target.fields
            ]
        )

    def same_as_uncached(df):
        target = t.schema
        got, want = conform(df, target), uncached(df, target)
        assert got.schema == want.schema
        assert got.collect() == want.collect()

    sink(batch(0), 0)
    same_as_uncached(batch(0))
    t.add_column("d", T.IntegerType(), default=42)
    sink(batch(1), 1)
    same_as_uncached(batch(1))
    t.evolve_schema(
        T.StructType(
            [
                T.StructField(
                    f.name,
                    T.LongType() if f.name == "n" else f.dataType,
                    f.nullable,
                    f.metadata,
                )
                for f in t.schema.fields
            ]
        )
    )
    sink(batch(2), 2)
    same_as_uncached(batch(2))

    rows = sorted(tuple(r) for r in t.scan().collect())
    assert t.scan().columns == ["id", "n", "s", "d"]
    # batch 0 predates the column: it scans as the DEFAULT too
    assert rows == [("k0", 0, "s0", 42), ("k1", 10, "s1", 42), ("k2", 20, "s2", 42)]
    assert t.scan().schema["n"].dataType == T.LongType()

    snap = t.meta.snapshot()
    mlist = S.read_manifest_list(t.root, snap.manifest_list)
    newest = [
        e
        for m in mlist
        for e in read_manifest(t.root, m["path"])
        if e.seq == snap.snapshot_id and e.record_count
    ]
    assert len(newest) == 1
    physical = pq.read_schema(os.path.join(t.root, newest[0].file_path))
    assert str(physical.field("n").type) == "int64"
    assert physical.names[:4] == ["id", "n", "s", "d"]
    assert pq.read_table(os.path.join(t.root, newest[0].file_path)).column(
        "d"
    ).to_pylist() == [42]


def test_conform_projection_cache_is_bounded_and_thread_safe(
    spark, monkeypatch
):
    """More threads than cores conform against more schemas than the
    cache holds: every result has its own schema's columns and values,
    and the cache never passes its bound."""
    from concurrent.futures import ThreadPoolExecutor

    monkeypatch.setattr(schema_mod, "_PROJECTIONS_MAX", 3)
    df = spark.createDataFrame([(1,)], "a int")
    targets = [
        T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField(
                    f"x{i}", T.IntegerType(), metadata={"initial-default": i}
                ),
            ]
        )
        for i in range(6)
    ]

    def worker(w):
        out = []
        for k in range(4):
            i = (w + k) % len(targets)
            out.append((i, conform(df, targets[i]).collect()))
            assert len(schema_mod._PROJECTIONS) <= 3
        return out

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(worker, w) for w in range(8)]
            results = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    for out in results:
        for i, rows in out:
            assert [r.asDict() for r in rows] == [{"a": 1, f"x{i}": i}]
    assert len(schema_mod._PROJECTIONS) <= 3


def test_append_batch_reads_metadata_once(spark, tmp_path, monkeypatch):
    import lakehouse.table as table_mod

    t = Table.create(
        spark, str(tmp_path / "t"), CLIPS_SCHEMA, partition_spec=DATE_SPEC
    )
    sink = append_batch(t)
    sink(_clips(spark, 0), 0)

    loads = [0]
    racing = [False]  # loads of the injected append are not counted
    orig_load = S.load_metadata

    def counted(*a, **kw):
        loads[0] += not racing[0]
        return orig_load(*a, **kw)

    monkeypatch.setattr(S, "load_metadata", counted)
    sink(_clips(spark, 4), 1)
    assert loads[0] == 1
    loads[0] = 0
    sink(_clips(spark, 4), 1)  # a replay: the guard's one read
    assert loads[0] == 1

    # a concurrent append lands between the guard and the publish: the
    # pinned base loses the CAS, the commit re-reads and both land
    other = Table.load(spark, t.root)
    other_batch = _clips(spark, 100)
    orig_write = table_mod.write_data_files
    injected = []

    def write_then_race(*a, **kw):
        out = orig_write(*a, **kw)
        if not injected:
            injected.append(other_batch)
            racing[0] = True
            try:
                other.append(other_batch)
            finally:
                racing[0] = False
        return out

    monkeypatch.setattr(table_mod, "write_data_files", write_then_race)
    loads[0] = 0
    sink(_clips(spark, 8), 2)
    monkeypatch.setattr(table_mod, "write_data_files", orig_write)

    assert injected
    assert loads[0] == 2  # the pinned read, and one after the lost CAS
    snaps = t.snapshots()
    assert [s.summary.get("stream_batch_id") for s in snaps[-2:]] == [None, 2]
    assert t.scan().count() == 16
    assert {r[0] for r in t.scan().select("clip_id").collect()} >= {
        r[0] for r in other_batch.select("clip_id").collect()
    }


def test_empty_batch_on_unpartitioned_table_leaves_no_file(spark, tmp_path):
    empty = spark.createDataFrame([], CLIPS_SCHEMA)
    # the premise: Spark's writer leaves a zero-row file for an empty
    # unpartitioned write, which a plain Table.append commits
    plain = Table.create(spark, str(tmp_path / "plain"), CLIPS_SCHEMA)
    snap = plain.append(empty)
    assert (snap.summary["added_files"], snap.summary["added_records"]) == (1, 0)

    t = Table.create(spark, str(tmp_path / "t"), CLIPS_SCHEMA)
    append_batch(t)(empty, 0)
    assert t.current_snapshot_id() is None
    left = [
        name
        for _dir, _sub, names in os.walk(os.path.join(t.root, "data"))
        for name in names
        if name.endswith(".parquet")
    ]
    assert left == []


RESTART_SCRIPT = """
import sys
from pyspark.sql import types as T
from lakehouse import schema as schema_mod
from lakehouse.schema import conform
from lakehouse.session import build_session

conf = {"spark.driver.memory": "1g", "spark.ui.enabled": "false"}
target = T.StructType([
    T.StructField("a", T.LongType()),
    T.StructField("b", T.IntegerType(), metadata={"initial-default": 7}),
])
spark = build_session("restart-1", master="local[1]", extra_conf=conf)
assert conform(spark.createDataFrame([("1",)], "a string"), target).collect() == [(1, 7)]
spark.stop()
spark = build_session("restart-2", master="local[1]", extra_conf=conf)
assert len(schema_mod._PROJECTIONS) == 1
assert conform(spark.createDataFrame([("2",)], "a string"), target).collect() == [(2, 7)]
assert len(schema_mod._PROJECTIONS) == 1
spark.stop()
print("ok")
"""


def test_conform_projection_survives_session_restart(tmp_path):
    """The cached projection is reused by a new session on the same JVM
    after ``spark.stop()``."""
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", RESTART_SCRIPT],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().endswith("ok")
