"""One write contract for every row writer — the write-side twin of
``test_fieldids.test_every_reader_returns_the_same_rows``.

Each writer lands the same one-row append on a table carrying one
contract. A writer either commits exactly what ``Table.append`` commits
(rows and file layout tags) or refuses before commit, leaving the
current snapshot and the scan untouched. DEFAULT fill is applied by
every writer, never refused."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from lakehouse import Table
from lakehouse.datasource import register
from lakehouse.streaming import append_batch

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("g", T.LongType()),
        T.StructField("id", T.LongType()),
    ]
)

# contract name -> (table setup, the appended row as {col: value})
CONTRACTS = {
    "check": (
        lambda t: t.add_check_constraint("v_pos", "v > 0"),
        {"k": 1, "v": -5},
    ),
    "generated": (
        lambda t: t.set_generated_column("g", "v * 2"),
        {"k": 1, "v": 7},
    ),
    "default": (
        lambda t: t.add_column("d", "long", default=42),
        {"k": 1, "v": 7},
    ),
    "identity": (
        lambda t: t.set_identity_column("id"),
        {"k": 1, "v": 7, "id": None},
    ),
    "sort_order": (
        lambda t: t.set_sort_order(["v"]),
        {"k": 1, "v": 7},
    ),
}


def _row_df(spark, row):
    schema = T.StructType([f for f in SCHEMA.fields if f.name in row])
    return spark.createDataFrame([tuple(row.values())], schema).coalesce(1)


def _table_append(spark, t, row, tmp):
    t.append(_row_df(spark, row))


def _append_batch(spark, t, row, tmp):
    append_batch(t)(_row_df(spark, row), 0)


def _format_write(spark, t, row, tmp):
    _row_df(spark, row).write.format("lakehouse").mode("append").save(t.root)


def _format_stream(spark, t, row, tmp):
    df = _row_df(spark, row)
    df.write.parquet(str(tmp / "src"))
    q = (
        spark.readStream.schema(df.schema)
        .parquet(str(tmp / "src"))
        .writeStream.format("lakehouse")
        .option("path", t.root)
        .option("checkpointLocation", str(tmp / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    if q.exception() is not None:
        raise q.exception()


WRITERS = {
    "Table.append": _table_append,
    "streaming.append_batch": _append_batch,
    "format batch": _format_write,
    "format stream": _format_stream,
}


def _outcome(spark, tmp, contract, writer):
    """``None`` when the writer refused (after checking that nothing
    changed), else the committed (rows, file tags)."""
    setup, row = CONTRACTS[contract]
    t = Table.create(spark, str(tmp / "t"), SCHEMA)
    setup(t)
    sid = t.current_snapshot_id()
    try:
        WRITERS[writer](spark, t, row, tmp)
    except Exception as e:
        assert t.current_snapshot_id() == sid
        assert t.scan().count() == 0
        if writer.startswith("format"):  # refused up front, with a pointer
            assert "Table.append()" in str(e), str(e)[:2000]
        return None
    rows = sorted(tuple(r) for r in t.scan().collect())
    tags = sorted(e.sort_order for e in t.plan().files)
    return rows, tags


@pytest.mark.parametrize("contract", sorted(CONTRACTS))
def test_every_writer_honours_the_same_contract(spark, tmp_path, contract):
    register(spark)
    want = _outcome(spark, tmp_path / "ref", contract, "Table.append")
    got = {
        w: _outcome(spark, tmp_path / f"w{i}", contract, w)
        for i, w in enumerate(WRITERS)
        if w != "Table.append"
    }
    for w, out in got.items():
        assert out is None or out == want, (contract, w, out, want)
    # the reference outcome is the contract's, not a vacuous one
    ref = {
        "check": None,
        "generated": ([(1, 7, 14, None)], [""]),
        "default": ([(1, 7, None, None, 42)], [""]),
        "identity": ([(1, 7, None, 1)], [""]),
        "sort_order": ([(1, 7, None, None)], ["sorted(v)"]),
    }
    assert want == ref[contract]
    if contract == "default":
        assert all(out is not None for out in got.values()), got


def test_empty_tasks_leave_no_file_beside_real_rows(spark, tmp_path):
    import os

    t = Table.create(spark, str(tmp_path / "t"), SCHEMA)
    # one row in the last of 4 slices: tasks 0-2 are empty, and Spark's
    # task 0 writes a zero-row file anyway
    one = spark.range(0, 1, 1, 4).selectExpr("id AS k", "7 AS v")
    assert one.rdd.getNumPartitions() == 4
    snap = t.append(one)
    assert (snap.summary["added_files"], snap.summary["added_records"]) == (1, 1)
    on_disk = [
        name
        for _dir, _sub, names in os.walk(os.path.join(t.root, "data"))
        for name in names
        if ".parquet" in name
    ]
    assert sorted(n.endswith(".crc") for n in on_disk) == [False, True]
    assert [tuple(r) for r in t.scan().collect()] == [(0, 7, None, None)]
