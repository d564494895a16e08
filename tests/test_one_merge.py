"""One MERGE (lakehouse/ops/merge.py ``merge_into``): copy-on-write and
merge-on-read run one body — one persisted source, one stats pass, one
commit — and differ only in how matched rows leave the target."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse import CommitConflictError, Table
from lakehouse.errors import MergeError
from lakehouse.schema import CLIPS_SCHEMA
from lakehouse.synth import synth_clips_pdf

DATE_SPEC = [
    {"name": "event_date", "transform": "identity", "source": "event_date"}
]


def _table(spark, root):
    t = Table.create(spark, str(root), CLIPS_SCHEMA, partition_spec=DATE_SPEC)
    for start in (0, 20):
        pdf = synth_clips_pdf(range(start, start + 20), seed=42, n_days=2)
        t.append(spark.createDataFrame(pdf, CLIPS_SCHEMA), target_file_count=2)
    return t


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_failed_merge_leaves_no_cached_source(spark, tmp_path, mode):
    t = _table(spark, tmp_path / "t")
    spark.catalog.clearCache()
    pdf = synth_clips_pdf(range(0, 2), seed=42, n_days=2)
    dup = spark.createDataFrame(pd.concat([pdf, pdf]), CLIPS_SCHEMA)
    with pytest.raises(MergeError, match="duplicate"):
        t.merge(dup, mode=mode)
    assert _cache_empty(spark), f"{mode}: source left cached after MergeError"

    # a serializable MERGE losing to a concurrent overlapping append
    src = (
        t.scan().orderBy("clip_id").limit(3)
        .withColumn("transcript", F.lit("v2")).localCheckpoint()
    )
    base = t.current_snapshot_id()
    t.append(
        t.scan().orderBy("clip_id").limit(2)
        .withColumn("clip_id", F.concat(F.col("clip_id"), F.lit("x"))),
        target_file_count=1,
    )
    with pytest.raises(CommitConflictError, match="serializable"):
        t.merge(src, mode=mode, isolation="serializable", validate_from=base)
    assert _cache_empty(spark), f"{mode}: source left cached after conflict"


def _identity_table(spark, root):
    schema = T.StructType([
        T.StructField("rid", T.LongType()),
        T.StructField("k", T.StringType()),
        T.StructField("day", T.IntegerType()),
        T.StructField("v", T.StringType()),
    ])
    t = Table.create(spark, str(root), schema)
    t.set_identity_column("rid", start=100)
    t.append(spark.createDataFrame(
        [(None, f"k{i}", i % 3, "a") for i in range(12)], schema
    ), target_file_count=2)
    return t, schema


def _parity_cases(spark, schema):
    op_schema = T.StructType(
        schema.fields + [T.StructField("op", T.StringType(), True)]
    )
    upsert = spark.createDataFrame(
        [(None, "k1", 1, "b", None), (None, "k20", 2, "new", None),
         (None, "k2", 2, None, "delete"), (None, "k99", 0, None, "delete")],
        op_schema,
    )
    empty = spark.createDataFrame([], op_schema)
    return {
        "upsert_and_deletes": dict(source=upsert),
        "nms_tuple_condition": dict(
            source=upsert,
            not_matched_by_source="delete",
            not_matched_by_source_condition=[("day", "=", 0)],
        ),
        "empty_source_nms": dict(
            source=empty,
            not_matched_by_source="delete",
            not_matched_by_source_condition=[("day", "=", 1)],
        ),
    }


@pytest.mark.parametrize(
    "case", ["upsert_and_deletes", "nms_tuple_condition", "empty_source_nms"]
)
def test_cow_and_mor_give_the_same_rows(spark, tmp_path, case):
    """Identity fill, op=delete rows, NMS delete with a tuple condition
    and an empty source plus NMS: both modes land the same rows (the
    generated ids may differ, the rows' payloads may not)."""
    got = {}
    for mode in ("cow", "mor"):
        t, schema = _identity_table(spark, tmp_path / mode)
        kw = _parity_cases(spark, schema)[case]
        t.merge(kw.pop("source"), key="k", mode=mode, **kw)
        rows = t.scan().collect()
        assert all(r.rid is not None for r in rows)
        assert len({r.rid for r in rows}) == len(rows)
        got[mode] = sorted((r.k, r.day, r.v) for r in rows)
    assert got["cow"] == got["mor"]


def test_each_mode_refuses_the_other_modes_parameters(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    src = t.scan().limit(2)
    before = t.current_snapshot_id()
    with pytest.raises(TypeError, match="branch"):
        t.merge(src, mode="cow", branch="b1")
    with pytest.raises(TypeError, match="strategy"):
        t.merge(src, mode="mor", strategy="broadcast")
    with pytest.raises(TypeError, match="broadcast_threshold"):
        t.merge(src, mode="mor", broadcast_threshold=1)
    with pytest.raises(MergeError, match="copy-on-write only"):
        t.merge(src, mode="mor", not_matched_by_source={"transcript": "'x'"})
    with pytest.raises(ValueError, match="unknown merge mode"):
        t.merge(src, mode="bogus")
    assert t.current_snapshot_id() == before
