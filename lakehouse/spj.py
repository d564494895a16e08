"""Storage-partitioned join: shuffle-free equi-join of two bucket-
partitioned lakehouse tables (Iceberg SPJ / Spark SPARK-37375 analog).

Why it exists: joining two 10^12-row tables on a key normally costs a
full hash exchange of BOTH sides — at 100 TB that shuffle IS the job.
But when both tables are partitioned by ``bucket(N, key)`` with the
same N, rows that can ever match already live in file sets with the
same bucket number; the join decomposes into N independent bucket-local
joins with ZERO row movement. Iceberg + Spark ship this as
storage-partitioned joins; plain ``spark.read.parquet`` cannot, because
the reader does not report its partitioning to Catalyst.

Execution here: one Spark job over a METADATA frame (one row per
bucket, carrying both sides' file lists + per-file physical column
maps), ``mapInPandas`` tasks read their bucket's files through the
Arrow read kernel (datasource.read_files, columns pruned to the
selection) and join in pandas — Arrow
batch IO, no per-row Python, no join node and no data exchange in the
plan (the only exchange is the ≤N-row task-frame round-robin; gated in
tests/test_spj.py). Wall-clock rides the largest bucket, exactly like
Spark's own SPJ tasks.

Sizing contract (the 100 TB design point): a bucket's worth of BOTH
sides must fit in one task's memory — bucket bytes ≈ table bytes / N,
so pick N at table-creation time for ~0.5-1 GB buckets (N = 2^17 for a
100 TB table). That is the same contract Iceberg SPJ + Spark's own
bucketed-table joins impose. Skew across buckets is bounded by the
hash; skew WITHIN a key (one hot key) lands in one bucket — the same
bound as any co-partitioned join.

Requirements checked up front: both current partition specs contain
``bucket`` fields with equal N over the join keys; no pending MoR
delete files (run ``materialize_deletes`` first — a fold-in is a
rewrite the bucket layout survives); every live entry carries the
bucket partition value (files predating a spec evolution don't).
Field-id renames, adopted-file constant fills and ADD COLUMN defaults
read exactly as ``Table.scan()`` reads them — the same read kernel
serves the datasource.

The reference has no distributed join at all (its enrichment is
row-local, etl/handlers/click_handler.py); this is the operator its
warehouse would need first at lakehouse scale.
"""

from __future__ import annotations

import json
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .errors import LakehouseError


class SpjError(LakehouseError):
    pass


def _bucket_field(meta, key: str):
    """The bucket(N, key) field of a table's CURRENT spec, or None."""
    for f in meta.partition_spec or []:
        if f.get("transform") == "bucket" and f.get("source") == key:
            return f
    return None


def _side_plan(table, key: str, side: str):
    """Validate one side and return (bucket_field, {bucket: [file dict]})
    — the Arrow read kernel's per-file dicts (datasource._file_dicts:
    physical names by field id, adopted-file fills), everything needed
    to read the file under the CURRENT schema without the driver."""
    from .datasource import _file_dicts
    from .fieldids import physical_names

    meta = table.meta
    bf = _bucket_field(meta, key)
    if bf is None:
        raise SpjError(
            f"table {side} is not bucket-partitioned on {key!r} "
            f"(spec: {[f.get('name') for f in meta.partition_spec or []]})"
        )
    plan = table.plan()
    if plan.delete_files:
        raise SpjError(
            f"table {side} has pending merge-on-read deletes; run "
            "materialize_deletes() first (the fold-in preserves the "
            "bucket layout)"
        )
    bname = bf["name"]
    by_bucket: dict[int, list] = {}
    for e in plan.files:
        if bname not in (e.partition or {}):
            raise SpjError(
                f"table {side} file {e.file_path} predates the bucket "
                f"spec (no {bname!r} partition value); cluster() the "
                "table first — its rewrite derives partition values "
                "under the CURRENT spec (compact carries old values)"
            )
        by_bucket.setdefault(int(e.partition[bname]), []).append(e)
    names = physical_names(meta.schemas, meta.current_schema_id)
    return bf, {
        b: _file_dicts(table.root, es, names) for b, es in by_bucket.items()
    }


def _read_side_pdf(files, schema: T.StructType):
    """One bucket's files as a pandas frame with LOGICAL column names,
    read through the Arrow read kernel (datasource.read_files: columns
    pruned to ``schema``, absent fields become fills, defaults or
    nulls). Integral columns map to pandas NULLABLE dtypes
    (Int8..Int64): a plain to_pandas() would promote a null-containing
    int64 key column to float64, silently rounding keys beyond 2^53 and
    corrupting join membership."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from .datasource import read_files

    int_map = {
        pa.int8(): pd.Int8Dtype(),
        pa.int16(): pd.Int16Dtype(),
        pa.int32(): pd.Int32Dtype(),
        pa.int64(): pd.Int64Dtype(),
    }
    tbl = pa.Table.from_batches(
        list(read_files(files, schema)), schema=to_arrow_schema(schema)
    )
    return tbl.to_pandas(types_mapper=int_map.get)


def _validate_and_plan(table_a, table_b, on, select_a, select_b):
    """Shared front half of join + cogroup: resolve/validate the column
    selections, plan both sides, check bucket-spec compatibility.
    Returns (select_a, select_b, read_a, read_b, buckets_a, buckets_b)
    — ``read_*`` the schema each side's bucket frames are read under.
    """
    sa, sb = table_a.schema, table_b.schema
    names_a = [f.name for f in sa.fields]
    names_b = [f.name for f in sb.fields]
    if on not in names_a or on not in names_b:
        raise SpjError(f"join key {on!r} missing from a side")
    select_a = list(
        select_a if select_a is not None else [c for c in names_a if c != on]
    )
    select_b = list(
        select_b if select_b is not None else [c for c in names_b if c != on]
    )
    for c in select_a:
        if c not in names_a:
            raise SpjError(f"select_a column {c!r} not in table A")
    for c in select_b:
        if c not in names_b:
            raise SpjError(f"select_b column {c!r} not in table B")
    read_a = T.StructType([sa[c] for c in [on] + select_a])
    read_b = T.StructType([sb[c] for c in [on] + select_b])
    bf_a, buckets_a = _side_plan(table_a, on, "A")
    bf_b, buckets_b = _side_plan(table_b, on, "B")
    if int(bf_a["n"]) != int(bf_b["n"]):
        raise SpjError(
            f"bucket counts differ: A={bf_a['n']} B={bf_b['n']} — "
            "co-location requires identical N"
        )
    return select_a, select_b, read_a, read_b, buckets_a, buckets_b


_TASK_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("a", T.StringType()),
        T.StructField("b", T.StringType()),
    ]
)


# Driver-memory bound on the task frame: the planner JSON-serializes
# every file spec (path + physical-name map + fills) on the driver
# before shipping it; at millions of files that listing would no longer
# be "bounded driver planning". ~200 B/spec → 256 MB ≈ 1.3M files,
# far past the ~0.5-1 GB-bucket sizing contract, but a hard error beats
# a silent driver OOM. Raise the cap explicitly for bigger plans, or
# compact/cluster first to cut the file count.
DEFAULT_MAX_PLAN_BYTES = 256 * 1024 * 1024


def _task_df(spark, buckets_a, buckets_b, keys, max_plan_bytes):
    tasks = []
    total = 0
    for b in sorted(keys):
        a = json.dumps(buckets_a.get(b, []))
        bb = json.dumps(buckets_b.get(b, []))
        total += len(a) + len(bb)
        if total > max_plan_bytes:
            raise SpjError(
                f"SPJ task frame exceeds max_plan_bytes="
                f"{max_plan_bytes} (file listing too large to plan on "
                "the driver); compact/cluster the tables to reduce "
                "file count, or raise max_plan_bytes explicitly"
            )
        tasks.append((b, a, bb))
    if not tasks:
        return None
    return spark.createDataFrame(tasks, _TASK_SCHEMA).repartition(len(tasks))


def storage_partitioned_join(
    table_a,
    table_b,
    *,
    on: str,
    select_a: Optional[Sequence[str]] = None,
    select_b: Optional[Sequence[str]] = None,
    how: str = "inner",
    chunk_rows: int = 1 << 16,
    max_plan_bytes: int = DEFAULT_MAX_PLAN_BYTES,
) -> DataFrame:
    """Bucket-aligned equi-join of two lakehouse tables on ``on``;
    returns ``on`` + ``select_a`` + ``select_b`` columns (defaults:
    every non-key column of the respective table; names must be
    disjoint across sides). ``how``: "inner", "left" (every A row
    survives; B columns null where the bucket or key is absent),
    "full" (both directions), or the filtering joins "left_semi" /
    "left_anti" (A rows whose key does / does not exist in B — B
    columns never emitted, ``select_b`` must be empty; the 10^12-row
    decontamination / exclusion shape across two co-bucketed tables,
    zero exchange). NULL join keys follow SQL equi-join semantics:
    NULL matches nothing — inner/semi drop such rows, left/full emit
    them unmatched with the other side null-filled, anti KEEPS them
    (a NULL key never has a match, exactly Spark's left_anti)."""
    if how not in ("inner", "left", "full", "left_semi", "left_anti"):
        raise SpjError(
            f"unsupported how={how!r} "
            "(inner | left | full | left_semi | left_anti)"
        )
    if how in ("left_semi", "left_anti") and select_b:
        raise SpjError(
            f"{how} emits no B-side columns; pass select_b=None/[]"
        )
    if how in ("left_semi", "left_anti") and select_b is None:
        select_b = []
    sa, sb = table_a.schema, table_b.schema
    select_a, select_b, read_a, read_b, buckets_a, buckets_b = (
        _validate_and_plan(table_a, table_b, on, select_a, select_b)
    )
    overlap = (set(select_a) & set(select_b)) | ({on} & set(select_a)) | (
        {on} & set(select_b)
    )
    if overlap:
        raise SpjError(
            f"output columns must be disjoint; rename or drop {sorted(overlap)}"
        )

    if how in ("inner", "left_semi"):
        keys = set(buckets_a) & set(buckets_b)
    elif how in ("left", "left_anti"):
        # anti: an A bucket with no B side keeps ALL its rows
        keys = set(buckets_a)
    else:  # full
        keys = set(buckets_a) | set(buckets_b)

    spark = table_a.spark
    a_nullable = how == "full"  # A columns can be null-injected too
    out_fields = (
        [sa[on]]
        + [
            T.StructField(c, sa[c].dataType, True)
            if a_nullable
            else sa[c]
            for c in select_a
        ]
        + [
            T.StructField(c, sb[c].dataType, True)  # outer side: nullable
            for c in select_b
        ]
    )
    out_schema = T.StructType(out_fields)
    task_df = _task_df(spark, buckets_a, buckets_b, keys, max_plan_bytes)
    if task_df is None:
        return spark.createDataFrame([], out_schema)

    how_pd = {
        "inner": "inner",
        "left": "left",
        "full": "outer",
        "left_semi": None,
        "left_anti": None,
    }[how]
    out_cols = [on] + select_a + select_b
    # left-join NaNs land in float64; pandas nullable dtypes round-trip
    # through Arrow as proper nulls for integral/boolean Spark types
    nullable_dtype = {}
    for f in out_fields:
        d = {
            T.LongType(): "Int64",
            T.IntegerType(): "Int32",
            T.ShortType(): "Int16",
            T.ByteType(): "Int8",
            T.BooleanType(): "boolean",
        }.get(f.dataType)
        if d is not None:
            nullable_dtype[f.name] = d

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                a = _read_side_pdf(json.loads(row.a), read_a)
                b = _read_side_pdf(json.loads(row.b), read_b)
                if how_pd is None:  # left_semi / left_anti
                    bkeys = b[on].dropna().unique()
                    if how == "left_semi":
                        mask = a[on].notna() & a[on].isin(bkeys)
                    else:  # NULL keys never match → anti keeps them
                        mask = a[on].isna() | ~a[on].isin(bkeys)
                    j = a[mask][out_cols]
                else:
                    # SQL equi-join three-valued logic: a NULL key
                    # matches NOTHING — pandas merge would pair
                    # NaN==NaN / None==None (and null keys DO
                    # co-locate, pmod(xxhash64(NULL)) is a constant
                    # bucket), so join only the non-null-key rows and
                    # re-emit the outer side's null-key rows as
                    # unmatched with the other side null-filled.
                    a_null_mask = a[on].isna()
                    b_null_mask = b[on].isna()
                    parts = [
                        a[~a_null_mask].merge(
                            b[~b_null_mask], on=on, how=how_pd
                        )
                    ]
                    if how in ("left", "full") and a_null_mask.any():
                        parts.append(
                            a[a_null_mask].reindex(columns=out_cols)
                        )
                    if how == "full" and b_null_mask.any():
                        parts.append(
                            b[b_null_mask].reindex(columns=out_cols)
                        )
                    j = (
                        pd.concat(parts, ignore_index=True)
                        if len(parts) > 1
                        else parts[0]
                    )[out_cols]
                for c, d in nullable_dtype.items():
                    if str(j[c].dtype) != d:
                        j[c] = j[c].astype(d)
                for lo in range(0, len(j), chunk_rows):
                    yield j.iloc[lo : lo + chunk_rows]

    return task_df.mapInPandas(kernel, schema=out_schema)


def storage_partitioned_cogroup(
    table_a,
    table_b,
    *,
    on: str,
    func,
    schema: T.StructType,
    select_a: Optional[Sequence[str]] = None,
    select_b: Optional[Sequence[str]] = None,
    chunk_rows: int = 1 << 16,
    max_plan_bytes: int = DEFAULT_MAX_PLAN_BYTES,
) -> DataFrame:
    """The generic form of the storage-partitioned join: run
    ``func(a_pdf, b_pdf) -> pdf`` once per co-located bucket of two
    ``bucket(N, key)`` tables, with ZERO shuffle — the
    ``cogroup(...).applyInPandas`` shape Spark offers only after a hash
    exchange of both sides. Custom reconciliation, per-key diffing, and
    training-data pairing (audio clips × correction batches) run here
    without the exchange that dominates at 10^12 rows.

    ``func`` receives the two bucket frames with LOGICAL column names
    (``on`` + the respective selection, every key of the bucket on both
    sides — including keys present on only one side) and must return a
    pandas frame conforming to ``schema``. Same planning, validation,
    and sizing contract as ``storage_partitioned_join``."""
    select_a, select_b, read_a, read_b, buckets_a, buckets_b = (
        _validate_and_plan(table_a, table_b, on, select_a, select_b)
    )
    spark = table_a.spark
    task_df = _task_df(
        spark,
        buckets_a,
        buckets_b,
        set(buckets_a) | set(buckets_b),
        max_plan_bytes,
    )
    if task_df is None:
        return spark.createDataFrame([], schema)
    out_names = [f.name for f in schema.fields]

    def kernel(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                a = _read_side_pdf(json.loads(row.a), read_a)
                b = _read_side_pdf(json.loads(row.b), read_b)
                j = func(a, b)
                j = j[out_names]
                for lo in range(0, len(j), chunk_rows):
                    yield j.iloc[lo : lo + chunk_rows]

    return task_df.mapInPandas(kernel, schema=schema)
