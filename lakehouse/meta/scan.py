"""Scan planning: snapshot → pruned file list → Spark DataFrame.

This is the engine-side realization of the reference's read path
(Athena → Glue catalog → Delta log → pruned Parquet scan,
/root/reference/README.md:104-114; SURVEY.md §3.3): all pruning happens
*before* a DataFrame exists, over small metadata — partition values
exactly, then per-file min/max stats conservatively. The residual filter
is re-applied in Spark so Catalyst additionally pushes it into the
Parquet reader (row-group skipping), matching the reference's
``filterPushdown=true`` (/root/reference/etl/glue_stream.py:301).

Every Spark-side read of data files goes through ONE kernel,
:func:`read_entries`: entries (+ optional schema, pending deletes, and
the ``__seq``/``__path``/``__pos`` lineage columns) → DataFrame. It
alone resolves physical column names by field id, fills initial-
defaults and adopted-file constants, and applies the delete sequence
rule; ``read_plan``, ``read_lazy_plan``, every ``ops/*`` rewrite, CDC
and ``scan_with_lineage`` call it. Its Arrow twin is
``datasource.read_files``; both take the name mapping from
``fieldids.physical_names``.

Pruning is ONE per-entry rule, :class:`EntryTest` ("may this manifest
entry hold a matching row?": partition values, min/max stats under the
entry's write-time names, Bloom sidecars), built once per plan and run
by two planners. ``plan_scan`` runs it in a driver loop over manifest
entries (the default; ``ScanPlan`` holds entry objects).
``plan_scan_lazy`` runs it inside an Arrow-batched Spark job over the
manifest Parquet files themselves, for manifest sets too large for the
driver (10^12-row tables have millions of files): the kept-file set
stays a DataFrame and ``read_lazy_plan`` hands the driver only bounded
chunks of bare paths. ``LazyScanPlan.collect`` materializes it for
metadata APIs (``Table.plan(distributed=True)``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..bloom import BLOOM_PROBE_CAP, entry_passes_blooms, eq_probes, read_sidecar
from ..expressions import (
    Predicate,
    matches_partition,
    matches_stats,
    normalize_filter,
    to_sql,
)
from .manifests import MANIFEST_ARROW_SCHEMA, DataFileEntry, read_manifest
from .snapshots import TableMetadata, read_manifest_list


@dataclass
class ScanPlan:
    files: list[DataFileEntry]
    residual_sql: Optional[str]
    snapshot_id: int
    candidate_files: int = 0  # before pruning (for skip-ratio metrics)
    pruned_manifests: int = 0
    stats: dict = field(default_factory=dict)
    # delete files (merge-on-read; equality or positional): applied at
    # read time to data files with strictly smaller seq; never pruned
    delete_files: list[DataFileEntry] = field(default_factory=list)

    @property
    def skipped_files(self) -> int:
        return self.candidate_files - len(self.files)


class EntryTest:
    """The one scan-planning rule (Iceberg spec, "Scan Planning"): may
    this manifest entry hold a row matching ``preds``? Built once per
    plan from ``(meta, preds, table_root)`` and called per entry by every
    planner: ``plan_scan``'s driver loop, ``prune_entries_df``'s executor
    closure, MERGE's NOT MATCHED BY SOURCE candidates and the
    serializable-commit check. Three conservative tests:

    - the entry's identity-partition values (exact);
    - per-file min/max/null stats, looked up under the entry's
      write-time physical names (``fieldids.stats_lookup``: rename/drop
      sound);
    - with a ``table_root``, ``=``/``in`` predicates against the file's
      Bloom sidecar (``bloom_columns`` tables), read only for entries
      whose stats carry the ``bloom`` marker. A Bloom "no" is definite.

    It holds the small name mapping, never the ``TableMetadata``, so it
    ships into executor closures as is. ``meta=None`` reads stats by
    plain name (a never-mapped table)."""

    def __init__(
        self,
        meta: Optional[TableMetadata],
        preds: Sequence[Predicate],
        table_root: Optional[str] = None,
    ):
        from .. import fieldids

        schemas, sid = (meta.schemas, meta.current_schema_id) if meta else ([], 0)
        self.preds = list(preds)
        self.probes = eq_probes(self.preds) if table_root else []
        self._root = table_root
        self._names_of = fieldids.name_lookup(schemas, sid)
        self._stats_of = fieldids.stats_lookup(schemas, sid)

    def stats_match(self, entry: DataFileEntry) -> bool:
        """Partition and stats tests: pure metadata, no IO."""
        part = entry.partition or {}
        return all(matches_partition(p, part) for p in self.preds) and all(
            matches_stats(p, self._stats_of(entry, p.col)) for p in self.preds
        )

    def bloom_match(self, entry: DataFileEntry) -> bool:
        """Bloom test: one sidecar read when a probed column has one."""
        eprobes = []
        for c, vals in self.probes:
            phys = self._names_of(entry, c)
            if phys is not None:
                eprobes.append((phys, vals))
        if not any((entry.stats.get(c) or {}).get("bloom") for c, _v in eprobes):
            return True
        sidecar = read_sidecar(os.path.join(self._root, entry.file_path))
        return entry_passes_blooms(entry.stats, sidecar, eprobes)

    def __call__(self, entry: DataFileEntry) -> bool:
        return self.stats_match(entry) and (
            not self.probes or self.bloom_match(entry)
        )


def _manifest_may_match(
    manifest_summary: dict, preds: Sequence[Predicate]
) -> bool:
    """Coarse manifest-level pruning using the partition roll-up recorded
    in the manifest list (skip opening manifests for dead partitions)."""
    parts = manifest_summary.get("partitions")
    if not parts or len(parts) >= 1000:  # capped summary: can't prune
        return True
    for pj in parts:
        partition = json.loads(pj)
        if all(matches_partition(p, partition) for p in preds):
            return True
    return False


def _may_open(manifest: dict, preds: Sequence[Predicate]) -> bool:
    """Manifest-level pruning; a manifest holding deletes is always
    opened, because every read must see every delete."""
    summary = manifest.get("summary", {})
    return (
        not preds
        or summary.get("delete_count", 0) > 0
        or _manifest_may_match(summary, preds)
    )


def _data_entry_count(manifest: dict) -> int:
    """Data entries of a manifest, from its list summary alone."""
    summary = manifest.get("summary", {})
    return summary.get("entry_count", 0) - summary.get("delete_count", 0)


def plan_scan(
    table_root: str,
    meta: TableMetadata,
    *,
    filter=None,  # noqa: A002
    snapshot_id: Optional[int] = None,
) -> ScanPlan:
    """Driver-side planning (metadata is small relative to data)."""
    preds = normalize_filter(filter)
    if snapshot_id is None and meta.current_snapshot_id is None:
        return ScanPlan([], to_sql(preds), snapshot_id=0)  # empty table
    snap = meta.snapshot(snapshot_id)
    manifests = read_manifest_list(table_root, snap.manifest_list)
    test = EntryTest(meta, preds, table_root)

    kept: list[DataFileEntry] = []
    deletes: list[DataFileEntry] = []
    candidates = 0
    pruned_manifests = 0
    for m in manifests:
        if not _may_open(m, preds):
            pruned_manifests += 1
            candidates += _data_entry_count(m)
            continue
        for entry in read_manifest(table_root, m["path"]):
            if entry.is_delete:
                deletes.append(entry)  # never pruned: reads must see them
                continue
            candidates += 1
            if not preds or test.stats_match(entry):
                kept.append(entry)
    # driver sidecar IO stays bounded: only a point lookup, with few
    # survivors, probes Bloom filters; a broad scan skips the step
    if test.probes and len(kept) <= BLOOM_PROBE_CAP:
        kept = [e for e in kept if test.bloom_match(e)]

    return ScanPlan(
        files=kept,
        residual_sql=to_sql(preds),
        snapshot_id=snap.snapshot_id,
        candidate_files=candidates,
        pruned_manifests=pruned_manifests,
        delete_files=deletes,
    )


def _split_delete_kinds(
    delete_files: Sequence[DataFileEntry],
) -> tuple[list[DataFileEntry], list[DataFileEntry]]:
    """(equality deletes, positional deletes)."""
    eq = [d for d in delete_files if not d.is_pos_delete]
    pos = [d for d in delete_files if d.is_pos_delete]
    return eq, pos


def _eq_delete_join(
    spark: SparkSession,
    table_root: str,
    df: DataFrame,
    delete_files: Sequence[DataFileEntry],
    how: str = "left_anti",
) -> DataFrame:
    """The equality-delete probe, under Iceberg's sequence rule, for a
    DataFrame that carries ``__seq``: join the broadcast union of
    delete keys where ``delete.seq > data.seq`` (a delete applies only
    to files committed strictly before it), one join per delete-key
    column. ``left_anti`` hides the deleted rows (every read);
    ``left_semi`` keeps exactly them (``convert_deletes`` turning keys
    into positions). Positional entries are ignored; ``__seq`` is
    preserved so both delete kinds can chain."""
    from pyspark.sql import functions as F

    by_key: dict[str, list[DataFileEntry]] = {}
    for d in delete_files:
        if d.delete_key:
            by_key.setdefault(d.delete_key, []).append(d)
    for key, dels in sorted(by_key.items()):
        ddf = None
        for d in dels:
            one = spark.read.parquet(
                os.path.join(table_root, d.file_path)
            ).select(F.col(key).alias("__dk"), F.lit(d.seq).alias("__dseq"))
            ddf = one if ddf is None else ddf.unionByName(one)
        df = df.join(
            F.broadcast(ddf),
            (df[key] == ddf["__dk"]) & (ddf["__dseq"] > df["__seq"]),
            how,
        )
    return df


def _anti_join_pos_deletes(
    spark: SparkSession,
    table_root: str,
    df: DataFrame,
    pos_deletes: Sequence[DataFileEntry],
) -> DataFrame:
    """Apply positional deletes to a DataFrame carrying ``__seq``,
    ``__path`` (table-relative file path) and ``__pos`` (row index
    within the file) columns: one broadcast left-anti join against the
    union of (file_path, row_pos) delete rows, same strict sequence
    rule as equality deletes. The delete set is tiny relative to data
    (trickle deletes), so broadcast is the right shape at any scale —
    the wide side never shuffles. ``__seq`` is preserved for chaining.
    """
    from pyspark.sql import functions as F

    ddf = None
    for d in pos_deletes:
        one = spark.read.parquet(
            os.path.join(table_root, d.file_path)
        ).select(
            F.col("file_path").alias("__dp"),
            F.col("row_pos").alias("__dpos"),
            F.lit(d.seq).alias("__dseq"),
        )
        ddf = one if ddf is None else ddf.unionByName(one)
    return df.join(
        F.broadcast(ddf),
        (df["__path"] == ddf["__dp"])
        & (df["__pos"] == ddf["__dpos"])
        & (ddf["__dseq"] > df["__seq"]),
        "left_anti",
    )


# lineage columns the read kernel can carry: commit seq, root-relative
# file path, row index within the file
_MOR_COLS = ("__seq", "__path", "__pos")


def entry_fills(stats) -> dict[str, Any]:
    """Adopted-file column fills: ``{col: const}`` for stats entries
    flagged ``fill`` (ops/adopt.py — the column is physically ABSENT
    from the file's data pages, its value proven constant by the source
    layout; min==max carries the constant, so stats pruning works at
    full power)."""
    return {
        c: st.get("min")
        for c, st in (stats or {}).items()
        if isinstance(st, dict) and st.get("fill")
    }


_FILL_PATH = "__fillp"


def _path_expr(table_root: str, alias: str):
    """Root-relative file path of each row, computed by the parquet
    reader itself: ``_metadata.file_path`` is "file:" + absolute path,
    manifests store root-relative paths — strip the constant prefix."""
    from pyspark.sql import functions as F

    plen = len("file:" + os.path.abspath(table_root) + "/")
    return F.expr(f"substring(_metadata.file_path, {plen + 1})").alias(alias)


def _apply_entry_fills(
    spark: SparkSession,
    schema: T.StructType,
    df: DataFrame,
    fills: dict[str, dict[str, Any]],
) -> DataFrame:
    """Inject per-file constants for adopted files that are not
    self-contained (hive layouts drop the partition column from data
    pages). ONE broadcast left-join keyed on the reader-computed
    ``__fillp`` path — bounded by the count of fill-flagged FILES, not
    rows; rows from self-contained files coalesce to their stored
    values. The first rewrite touching such a file (compaction,
    clustering, MERGE) reads through here and writes self-contained
    output, so fills age out under normal maintenance."""
    from pyspark.sql import functions as F

    cols = sorted({c for m in fills.values() for c in m})
    rows = [
        tuple(
            [p]
            + [None if m.get(c) is None else str(m[c]) for c in cols]
        )
        for p, m in sorted(fills.items())
    ]
    fschema = T.StructType(
        [T.StructField(_FILL_PATH, T.StringType())]
        + [T.StructField(f"__fill_{c}", T.StringType()) for c in cols]
    )
    fdf = spark.createDataFrame(rows, fschema)
    by_name = {f.name: f.dataType for f in schema.fields}
    df = df.join(F.broadcast(fdf), _FILL_PATH, "left")
    for c in cols:
        df = df.withColumn(
            c,
            F.coalesce(
                F.col(c), F.col(f"__fill_{c}").cast(by_name[c])
            ),
        )
    return df.drop(_FILL_PATH, *[f"__fill_{c}" for c in cols])


def read_entries(
    spark: SparkSession,
    meta: TableMetadata,
    table_root: str,
    entries: Sequence[DataFileEntry],
    logical_schema: Optional[T.StructType] = None,
    *,
    deletes: Sequence[DataFileEntry] = (),
    lineage: bool = False,
) -> DataFrame:
    """The Spark-side read kernel: data-file entries → DataFrame under
    ``logical_schema`` (default: the table's current schema). Every
    reader of data files — scans, every rewrite op, CDC, lineage —
    comes through here, so three decisions are made once:

    - physical column names by field id (``fieldids.physical_names``):
      on mapped tables files are grouped by write schema, each group is
      read under its write-time names and aliased back; a field absent
      from a group reads as its ``initial-default`` (null when none);
      names outside the table schema (``__zkey``) pass through;
    - adopted-file fills (``entry_fills``): one broadcast join keyed on
      the reader-computed file path;
    - the sequence rule for ``deletes``: positional then equality
      deletes hide rows of data files with strictly smaller seq, as
      broadcast anti-joins (the wide side never shuffles).

    ``lineage=True`` keeps ``__seq`` (commit seq), ``__path`` (root-
    relative file path) and ``__pos`` (row index) on every row. The
    seq and path/pos columns are only built when deletes or lineage
    need them: an unmapped table with no deletes, fills or lineage
    reads as ONE multi-path parquet scan with the declared schema."""
    from pyspark.sql import functions as F

    from .. import fieldids
    from ..schema import field_default

    schema = logical_schema or T.StructType.fromJson(meta.schema_json)
    if not entries:
        df = spark.createDataFrame([], schema)
        if lineage:
            df = df.select(
                "*",
                F.lit(None).cast("long").alias("__seq"),
                F.lit(None).cast("string").alias("__path"),
                F.lit(None).cast("long").alias("__pos"),
            )
        return df
    eq, pos = _split_delete_kinds(deletes)
    names = fieldids.physical_names(meta.schemas, meta.current_schema_id)
    fills = {}
    for e in entries:
        kept = {
            c: v for c, v in entry_fills(e.stats).items() if c in schema.names
        }
        if kept:
            fills[e.file_path] = kept
    with_seq = lineage or bool(deletes)
    extra = []
    if lineage or pos:
        extra += [
            _path_expr(table_root, "__path"),
            F.col("_metadata.row_index").alias("__pos"),
        ]
    if fills:
        extra.append(_path_expr(table_root, _FILL_PATH))

    # one read per (seq, write schema); seq is a per-group literal
    # (bounded by commit count — no per-row path join)
    groups: dict = {}
    for e in sorted(entries, key=lambda e: e.seq) if with_seq else entries:
        key = (
            e.seq if with_seq else 0,
            e.schema_id if names is not None else None,
        )
        groups.setdefault(key, []).append(
            os.path.join(table_root, e.file_path)
        )
    df = None
    for (seq, gid), paths in groups.items():
        read_schema, sel = schema, [F.col("*")]
        if names is not None:
            phys_of = names[gid]
            read_fields, sel = [], []
            for f in schema.fields:
                phys = phys_of.get(f.name, f.name)
                if phys is None:
                    sel.append(
                        F.lit(field_default(f)).cast(f.dataType).alias(f.name)
                    )
                else:
                    read_fields.append(T.StructField(phys, f.dataType, True))
                    sel.append(F.col(phys).alias(f.name))
            read_schema = T.StructType(read_fields)
        cols = sel + ([F.lit(seq).alias("__seq")] if with_seq else []) + extra
        part = spark.read.schema(read_schema).parquet(*paths)
        if names is not None or len(cols) > 1:
            part = part.select(*cols)
        df = part if df is None else df.unionByName(part)
    if fills:
        df = _apply_entry_fills(spark, schema, df, fills)
    if pos:
        df = _anti_join_pos_deletes(spark, table_root, df, pos)
    if eq:
        df = _eq_delete_join(spark, table_root, df, eq)
    if with_seq and not lineage:
        df = df.drop(*_MOR_COLS)
    return df


_MANIFEST_DDL = ", ".join(
    f"{f.name} {'string' if f.type == 'string' else 'bigint'}"
    for f in MANIFEST_ARROW_SCHEMA
)


def manifest_entries_df(
    spark: SparkSession, table_root: str, manifests: Sequence[dict]
) -> tuple[DataFrame, Optional[DataFrame]]:
    """The entries of ``manifests`` as DataFrames: (data entries, delete
    entries or None). One Spark read over the manifest Parquet files;
    the delete half is None when the list summaries record no delete
    entry, so no caller pays a job to look for them."""
    from pyspark.sql import functions as F

    if not manifests:
        return spark.createDataFrame([], _MANIFEST_DDL), None
    # mergeSchema: pre-round-2 manifests lack the content/seq columns
    mdf = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(table_root, m["path"]) for m in manifests]
    )
    if "content" not in mdf.columns:
        return mdf, None
    content = F.coalesce(F.col("content"), F.lit("data"))
    has_deletes = any(
        m.get("summary", {}).get("delete_count", 1) for m in manifests
    )
    return (
        mdf.filter(content != "deletes"),
        mdf.filter(content == "deletes") if has_deletes else None,
    )


def _finish(df: DataFrame, residual_sql, columns) -> DataFrame:
    if residual_sql:
        df = df.filter(residual_sql)
    if columns:
        df = df.select(*columns)
    return df


def read_plan(
    spark: SparkSession,
    table_root: str,
    meta: TableMetadata,
    plan: ScanPlan,
    *,
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Materialize a plan as a DataFrame through :func:`read_entries`.

    Data files are self-contained (identity-partition columns are stored
    in the files, see ops/append.py), so the read is a plain multi-path
    Parquet scan with the declared schema — no inference, mirroring the
    reference's ``inferSchema="false"`` stance (etl/glue_stream.py:133).
    Pending merge-on-read deletes (equality and positional) are applied
    as broadcast anti-joins before projection.
    """
    df = read_entries(
        spark, meta, table_root, plan.files, deletes=plan.delete_files
    )
    return _finish(df, plan.residual_sql, columns)


def prune_entries_df(
    mdf: DataFrame,
    preds: Sequence[Predicate],
    table_root: Optional[str] = None,
    meta: Optional[TableMetadata] = None,
) -> DataFrame:
    """:class:`EntryTest` over a manifest-entry DataFrame, as a DataFrame
    transformation: the output never touches the driver. Each Arrow
    batch becomes one ``DataFileEntry`` per row (``to_pylist`` keeps
    nulls as None), so executors run the driver's test on the driver's
    entry objects. The unit under the 1M-virtual-file gate in
    tests/test_planner_scale.py."""
    if not preds:
        return mdf
    test = EntryTest(meta, preds, table_root)

    def keep_batch(batches):
        import pyarrow as pa

        for batch in batches:
            mask = [test(DataFileEntry.from_row(r)) for r in batch.to_pylist()]
            yield batch.filter(pa.array(mask, type=pa.bool_()))

    return mdf.mapInArrow(keep_batch, mdf.schema)


@dataclass
class LazyScanPlan:
    """A scan plan whose kept-file set stays a DataFrame end-to-end.

    The driver-side ``ScanPlan`` materializes one ``DataFileEntry`` per
    surviving file — correct for metadata APIs, but a memory and
    argument-list ceiling when a low-selectivity filter over millions of
    files survives pruning (VERDICT.md §wrong 2). Here only bounded
    chunks of bare file paths ever reach the driver, via
    ``toLocalIterator`` in ``iter_path_chunks``.
    """

    files_df: DataFrame  # full manifest-entry schema, pruned, data only
    residual_sql: Optional[str]
    snapshot_id: int
    candidate_files: int
    # equality delete entries are collected driver-side (bounded small
    # set) even on the lazy path; applied per chunk in read_lazy_plan
    delete_files: list[DataFileEntry] = field(default_factory=list)

    def iter_path_chunks(self, table_root: str, chunk_size: int = 100_000):
        """Yield lists of ≤``chunk_size`` (absolute path, entry) pairs;
        driver memory is bounded by one chunk (toLocalIterator streams
        partitions). Each entry carries only what the read kernel needs
        (path, seq, write schema id, stats) — and stats are parsed only
        when the JSON carries the adopted-file ``fill`` flag, so the
        common path pays one substring probe per row."""
        cols = ["file_path"] + (
            ["seq"] if "seq" in self.files_df.columns else []
        )
        has_gid = "schema_id" in self.files_df.columns
        if has_gid:
            cols.append("schema_id")
        has_stats = "stats_json" in self.files_df.columns
        if has_stats:
            cols.append("stats_json")
        chunk: list[tuple[str, DataFileEntry]] = []
        for row in (
            self.files_df.select(*cols).toLocalIterator(
                prefetchPartitions=True
            )
        ):
            stats = {}
            if has_stats and row.stats_json and '"fill"' in row.stats_json:
                stats = json.loads(row.stats_json)
            entry = DataFileEntry(
                row.file_path,
                stats=stats,
                seq=row.seq if "seq" in cols and row.seq is not None else 0,
                schema_id=(
                    row.schema_id
                    if has_gid and row.schema_id is not None
                    else -1
                ),
            )
            chunk.append((os.path.join(table_root, row.file_path), entry))
            if len(chunk) >= chunk_size:
                yield chunk
                chunk = []
        if chunk:
            yield chunk

    def collect(self) -> ScanPlan:
        """The driver-materialized plan (one job), for metadata APIs
        that need entry objects: ``Table.plan(distributed=True)``."""
        return ScanPlan(
            files=[
                DataFileEntry.from_row(r.asDict())
                for r in self.files_df.collect()
            ],
            residual_sql=self.residual_sql,
            snapshot_id=self.snapshot_id,
            candidate_files=self.candidate_files,
            delete_files=self.delete_files,
        )


def plan_scan_lazy(
    spark: SparkSession,
    table_root: str,
    meta: TableMetadata,
    *,
    filter=None,  # noqa: A002
    snapshot_id: Optional[int] = None,
) -> LazyScanPlan:
    """Distributed pruning with a DataFrame-valued result set — the
    scale path when a snapshot tracks more files than the driver should
    hold (millions of entries)."""
    preds = normalize_filter(filter)
    sid, manifests = 0, []
    if snapshot_id is not None or meta.current_snapshot_id is not None:
        snap = meta.snapshot(snapshot_id)
        sid = snap.snapshot_id
        manifests = read_manifest_list(table_root, snap.manifest_list)
    mdf, ddf = manifest_entries_df(
        spark, table_root, [m for m in manifests if _may_open(m, preds)]
    )
    return LazyScanPlan(
        files_df=prune_entries_df(mdf, preds, table_root, meta=meta),
        residual_sql=to_sql(preds),
        snapshot_id=sid,
        candidate_files=sum(_data_entry_count(m) for m in manifests),
        # a bounded small set: collected even on the lazy path
        delete_files=[
            DataFileEntry.from_row(r.asDict()) for r in ddf.collect()
        ] if ddf is not None else [],
    )


def read_lazy_plan(
    spark: SparkSession,
    table_root: str,
    meta: TableMetadata,
    plan: LazyScanPlan,
    *,
    columns: Optional[Sequence[str]] = None,
    chunk_size: int = 100_000,
) -> DataFrame:
    """Materialize a LazyScanPlan without ever building the full path
    list in one Python object: each bounded chunk goes through
    :func:`read_entries` (pending deletes included — they apply row by
    row, so per-chunk application is exact) and the chunks are unioned
    lazily."""
    df = None
    for chunk in plan.iter_path_chunks(table_root, chunk_size):
        part = read_entries(
            spark, meta, table_root, [e for _p, e in chunk],
            deletes=plan.delete_files,
        )
        df = part if df is None else df.unionByName(part)
    if df is None:
        df = read_entries(spark, meta, table_root, [])
    return _finish(df, plan.residual_sql, columns)
