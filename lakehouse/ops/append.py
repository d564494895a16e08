"""Physical Parquet writer + APPEND commit.

Spark-side mirror of the reference's sink (partitioned Delta append,
/root/reference/etl/glue_stream.py:304-354): schema-conform projection →
partition-column derivation → partitioned Parquet write → atomic
metadata commit. Differences from the reference, by design:

- tasks write straight into an immutable per-job directory under
  ``data/`` (no renames; uncommitted job dirs are invisible to readers
  and swept by GC) — the same no-rename commit discipline Iceberg uses
  so the protocol survives object stores;
- per-file stats are harvested from Parquet footers after the write,
  driver-side (threaded, IO-bound) for small file counts and as a Spark
  job above ``DISTRIBUTE_STATS_THRESHOLD`` files;
- file sizing is explicit: callers either keep the incoming partitioning
  (streaming micro-batches — the canonical small-file generator the
  compactor exists for) or request a shuffle to ``target_file_count``.

Two layers. :func:`write_files` is the one data-file kernel (save →
list → harvest) that every Spark-side writer calls, rewrites included;
:func:`write_data_files` sits above it for NEW rows and applies the
table's write contract (:func:`write_contract`, plus schema DEFAULTs).
"""

from __future__ import annotations

import os
import uuid
from typing import Any, Mapping, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..meta.manifests import DataFileEntry, collect_file_stats
from ..partitioning import (
    PART_PREFIX,
    decode_dir_value,
    with_partition_columns,
)
from ..schema import conform

DISTRIBUTE_STATS_THRESHOLD = 512


def _parse_partition_dirs(
    rel_path: str, spec: Sequence[dict[str, Any]]
) -> dict[str, Any]:
    """Recover partition values from ``_p_<name>=<value>`` components."""
    by_name = {PART_PREFIX + f["name"]: f for f in spec}
    out: dict[str, Any] = {}
    for comp in rel_path.split(os.sep):
        if "=" not in comp:
            continue
        key, _, raw = comp.partition("=")
        field = by_name.get(key)
        if field is not None:
            out[field["name"]] = decode_dir_value(raw, field)
    return out


def list_job_files(
    table_root: str, job_rel_dir: str, spec: Sequence[dict[str, Any]]
) -> list[tuple[str, dict[str, Any]]]:
    """(relative_path, partition_values) for every parquet file the job wrote."""
    base = os.path.join(table_root, job_rel_dir)
    found = []
    for dirpath, _dirnames, filenames in os.walk(base):
        for name in filenames:
            if not name.endswith(".parquet"):
                continue
            abs_path = os.path.join(dirpath, name)
            rel = os.path.relpath(abs_path, table_root)
            found.append((rel, _parse_partition_dirs(rel, spec)))
    return sorted(found)


def harvest_stats(
    spark: Optional[SparkSession],
    table_root: str,
    files: Sequence[tuple[str, dict[str, Any]]],
    *,
    properties: Mapping[str, Any],
    sort_order: str = "",
) -> list[DataFileEntry]:
    """Footer-only stats harvest; distributed over executors when the file
    count is too large for the driver to chew through serially and a
    session is at hand (``spark=None`` — the format writers' commit
    worker — always harvests on local threads).

    Tables with the ``bloom_columns`` property additionally get a
    Bloom-filter sidecar per file (lakehouse/bloom.py), and tables with
    ``agg_stats_columns`` per-file sums, built here: every data file the
    engine writes is harvested here — through :func:`write_files`
    (append, overwrite, MERGE, compact, cluster, MoR materialize), the
    ``lakehouse`` format writers' commit, and ``add_files`` — so blooms
    and sums stay consistent across ops without per-op wiring. MoR
    delete files are the one exception: they take plain footer stats.
    ``properties``: the table properties of the op's read version.
    """
    from ..bloom import bloom_columns_property, harvest_file_blooms
    from .agg import agg_stats_columns_property

    bloom_cols = bloom_columns_property(properties)
    sum_cols = agg_stats_columns_property(properties)

    def one(item):
        rel, part = item
        entry = collect_file_stats(
            os.path.join(table_root, rel),
            rel,
            part,
            sum_columns=sum_cols,
            sort_order=sort_order,
        )
        harvest_file_blooms(entry, table_root, bloom_cols)
        return entry

    if spark is None or len(files) <= DISTRIBUTE_STATS_THRESHOLD:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=16) as pool:
            return list(pool.map(one, files))

    # scale path: ship (rel, partition) pairs to executors; each reads only
    # footers of its slice (shared storage — same layout as S3/HDFS deploys)
    rows = (
        spark.sparkContext.parallelize(list(files), max(1, len(files) // 64))
        .map(lambda item: one(item).to_row())
        .collect()
    )
    return [DataFileEntry.from_row(r) for r in rows]


def write_files(
    df: DataFrame,
    table_root: str,
    job_rel: str,
    spec: Sequence[dict[str, Any]],
    *,
    properties: Mapping[str, Any],
    extra_dirs: Sequence[str] = (),
    sort_order: str = "",
    mode: str = "error",
) -> list[DataFileEntry]:
    """The one data-file kernel: save ``df`` as Parquet under
    ``job_rel``, list the files the job wrote, harvest their entries.

    ``df`` already carries the spec's ``_p_<name>`` columns (plus any
    ``extra_dirs`` split columns — salt, cluster bucket, compaction
    bin), which become hive directory levels; partition values are
    parsed back from the spec's levels only. ``sort_order`` is the
    layout tag stamped on every entry. ``mode="overwrite"`` lets a
    resumed rewrite bin replace its own half-written job dir.
    ``properties`` is passed to :func:`harvest_stats`.

    No contract is applied here: rewrites move rows that are already
    committed and call this directly; new rows go through
    :func:`write_data_files` first.
    """
    dirs = [PART_PREFIX + f["name"] for f in spec] + list(extra_dirs)
    writer = df.write.mode(mode).format("parquet")
    if dirs:
        writer = writer.partitionBy(*dirs)
    writer.save(os.path.join(table_root, job_rel))
    entries = harvest_stats(
        df.sparkSession,
        table_root,
        list_job_files(table_root, job_rel, spec),
        sort_order=sort_order,
        properties=properties,
    )
    if not any(e.record_count for e in entries):
        return entries  # an all-empty write: the caller decides
    # Spark's empty tasks still leave a zero-row file (task 0 always
    # does); beside real rows it is dead weight every scan would open
    from ..bloom import sidecar_path

    for e in entries:
        if not e.record_count:
            path = os.path.join(table_root, e.file_path)
            crc = os.path.join(
                os.path.dirname(path), f".{os.path.basename(path)}.crc"
            )
            for p in (path, crc, sidecar_path(path)):
                if os.path.exists(p):
                    os.remove(p)
    return [e for e in entries if e.record_count]


def write_contract(properties: Mapping[str, Any]) -> dict[str, Any]:
    """The table properties that form the write contract, by kind.
    :func:`write_data_files` applies CHECK, generated and sort order;
    identity is assigned by the committing op, which advances its
    watermark in the same commit. The ``lakehouse`` format writers
    refuse any table where one is set. DEFAULTs live in the schema."""
    from ..constraints import constraints_of, generated_of
    from ..identity import identity_of
    from ..sortorder import sort_order_of

    return {
        "CHECK constraints": constraints_of(properties),
        "generated columns": generated_of(properties),
        "identity columns": identity_of(properties),
        "sort order": sort_order_of(properties),
    }


def write_data_files(
    table_root: str,
    schema_json: dict[str, Any],
    spec: Sequence[dict[str, Any]],
    df: DataFrame,
    *,
    properties: Mapping[str, Any],
    target_file_count: Optional[int] = None,
    files_per_partition: Optional[int] = None,
    sort_order: str = "",
    job_dir: Optional[str] = None,
    identity: Optional[Mapping[str, Mapping[str, int]]] = None,
) -> list[DataFileEntry]:
    """Write new rows as committed-later data files under the table's
    write contract; returns manifest entries.

    The contract layer above :func:`write_files`: conform to the schema
    (missing columns take their DEFAULT), compute generated columns,
    enforce CHECK constraints — a violation fails the job before any
    commit — and apply the table sort order unless the caller stamped
    its own layout tag.

    ``target_file_count``: shuffle-repartition before the write to bound
    output file count — capped at one file per partition value (rows of a
    value co-locate in one task). ``files_per_partition``: additionally
    SPLIT each partition value into N files via a salt that rides as an
    extra directory level (``__salt=k``) — this is how oversized
    partitions (one hot day ≫ target file size) get bounded files; the
    salt dir is opaque to readers, which always get explicit file lists.
    ``None``/``None`` keeps the incoming partitioning (no shuffle — the
    streaming append path).

    ``properties``: the table properties of the op's read version — the
    contract and the stats harvest read them. ``identity``: identity
    specs whose NULLs are filled right after the conform; the committing
    op passes them because it advances the watermarks in its own commit.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..constraints import apply_generated, enforce
    from ..identity import assign_identity
    from ..sortorder import provenance_tag

    out = conform(df, T.StructType.fromJson(schema_json))
    if identity:
        out = assign_identity(out, identity)
    contract = write_contract(properties)
    # generated columns first (compute-or-validate), so CHECK
    # constraints can reference the computed values; CHECK is one
    # fused map-side predicate (lakehouse/constraints.py)
    if contract["generated columns"]:
        out = apply_generated(out, contract["generated columns"])
    if contract["CHECK constraints"]:
        out = enforce(out, contract["CHECK constraints"])

    # table sort order (lakehouse/sortorder.py): applied unless the
    # caller stamped its own layout provenance (cluster's zorder/hilbert
    # tags, MoR delete-file tags)
    order_cols = [] if sort_order else contract["sort order"]
    order_cols = [c for c in order_cols if c in out.columns]
    if order_cols:
        sort_order = provenance_tag(order_cols)

    out, part_cols = with_partition_columns(out, spec)

    salt = []
    if files_per_partition and files_per_partition > 1 and part_cols:
        salt = ["__salt"]
        out = out.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(F.col(out.columns[0]).cast("string")),
                F.lit(files_per_partition),
            ),
        )

    if target_file_count is not None or salt:
        keys = [F.col(c) for c in part_cols + salt]
        n = target_file_count or 1
        if salt:
            n = max(n, files_per_partition)
        if order_cols:
            # range-partition on (partition cols, sort cols): files in
            # one partition dir cover DISJOINT sort-key ranges, so
            # min/max stats prune like an index; a hot partition value
            # splits by key range (no salt needed)
            rng = keys + [F.col(c) for c in order_cols]
            out = out.repartitionByRange(n, *rng).sortWithinPartitions(
                *rng
            )
        elif keys:
            out = out.repartition(n, *keys)
        else:
            out = out.repartition(n)
    elif order_cols:
        # no-shuffle path (streaming appends): task-local sort only
        out = out.sortWithinPartitions(*(part_cols + order_cols))

    return write_files(
        out,
        table_root,
        job_dir or f"data/job-{uuid.uuid4().hex}",
        spec,
        extra_dirs=salt,
        sort_order=sort_order,
        properties=properties,
    )
