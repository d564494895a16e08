"""Copy-on-write DELETE FROM / UPDATE SET (row-level DML).

The reference delegates row-level DML to the Delta jar (its ADR picks
the lakehouse layer for exactly this, /root/reference/README.md:194);
this module is the from-scratch counterpart, scale-first:

1. **Prune.** Manifest partition + min/max stats cut the candidate set
   before any data is read (``prune_filter`` in the engine's tuple
   language, or derived automatically when ``predicate`` itself is a
   tuple filter).
2. **Probe (narrow).** One column-pruned pass over the candidates —
   ``filter(pred) → groupBy(file path) → count`` — finds which
   files actually contain matching rows and how many. Untouched files
   are never rewritten; at 10^12-row scale this is what turns a DELETE
   into a touched-files job.
3. **Metadata-only drops.** A file whose matched-row count equals its
   manifest ``record_count`` is dropped from metadata without a rewrite
   (the Iceberg "metadata delete" fast path — partition-wide deletes
   cost zero data IO).
4. **Rewrite (wide).** Only partially-matched files are rewritten:
   DELETE keeps ``NOT pred`` rows; UPDATE routes every row through a
   ``CASE WHEN pred THEN expr ELSE col END`` projection (codegen'd,
   no Python). One REPLACE-style commit publishes the swap atomically.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from ..expressions import normalize_filter, sql_column, sql_text, to_sql
from ..lineage import LineageLog
from ..ops.append import write_data_files


@dataclass
class DmlResult:
    job_id: str
    snapshot_id: Optional[int]
    rows_affected: int
    files_dropped: int      # metadata-only (delete fast path)
    files_rewritten: int
    files_written: int


def _predicate_sql(predicate) -> tuple[str, Optional[list]]:
    """Returns (sql text or Column, tuple_filter_or_None)."""
    if isinstance(predicate, (str, Column)):
        return predicate, None
    preds = normalize_filter(predicate)
    sql = to_sql(preds)
    if sql is None:
        raise ValueError("empty predicate")
    return sql, predicate


def _probe_matches(table, meta, files, pred_sql) -> dict[str, int]:
    """Matched-row count per relative file path (narrow, column-pruned)."""
    if not files:
        return {}
    spark = table.spark
    from ..meta.scan import read_entries

    # the path rides as a column read with each row: input_file_name()
    # is empty once a subquery predicate turns the filter into a join
    rows = (
        read_entries(spark, meta, table.root, list(files), lineage=True)
        .filter(sql_column(pred_sql))
        .groupBy("__path")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {r["__path"]: r["n"] for r in rows}


def _finish(
    table,
    meta,
    operation: str,
    log: LineageLog,
    rewrite_df,
    drop_paths: list[str],
    rewrite_paths: list[str],
    bytes_in: int,
    rows_affected: int,
    target_file_count: Optional[int],
    summary: dict,
) -> DmlResult:
    entries = []
    if rewrite_paths:
        if target_file_count is None:
            target_file_count = max(
                1, -(-bytes_in // (128 * 1024 * 1024))
            )
        entries = write_data_files(
            table.root,
            meta.schema_json,
            meta.partition_spec,
            rewrite_df,
            properties=meta.properties,
            target_file_count=target_file_count,
            job_dir=f"data/{log.job_id}",
        )
    removed = drop_paths + rewrite_paths
    snap = None
    if removed or entries:
        snap = table._commit_files(
            operation,
            entries,
            removed,
            summary={"job_id": log.job_id, **summary},
            base=meta,
        )
    log.finish_task(
        operation, entries, files_in=removed, bytes_in=bytes_in
    )
    log.finish_job(
        {
            "snapshot_id": snap.snapshot_id if snap else None,
            "rows_affected": rows_affected,
        }
    )
    return DmlResult(
        job_id=log.job_id,
        snapshot_id=snap.snapshot_id if snap else None,
        rows_affected=rows_affected,
        files_dropped=len(drop_paths),
        files_rewritten=len(rewrite_paths),
        files_written=len(entries),
    )


def delete(
    table,
    meta,
    predicate,
    *,
    prune_filter=None,
    target_file_count: Optional[int] = None,
    job_id: Optional[str] = None,
) -> DmlResult:
    """DELETE FROM table WHERE predicate (copy-on-write)."""
    pred_sql, tuples = _predicate_sql(predicate)
    log = LineageLog(table.root, job_id)
    log.start_job("delete", {"predicate": sql_text(pred_sql)})
    candidates = table._plan(meta, filter=prune_filter or tuples).files
    matched = _probe_matches(table, meta, candidates, pred_sql)
    by_path = {e.file_path: e for e in candidates}
    drop_paths = [
        p
        for p, n in matched.items()
        if p in by_path and n == by_path[p].record_count
    ]
    rewrite_paths = sorted(set(matched) - set(drop_paths))
    bytes_in = sum(
        by_path[p].file_size_bytes for p in rewrite_paths if p in by_path
    )
    rewrite_df = None
    if rewrite_paths:
        from ..meta.scan import read_entries

        rewrite_df = read_entries(
            table.spark, meta, table.root,
            [by_path[p] for p in rewrite_paths if p in by_path],
        ).filter(~sql_column(pred_sql))
    rows_affected = sum(matched.values())
    return _finish(
        table, meta, "delete", log, rewrite_df, drop_paths, rewrite_paths,
        bytes_in, rows_affected, target_file_count,
        {"predicate": sql_text(pred_sql), "rows_deleted": rows_affected},
    )


def update(
    table,
    meta,
    set_exprs: dict[str, str],
    predicate,
    *,
    prune_filter=None,
    target_file_count: Optional[int] = None,
    job_id: Optional[str] = None,
) -> DmlResult:
    """UPDATE table SET col = expr, ... WHERE predicate (copy-on-write)."""
    schema = T.StructType.fromJson(meta.schema_json)
    names = {f.name: f.dataType for f in schema.fields}
    for c in set_exprs:
        if c not in names:
            raise ValueError(f"unknown column in SET: {c!r}")
    pred_sql, tuples = _predicate_sql(predicate)
    log = LineageLog(table.root, job_id)
    log.start_job(
        "update",
        {
            "predicate": sql_text(pred_sql),
            "set": {c: sql_text(e) for c, e in set_exprs.items()},
        },
    )
    candidates = table._plan(meta, filter=prune_filter or tuples).files
    matched = _probe_matches(table, meta, candidates, pred_sql)
    rewrite_paths = sorted(matched)
    by_path = {e.file_path: e for e in candidates}
    bytes_in = sum(
        by_path[p].file_size_bytes for p in rewrite_paths if p in by_path
    )
    rewrite_df = None
    if rewrite_paths:
        from ..meta.scan import read_entries

        df = read_entries(
            table.spark, meta, table.root,
            [by_path[p] for p in rewrite_paths if p in by_path],
        )
        projections = []
        for f in schema.fields:
            if f.name in set_exprs:
                projections.append(
                    F.when(
                        sql_column(pred_sql),
                        sql_column(set_exprs[f.name]).cast(f.dataType),
                    )
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                projections.append(F.col(f.name))
        rewrite_df = df.select(*projections)
    rows_affected = sum(matched.values())
    return _finish(
        table, meta, "overwrite", log, rewrite_df, [], rewrite_paths,
        bytes_in, rows_affected, target_file_count,
        {"predicate": sql_text(pred_sql), "rows_updated": rows_affected},
    )
