"""Incremental + CDC reads between snapshots.

The reference's consumers re-scan the whole bronze table on every
Athena query (/root/reference/README.md:104-114); a 10^12-row table
needs *incremental* consumption instead. Two surfaces, both planned
purely from manifest diffs so the data read is proportional to the
change, never the table:

- ``incremental_scan(from, to)`` — rows appended in ``(from, to]``.
  Walks the snapshot chain and unions the data files added by
  ``append`` snapshots. ``replace``-type snapshots (compact / cluster /
  rewrite-manifests) are data-neutral and skipped; row-changing
  operations (merge / delete / overwrite) in the range raise unless
  ``allow_replays=True`` (Iceberg's incremental-append-scan contract).

- ``row_changes(from, to)`` — full CDC diff tagged with
  ``_change_type`` ('insert' | 'delete'; an update appears as both).
  Key scale property: files live in BOTH snapshots contribute identical
  rows to both sides of the multiset diff and cancel, so only the
  **symmetric difference of the file sets** is ever read. A compaction
  between the two snapshots rewrites bytes but not rows — the
  ``exceptAll`` of just the swapped files returns empty, at the cost of
  reading the swapped files only.
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import LakehouseError
from ..meta import snapshots as S

APPEND_OPS = {"append"}
DATA_NEUTRAL_OPS = {"replace", "rewrite-manifests", "evolve-schema"}


def _chain(meta: S.TableMetadata, from_id: Optional[int], to_id: int):
    """Snapshots strictly after ``from_id`` up to ``to_id``, oldest
    first, following parent pointers (branch-safe)."""
    by_id = {s.snapshot_id: s for s in meta.snapshots}
    out = []
    cur: Optional[int] = to_id
    while cur is not None and cur != from_id:
        snap = by_id.get(cur)
        if snap is None:
            raise LakehouseError(
                f"snapshot {cur} missing from chain (expired?)"
            )
        out.append(snap)
        cur = snap.parent_snapshot_id
    if from_id is not None and cur != from_id:
        raise LakehouseError(
            f"snapshot {from_id} is not an ancestor of {to_id}"
        )
    return list(reversed(out))


def _files_of(table, snapshot_id: Optional[int]) -> dict[str, Any]:
    """rel path -> entry for a snapshot (empty for None)."""
    if snapshot_id is None:
        return {}
    return {e.file_path: e for e in table.live_files(snapshot_id)}


def _read_file_entries(table, entries, deletes=()) -> DataFrame:
    """Read data-file entries through the read kernel (field-id
    rename/drop safe, ``deletes`` applied under the seq rule)."""
    from ..meta.scan import read_entries

    entries = sorted(entries, key=lambda e: e.file_path)
    return read_entries(
        table.spark, table.meta, table.root, entries, deletes=deletes
    )


def incremental_scan(
    table,
    *,
    from_snapshot_id: Optional[int] = None,
    to_snapshot_id: Optional[int] = None,
    allow_replays: bool = False,
) -> DataFrame:
    """Rows appended in ``(from, to]`` (exclusive-inclusive)."""
    meta = table.meta
    to_id = (
        to_snapshot_id
        if to_snapshot_id is not None
        else meta.current_snapshot_id
    )
    if to_id is None:
        return table.spark.createDataFrame([], table.schema)
    added: list[str] = []
    for snap in _chain(meta, from_snapshot_id, to_id):
        if snap.operation in DATA_NEUTRAL_OPS:
            continue
        if snap.operation not in APPEND_OPS and not allow_replays:
            raise LakehouseError(
                f"snapshot {snap.snapshot_id} is a row-changing "
                f"{snap.operation!r}; incremental append-scan cannot "
                f"represent it — use row_changes() or allow_replays=True"
            )
        prev = _files_of(table, snap.parent_snapshot_id)
        cur = _files_of(table, snap.snapshot_id)
        added.extend(e for p, e in cur.items() if p not in prev)
    return _read_file_entries(table, added)


def row_changes(
    table,
    *,
    from_snapshot_id: Optional[int],
    to_snapshot_id: Optional[int] = None,
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """CDC multiset diff between two snapshots, reading only the
    symmetric difference of their file sets. Adds ``_change_type``.

    ``columns`` projects BOTH sides before the diff: the result is the
    multiset diff of the PROJECTED rows — rows identical in the
    projection cancel even if they differ elsewhere. That is exactly
    the right semantics for delta-driven aggregation (a cancelled pair
    contributes +1/−1 to every aggregate anyway) and it keeps payload
    columns (audio ``bytes``) out of the diff's scan AND its exchange:
    on a clips table the projected diff reads kilobytes per row less.
    Omit it for true row-level CDC.

    Merge-on-read aware: if either endpoint carries delete files
    (equality or positional), the diff compares logical VIEWS — each side reads its
    (symmetric-diff ∪ delete-affected) data files with that endpoint's
    deletes applied. Files untouched by any delete and common to both
    snapshots still cancel without being read.
    """
    meta = table.meta
    to_id = (
        to_snapshot_id
        if to_snapshot_id is not None
        else meta.current_snapshot_id
    )

    def _plan_of(sid):
        if sid is None:
            return None
        return table.plan(snapshot_id=sid)

    old_plan, new_plan = _plan_of(from_snapshot_id), _plan_of(to_id)
    old_entries = {e.file_path: e for e in (old_plan.files if old_plan else [])}
    new_entries = {e.file_path: e for e in (new_plan.files if new_plan else [])}
    only_old = [p for p in old_entries if p not in new_entries]
    only_new = [p for p in new_entries if p not in old_entries]
    old_dels = old_plan.delete_files if old_plan else []
    new_dels = new_plan.delete_files if new_plan else []

    from ..ops.mor import _pos_delete_touches, _range_intersects

    all_dels = {d.file_path: d for d in old_dels + new_dels}.values()

    def _affected(e) -> bool:
        return any(
            e.seq < d.seq
            and (
                _pos_delete_touches(e, d)
                if d.is_pos_delete
                else _range_intersects(
                    e.stats.get(d.delete_key) or {},
                    d.stats.get(d.delete_key) or {},
                )
            )
            for d in all_dels
        )

    def _side(entries, only, dels) -> DataFrame:
        read = [e for p, e in entries.items() if p in only or _affected(e)]
        return _read_file_entries(table, read, dels)

    old_df = _side(old_entries, set(only_old), old_dels)
    new_df = _side(new_entries, set(only_new), new_dels)

    if columns is not None:
        old_df = old_df.select(*columns)
        new_df = new_df.select(*columns)
    inserts = new_df.exceptAll(old_df).withColumn(
        "_change_type", F.lit("insert")
    )
    deletes = old_df.exceptAll(new_df).withColumn(
        "_change_type", F.lit("delete")
    )
    return inserts.unionByName(deletes)


def diff_read_bytes(
    table,
    *,
    from_snapshot_id: Optional[int],
    to_snapshot_id: Optional[int] = None,
) -> tuple[int, int]:
    """Manifest-only cost estimate for ``row_changes``: returns
    ``(diff_bytes, live_bytes)`` where ``diff_bytes`` is the total data
    bytes the CDC diff would read (both sides of the file-set symmetric
    difference, plus delete-affected files when either endpoint carries
    MoR deletes — the exact set ``row_changes`` plans) and
    ``live_bytes`` is the data bytes of a full scan at ``to``. Zero
    I/O: pure arithmetic over the same manifests the planner already
    loaded. Incremental consumers use it to fall back to a full
    recompute when a table-wide change makes the diff read MORE than
    the table (e.g. a positional-delete materialization rewrites every
    file: diff reads old+new of everything = 2x, recompute reads 1x).
    """
    meta = table.meta
    to_id = (
        to_snapshot_id
        if to_snapshot_id is not None
        else meta.current_snapshot_id
    )

    def _plan_of(sid):
        return None if sid is None else table.plan(snapshot_id=sid)

    old_plan, new_plan = _plan_of(from_snapshot_id), _plan_of(to_id)
    old_entries = {e.file_path: e for e in (old_plan.files if old_plan else [])}
    new_entries = {e.file_path: e for e in (new_plan.files if new_plan else [])}
    live_bytes = sum(e.file_size_bytes for e in new_entries.values())
    old_dels = old_plan.delete_files if old_plan else []
    new_dels = new_plan.delete_files if new_plan else []

    if not old_dels and not new_dels:
        diff_bytes = sum(
            e.file_size_bytes
            for p, e in old_entries.items()
            if p not in new_entries
        ) + sum(
            e.file_size_bytes
            for p, e in new_entries.items()
            if p not in old_entries
        )
        return diff_bytes, live_bytes

    from ..ops.mor import _pos_delete_touches, _range_intersects

    all_dels = {d.file_path: d for d in old_dels + new_dels}.values()

    def _affected(e) -> bool:
        return any(
            e.seq < d.seq
            and (
                _pos_delete_touches(e, d)
                if d.is_pos_delete
                else _range_intersects(
                    e.stats.get(d.delete_key) or {},
                    d.stats.get(d.delete_key) or {},
                )
            )
            for d in all_dels
        )

    def _side_bytes(entries, other) -> int:
        return sum(
            e.file_size_bytes
            for p, e in entries.items()
            if p not in other or _affected(e)
        )

    return (
        _side_bytes(old_entries, new_entries)
        + _side_bytes(new_entries, old_entries),
        live_bytes,
    )


def changelog_view(
    table,
    *,
    from_snapshot_id: Optional[int],
    to_snapshot_id: Optional[int] = None,
    identifier_columns: Sequence[str] = ("clip_id",),
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """CDC diff with UPDATE pairing (Iceberg's create_changelog_view
    with identifier columns): a delete and an insert sharing the same
    identifier become ``update_before`` / ``update_after``; unpaired
    rows stay ``delete`` / ``insert``.

    Built on :func:`row_changes` (reads only the file-set symmetric
    difference), plus ONE window over the diff keyed on the identifier
    — the diff is proportional to the change, never the table, so the
    window's shuffle is too. Rows whose identifier appears with BOTH
    change types in the diff are update pairs; identifiers deleted and
    re-inserted with identical values cancel in the multiset diff
    upstream and never reach here.
    """
    from pyspark.sql import Window

    diff = row_changes(
        table,
        from_snapshot_id=from_snapshot_id,
        to_snapshot_id=to_snapshot_id,
        columns=columns,
    )
    ids = [F.col(c) for c in identifier_columns]
    w = Window.partitionBy(*ids)
    has_both = (
        F.max(F.when(F.col("_change_type") == "insert", 1).otherwise(0))
        .over(w)
        + F.max(F.when(F.col("_change_type") == "delete", 1).otherwise(0))
        .over(w)
    ) == 2
    return diff.withColumn(
        "_change_type",
        F.when(
            has_both & (F.col("_change_type") == "delete"),
            F.lit("update_before"),
        )
        .when(
            has_both & (F.col("_change_type") == "insert"),
            F.lit("update_after"),
        )
        .otherwise(F.col("_change_type")),
    )
