"""What changed between two snapshots: the one change planner.

The reference's consumers re-scan the whole bronze table on every
Athena query (/root/reference/README.md:104-114); a 10^12-row table
needs *incremental* consumption instead. Every reader of "what changed
in ``(from, to]``" plans here, purely from manifests, on the one
``TableMetadata`` its op read at entry, so the data read is
proportional to the change, never the table:

- :func:`plan_changes` walks the snapshot chain and returns one
  :class:`ChangeStep` per row-changing snapshot: the data files it
  added and removed and the delete files it added, diffed against its
  parent's plan. Each boundary snapshot is planned once. ``replace``-
  type snapshots (compact / cluster / rewrite-manifests) and schema
  changes are data-neutral and skipped; row-changing operations other than
  ``append`` raise unless ``allow_replays`` (Iceberg's
  incremental-append-scan contract). Its readers: ``incremental_scan``
  (Spark side), the stream reader's append and CDC modes (Arrow side,
  ``datasource.py``), and the WebDataset sync's dirty shards.

- :func:`row_changes` — full CDC diff tagged with ``_change_type``
  ('insert' | 'delete'; an update appears as both). Files live in BOTH
  snapshots contribute identical rows to both sides of the multiset
  diff and cancel, so only the **symmetric difference of the file
  sets** is read (plus the files a delete of either endpoint can
  touch). :func:`diff_read_bytes` is the byte sum of that read set.

- :func:`refresh_path` — how a table derived from this one (a rollup,
  a materialized transform) catches up: advance its marker, read the
  appended files, read the CDC diff, or recompute
  (:func:`full_resync`).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import LakehouseError
from ..meta import snapshots as S
from ..meta.manifests import DataFileEntry
from ..meta.scan import ScanPlan, plan_scan, read_entries
from .mor import touched_by

APPEND_OPS = {"append"}
#: snapshots that change no row: rewrites that move rows verbatim, and
#: schema changes that commit no file (``cherry-pick`` is not one: a
#: published MoR merge carries its delete files)
DATA_NEUTRAL_OPS = {
    "replace", "rewrite-manifests", "evolve-schema",
    "add-column", "rename-column", "drop-column",
}


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


@dataclass
class ChangeStep:
    """One row-changing snapshot of a change plan, diffed against its
    parent's plan (``parent`` is None for a table's first snapshot)."""

    snapshot: S.Snapshot
    parent: Optional[ScanPlan]
    added: list[DataFileEntry]
    removed: list[DataFileEntry]
    new_deletes: list[DataFileEntry]


def plan_changes(
    root: str,
    meta: S.TableMetadata,
    from_id: Optional[int],
    to_id: int,
    *,
    allow_replays: bool = False,
) -> list[ChangeStep]:
    """The steps of ``(from, to]`` on ``meta``, oldest first. Adjacent
    steps share a boundary, so each boundary snapshot is planned once."""
    plans: dict[Optional[int], Optional[ScanPlan]] = {None: None}

    def plan(sid):
        if sid not in plans:
            plans[sid] = plan_scan(root, meta, snapshot_id=sid)
        return plans[sid]

    steps = []
    for snap in _chain(meta, from_id, to_id):
        if snap.operation in DATA_NEUTRAL_OPS:
            continue
        if snap.operation not in APPEND_OPS and not allow_replays:
            raise LakehouseError(
                f"snapshot {snap.snapshot_id} is a row-changing "
                f"{snap.operation!r}; an append-only read of "
                f"({from_id}, {to_id}] cannot represent it — read "
                f"row_changes(), start after it, or pass allow_replays "
                f"(allow_replays=true on readStream)"
            )
        parent, cur = plan(snap.parent_snapshot_id), plan(snap.snapshot_id)
        old = {e.file_path: e for e in parent.files} if parent else {}
        old_dels = {d.file_path for d in parent.delete_files} if parent else ()
        live = {e.file_path for e in cur.files}
        steps.append(ChangeStep(
            snap,
            parent,
            added=[e for e in cur.files if e.file_path not in old],
            removed=[e for p, e in old.items() if p not in live],
            new_deletes=[
                d for d in cur.delete_files if d.file_path not in old_dels
            ],
        ))
    return steps


def _to_id(meta: S.TableMetadata, to_snapshot_id: Optional[int]):
    return (
        to_snapshot_id
        if to_snapshot_id is not None
        else meta.current_snapshot_id
    )


def _read(table, meta, entries, deletes=()) -> DataFrame:
    """Read data-file entries through the read kernel (field-id
    rename/drop safe, ``deletes`` applied under the seq rule)."""
    entries = sorted(entries, key=lambda e: e.file_path)
    return read_entries(
        table.spark, meta, table.root, entries, deletes=deletes
    )


def incremental_scan(
    table,
    meta,
    *,
    from_snapshot_id: Optional[int] = None,
    to_snapshot_id: Optional[int] = None,
    allow_replays: bool = False,
) -> DataFrame:
    """Rows appended in ``(from, to]`` (exclusive-inclusive)."""
    to_id = _to_id(meta, to_snapshot_id)
    if to_id is None:
        return _read(table, meta, [])
    steps = plan_changes(
        table.root, meta, from_snapshot_id, to_id,
        allow_replays=allow_replays,
    )
    return _read(table, meta, [e for step in steps for e in step.added])


def _diff_read_set(root, meta, from_id, to_id):
    """What the CDC diff of ``from`` → ``to`` reads on each side:
    ``(old files, old deletes, new files, new deletes, new live)``.
    A side reads its files missing from the other side, plus (under
    merge-on-read) its files a delete of either endpoint can touch,
    with its own deletes applied; files common to both and untouched
    by any delete cancel without being read."""
    old, new = (
        None if sid is None else plan_scan(root, meta, snapshot_id=sid)
        for sid in (from_id, to_id)
    )
    old_files = old.files if old else []
    new_files = new.files if new else []
    old_dels = old.delete_files if old else []
    new_dels = new.delete_files if new else []
    dels = list({d.file_path: d for d in old_dels + new_dels}.values())

    def side(files, other):
        other = {e.file_path for e in other}
        hit = {e.file_path for e in touched_by(files, dels)}
        return [
            e for e in files if e.file_path not in other or e.file_path in hit
        ]

    return (
        side(old_files, new_files), old_dels,
        side(new_files, old_files), new_dels,
        new_files,
    )


def row_changes(
    table,
    meta,
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
    (equality or positional), the diff compares logical VIEWS — each
    side reads its (symmetric-diff ∪ delete-affected) data files with
    that endpoint's deletes applied.
    """
    old, old_dels, new, new_dels, _live = _diff_read_set(
        table.root, meta, from_snapshot_id, _to_id(meta, to_snapshot_id)
    )
    old_df = _read(table, meta, old, old_dels)
    new_df = _read(table, meta, new, new_dels)
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
    meta,
    *,
    from_snapshot_id: Optional[int],
    to_snapshot_id: Optional[int] = None,
) -> tuple[int, int]:
    """Manifest-only cost estimate for ``row_changes``: returns
    ``(diff_bytes, live_bytes)`` where ``diff_bytes`` is the data bytes
    of the exact read set ``row_changes`` plans and ``live_bytes`` the
    data bytes of a full scan at ``to``. Zero I/O. Incremental
    consumers use it to fall back to a full recompute when a
    table-wide change makes the diff read MORE than the table (e.g. a
    positional-delete materialization rewrites every file: the diff
    reads old+new of everything = 2x, a recompute reads 1x).
    """
    old, _, new, _, live = _diff_read_set(
        table.root, meta, from_snapshot_id, _to_id(meta, to_snapshot_id)
    )
    return (
        sum(e.file_size_bytes for e in old + new),
        sum(e.file_size_bytes for e in live),
    )


def refresh_path(
    table, meta, from_id: int, to_id: int, cost_ratio
) -> str:
    """How a table derived from ``table`` catches up from ``from_id``
    to ``to_id`` on ``meta``, from the snapshot log alone: 'neutral'
    (data-neutral snapshots only: advance the marker, read nothing),
    'append' (every row change is an append: read the appended files),
    'changes' (read the CDC diff) or 'resync' (recompute: ``from_id``
    expired, or the diff would read ``cost_ratio`` x a full scan or
    more — manifest arithmetic, zero I/O; "off" disables the guard)."""
    if all(s.snapshot_id != from_id for s in meta.snapshots):
        return "resync"
    try:
        ops = {s.operation for s in _chain(meta, from_id, to_id)}
    except LakehouseError:  # not an ancestor: only the diff can tell
        ops = {None}
    ops -= DATA_NEUTRAL_OPS
    if not ops:
        return "neutral"
    if ops <= APPEND_OPS:
        return "append"
    guard = str(cost_ratio)
    if guard.lower() not in ("off", "none", ""):
        diff_b, live_b = diff_read_bytes(
            table, meta, from_snapshot_id=from_id, to_snapshot_id=to_id
        )
        if live_b > 0 and diff_b >= float(guard) * live_b:
            return "resync"
    return "changes"


def full_resync(table, meta, full: DataFrame, kind: str, to_id: int):
    """Recompute a ``kind`` ('rollup' | 'transform') derived table:
    write ``full`` and swap it in for every live data and delete file
    of ``meta`` in ONE overwrite commit that also stamps the synced
    base snapshot ``to_id`` — the 'resync' path of
    :func:`refresh_path`. The derived table lags expiry, never breaks
    on it."""
    from .append import write_data_files

    plan = table._plan(meta)
    entries = write_data_files(
        table.root,
        meta.schema_json,
        meta.partition_spec,
        full,
        properties=meta.properties,
        target_file_count=max(1, len(plan.files)),
        job_dir=f"data/resync-{to_id}-{uuid.uuid4().hex[:8]}",
    )
    table._replace_all(
        meta, "overwrite", entries, plan=plan,
        set_props={f"{kind}_synced_snapshot": to_id},
        mode=f"{kind}-full-resync", base_snapshot=to_id,
    )


def changelog_view(
    table,
    meta,
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
        meta,
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
