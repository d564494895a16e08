"""INSERT OVERWRITE (partition-level replacement).

The reference's bronze table is append-only; its re-ingest/backfill
story ("point-in-time recovery", /root/reference/README.md:176) needs a
partition replace to be safe. Two modes, both one atomic commit:

- **static**: an explicit partition filter names the partitions to drop;
  the new DataFrame replaces exactly those files. A guard pass asserts
  no incoming row falls outside the filter (otherwise rows would leak
  into partitions that were not cleared — silent corruption).
- **dynamic** (Spark's ``partitionOverwriteMode=dynamic`` semantics):
  the partitions to drop are discovered from the incoming data itself —
  one narrow distinct over the derived partition columns (tiny: bounded
  by partition count, not row count) — so a backfill job just writes
  what it has and only those days are replaced.

Scale: the drop set is resolved purely from manifests (no data read);
the write is a normal partitioned append; untouched partitions' files
are never moved. The commit rebases like every other maintenance op —
if a concurrent writer replaced one of the to-drop files, the commit
conflicts and the caller replans.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from ..expressions import normalize_filter, to_sql
from ..lineage import LineageLog
from ..ops.append import write_data_files
from ..partitioning import encode_partition_value, with_partition_columns


@dataclass
class OverwriteResult:
    job_id: str
    snapshot_id: Optional[int]
    partitions_replaced: int
    files_removed: int
    files_written: int
    rows_written: int


def overwrite_partitions(
    table,
    meta,
    df,
    *,
    partition_filter=None,
    target_file_count: Optional[int] = None,
    job_id: Optional[str] = None,
) -> OverwriteResult:
    """Replace whole partitions with ``df`` in one atomic commit.

    ``partition_filter`` given → static mode; omitted → dynamic mode.
    Planned, written and committed on the one version ``meta``.
    """
    spec = meta.partition_spec
    if not spec:
        raise ValueError(
            "overwrite_partitions requires a partitioned table; "
            "use delete('TRUE') + append for full replacement"
        )
    # partition replacement is only well-defined when every live file
    # uses the CURRENT spec: old-spec files' partition values were
    # computed under a different definition (possibly with the SAME
    # field names — e.g. bucket n=4 vs n=8), so dynamic mode would
    # silently leave their rows behind and static mode would drop files
    # whose rows may fall outside the filter. Files record their
    # spec_id at commit, so the guard is exact.
    live = table._plan(meta).files
    stale = [e for e in live if e.spec_id != meta.default_spec_id]
    if stale:
        raise ValueError(
            f"{len(stale)} live files were written under an older "
            f"partition spec; rewrite them first (cluster() migrates "
            f"files to the current spec) before overwrite_partitions"
        )
    log = LineageLog(table.root, job_id)

    if partition_filter is not None:
        preds = normalize_filter(partition_filter)
        part_names = {f["name"] for f in spec}
        bad = [p.col for p in preds if p.col not in part_names]
        if bad:
            raise ValueError(
                f"static overwrite filter may only reference partition "
                f"columns {sorted(part_names)}; got {bad}"
            )
        removed_entries = table._plan(meta, filter=partition_filter).files
        # guard: no incoming row may land outside the cleared partitions.
        # Evaluate the filter over the *derived* partition columns, so it
        # is correct for transform specs (day/bucket/...) too.
        from ..expressions import Predicate
        from ..partitioning import PART_PREFIX

        with_parts, _ = with_partition_columns(df, spec)
        preds_p = [
            Predicate(PART_PREFIX + p.col, p.op, p.value) for p in preds
        ]
        leak_sql = f"NOT ({to_sql(preds_p)})"
        if not with_parts.filter(leak_sql).isEmpty():
            raise ValueError(
                "incoming rows fall outside the overwrite filter; they "
                "would leak into partitions that are not being replaced"
            )
        mode = "static"
    else:
        # dynamic: discover incoming partitions (narrow distinct —
        # bounded by partition cardinality, not rows)
        with_parts, pcol_names = with_partition_columns(df, spec)
        touched_vals = {
            tuple(encode_partition_value(r[c]) for c in pcol_names)
            for r in with_parts.select(*pcol_names).distinct().collect()
        }
        names = [f["name"] for f in spec]
        removed_entries = [
            e
            for e in live
            if tuple(
                encode_partition_value(e.partition.get(n)) for n in names
            )
            in touched_vals
        ]
        mode = "dynamic"

    removed = [e.file_path for e in removed_entries]
    parts = {
        tuple(sorted(e.partition.items())) for e in removed_entries
    }
    log.start_job(
        "overwrite-partitions",
        {"mode": mode, "partitions": len(parts), "files_removed": len(removed)},
    )
    entries = write_data_files(
        table.root,
        meta.schema_json,
        meta.partition_spec,
        df,
        properties=meta.properties,
        target_file_count=target_file_count,
        job_dir=f"data/{log.job_id}",
    )
    rows_written = sum(e.record_count for e in entries)
    snap = table._commit_files(
        "overwrite",
        entries,
        removed,
        summary={
            "job_id": log.job_id,
            "mode": mode,
            "partitions_replaced": len(parts),
            "rows_written": rows_written,
        },
        base=meta,
    )
    log.finish_task(
        "overwrite",
        entries,
        files_in=removed,
        bytes_in=sum(e.file_size_bytes for e in removed_entries),
    )
    log.finish_job({"snapshot_id": snap.snapshot_id})
    return OverwriteResult(
        job_id=log.job_id,
        snapshot_id=snap.snapshot_id,
        partitions_replaced=len(parts),
        files_removed=len(removed),
        files_written=len(entries),
        rows_written=rows_written,
    )
