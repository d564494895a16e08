"""Snapshot expiry + reachability GC (the VACUUM counterpart).

The reference leans on S3 lifecycle cleanup + Delta VACUUM semantics
(/root/reference/infra/terraform/modules/bucket/main.tf:12-18); here:

- ``expire_snapshots``: metadata-only commit that drops snapshots past a
  TTL / beyond a keep-last window (current snapshot always survives).
  Time travel to an expired id then fails cleanly with
  SnapshotNotFoundError — that contract is part of the test gate.
- ``remove_orphan_files``: reachability GC. The live set is the union of
  data files referenced by any *surviving* snapshot's manifests; every
  file on storage that is not live and is older than the grace period is
  an orphan (crashed-job leftovers, expired rewrites) and is deleted.
  The set difference runs driver-side for small tables and as a Spark
  **left-anti join** (storage listing ⟕ live manifest entries) at scale —
  manifests are Parquet precisely so this join needs no driver memory.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field, replace
from typing import Any, Optional

from pyspark.sql import functions as F

from ..errors import LakehouseError
from ..meta import snapshots as S
from ..meta.manifests import read_manifest
from ..streaming import mark_expired_batches

# files newer than this are presumed to belong to an in-flight job
DEFAULT_GRACE_MS = 3 * 24 * 3600 * 1000
DRIVER_GC_THRESHOLD = 100_000


@dataclass
class ExpireResult:
    expired_snapshot_ids: list[int]
    surviving_snapshot_ids: list[int]
    dropped_refs: list[str] = field(default_factory=list)


@dataclass
class GcResult:
    deleted_files: list[str] = field(default_factory=list)
    live_files: int = 0
    scanned_files: int = 0
    mode: str = "driver"


def expire_snapshots(
    table,
    meta,
    *,
    keep_last: Optional[int] = None,
    older_than_ms: Optional[int] = None,
    max_ref_age_ms: Optional[int] = None,
    now_ms: Optional[int] = None,
) -> ExpireResult:
    """Expire old snapshots (and optionally aged-out refs).

    ``max_ref_age_ms`` (Iceberg's ``history.expire.max-ref-age-ms``):
    auxiliary branches/tags older than this are DROPPED in the same
    commit, releasing their snapshot pins — a per-ref
    ``max_ref_age_ms`` (set at create_branch/create_tag) overrides the
    call-level default; refs with neither live forever. Ref age is
    measured from the ref's creation time when recorded, else from its
    target snapshot's commit time. ``now_ms`` injects the clock for
    deterministic tests.

    Caution: the call-level default applies to ALL auxiliary refs,
    including in-flight transaction staging branches (txn.py) — their
    targets are fresh snapshots, so any sane default (hours+) never
    touches them, but a sub-minute default during an active
    transaction could reap its branch; scope aggressive sweeps to
    per-ref policies instead.
    """
    if keep_last is None and older_than_ms is None:
        keep_last = 1
    expired_holder: dict[str, list] = {}
    now = now_ms if now_ms is not None else int(time.time() * 1000)

    def apply(base: S.TableMetadata) -> S.TableMetadata:
        snaps = sorted(base.snapshots, key=lambda s: s.snapshot_id)
        by_id = {s.snapshot_id: s for s in snaps}
        # ref retention first: an aged-out ref releases its pin in the
        # SAME commit, so its snapshots expire atomically with the drop
        refs: dict[str, Any] = {}
        dropped_refs: list[str] = []
        for name, ref in base.refs.items():
            limit = ref.get("max_ref_age_ms", max_ref_age_ms)
            if limit is not None:
                born = ref.get("created_ms")
                if born is None:
                    snap = by_id.get(ref["snapshot_id"])
                    born = snap.timestamp_ms if snap is not None else 0
                if now - born > int(limit):
                    dropped_refs.append(name)
                    continue
            refs[name] = ref
        expired_holder["refs"] = dropped_refs
        keep = set()
        if base.current_snapshot_id is not None:
            keep.add(base.current_snapshot_id)
        # named refs pin their snapshots: a branch head / tag target must
        # stay readable until the ref is dropped (Iceberg ref retention)
        for ref in refs.values():
            keep.add(ref["snapshot_id"])
        if keep_last is not None:
            keep.update(s.snapshot_id for s in snaps[-keep_last:])
        if older_than_ms is not None:
            keep.update(
                s.snapshot_id for s in snaps if s.timestamp_ms >= older_than_ms
            )
        surviving = [s for s in snaps if s.snapshot_id in keep]
        expired = [s for s in snaps if s.snapshot_id not in keep]
        expired_holder["ids"] = [s.snapshot_id for s in expired]
        # the stream replay guard must keep skipping the batches whose
        # snapshots go now
        props = mark_expired_batches(base.properties, expired)
        return replace(base, snapshots=surviving, properties=props, refs=refs)

    meta = S.commit(table.root, apply, base=meta)
    return ExpireResult(
        expired_snapshot_ids=expired_holder.get("ids", []),
        surviving_snapshot_ids=[s.snapshot_id for s in meta.snapshots],
        dropped_refs=expired_holder.get("refs", []),
    )


def _storage_files(table_root: str) -> list[str]:
    """Every data file (and bloom sidecar) on storage (relative paths)."""
    out = []
    data_dir = os.path.join(table_root, "data")
    for dirpath, _dirs, files in os.walk(data_dir):
        for name in files:
            if name.endswith(".parquet") or name.endswith(".parquet.bloom"):
                out.append(
                    os.path.relpath(os.path.join(dirpath, name), table_root)
                )
    return out


def _liveness_key(rel_path: str) -> str:
    """A bloom sidecar lives and dies with its data file: reachability
    is decided on the data-file path (lakehouse/bloom.py sidecars)."""
    if rel_path.endswith(".bloom"):
        return rel_path[: -len(".bloom")]
    return rel_path


def _live_manifest_paths(meta: S.TableMetadata, table_root: str) -> set[str]:
    paths = set()
    for snap in meta.snapshots:
        paths.add(snap.manifest_list)
        for m in S.read_manifest_list(table_root, snap.manifest_list):
            paths.add(m["path"])
    return paths


def remove_orphan_files(
    table,
    meta,
    *,
    older_than_ms: Optional[int] = None,
    dry_run: bool = False,
    mode: str = "auto",
) -> GcResult:
    """Delete unreachable data files (+ unreferenced manifests).

    ``older_than_ms``: absolute cutoff; files modified after it are kept
    regardless of reachability (in-flight job protection). Defaults to
    now − 3 days, mirroring Iceberg's orphan-file grace period.
    """
    if mode not in ("auto", "driver", "spark"):
        raise LakehouseError(f"unknown GC mode: {mode}")
    cutoff_ms = (
        older_than_ms
        if older_than_ms is not None
        else int(time.time() * 1000) - DEFAULT_GRACE_MS
    )
    on_disk = _storage_files(table.root)

    use_spark = mode == "spark" or (
        mode == "auto" and len(on_disk) > DRIVER_GC_THRESHOLD
    )
    if use_spark:
        orphans = _orphans_spark(table, meta, on_disk)
        live_count = -1
    else:
        live: set[str] = set()
        for snap in meta.snapshots:
            for m in S.read_manifest_list(table.root, snap.manifest_list):
                for e in read_manifest(table.root, m["path"]):
                    live.add(e.file_path)
        orphans = [p for p in on_disk if _liveness_key(p) not in live]
        live_count = len(live)

    deleted = []
    for rel in orphans:
        abs_path = os.path.join(table.root, rel)
        try:
            mtime_ms = os.path.getmtime(abs_path) * 1000
        except FileNotFoundError:
            continue
        if mtime_ms > cutoff_ms:
            continue
        deleted.append(rel)
        if not dry_run:
            os.unlink(abs_path)

    if not dry_run:
        _sweep_dead_metadata(table, meta)
        _prune_empty_dirs(os.path.join(table.root, "data"))
    return GcResult(
        deleted_files=sorted(deleted),
        live_files=live_count,
        scanned_files=len(on_disk),
        mode="spark" if use_spark else "driver",
    )


def _orphans_spark(table, meta: S.TableMetadata, on_disk: list[str]) -> list[str]:
    """Left-anti join: storage listing minus manifest-referenced files."""
    spark = table.spark
    # join on the liveness key so a bloom sidecar is orphaned exactly
    # when its data file is
    disk_df = spark.createDataFrame(
        [(p, _liveness_key(p)) for p in on_disk],
        "file_path string, live_key string",
    )
    manifest_paths = []
    for snap in meta.snapshots:
        for m in S.read_manifest_list(table.root, snap.manifest_list):
            manifest_paths.append(os.path.join(table.root, m["path"]))
    if not manifest_paths:
        return on_disk
    live_df = (
        spark.read.parquet(*sorted(set(manifest_paths)))
        .select(F.col("file_path").alias("live_key"))
        .distinct()
    )
    return [
        r.file_path
        for r in disk_df.join(live_df, "live_key", "left_anti").collect()
    ]


def _sweep_dead_metadata(table, meta: S.TableMetadata) -> None:
    """Delete manifest/manifest-list files no surviving snapshot references."""
    live = _live_manifest_paths(meta, table.root)
    mdir = os.path.join(table.root, "metadata")
    for sub, suffix in (("", ".manifest-list.json"), ("manifests", ".parquet")):
        base = os.path.join(mdir, sub) if sub else mdir
        if not os.path.isdir(base):
            continue
        for name in os.listdir(base):
            if not name.endswith(suffix):
                continue
            rel = os.path.relpath(os.path.join(base, name), table.root)
            if rel not in live:
                os.unlink(os.path.join(base, name))


def _prune_empty_dirs(root: str) -> None:
    for dirpath, dirs, files in os.walk(root, topdown=False):
        if not dirs and not files and dirpath != root:
            try:
                os.rmdir(dirpath)
            except OSError:
                pass
