"""Manifest rewrite: compact the metadata layer itself.

Every append adds one manifest; after thousands of streaming commits the
manifest list is long and planning degrades (the metadata analogue of
the small-file problem). This op repacks all live data-file entries into
few large manifests — grouped by partition so manifest-level partition
summaries stay selective — and commits a snapshot that references the
same data files (op = "rewrite-manifests", zero data movement).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from ..meta import snapshots as S
from ..meta.manifests import DataFileEntry, read_manifest, write_manifest

DEFAULT_ENTRIES_PER_MANIFEST = 100_000


@dataclass
class RewriteManifestsResult:
    snapshot_id: int
    manifests_before: int
    manifests_after: int
    entries: int


def rewrite_manifests(
    table, meta, *, entries_per_manifest: int = DEFAULT_ENTRIES_PER_MANIFEST
) -> RewriteManifestsResult:
    result: dict = {}

    def apply(base: S.TableMetadata) -> S.TableMetadata:
        snap = base.snapshot()
        old_manifests = S.read_manifest_list(table.root, snap.manifest_list)
        entries: list[DataFileEntry] = []
        for m in old_manifests:
            entries.extend(read_manifest(table.root, m["path"]))

        by_partition: dict[str, list[DataFileEntry]] = {}
        for e in entries:
            by_partition.setdefault(str(sorted(e.partition.items())), []).append(e)

        manifests_out = []
        batch: list[DataFileEntry] = []
        for _pkey in sorted(by_partition):
            for e in by_partition[_pkey]:
                batch.append(e)
                if len(batch) >= entries_per_manifest:
                    rel, summ = write_manifest(table.root, batch)
                    manifests_out.append({"path": rel, "summary": summ})
                    batch = []
        if batch:
            rel, summ = write_manifest(table.root, batch)
            manifests_out.append({"path": rel, "summary": summ})

        sid = S.next_snapshot_id(base)
        manifest_list = S.write_manifest_list(table.root, sid, manifests_out)
        new_snap = S.Snapshot(
            snapshot_id=sid,
            parent_snapshot_id=base.current_snapshot_id,
            timestamp_ms=S.now_ms(),
            operation="rewrite-manifests",
            manifest_list=manifest_list,
            schema_id=base.current_schema_id,
            summary={
                "manifests_before": len(old_manifests),
                "manifests_after": len(manifests_out),
            },
        )
        result.update(
            snapshot_id=sid,
            manifests_before=len(old_manifests),
            manifests_after=len(manifests_out),
            entries=len(entries),
        )
        return replace(
            base, current_snapshot_id=sid, snapshots=base.snapshots + [new_snap]
        )

    S.commit(table.root, apply, base=meta)
    return RewriteManifestsResult(**result)
