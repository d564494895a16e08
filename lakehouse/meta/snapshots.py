"""Snapshot log + optimistic, atomic commits (the transaction layer).

The reference delegates ACID appends, snapshot isolation and time travel
to the Delta jar (/root/reference/etl/glue_stream.py:341; README.md:176,
194 — its ADR picks the lakehouse layer exactly for "ACID compliance and
time travel"). This module rebuilds that black box:

- table metadata = immutable ``metadata/v<N>.metadata.json`` files, each a
  full description (schema, partition spec, snapshot list, current id);
- a snapshot references a JSON **manifest list** (see manifests.py);
- commit protocol = write tmp file, then ``os.link`` to the next version
  name — ``link(2)`` fails with EEXIST if a concurrent writer got there
  first, giving compare-and-swap semantics on any POSIX filesystem (on
  object stores this maps to a conditional PUT / If-None-Match);
- there is no version-hint pointer: readers list ``v*.metadata.json``
  and take the max.

Losers of the race re-read the new current metadata, re-validate their
snapshot against it (rebase) and retry — classic optimistic concurrency.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from ..errors import (
    CommitConflictError,
    SnapshotNotFoundError,
    TableNotFoundError,
)

_VERSION_RE = re.compile(r"^v(\d+)\.metadata\.json$")


@dataclass
class Snapshot:
    snapshot_id: int
    parent_snapshot_id: Optional[int]
    timestamp_ms: int
    operation: str  # append | replace | overwrite | delete | merge
    manifest_list: str  # relative path to snap-<id>-<attempt>.manifest-list.json
    schema_id: int = 0
    summary: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> dict[str, Any]:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_snapshot_id": self.parent_snapshot_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "manifest_list": self.manifest_list,
            "schema_id": self.schema_id,
            "summary": self.summary,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_snapshot_id=d.get("parent_snapshot_id"),
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            manifest_list=d["manifest_list"],
            schema_id=d.get("schema_id", 0),
            summary=d.get("summary", {}),
        )


@dataclass
class TableMetadata:
    table_uuid: str
    location: str
    version: int
    schema_json: dict[str, Any]  # Spark StructType.jsonValue()
    partition_spec: list[dict[str, Any]]  # CURRENT spec [{name, transform, source, n?}]
    schemas: list[dict[str, Any]] = field(default_factory=list)  # by schema_id
    current_schema_id: int = 0
    current_snapshot_id: Optional[int] = None
    snapshots: list[Snapshot] = field(default_factory=list)
    properties: dict[str, Any] = field(default_factory=dict)
    # partition-spec evolution (Iceberg-style): every spec this table
    # ever had, by spec id; entries written under an old spec keep their
    # old partition values (self-describing dicts), and planning prunes
    # each entry against whatever keys IT has (matches_partition is
    # conservative on missing keys). Rewrites migrate files to the
    # current spec because partition values derive from source columns.
    partition_specs: list[list[dict[str, Any]]] = field(default_factory=list)
    default_spec_id: int = 0
    # named refs (Iceberg-style): {name: {"snapshot_id": int,
    # "type": "branch"|"tag"}}. "main" is implicit — it IS
    # current_snapshot_id — so refs holds only auxiliary branches/tags
    # (audit/WAP staging, release tags).
    refs: dict[str, dict[str, Any]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if not self.partition_specs:
            self.partition_specs = [list(self.partition_spec)]
            self.default_spec_id = 0

    def snapshot(self, snapshot_id: Optional[int] = None) -> Snapshot:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id
        if sid is None:
            raise SnapshotNotFoundError(
                f"table {self.location} has no snapshots yet"
            )
        for s in self.snapshots:
            if s.snapshot_id == sid:
                return s
        raise SnapshotNotFoundError(
            f"snapshot {sid} not found (expired or never existed); "
            f"available: {[s.snapshot_id for s in self.snapshots]}"
        )

    def to_json(self) -> dict[str, Any]:
        return {
            "format_version": 1,
            "table_uuid": self.table_uuid,
            "location": self.location,
            "version": self.version,
            "schema": self.schema_json,
            "schemas": self.schemas,
            "current_schema_id": self.current_schema_id,
            "partition_spec": self.partition_spec,
            "partition_specs": self.partition_specs,
            "default_spec_id": self.default_spec_id,
            "current_snapshot_id": self.current_snapshot_id,
            "snapshots": [s.to_json() for s in self.snapshots],
            "properties": self.properties,
            "refs": self.refs,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "TableMetadata":
        return TableMetadata(
            table_uuid=d["table_uuid"],
            location=d["location"],
            version=d["version"],
            schema_json=d["schema"],
            partition_spec=d["partition_spec"],
            schemas=d.get("schemas", [d["schema"]]),
            current_schema_id=d.get("current_schema_id", 0),
            current_snapshot_id=d.get("current_snapshot_id"),
            snapshots=[Snapshot.from_json(s) for s in d.get("snapshots", [])],
            properties=d.get("properties", {}),
            refs=d.get("refs", {}),
            partition_specs=d.get("partition_specs", []),
            default_spec_id=d.get("default_spec_id", 0),
        )


# --- filesystem layer ---------------------------------------------------------


def metadata_dir(table_root: str) -> str:
    return os.path.join(table_root, "metadata")


def _version_path(table_root: str, version: int) -> str:
    return os.path.join(metadata_dir(table_root), f"v{version}.metadata.json")


def list_versions(table_root: str) -> list[int]:
    mdir = metadata_dir(table_root)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        m = _VERSION_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def current_version(table_root: str) -> int:
    """Newest published version: the max over a listing of
    ``v*.metadata.json``."""
    versions = list_versions(table_root)
    if not versions:
        raise TableNotFoundError(f"no table metadata under {table_root}")
    return versions[-1]


def load_metadata(
    table_root: str, version: Optional[int] = None
) -> TableMetadata:
    v = version if version is not None else current_version(table_root)
    path = _version_path(table_root, v)
    try:
        with open(path) as f:
            return TableMetadata.from_json(json.load(f))
    except FileNotFoundError as e:
        raise TableNotFoundError(f"metadata version {v} missing: {path}") from e


def _atomic_write_json(path: str, payload: dict[str, Any]) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(json.dumps(payload, separators=(",", ":")))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def write_manifest_list(
    table_root: str, snapshot_id: int, manifests: list[dict[str, Any]]
) -> str:
    """``manifests``: [{"path": rel, "summary": {...}}, ...] → relative path."""
    # UNIQUE per commit ATTEMPT, not per snapshot id: two concurrent
    # writers both compute next_snapshot_id from the same base and would
    # otherwise overwrite each other's list file BEFORE the CAS decides
    # the winner — the committed snapshot then references the loser's
    # manifests (duplicating its rows and losing the winner's). The
    # snapshot records whichever path ITS attempt wrote; lists from
    # lost attempts are unreferenced and swept by expire's GC.
    rel = (
        f"metadata/snap-{snapshot_id}-{uuid.uuid4().hex[:12]}"
        ".manifest-list.json"
    )
    _atomic_write_json(os.path.join(table_root, rel), {"manifests": manifests})
    return rel


def read_manifest_list(table_root: str, rel: str) -> list[dict[str, Any]]:
    with open(os.path.join(table_root, rel)) as f:
        return json.load(f)["manifests"]


def publish_json(target: str, payload: dict[str, Any]) -> bool:
    """Compare-and-swap publish of one JSON file — the single CAS
    primitive behind table commits and catalog versions.

    ``os.link`` is atomic and fails with EEXIST when a concurrent committer
    already claimed the name — the CAS we need (os.rename would
    silently overwrite the winner).
    """
    tmp = f"{target}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(json.dumps(payload, separators=(",", ":")))
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, target)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    return True


def _try_publish(table_root: str, version: int, payload: dict[str, Any]) -> bool:
    """CAS-publish ``v<version>.metadata.json``."""
    return publish_json(_version_path(table_root, version), payload)


def next_snapshot_id(meta: TableMetadata) -> int:
    return max([s.snapshot_id for s in meta.snapshots], default=0) + 1


def commit(
    table_root: str,
    apply: Callable[[TableMetadata], TableMetadata],
    *,
    base: Optional[TableMetadata] = None,
    max_retries: int = 10,
    backoff_s: float = 0.05,
) -> TableMetadata:
    """Optimistic commit loop: load current → ``apply`` (pure rebase
    function) → CAS-publish next version. ``apply`` may raise
    CommitConflictError itself if the new current state invalidates the
    pending change (e.g. a compaction's source files were replaced).

    ``base``: the one metadata version the op read at entry (``apply``
    must not mutate it). The first attempt commits on it; only a lost
    CAS reads the current version, once per lost attempt. Returns the
    version this commit published: a following step of the same op
    continues on it without reading it back."""
    for attempt in range(max_retries):
        if base is None:
            base = load_metadata(table_root)
        new_meta = apply(base)
        new_meta.version = base.version + 1
        if _try_publish(table_root, new_meta.version, new_meta.to_json()):
            return new_meta
        base = None
        time.sleep(backoff_s * (attempt + 1))
    raise CommitConflictError(
        f"commit to {table_root} failed after {max_retries} CAS attempts"
    )


def now_ms() -> int:
    return int(time.time() * 1000)
