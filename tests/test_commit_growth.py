"""Commit growth law: a commit's metadata reads follow its change, not the
table's history.

Metadata-only, like test_planner_scale: fabricated one-file appends build
a long snapshot history without writing a data file, and a counting
wrapper around ``lakehouse.table.read_manifest`` records which parent
manifests each commit opens.
"""

from __future__ import annotations

import pytest

import lakehouse.table as table_mod
from lakehouse import Table
from lakehouse.errors import CommitConflictError
from lakehouse.meta import snapshots as S
from lakehouse.meta.manifests import DataFileEntry
from lakehouse.schema import CLIPS_SCHEMA

COMMITS = 200
CHECKPOINTS = (1, 10, 50, 100, COMMITS)


def _entry(i: int) -> DataFileEntry:
    return DataFileEntry(
        file_path=f"data/virtual/f{i:05d}.parquet",
        record_count=10,
        file_size_bytes=1000 + i,
    )


@pytest.fixture()
def manifest_reads(monkeypatch):
    """Relative paths of every manifest ``Table._commit_files`` opens."""
    reads: list[str] = []
    real = table_mod.read_manifest

    def counting(root, rel):
        reads.append(rel)
        return real(root, rel)

    monkeypatch.setattr(table_mod, "read_manifest", counting)
    return reads


@pytest.fixture()
def long_table(tmp_path, manifest_reads):
    """COMMITS one-file appends; per-checkpoint manifest reads recorded."""
    t = Table.create(None, str(tmp_path / "t"), CLIPS_SCHEMA)
    opened = {}
    for i in range(COMMITS):
        t._commit_files("append", [_entry(i)])
        if i + 1 in CHECKPOINTS:
            opened[i + 1] = len(manifest_reads)
    manifest_reads.clear()
    return t, opened


def _manifest_list(t: Table) -> list[str]:
    meta = t.meta
    return [
        m["path"]
        for m in S.read_manifest_list(t.root, meta.snapshot().manifest_list)
    ]


def test_appends_open_no_manifest_at_any_history_length(long_table):
    t, opened = long_table
    assert opened == {n: 0 for n in CHECKPOINTS}
    assert len(_manifest_list(t)) == COMMITS
    assert t.plan().candidate_files == COMMITS


def test_removal_stops_reading_at_the_manifest_holding_its_path(
    long_table, manifest_reads
):
    t, _ = long_table
    listed = _manifest_list(t)
    target = 37
    victim = _entry(target).file_path
    holder = [
        m for m in listed
        if victim in {e.file_path for e in table_mod.read_manifest(t.root, m)}
    ]
    assert len(holder) == 1
    manifest_reads.clear()

    snap = t._commit_files("delete", [], [victim])

    assert manifest_reads[-1] == holder[0]
    assert len(manifest_reads) == listed.index(holder[0]) + 1
    assert snap.summary["removed_records"] == 10
    assert snap.summary["removed_bytes"] == 1000 + target
    files = {e.file_path for e in t.plan().files}
    assert victim not in files and len(files) == COMMITS - 1


def test_removing_a_path_no_longer_live_still_conflicts(long_table):
    t, _ = long_table
    victim = _entry(5).file_path
    t._commit_files("delete", [], [victim])
    before = t.current_snapshot_id()
    with pytest.raises(CommitConflictError, match="no longer live"):
        t._commit_files("delete", [], [victim])
    assert t.current_snapshot_id() == before
