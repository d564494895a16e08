"""Per-partition lineage / checkpoint log — resumable maintenance jobs.

The reference gets resumability from Spark streaming checkpoints +
Glue job bookmarks (/root/reference/etl/glue_stream.py:344,
infra/terraform/modules/glue/main.tf:90). Our maintenance jobs are
batch rewrites, so the equivalent is a job-scoped write-ahead log:

    metadata/lineage/<job_id>/job.json          — op, params, status
    metadata/lineage/<job_id>/task-<key>.json   — one per file group

Each task record carries ``files_in``, ``files_out`` (full manifest
entries), bytes in/out and the group's cluster-key range. Records are
written atomically (tmp + rename). A restarted job with the same
``job_id`` skips DONE groups — their outputs already sit in the job's
data directory, uncommitted and therefore invisible — and redoes
RUNNING ones, whose partial outputs stay orphans until GC sweeps them.
The final metadata commit is idempotent: it references exactly the
union of DONE outputs, so a crash before commit loses no source data
and a crash after commit is a no-op on restart.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from dataclasses import dataclass, field
from typing import Any, Optional

from .meta.manifests import DataFileEntry
from .meta.snapshots import _atomic_write_json

RUNNING = "RUNNING"
DONE = "DONE"

_TASK_RE = re.compile(r"^task-(.+)\.json$")


@dataclass
class TaskRecord:
    key: str
    status: str
    files_in: list[str] = field(default_factory=list)
    files_out: list[dict] = field(default_factory=list)  # DataFileEntry rows
    bytes_in: int = 0
    bytes_out: int = 0
    records_out: int = 0
    zkey_range: Optional[list] = None

    def out_entries(self) -> list[DataFileEntry]:
        return [DataFileEntry.from_row(r) for r in self.files_out]


class LineageLog:
    def __init__(self, table_root: str, job_id: Optional[str] = None):
        self.table_root = table_root
        self.job_id = job_id or f"job-{uuid.uuid4().hex[:12]}"
        self.dir = os.path.join(table_root, "metadata", "lineage", self.job_id)
        os.makedirs(self.dir, exist_ok=True)

    # --- job level ------------------------------------------------------------

    def start_job(self, op: str, params: dict[str, Any]) -> None:
        path = os.path.join(self.dir, "job.json")
        if os.path.exists(path):  # resume: keep the original record
            return
        _atomic_write_json(
            path, {"job_id": self.job_id, "op": op, "params": params, "status": RUNNING}
        )

    def finish_job(self, summary: dict[str, Any]) -> None:
        path = os.path.join(self.dir, "job.json")
        with open(path) as f:
            rec = json.load(f)
        rec["status"] = DONE
        rec["summary"] = summary
        _atomic_write_json(path, rec)

    def job_record(self) -> Optional[dict]:
        path = os.path.join(self.dir, "job.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    # --- task level -----------------------------------------------------------

    def _task_path(self, key: str) -> str:
        return os.path.join(self.dir, f"task-{key}.json")

    def start_task(self, key: str, files_in: list[str], bytes_in: int) -> None:
        _atomic_write_json(
            self._task_path(key),
            TaskRecord(key, RUNNING, files_in=files_in, bytes_in=bytes_in).__dict__,
        )

    def finish_task(
        self,
        key: str,
        entries: list[DataFileEntry],
        *,
        files_in: list[str],
        bytes_in: int,
        zkey_range: Optional[list] = None,
    ) -> None:
        rec = TaskRecord(
            key,
            DONE,
            files_in=files_in,
            files_out=[e.to_row() for e in entries],
            bytes_in=bytes_in,
            bytes_out=sum(e.file_size_bytes for e in entries),
            records_out=sum(e.record_count for e in entries),
            zkey_range=zkey_range,
        )
        _atomic_write_json(self._task_path(key), rec.__dict__)

    def tasks(self) -> dict[str, TaskRecord]:
        out: dict[str, TaskRecord] = {}
        for name in os.listdir(self.dir):
            m = _TASK_RE.match(name)
            if not m:
                continue
            with open(os.path.join(self.dir, name)) as f:
                d = json.load(f)
            out[d["key"]] = TaskRecord(**d)
        return out

    def done_tasks(self) -> dict[str, TaskRecord]:
        return {k: t for k, t in self.tasks().items() if t.status == DONE}
