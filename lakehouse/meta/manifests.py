"""Manifest files: the per-data-file metadata layer.

The reference consumes this capability from the Delta transaction log
(/root/reference/etl/glue_stream.py:341; README.md:68 "partition
optimization"); here it is built from scratch, Iceberg-style:

- a **manifest** is a Parquet file whose rows are data-file entries:
  ``(file_path, partition_json, record_count, file_size_bytes, stats_json,
  sort_order)`` — Parquet so that planning and GC can load manifests as
  Spark DataFrames when there are millions of entries (10^12-row scale),
  while small tables stay on the fast pyarrow driver-side path.
- a **manifest list** is the snapshot-level JSON index of manifests with
  roll-up summaries for coarse pruning before any manifest is opened.

Per-file column stats (min/max/null-count) are harvested from Parquet
footers — no data read — and power file skipping in meta/scan.py.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable, Mapping, Optional, Sequence

import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST_ARROW_SCHEMA = pa.schema(
    [
        ("file_path", pa.string()),        # relative to table root
        ("partition_json", pa.string()),   # {"event_date": "2024-01-01", ...}
        ("record_count", pa.int64()),
        ("file_size_bytes", pa.int64()),
        ("stats_json", pa.string()),       # {col: {min,max,nulls,rows}}
        ("sort_order", pa.string()),       # "" | "zorder(a,b)" | "hilbert(a,b)"
        ("content", pa.string()),          # "data" | "deletes" (equality)
        ("seq", pa.int64()),               # commit sequence (snapshot id)
        ("spec_id", pa.int64()),           # partition spec the file was written under
        ("schema_id", pa.int64()),         # write schema (field-id mapping); -1 = legacy
    ]
)

# Stats for string columns are truncated to keep manifests small; a
# truncated upper bound is widened by appending a high codepoint so range
# pruning stays conservative.
_STR_STAT_MAX = 64
_HIGH_CHAR = "￿"


def _encode_stat(value: Any, *, upper: bool = False) -> Any:
    """JSON-encode a min/max so it compares like the original value.

    Orderable encodings: numbers as-is, dates/timestamps as ISO strings
    (lexicographic == chronological), strings truncated conservatively.
    """
    if value is None:
        return None
    if isinstance(value, _dt.datetime):
        return value.isoformat(sep=" ")
    if isinstance(value, _dt.date):
        return value.isoformat()
    if isinstance(value, bytes):
        return None  # no stats for binary payload columns (audio bytes)
    if isinstance(value, _decimal.Decimal):
        # a float encoding could ROUND INWARD and wrongly prune (or be
        # read back as an exact extremum by ops/agg); decimals are rare
        # prune keys — skip their stats entirely, conservatively
        return None
    if isinstance(value, str) and len(value) > _STR_STAT_MAX:
        cut = value[:_STR_STAT_MAX]
        return cut + _HIGH_CHAR if upper else cut
    if isinstance(value, float) and value != value:  # NaN
        return None
    return value


@dataclass
class DataFileEntry:
    file_path: str
    partition: dict[str, Any] = field(default_factory=dict)
    record_count: int = 0
    file_size_bytes: int = 0
    stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    sort_order: str = ""
    # merge-on-read support (round 2): "deletes" entries are equality
    # delete files (one key column, named in sort_order="eqdelete(col)");
    # seq is the committing snapshot id — an equality delete applies to
    # data files with strictly smaller seq (Iceberg's sequence rule)
    content: str = "data"
    seq: int = 0
    # partition-spec evolution: which spec this file's partition values
    # were computed under (pre-evolution manifests default to 0, which
    # is exact — only spec 0 existed before the feature). Name sets
    # alone can't distinguish specs that differ only in transform
    # parameters (bucket n=4 vs n=8), so overwrite's mixed-spec guard
    # keys on this id. None = "stamp the table's current spec at
    # commit" (the write path derived partition values under it); ops
    # that CARRY old partition values forward (compaction concatenates,
    # it never re-derives) must set it to the input files' spec_id,
    # otherwise old-spec rows would masquerade as current-spec and
    # disarm the guard.
    spec_id: Optional[int] = None
    # field-id column mapping (lakehouse/fieldids.py): which schema the
    # file's PHYSICAL column names belong to. LEGACY (-1) = written
    # before the table's first rename/drop — names are current-faithful.
    # None = "stamp the resolved schema id at commit", same discipline
    # as spec_id (and the same lineage round-trip caveat).
    schema_id: Optional[int] = None

    def to_row(self) -> dict[str, Any]:
        return {
            "file_path": self.file_path,
            "partition_json": json.dumps(self.partition, sort_keys=True),
            "record_count": self.record_count,
            "file_size_bytes": self.file_size_bytes,
            "stats_json": json.dumps(self.stats, sort_keys=True),
            "sort_order": self.sort_order,
            "content": self.content,
            "seq": self.seq,
            "spec_id": self.spec_id,
            "schema_id": self.schema_id,
        }

    @staticmethod
    def from_row(row: Mapping[str, Any]) -> "DataFileEntry":
        return DataFileEntry(
            file_path=row["file_path"],
            partition=json.loads(row["partition_json"] or "{}"),
            record_count=row["record_count"],
            file_size_bytes=row["file_size_bytes"],
            stats=json.loads(row["stats_json"] or "{}"),
            sort_order=row.get("sort_order") or "",
            # pre-round-2 manifests lack these columns → data/0 defaults.
            # spec_id: an ABSENT key means a pre-evolution manifest
            # (spec 0 was the only spec), but a PRESENT None must stay
            # None — lineage records round-trip entries through to_row/
            # from_row before the commit stamps them, and collapsing the
            # sentinel to 0 would mis-stamp resumed rewrites (review r2)
            content=row.get("content") or "data",
            seq=row.get("seq") or 0,
            spec_id=row["spec_id"] if "spec_id" in row else 0,
            # absent key = pre-mapping manifest → LEGACY (-1: names are
            # current-faithful); a present None survives the lineage
            # round trip so the commit stamps it (spec_id discipline)
            schema_id=row["schema_id"] if "schema_id" in row else -1,
        )

    @property
    def is_delete(self) -> bool:
        return self.content == "deletes"

    @property
    def delete_key(self) -> Optional[str]:
        """Key column of an equality delete file (from sort_order)."""
        if self.is_delete and self.sort_order.startswith("eqdelete("):
            return self.sort_order[len("eqdelete("):-1]
        return None

    @property
    def is_pos_delete(self) -> bool:
        """Positional delete file: rows of (file_path, row_pos) naming
        exact rows of exact data files (Iceberg v2 position deletes).
        Rides under content="deletes" so every never-prune /
        delete_count invariant applies unchanged; the sort_order tag is
        what distinguishes the two delete kinds."""
        return self.is_delete and self.sort_order == POS_DELETE_ORDER


# sort_order tag for positional delete files (content stays "deletes")
POS_DELETE_ORDER = "posdelete"


def pack_by_size(
    entries: Iterable[DataFileEntry], target_bytes: int
) -> list[list[DataFileEntry]]:
    """First-fit-decreasing bin packing by ``file_size_bytes``: each bin
    holds at most ``target_bytes`` (a larger file gets a bin of its own).
    Used for compaction's rewrite groups and the datasource's read
    tasks."""
    bins: list[tuple[int, list[DataFileEntry]]] = []
    for e in sorted(entries, key=lambda e: -e.file_size_bytes):
        for i, (size, members) in enumerate(bins):
            if size + e.file_size_bytes <= target_bytes:
                bins[i] = (size + e.file_size_bytes, members + [e])
                break
        else:
            bins.append((e.file_size_bytes, [e]))
    return [members for _size, members in bins]


def collect_file_stats(
    abs_path: str,
    rel_path: str,
    partition: Mapping[str, Any],
    *,
    sum_columns: Optional[Sequence[str]] = None,
    sort_order: str = "",
) -> DataFileEntry:
    """Build a manifest entry from a Parquet footer (no data pages read).

    Aggregates row-group min/max/null-count per column. Binary columns
    (audio ``bytes``) are skipped — their stats would bloat the manifest
    with no pruning value.

    ``sum_columns`` (opt-in via the ``agg_stats_columns`` table
    property): for those numeric columns the harvester additionally
    reads the column's data pages (column-pruned — footers alone cannot
    yield sums) and records the exact per-file SUM plus an
    authoritative null count, enabling metadata-only SUM/AVG/COUNT(col)
    pushdown (ops/agg.sum_agg). Integer sums: int64 within one file
    (same bound Spark's SUM(BIGINT) carries), arbitrary-precision
    across files (manifest JSON + Python accumulation); float sums
    carry the usual association caveat.
    """
    md = pq.ParquetFile(abs_path).metadata
    ncols = md.num_columns
    names = [md.schema.column(i).name for i in range(ncols)]

    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    has_stats: dict[str, bool] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(ncols):
            name = names[ci]
            col = row_group.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                has_stats[name] = False
                continue
            has_stats.setdefault(name, True)
            try:
                lo = _encode_stat(st.min)
                hi = _encode_stat(st.max, upper=True)
            except NotImplementedError:
                # pyarrow cannot cast footer statistics for some
                # physical types (e.g. decimal on this build) — treat
                # as stats-less, never-pruned (conservative)
                has_stats[name] = False
                continue
            if lo is None or hi is None:
                has_stats[name] = False
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count

    sums: dict[str, Any] = {}
    sum_nulls: dict[str, int] = {}
    sum_want = [c for c in (sum_columns or ()) if c in names]
    if sum_want:
        import pyarrow.compute as pc

        tbl = pq.read_table(abs_path, columns=sum_want)
        for name in sum_want:
            col = tbl.column(name)
            if not (
                pa.types.is_integer(col.type)
                or pa.types.is_floating(col.type)
            ):
                continue  # non-numeric: no sum semantics, skip quietly
            s = pc.sum(col).as_py()
            # SUM ignores NULLs; an all-null file contributes 0 with a
            # non-null count of 0 (disambiguated by the null count)
            sums[name] = 0 if s is None else s
            sum_nulls[name] = len(col) - pc.count(col).as_py()

    stats: dict[str, dict[str, Any]] = {}
    for name in names:
        entry: dict[str, Any] = {"rows": md.num_rows}
        if has_stats.get(name) and name in mins:
            entry["min"] = mins[name]
            entry["max"] = maxs[name]
        if name in nulls:
            entry["nulls"] = nulls[name]
        if name in sums:
            entry["sum"] = sums[name]
            # data-derived null count is authoritative (footers may omit)
            entry["nulls"] = sum_nulls[name]
        stats[name] = entry

    return DataFileEntry(
        file_path=rel_path,
        partition=dict(partition),
        record_count=md.num_rows,
        file_size_bytes=os.path.getsize(abs_path),
        stats=stats,
        sort_order=sort_order,
    )


def write_manifest(
    table_root: str, entries: Iterable[DataFileEntry]
) -> tuple[str, dict[str, Any]]:
    """Write one manifest Parquet under ``metadata/manifests/`` and return
    ``(relative_path, summary)`` for the manifest list."""
    rows = [e.to_row() for e in entries]
    rel = f"metadata/manifests/manifest-{uuid.uuid4().hex}.parquet"
    abs_path = os.path.join(table_root, rel)
    os.makedirs(os.path.dirname(abs_path), exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=MANIFEST_ARROW_SCHEMA)
    pq.write_table(table, abs_path, compression="snappy")
    partitions = sorted({r["partition_json"] for r in rows})
    summary = {
        "entry_count": len(rows),
        "record_count": sum(r["record_count"] for r in rows),
        "total_bytes": sum(r["file_size_bytes"] for r in rows),
        "partitions": partitions[:1000],  # cap: coarse pruning only
        # manifests holding equality deletes must never be summary-pruned
        "delete_count": sum(1 for r in rows if r["content"] == "deletes"),
    }
    return rel, summary


def read_manifest(table_root: str, rel_path: str) -> list[DataFileEntry]:
    table = pq.read_table(os.path.join(table_root, rel_path))
    return [DataFileEntry.from_row(r) for r in table.to_pylist()]
