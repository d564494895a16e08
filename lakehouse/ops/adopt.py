"""Metadata-only adoption of existing Parquet files (Iceberg's
``add_files`` / snapshot-migrate procedures).

At 10^12-row scale, onboarding an existing corpus by REWRITING it is a
full-table copy job; adoption instead hardlinks each source file into
the table's data directory (same-filesystem ``os.link`` = zero data
bytes moved; cross-device falls back to a copy) and commits ONE append
snapshot whose manifest entries come from parquet FOOTERS only — no
data pages are read, decoded, or rewritten. The reference backfills
historic S3 parquet by re-running its Glue job over it (full read +
rewrite); adoption does the same onboarding with zero data movement.

Safety model:

- **Schema check per file footer**: every column in a source file must
  exist in the table schema with an identical or safely-WIDENABLE type
  — the same Iceberg promotion set the scan reader already applies to
  pre-evolution files (schema.py:is_widening), so adopted files read
  correctly with zero rewrites. Table columns absent from a file must
  be nullable (scans fill nulls via the same mechanism schema
  evolution relies on). Extra file columns are rejected unless
  ``allow_extra_columns=True`` (the read path projects the table
  schema, so extras are dead weight, not corruption).
- **Partition values** are recovered per file, best-effort:
  hive-style ``name=value`` directory components in the source layout
  that match a spec field (with or without the engine's ``_p_``
  prefix) win; otherwise, for identity-transform fields, a footer
  min==max with zero nulls pins the value. A file whose value cannot
  be proven gets NO partition value — ``matches_partition`` keeps
  entries missing the key (expressions.py:104), so scans stay correct
  and per-file min/max stats still prune.

Scale shape: the link pass is O(files) driver-side metadata syscalls;
stats harvesting reuses :func:`lakehouse.ops.append.harvest_stats`,
which goes distributed above ``DISTRIBUTE_STATS_THRESHOLD`` files, so
adopting a million-file corpus is one Spark footer-reading job plus
one commit.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Any, Optional, Sequence

from pyspark.sql import types as T

from ..errors import SchemaEvolutionError
from ..partitioning import PART_PREFIX, decode_dir_value
from ..schema import is_widening
from .append import harvest_stats


class AdoptError(ValueError):
    """A source file cannot be adopted under the table's schema."""


def _discover(src: str, recursive: bool) -> list[str]:
    """Absolute paths of every data parquet under ``src`` (skips
    underscore/dot bookkeeping files like _SUCCESS)."""
    if os.path.isfile(src):
        return [src]
    out = []
    if recursive:
        walker = os.walk(src)
    else:
        walker = [(src, [], os.listdir(src))]
    for dirpath, _dirs, names in walker:
        for name in names:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                p = os.path.join(dirpath, name)
                if os.path.isfile(p):
                    out.append(p)
    if not out:
        raise AdoptError(f"no parquet files found under {src!r}")
    return sorted(out)


def _spark_schema_of(pq_schema) -> T.StructType:
    """Arrow → Spark schema for a parquet footer."""
    from pyspark.sql.pandas.types import from_arrow_type

    fields = []
    for f in pq_schema.to_arrow_schema():
        fields.append(T.StructField(f.name, from_arrow_type(f.type), True))
    return T.StructType(fields)


def _check_schema(
    file_schema: T.StructType,
    table_schema: T.StructType,
    path: str,
    allow_extra_columns: bool,
) -> None:
    table_by_name = {f.name: f for f in table_schema.fields}
    for f in file_schema.fields:
        tf = table_by_name.get(f.name)
        if tf is None:
            if allow_extra_columns:
                continue
            raise AdoptError(
                f"{path}: column {f.name!r} not in table schema "
                "(pass allow_extra_columns=True to ignore it)"
            )
        if not is_widening(f.dataType, tf.dataType):
            raise SchemaEvolutionError(
                f"{path}: column {f.name!r} has type "
                f"{f.dataType.simpleString()} which does not read as the "
                f"table's {tf.dataType.simpleString()} (Iceberg-safe "
                "promotions only)"
            )
    file_names = {f.name for f in file_schema.fields}
    for tf in table_schema.fields:
        if tf.name not in file_names and not tf.nullable:
            raise AdoptError(
                f"{path}: non-nullable table column {tf.name!r} is "
                "missing from the file"
            )


def _partition_from_path(
    rel_to_src: str, spec: Sequence[dict[str, Any]]
) -> dict[str, Any]:
    """Hive-style ``name=value`` components → spec partition values
    (accepts both bare names and the engine's ``_p_`` prefix)."""
    by_key: dict[str, dict[str, Any]] = {}
    for f in spec:
        by_key[f["name"]] = f
        by_key[PART_PREFIX + f["name"]] = f
    out: dict[str, Any] = {}
    for comp in rel_to_src.split(os.sep)[:-1]:
        key, sep, raw = comp.partition("=")
        if sep and key in by_key:
            out[by_key[key]["name"]] = decode_dir_value(raw, by_key[key])
    return out


def _link_or_copy(src: str, dst: str) -> bool:
    """Hardlink (zero-copy) with a cross-device copy fallback; returns
    True when the file was linked."""
    try:
        os.link(src, dst)
        return True
    except OSError:
        shutil.copy2(src, dst)
        return False


def add_files(
    table,
    meta,
    src,
    *,
    recursive: bool = True,
    allow_extra_columns: bool = False,
    branch: Optional[str] = None,
):
    """Adopt existing parquet files into ``table`` with ONE metadata
    commit and zero data rewrites. ``src`` is a directory (walked for
    ``*.parquet``), a single file path, or an explicit list of paths.

    Returns the committed snapshot; its summary records
    ``adopted-files`` and ``zero-copy-links`` so callers can audit that
    no data moved (a linked file shares its inode with the source).
    """
    import pyarrow.parquet as pq

    if isinstance(src, (list, tuple)):
        paths = [os.path.abspath(p) for p in src]
        src_base = os.path.commonpath(paths) if len(paths) > 1 else (
            os.path.dirname(paths[0])
        )
    else:
        src_base = os.path.abspath(src)
        paths = _discover(src_base, recursive)
        if os.path.isfile(src_base):
            src_base = os.path.dirname(src_base)

    root = os.path.abspath(table.root)
    for p in paths:
        if os.path.commonpath([root, p]) == root:
            raise AdoptError(
                f"{p}: already inside the table directory — adoption is "
                "for EXTERNAL files"
            )

    table_schema = T.StructType.fromJson(meta.schema_json)
    spec = meta.partition_spec

    job_rel = f"data/adopted-{uuid.uuid4().hex}"
    os.makedirs(os.path.join(root, job_rel), exist_ok=True)
    files: list[tuple[str, dict[str, Any]]] = []
    fill_by_rel: dict[str, dict[str, Any]] = {}
    linked = 0
    seen: dict[str, int] = {}
    src_by_name = {f["source"]: f for f in spec}
    for p in paths:
        file_schema = _spark_schema_of(pq.ParquetFile(p).schema)
        _check_schema(file_schema, table_schema, p, allow_extra_columns)
        rel_src = os.path.relpath(p, src_base)
        part = _partition_from_path(rel_src, spec)
        # hive layouts (Spark's partitionBy) DROP the partition column
        # from data pages — adopt such files zero-copy anyway by
        # recording the path-proven constant as a manifest FILL
        # (entry_fills, meta/scan.py): every reader injects it via one
        # file-count-bounded broadcast join, and the first rewrite
        # writes self-contained output. A spec source column that is
        # missing AND unproven would silently scan as null — reject.
        file_cols = {f.name for f in file_schema.fields}
        fills: dict[str, Any] = {}
        for src_col, fld in src_by_name.items():
            if src_col in file_cols:
                continue
            transform = fld.get("transform", "identity")
            if transform == "identity" and fld["name"] in part:
                fills[src_col] = part[fld["name"]]
            else:
                raise AdoptError(
                    f"{p}: partition source column {src_col!r} is "
                    "missing from the file and its value is not "
                    "recoverable from the path (identity transforms "
                    "with hive-style dirs only) — rewrite the file or "
                    "add the column before adopting"
                )
        base = os.path.basename(p)
        n = seen.get(base, 0)
        seen[base] = n + 1
        if n:
            base = f"{n}-{base}"
        rel = os.path.join(job_rel, base)
        linked += _link_or_copy(p, os.path.join(root, rel))
        files.append((rel, part))
        if fills:
            fill_by_rel[rel] = fills

    entries = harvest_stats(
        table.spark, root, files, properties=meta.properties
    )
    for e in entries:
        for col, v in fill_by_rel.get(e.file_path, {}).items():
            e.stats[col] = {
                "rows": e.record_count,
                "min": v,
                "max": v,
                "nulls": 0,
                "fill": True,
            }

    # identity-transform fields not pinned by the path: a footer
    # min==max with zero nulls proves the file's partition value
    # (encodings already match the write path's — ISO strings for
    # dates, manifests._encode_stat)
    ident = [
        f for f in spec if f.get("transform", "identity") == "identity"
    ]
    for e in entries:
        for f in ident:
            if f["name"] in e.partition:
                continue
            st = e.stats.get(f["source"], {})
            if (
                "min" in st
                and st["min"] == st.get("max")
                and not st.get("nulls", 0)
            ):
                e.partition[f["name"]] = st["min"]

    return table._commit_files(
        "add-files",
        entries,
        (),
        summary={
            "adopted-from": src_base,
            "adopted-files": len(files),
            "zero-copy-links": linked,
        },
        branch=branch,
        base=meta,
    )
