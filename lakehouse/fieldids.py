"""Field-id based column mapping: RENAME and DROP without rewrites.

Iceberg resolves columns by immutable field id, not name — that is what
makes `ALTER TABLE RENAME/DROP COLUMN` a metadata-only operation while
old data files stay live (Iceberg spec §Schema Evolution; Delta ≥1.2
ships the same idea as "column mapping"). This module adds that to the
engine without touching parquet internals:

- every schema field carries a stable ``field-id`` in its StructField
  metadata once the table uses mapped evolution;
- pre-mapping history needs no ids materialized: before the first
  rename/drop only additive/widening evolution existed, so NAMES are
  stable and ids can be reconstructed as name-first-seen over the
  schema history (deterministic, order-preserving);
- the first rename/drop commit stamps every live manifest entry with
  the schema id its file was written under (metadata-only manifest
  rewrite — valid because pre-mapping names never changed), and from
  then on every commit stamps new entries, so the reader always knows
  each file's write schema;
- scans group files by write schema and read each group with the
  PHYSICAL column names resolved through field ids, aliased back to
  the current names; a field id absent from a file's write schema is
  null-filled (covers both late-added columns and drop-then-re-add,
  where the re-added name gets a FRESH id and must NOT resurrect old
  values).

Scale: the mapping work is all metadata — per-schema dictionaries of a
few dozen entries. The data plane cost is at most one extra
``unionByName`` branch per distinct live write-schema (bounded by the
number of schema-changing commits, not by file count).
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

from pyspark.sql import types as T

FIELD_ID_KEY = "lakehouse.field-id"

# manifest-entry sentinel: file written before the table's first mapped
# schema change — names are write-faithful, read it under current names
LEGACY_SCHEMA_ID = -1


def _explicit_ids(schema_json: dict[str, Any]) -> Optional[dict[str, int]]:
    """name→id if EVERY field carries an explicit id, else None."""
    out: dict[str, int] = {}
    for f in schema_json.get("fields", []):
        md = f.get("metadata") or {}
        if FIELD_ID_KEY not in md:
            return None
        out[f["name"]] = int(md[FIELD_ID_KEY])
    return out


def schema_field_ids(
    schemas: Sequence[dict[str, Any]],
) -> list[dict[str, int]]:
    """name→field-id map for every schema in the table's history.

    Legacy (pre-mapping) schemas get name-first-seen ids — exact,
    because before the first explicit-id schema only additive/widening
    evolution existed and names never changed. Explicit-id schemas own
    their ids verbatim. Explicitness is monotone (enforced by the
    commit path), so the reconstruction prefix is always well-defined.
    """
    out: list[dict[str, int]] = []
    seen: dict[str, int] = {}
    next_id = 0
    for sj in schemas:
        explicit = _explicit_ids(sj)
        if explicit is not None:
            out.append(explicit)
            next_id = max(next_id, max(explicit.values(), default=-1) + 1)
            continue
        ids: dict[str, int] = {}
        for f in sj.get("fields", []):
            if f["name"] not in seen:
                seen[f["name"]] = next_id
                next_id += 1
            ids[f["name"]] = seen[f["name"]]
        out.append(ids)
    return out


def next_field_id(schemas: Sequence[dict[str, Any]]) -> int:
    """Smallest id never used by ANY schema in history — dropped ids
    are never recycled (the whole point of drop-then-re-add safety)."""
    used = [-1]
    for ids in schema_field_ids(schemas):
        used.extend(ids.values())
    return max(used) + 1


def embed_field_ids(
    schema_json: dict[str, Any], ids: dict[str, int]
) -> dict[str, Any]:
    """Copy of ``schema_json`` with explicit ids in field metadata."""
    out = {**schema_json, "fields": []}
    for f in schema_json.get("fields", []):
        md = dict(f.get("metadata") or {})
        md[FIELD_ID_KEY] = int(ids[f["name"]])
        out["fields"].append({**f, "metadata": md})
    return out


def has_mapped_schemas(schemas: Sequence[dict[str, Any]]) -> bool:
    return any(_explicit_ids(sj) is not None for sj in schemas)


def resolve_legacy_gid(schemas: Sequence[dict[str, Any]]) -> int:
    """Which schema a LEGACY entry's names belong to: the newest
    pre-mapping schema — exact, because a given field id kept one name
    through the whole pre-mapping (additive-only) history."""
    legacy = [
        i for i, sj in enumerate(schemas) if _explicit_ids(sj) is None
    ]
    return legacy[-1] if legacy else 0


def physical_names(
    schemas: Sequence[dict[str, Any]], view_schema_id: int
) -> Optional[dict[Optional[int], dict[str, Optional[str]]]]:
    """The one answer to "under which PHYSICAL name does view column C
    live in a file written under schema G": ``{G: {C: name | None}}``,
    ``None`` meaning the field does not exist in such files (read it as
    its default — never by name, or a dropped-and-re-added name would
    resurrect old values). Keys cover every schema id plus
    ``LEGACY_SCHEMA_ID`` and ``None`` (an entry not yet stamped: the
    view schema). Returns ``None`` on never-mapped tables, where names
    ARE physical. Used by the Spark read kernel (meta/scan.py), the
    Arrow read kernel (datasource.py), SPJ and stats/bloom pruning."""
    if not has_mapped_schemas(schemas):
        return None
    all_ids = schema_field_ids(schemas)
    view_ids = all_ids[view_schema_id]
    out: dict[Optional[int], dict[str, Optional[str]]] = {}
    for gid, ids in enumerate(all_ids):
        name_by_id = {v: k for k, v in ids.items()}
        out[gid] = {c: name_by_id.get(fid) for c, fid in view_ids.items()}
    out[LEGACY_SCHEMA_ID] = out[resolve_legacy_gid(schemas)]
    out[None] = out[view_schema_id]
    return out


def name_lookup(schemas: Sequence[dict[str, Any]], current_schema_id: int):
    """``fn(entry, current_col) -> physical column name | None``: which
    name the CURRENT column was written under in this entry's file
    (``None`` = the field does not exist there). Identity on
    never-mapped tables."""
    phys = physical_names(schemas, current_schema_id)
    if phys is None:
        return lambda e, col: col
    return lambda e, col: phys[e.schema_id].get(col)


def stats_lookup(schemas: Sequence[dict[str, Any]], current_schema_id: int):
    """``fn(entry, current_col) -> stats dict | None`` translating a
    CURRENT column name to the entry's write-time physical name before
    the stats lookup.

    This is what keeps pruning SOUND (not merely conservative) after
    renames: stats are recorded under physical names, so looking up the
    current name directly could hit a different field's stats when a
    name was dropped-and-readded or swapped between fields. On
    never-mapped tables this is the plain dict get — zero overhead
    change.
    """
    if not has_mapped_schemas(schemas):
        return lambda e, col: e.stats.get(col)
    names = name_lookup(schemas, current_schema_id)

    def get(e, col):
        phys = names(e, col)
        return e.stats.get(phys) if phys is not None else None

    return get
