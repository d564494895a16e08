"""Identity columns: auto-assigned monotonic surrogate keys
(Delta's GENERATED BY DEFAULT AS IDENTITY; the reference's tables key on
natural ids only — a warehouse bolting BI tools on top asks for this
first, /root/reference/README.md:104's Athena star-schema hand-off).

Semantics (BY DEFAULT, Delta's default-allowing flavor):

- a writer that omits the column (or supplies NULL) gets a generated
  value: unique across the table's history, ascending between commits,
  GAPS ALLOWED — exactly Delta's contract (identity values are unique
  and directional, never dense);
- a writer that supplies a value keeps it, and the high-watermark
  advances past it at commit (Delta needs a manual ALTER ... SYNC
  IDENTITY for this; auto-sync means a LATER commit's generated values
  never collide with it). One caveat, shared with Delta's BY DEFAULT
  flavor: inside a SINGLE commit that mixes NULLs-to-assign with
  supplied values at or above the current watermark, a generated id can
  land on a supplied one — supply ids below the watermark (or write
  explicit-id batches separately) when mixing; ``mode="always"`` makes
  the whole class impossible by rejecting supplied values.

Scale + concurrency design:

- Assignment is ONE map-side projection: ``high + step *
  monotonically_increasing_id()`` — no window, no exchange, no driver
  pass. ``monotonically_increasing_id`` is (partition_id << 33 | row
  offset), unique within the write; gaps consume id space (~2^33 ·
  step per task) out of int64's 2^63 — at 10^5 tasks per append that
  budgets ~10^4 appends per table, documented, and dense packing would
  cost an extra counting pass over the input (rejected: assignment must
  stay free at 10^12 rows).
- The watermark is read from table properties at assignment and the new
  one (max harvested stat of the column + step — the stats choke
  already computes per-file max, zero extra IO) commits IN THE SAME
  snapshot as the data, guarded by an optimistic property CAS
  (``props_guard``): if a concurrent append moved the watermark between
  assignment and publish, the commit raises CommitConflictError instead
  of silently reusing ids — the caller re-runs the append (identity
  allocation serializes concurrent writers, same as Delta's
  commit-conflict resolution).
"""

from __future__ import annotations

import json
from typing import Any, Mapping, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IDENTITY_PREFIX = "identity."


def identity_of(properties: Mapping[str, Any]) -> dict[str, dict]:
    """{column: {"start": int, "step": int, "high": int}} from table
    properties."""
    out = {}
    for k, v in (properties or {}).items():
        if k.startswith(IDENTITY_PREFIX):
            out[k[len(IDENTITY_PREFIX):]] = json.loads(v)
    return out


def identity_prop(
    col: str, start: int, step: int, high: int, mode: str = "default"
) -> dict:
    spec = {"start": int(start), "step": int(step), "high": int(high)}
    if mode != "default":
        spec["mode"] = mode
    return {IDENTITY_PREFIX + col: json.dumps(spec)}


def validate_identity_column(schema: T.StructType, properties, col: str,
                             step: int) -> None:
    names = {f.name: f for f in schema.fields}
    if col not in names:
        raise ValueError(f"identity column {col!r} not in table schema")
    if not isinstance(names[col].dataType, T.LongType):
        # INT is rejected outright: generated values embed
        # monotonically_increasing_id's (partition_id << 33) term, so a
        # 32-bit cast wraps it to 0 and EVERY task would emit the same
        # id sequence — silent duplicate keys in one commit
        raise ValueError(
            f"identity column {col!r} must be LONG; got "
            f"{names[col].dataType.simpleString()}"
        )
    if step == 0:
        raise ValueError("identity step must be non-zero")
    if step < 0:
        raise ValueError(
            "descending identity (step < 0) is not supported: the "
            "watermark advance derives from the harvested column MAX"
        )
    from .constraints import generated_of

    if col in generated_of(properties or {}):
        raise ValueError(
            f"column {col!r} already has a GENERATED ALWAYS AS rule"
        )


def assign_identity(
    df: DataFrame,
    specs: Mapping[str, Mapping[str, int]],
    *,
    allow_supplied: bool = False,
    generate_where=None,
) -> DataFrame:
    """Fill NULLs of each identity column map-side. Supplied values:
    kept verbatim under the default BY DEFAULT semantics; under
    ``mode="always"`` (GENERATED ALWAYS AS IDENTITY) any supplied value
    fails the job pre-commit through the same WHERE+raise_error choke
    as CHECK constraints (Delta raises the same way).
    ``allow_supplied=True`` (the MERGE path) suppresses the always-mode
    rejection: a merge source legitimately CARRIES existing ids so an
    upsert keeps the row's key — only genuinely new (NULL-id) rows get
    assigned; insert-shaped rows carrying explicit always-mode ids are
    rejected separately by ``validate_merge_supplied_ids``.
    ``generate_where`` (a boolean Column) restricts the NULL-fill to
    rows where it holds — the MERGE paths pass "not a DELETE op", so a
    DELETE-shaped source row with a NULL identity merge key keeps its
    NULL and fails the merge's NULL-key validation loudly instead of
    silently becoming a no-op delete of a freshly-minted key."""
    for col, spec in sorted(specs.items()):
        if spec.get("mode") == "always" and not allow_supplied:
            msg = (
                f"identity column {col!r} is GENERATED ALWAYS — "
                "explicit values are rejected (use mode='default' "
                "to allow them)"
            )
            df = df.where(
                F.when(F.col(col).isNull(), F.lit(True)).otherwise(
                    F.raise_error(F.lit(msg))
                )
            )
        filled = F.coalesce(
            F.col(col),
            (
                F.lit(int(spec["high"]))
                + F.lit(int(spec["step"]))
                * F.monotonically_increasing_id()
            ).cast(df.schema[col].dataType),
        )
        if generate_where is not None:
            filled = F.when(generate_where, filled).otherwise(F.col(col))
        df = df.withColumn(col, filled)
    return df


def validate_merge_supplied_ids(
    table, meta, src: DataFrame, specs, key: str, *, branch=None
) -> None:
    """GENERATED ALWAYS enforcement for MERGE sources. Delta rejects
    explicit identity values in INSERT/UPDATE/MERGE wholesale; this
    engine's merge deviates only as far as the upsert shape requires —
    a source row may CARRY an identity value iff its merge key already
    exists in the target (the value is the row's existing id, not a
    user-chosen one). Insert-shaped rows (merge key not in the target,
    including NULL keys) supplying an always-mode id are rejected here
    pre-write, restoring ALWAYS semantics for inserts.

    Cost: nothing when no always-mode column exists or the source
    supplies no ids; otherwise one column-pruned, key-range-pruned
    target key probe + a keys-only left-anti join over the supplied-id
    subset. Runs BEFORE the merge persists the source (it must see
    which ids were supplied, and assignment fills them right after),
    so the source plan evaluates up to two extra times on always-mode
    tables — accepted: the config is rare and correctness-critical;
    callers with expensive sources can localCheckpoint() them first.
    Reads the txn branch head when ``branch`` is staged so
    read-your-writes holds (rows inserted earlier in the txn count as
    existing)."""
    from .errors import MergeError, RefError

    always = [c for c, s in specs.items() if s.get("mode") == "always"]
    if not always:
        return
    supplied_cond = F.lit(False)
    for c in always:
        supplied_cond = supplied_cond | F.col(c).isNotNull()
    if "__op" in src.columns:
        # DELETE-op rows necessarily CARRY the key they target; a
        # delete of an already-retired key is a documented harmless
        # no-op in both merge paths and must not abort the merge as an
        # "insert-shaped explicit id"
        supplied_cond = supplied_cond & (
            F.col("__op").isNull() | (F.col("__op") != "delete")
        )
    supplied = src.filter(supplied_cond)
    bounds = supplied.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(key).alias("mn"),
        F.max(key).alias("mx"),
    ).collect()[0]
    if not int(bounds.n or 0):
        return
    flt = (
        [(key, ">=", bounds.mn), (key, "<=", bounds.mx)]
        if bounds.mn is not None
        else None
    )
    try:
        # the txn branch exists from its first staged commit on
        ref = branch if branch in meta.refs else None
        tgt = table._scan(meta, ref=ref, filter=flt, columns=[key])
        bad = (
            supplied.select(key)
            .join(tgt.select(key), on=key, how="left_anti")
            .limit(1)
            .collect()
        )
    except RefError:
        bad = supplied.select(key).limit(1).collect()  # empty table
    if bad:
        raise MergeError(
            f"identity column(s) {sorted(always)} are GENERATED ALWAYS "
            f"— a merge source row with unmatched key "
            f"{bad[0][key]!r} supplies an explicit id; only upserts of "
            "EXISTING target keys may carry their id (set the column "
            "NULL on insert-shaped rows, or use mode='default')"
        )


def advance_watermarks(
    specs: Mapping[str, Mapping[str, int]], entries
) -> tuple[dict, dict]:
    """(set_props, props_guard) for the commit: new high = max observed
    value + step (from the already-harvested per-file stats — zero extra
    IO), guarded on the watermark not having moved concurrently."""
    set_props: dict[str, str] = {}
    guard: dict[str, Optional[str]] = {}
    for col, spec in specs.items():
        observed = [
            e.stats[col]["max"]
            for e in entries
            if e.stats.get(col) and e.stats[col].get("max") is not None
        ]
        high = int(spec["high"])
        if observed:
            high = max(high, int(max(observed)) + int(spec["step"]))
        mode = spec.get("mode", "default")
        set_props.update(
            identity_prop(col, spec["start"], spec["step"], high, mode)
        )
        guard[IDENTITY_PREFIX + col] = identity_prop(
            col, spec["start"], spec["step"], spec["high"], mode
        )[IDENTITY_PREFIX + col]
    return set_props, guard
