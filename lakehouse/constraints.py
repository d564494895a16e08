"""Write-time CHECK constraints (Delta invariants / `ADD CONSTRAINT`).

The reference consumes this capability from its Delta jar (constraints
shipped in Delta 1.2, the version pinned at
/root/reference/etl/glue_stream.py:341); here it is built from scratch
on the engine's property + commit machinery:

- a constraint is a table property ``constraint.<name> = <sql expr>``,
  committed through the same CAS loop as data commits;
- every Spark-side writer of new rows funnels through
  :func:`lakehouse.ops.append.write_data_files`, which wraps the frame
  with :func:`enforce` — a map-side filter whose FALSE branch is
  ``raise_error`` — so a violating row fails the Spark job BEFORE any
  snapshot is committed (ACID: nothing to roll back); the ``lakehouse``
  format writers cannot evaluate SQL and refuse such tables instead;
- SQL semantics: NULL / unknown passes (only rows where the expression
  evaluates to FALSE violate), matching the SQL-standard CHECK rule.

Scale shape: enforcement is a codegen'd per-row predicate fused into
the existing write projection — zero extra passes, zero shuffles, no
Python.
"""

from __future__ import annotations

import re
from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CONSTRAINT_PREFIX = "constraint."

_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def constraints_of(properties: Mapping[str, object]) -> dict[str, str]:
    """Extract ``{name: sql_expr}`` from table properties."""
    return {
        k[len(CONSTRAINT_PREFIX):]: str(v)
        for k, v in properties.items()
        if k.startswith(CONSTRAINT_PREFIX)
    }


def validate_name(name: str) -> str:
    if not _NAME_RE.match(name):
        raise ValueError(
            f"constraint name {name!r} must be an identifier "
            "([A-Za-z_][A-Za-z0-9_]*)"
        )
    return name


def enforce(df: DataFrame, constraints: Mapping[str, str]) -> DataFrame:
    """Wrap ``df`` so any row violating a constraint fails the job.

    The check is a WHERE clause (filters are never pruned away, unlike
    unused projections), with the SQL three-valued rule: NULL passes.
    """
    for name, expr in sorted(constraints.items()):
        msg = f"CHECK constraint {name!r} violated: {expr}"
        df = df.where(
            F.when(F.coalesce(F.expr(expr), F.lit(True)), F.lit(True))
            .otherwise(F.raise_error(F.lit(msg)))
        )
    return df


def referenced_names(expr: str) -> set[str]:
    """Conservative identifier harvest from a constraint expression —
    used to refuse renaming/dropping a column a constraint mentions
    (the stored SQL string would silently break otherwise)."""
    return {
        m.group(0).lower()
        for m in re.finditer(r"[A-Za-z_][A-Za-z0-9_]*", expr)
    }


def guard_column_change(
    properties: Mapping[str, object], column: str, action: str
) -> None:
    """Raise if any CHECK constraint references ``column``."""
    for name, expr in constraints_of(properties).items():
        if column.lower() in referenced_names(expr):
            raise ValueError(
                f"cannot {action} column {column!r}: referenced by CHECK "
                f"constraint {name!r} ({expr}); drop the constraint first"
            )


# --- generated columns (Delta GENERATED ALWAYS AS analog) ---------------------

GENERATED_PREFIX = "generated."


def generated_of(properties: Mapping[str, object]) -> dict[str, str]:
    """Extract ``{column: sql_expr}`` generation rules from properties."""
    return {
        k[len(GENERATED_PREFIX):]: str(v)
        for k, v in properties.items()
        if k.startswith(GENERATED_PREFIX)
    }


def apply_generated(df: DataFrame, generated: Mapping[str, str]) -> DataFrame:
    """Compute-or-validate generated columns at the write choke point
    (Delta's GENERATED ALWAYS AS semantics, engine-side): a writer that
    omits the column (or supplies NULL — ``conform`` null-fills absent
    columns before this runs, so the two are indistinguishable here)
    gets it COMPUTED from the expression; a writer that supplies a
    value must supply THE value — any mismatch fails the job before a
    snapshot commit, through the same fused ``raise_error`` predicate
    as CHECK constraints."""
    checks = {}
    for col, expr in sorted(generated.items()):
        df = df.withColumn(
            col, F.coalesce(F.col(col), F.expr(expr))
        )
        checks[f"__generated_{col}"] = f"`{col}` <=> ({expr})"
    return enforce(df, checks)


def guard_generated_change(
    properties: Mapping[str, object], column: str, action: str
) -> None:
    """Raise if ``column`` is generated or a generation rule reads it."""
    for col, expr in generated_of(properties).items():
        if column.lower() == col.lower() or column.lower() in (
            referenced_names(expr)
        ):
            raise ValueError(
                f"cannot {action} column {column!r}: generated column "
                f"{col!r} ({expr}) depends on it; drop the generation "
                f"rule first"
            )
