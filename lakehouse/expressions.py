"""Predicate model for driver-side scan planning (partition + stats pruning).

The reference gets file skipping for free from Delta + parquet pushdown
(/root/reference/etl/glue_stream.py:301, README.md:68); we implement the
metadata layer ourselves: predicates are evaluated twice —

1. against manifest entries (partition values exactly, per-file min/max
   conservatively) to choose which Parquet files to read at all, and
2. as a residual Spark SQL filter, which Catalyst then pushes down into
   the Parquet scan for row-group-level skipping.

Only conjunctions of simple comparisons participate in pruning; anything
else stays a residual filter (correct, just not pruned at the file level).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from typing import Any, Iterable, Mapping, Optional, Sequence

_OPS = {"=", "!=", "<", "<=", ">", ">=", "in", "is_null", "not_null"}


@dataclass(frozen=True)
class Predicate:
    """One comparison; a filter is a list of these, AND-ed."""

    col: str
    op: str
    value: Any = None

    def __post_init__(self) -> None:
        if self.op not in _OPS:
            raise ValueError(f"unsupported predicate op: {self.op!r}")


FilterLike = Sequence[Predicate]


def normalize_filter(
    filter: Optional[Iterable],  # noqa: A002 - public API name
) -> list[Predicate]:
    """Accept Predicate objects or ``(col, op, value)`` tuples."""
    out: list[Predicate] = []
    for item in filter or []:
        if isinstance(item, Predicate):
            out.append(item)
        else:
            col, op, *rest = item
            out.append(Predicate(col, op, rest[0] if rest else None))
    return out


def _cmp_key(value: Any) -> Any:
    """Coerce a literal to the same ordering domain as stored stats."""
    if isinstance(value, _dt.datetime):
        return value.isoformat(sep=" ")
    if isinstance(value, _dt.date):
        return value.isoformat()
    return value


def matches_stats(pred: Predicate, stats: Optional[Mapping[str, Any]]) -> bool:
    """Conservative test: can any row in a file with ``stats`` satisfy
    ``pred``? Missing stats => True (must read the file).

    ``stats`` is the per-column dict ``{"min":..,"max":..,"nulls":..,"rows":..}``
    from the manifest (see meta/manifests.py).
    """
    if stats is None:
        return True
    lo, hi = stats.get("min"), stats.get("max")
    nulls = stats.get("nulls")
    rows = stats.get("rows")
    v = _cmp_key(pred.value)

    if pred.op == "is_null":
        return nulls is None or nulls > 0
    if pred.op == "not_null":
        return not (nulls is not None and rows is not None and nulls >= rows)
    if lo is None or hi is None:
        return True
    try:
        if pred.op == "=":
            return lo <= v <= hi
        if pred.op == "!=":
            return not (lo == hi == v and not (nulls or 0))
        if pred.op == "<":
            return lo < v
        if pred.op == "<=":
            return lo <= v
        if pred.op == ">":
            return hi > v
        if pred.op == ">=":
            return hi >= v
        if pred.op == "in":
            return any(lo <= _cmp_key(x) <= hi for x in pred.value)
    except TypeError:
        return True  # incomparable literal/stat types: keep the file
    return True


def matches_partition(pred: Predicate, partition: Mapping[str, Any]) -> bool:
    """Exact test against identity-partition values. Columns not in the
    partition dict => True (cannot prune here)."""
    if pred.col not in partition:
        return True
    pv = _cmp_key(partition[pred.col])
    v = _cmp_key(pred.value)
    if pred.op == "is_null":
        return pv is None
    if pred.op == "not_null":
        return pv is not None
    if pv is None:
        return False
    # lazy if-chain, NOT an eagerly-built dict: evaluating the "in" arm
    # for a scalar predicate value raises TypeError, which the
    # conservative fallback would turn into "never prune"
    try:
        if pred.op == "=":
            return pv == v
        if pred.op == "!=":
            return pv != v
        if pred.op == "<":
            return pv < v
        if pred.op == "<=":
            return pv <= v
        if pred.op == ">":
            return pv > v
        if pred.op == ">=":
            return pv >= v
        if pred.op == "in":
            return pv in [_cmp_key(x) for x in (pred.value or [])]
    except TypeError:
        return True
    return True


def _sql_literal(value: Any) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, _dt.datetime):
        return f"TIMESTAMP '{value.isoformat(sep=' ')}'"
    if isinstance(value, _dt.date):
        return f"DATE '{value.isoformat()}'"
    if isinstance(value, str):
        escaped = value.replace("'", "''")
        return f"'{escaped}'"
    return repr(value)


def to_sql(preds: Sequence[Predicate]) -> Optional[str]:
    """Render the conjunction as a Spark SQL expression for the residual
    ``DataFrame.filter`` (Catalyst re-pushes it into the parquet scan)."""
    if not preds:
        return None
    parts = []
    for p in preds:
        c = f"`{p.col}`"
        if p.op == "is_null":
            parts.append(f"{c} IS NULL")
        elif p.op == "not_null":
            parts.append(f"{c} IS NOT NULL")
        elif p.op == "in":
            vals = ", ".join(_sql_literal(v) for v in p.value)
            parts.append(f"{c} IN ({vals})")
        elif p.op == "!=":
            parts.append(f"{c} <> {_sql_literal(p.value)}")
        else:
            parts.append(f"{c} {p.op} {_sql_literal(p.value)}")
    return " AND ".join(parts)


def sql_column(expr):
    """A Spark SQL expression as a Column: text through ``F.expr``; a
    Column (the SQL front-end hands parsed expressions over as Columns)
    as given."""
    from pyspark.sql import Column, functions as F

    return expr if isinstance(expr, Column) else F.expr(expr)


def sql_text(expr) -> str:
    """The text a summary records for a ``sql_column`` input."""
    return expr if isinstance(expr, str) else str(expr._jc.toString())
