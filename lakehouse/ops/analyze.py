"""ANALYZE TABLE: per-column NDV (distinct count) sketches.

Iceberg publishes per-column NDV in Puffin stats files (theta
sketches); engines feed it to cost-based join planning. This is the
engine's counterpart, built on the K-Minimum-Values sketch
(Bar-Yossef et al. 2002) — simpler than theta/HLL, fully mergeable,
and exactly reproducible from the data given the hash:

- one column-pruned pass per analyzed column computes the k smallest
  ``xxhash64`` values; the Spark plan is scan → project(hash) →
  TakeOrderedAndProject — a distributed top-k, never a full sort, and
  payload columns are never read;
- fewer than k survivors ⇒ the column's distinct hash count IS the
  (hash-exact) NDV; otherwise the KMV estimator
  ``(k-1) / normalize(kth smallest)`` with expected relative error
  ``~1/sqrt(k-2)`` (k=1024 → ~3%);
- the k-value lists are persisted per snapshot under
  ``metadata/stats/``: two analyses MERGE by unioning lists and
  re-taking the k smallest, so incremental maintenance at 10^12 rows
  is append-only (re-analyze only new files, merge sketches).

``approx_ndv`` answers from the newest stats file at-or-before the
current snapshot — zero data read — and falls back to a fresh analyze.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any, Optional, Sequence

from pyspark.sql import functions as F

from ..meta.snapshots import _atomic_write_json

KMV_K = 1024
_STATS_DIR = "metadata/stats"


@dataclass
class ColumnNdv:
    column: str
    ndv: float          # estimate (exact when exact=True)
    exact: bool         # True when the sketch saw < k distinct hashes
    k: int
    sketch: list[int]   # the k (or fewer) smallest xxhash64 values


def _estimate(hashes: list[int], k: int) -> tuple[float, bool]:
    """KMV estimate from the sorted k-min hash list."""
    uniq = sorted(set(hashes))
    if len(uniq) < k:
        return float(len(uniq)), True
    # normalize signed 64-bit hash to (0, 1]
    kth = (uniq[k - 1] + 2**63 + 1) / 2.0**64
    return (k - 1) / kth, False


def analyze(
    table,
    columns: Sequence[str],
    *,
    k: int = KMV_K,
    snapshot_id: Optional[int] = None,
) -> dict[str, ColumnNdv]:
    """Compute + persist NDV sketches for ``columns`` at a snapshot.

    One Spark job per column: TakeOrderedAndProject over the hashed,
    column-pruned scan — O(k) driver memory per column regardless of
    table size. NULLs are excluded (COUNT DISTINCT semantics)."""
    names = {f.name for f in table.schema.fields}
    missing = [c for c in columns if c not in names]
    if missing:
        raise ValueError(f"unknown column(s): {missing}")
    sid = (
        snapshot_id
        if snapshot_id is not None
        else table.current_snapshot_id()
    )
    out: dict[str, ColumnNdv] = {}
    for c in columns:
        rows = (
            table.scan(snapshot_id=snapshot_id, columns=[c])
            .filter(F.col(c).isNotNull())
            .select(F.xxhash64(F.col(c)).alias("__h"))
            # KMV is defined over DISTINCT hash values: without this a
            # heavy hitter's repeated hash floods the k-minimum set and
            # the estimate collapses to ~#heavy-hitters. distinct() is
            # a partial-aggregated shuffle of ONE long column, then the
            # top-k is still TakeOrderedAndProject (gated).
            .distinct()
            .orderBy("__h")
            .limit(int(k))
            .collect()
        )
        hashes = [r["__h"] for r in rows]
        est, exact = _estimate(hashes, int(k))
        out[c] = ColumnNdv(c, est, exact, int(k), sorted(set(hashes)))
    _write_stats(table.root, sid, out)
    return out


def merge_sketches(a: ColumnNdv, b: ColumnNdv) -> ColumnNdv:
    """Union two KMV sketches of the same column (k of the smaller)."""
    if a.column != b.column:
        raise ValueError("cannot merge sketches of different columns")
    k = min(a.k, b.k)
    merged = sorted(set(a.sketch) | set(b.sketch))[:k]
    est, exact = _estimate(merged, k)
    return ColumnNdv(a.column, est, exact, k, merged)


def _stats_path(root: str, sid: Optional[int]) -> str:
    return os.path.join(root, _STATS_DIR, f"ndv-{sid or 0}.json")


def _write_stats(
    root: str, sid: Optional[int], stats: dict[str, ColumnNdv]
) -> None:
    os.makedirs(os.path.join(root, _STATS_DIR), exist_ok=True)
    path = _stats_path(root, sid)
    merged: dict[str, Any] = {}
    if os.path.exists(path):  # keep other columns analyzed earlier
        with open(path) as f:
            merged = json.load(f)
    for c, nd in stats.items():
        merged[c] = {
            "ndv": nd.ndv,
            "exact": nd.exact,
            "k": nd.k,
            "sketch": nd.sketch,
        }
    _atomic_write_json(path, merged)


def read_stats(
    root: str, *, at_or_before: Optional[int] = None
) -> tuple[Optional[int], dict[str, ColumnNdv]]:
    """Newest persisted sketch file at-or-before a snapshot id."""
    d = os.path.join(root, _STATS_DIR)
    if not os.path.isdir(d):
        return None, {}
    sids = sorted(
        int(n[4:-5])
        for n in os.listdir(d)
        if n.startswith("ndv-") and n.endswith(".json")
    )
    if at_or_before is not None:
        sids = [s for s in sids if s <= at_or_before]
    if not sids:
        return None, {}
    sid = sids[-1]
    with open(_stats_path(root, sid)) as f:
        raw = json.load(f)
    return sid, {
        c: ColumnNdv(c, v["ndv"], v["exact"], v["k"], v["sketch"])
        for c, v in raw.items()
    }


def approx_ndv(table, column: str, *, max_staleness: int = 0) -> float:
    """NDV for a column: persisted sketch when fresh enough (zero data
    read), else a fresh single-column analyze. ``max_staleness`` = how
    many snapshots old the stats file may be (0 = current only)."""
    cur = table.current_snapshot_id()
    sid, stats = read_stats(table.root, at_or_before=cur)
    if (
        sid is not None
        and column in stats
        and cur is not None
        and _snapshots_between(table, sid, cur) <= max_staleness
    ):
        return stats[column].ndv
    return analyze(table, [column])[column].ndv


def _snapshots_between(table, a: int, b: int) -> int:
    ids = [s.snapshot_id for s in table.snapshots()]
    return len([i for i in ids if a < i <= b])


# --- equi-depth histograms + selectivity (the CBO half NDV lacks) -----------


@dataclass
class ColumnHistogram:
    """Equi-depth histogram: ``bounds[b]`` is the upper bound of bucket
    b (the value at rank ceil((b+1)·N/B)); bucket b spans
    (bounds[b-1], bounds[b]] with ~N/B rows; ``min_v`` opens bucket 0.
    ``method``: "exact" (quantiles.exact_quantiles — rank-exact) or
    "approx" (percentile_approx — one mergeable-sketch pass)."""

    column: str
    n_rows: int
    n_nulls: int
    min_v: Any
    bounds: list
    method: str

    @property
    def buckets(self) -> int:
        return len(self.bounds)


def analyze_histograms(
    table,
    columns: Sequence[str],
    *,
    buckets: int = 64,
    exact: bool = False,
    snapshot_id: Optional[int] = None,
) -> dict[str, ColumnHistogram]:
    """Compute + persist equi-depth histograms for numeric ``columns``.

    Default path: ONE aggregate pass per column — count/nulls/min plus
    ``percentile_approx`` bucket bounds (GK sketch: map-side partials,
    O(buckets) driver rows at any table size). ``exact=True`` routes
    through quantiles.exact_quantiles (rank-exact, ~3 narrow jobs).
    Persisted per snapshot next to the NDV sketches; selectivity
    estimation (``estimate_selectivity``) reads the newest file with
    zero data I/O.
    """
    names = {f.name for f in table.schema.fields}
    missing = [c for c in columns if c not in names]
    if missing:
        raise ValueError(f"unknown column(s): {missing}")
    sid = (
        snapshot_id
        if snapshot_id is not None
        else table.current_snapshot_id()
    )
    out: dict[str, ColumnHistogram] = {}
    for c in columns:
        df = table.scan(snapshot_id=snapshot_id, columns=[c])
        if exact:
            from ..quantiles import equi_depth_bounds

            nn = df.filter(F.col(c).isNull()).count()
            n, mn, bounds = equi_depth_bounds(df, c, buckets)
            out[c] = ColumnHistogram(c, n, nn, mn, bounds, "exact")
        else:
            probs = [b / buckets for b in range(1, buckets + 1)]
            row = df.agg(
                F.count(c).alias("n"),
                F.count(F.lit(1)).alias("rows"),
                F.min(c).alias("mn"),
                F.percentile_approx(c, probs, 10_000).alias("bs"),
            ).collect()[0]
            out[c] = ColumnHistogram(
                c,
                int(row["n"]),
                int(row["rows"]) - int(row["n"]),
                row["mn"],
                list(row["bs"] or []),
                "approx",
            )
    _write_histograms(table.root, sid, out)
    return out


def _hist_path(root: str, sid: Optional[int]) -> str:
    return os.path.join(root, _STATS_DIR, f"hist-{sid or 0}.json")


def _write_histograms(
    root: str, sid: Optional[int], hists: dict[str, ColumnHistogram]
) -> None:
    os.makedirs(os.path.join(root, _STATS_DIR), exist_ok=True)
    path = _hist_path(root, sid)
    merged: dict[str, Any] = {}
    if os.path.exists(path):
        with open(path) as f:
            merged = json.load(f)
    for c, h in hists.items():
        merged[c] = {
            "n_rows": h.n_rows,
            "n_nulls": h.n_nulls,
            "min": h.min_v,
            "bounds": h.bounds,
            "method": h.method,
        }
    _atomic_write_json(path, merged)


def read_histograms(
    root: str, *, at_or_before: Optional[int] = None
) -> tuple[Optional[int], dict[str, ColumnHistogram]]:
    d = os.path.join(root, _STATS_DIR)
    if not os.path.isdir(d):
        return None, {}
    sids = sorted(
        int(n[5:-5])
        for n in os.listdir(d)
        if n.startswith("hist-") and n.endswith(".json")
    )
    if at_or_before is not None:
        sids = [s for s in sids if s <= at_or_before]
    if not sids:
        return None, {}
    sid = sids[-1]
    with open(_hist_path(root, sid)) as f:
        raw = json.load(f)
    return sid, {
        c: ColumnHistogram(
            c, v["n_rows"], v["n_nulls"], v["min"], v["bounds"], v["method"]
        )
        for c, v in raw.items()
    }


@dataclass
class Selectivity:
    fraction: float      # of non-null rows
    est_rows: float
    n_rows: int
    method: str          # histogram method + "=ndv" when NDV was used


def estimate_selectivity(table, column: str, op: str, value) -> Selectivity:
    """Predicate selectivity from persisted stats alone (zero data
    read) — the cost-model hook: equi-depth buckets each hold ~N/B
    rows; range predicates count full buckets and interpolate the
    boundary bucket uniformly; ``=`` answers 1/NDV when an NDV sketch
    is persisted, else one bucket's within-bucket guess. Raises when
    no histogram has been analyzed for the column."""
    cur = table.current_snapshot_id()
    _, hists = read_histograms(table.root, at_or_before=cur)
    h = hists.get(column)
    if h is None:
        raise ValueError(
            f"no histogram for {column!r}: run analyze_histograms first"
        )
    if not h.n_rows or not h.bounds:
        return Selectivity(0.0, 0.0, 0, h.method)
    B = h.buckets
    v = float(value)
    lo0 = float(h.min_v)
    bounds = [float(x) for x in h.bounds]

    def frac_le(x: float) -> float:
        if x < lo0:
            return 0.0
        if x >= bounds[-1]:
            return 1.0
        f = 0.0
        prev = lo0
        for ub in bounds:
            if x >= ub:
                f += 1.0 / B
            else:
                span = ub - prev
                if span > 0:
                    f += max(0.0, (x - prev) / span) / B
                elif x >= ub:
                    f += 1.0 / B
                break
            prev = ub
        return min(f, 1.0)

    method = h.method
    if op in ("<", "<="):
        frac = frac_le(v)
    elif op in (">", ">="):
        frac = 1.0 - frac_le(v)
    elif op == "=":
        sid, stats = read_stats(table.root, at_or_before=cur)
        if stats.get(column) is not None:
            frac = 1.0 / max(stats[column].ndv, 1.0)
            method += "+ndv"
        else:
            frac = 1.0 / B / 2.0  # within one covering bucket, no NDV
        if v < lo0 or v > bounds[-1]:
            frac = 0.0
    else:
        raise ValueError(f"unsupported op {op!r}")
    frac = min(max(frac, 0.0), 1.0)
    return Selectivity(frac, frac * h.n_rows, h.n_rows, method)
