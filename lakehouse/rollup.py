"""Incrementally-maintained aggregate tables (materialized-view
maintenance, re-expressed Spark-first).

The reference's only aggregate surface is full re-scan SQL through
Athena (/root/reference/README.md:104-114) — its hourly rollup query
recomputes from the whole bronze table every time. At 10^12 rows the
standard lever is *incremental* maintenance: keep the rollup as its own
lakehouse table and fold in only the CDC delta between the last-synced
and current base snapshots (``ops/changes.row_changes`` reads just the
symmetric difference of the file sets).

Maintenance algebra per refresh:

- ``count`` / ``sum`` are signed-delta algebraic: insert = +1/+x,
  delete = −1/−x; the new value is ``old + Σ sign·x`` per group, one
  narrow aggregation of the delta and one MERGE into the rollup keyed
  by the group key. Groups whose count reaches 0 are deleted.
- ``min`` / ``max`` are algebraic under *inserts only*
  (``least(old, Δmin)``); a delete may remove the extreme, so groups
  that saw a delete are **recomputed exactly** from the base table,
  pruned to those groups with a broadcast semi-join (bounded by the
  delta's group count, never the table).

Correctness gate: every refresh path is pytest- and oracle-compared
against the full recompute (``expected()``), including
delete/update/compaction deltas and the count-reaches-0 group drop.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .table import Table

GKEY = "_gkey"
_SEP = "\x1f"
_NULL = "\x00null"

_KINDS = ("count", "sum", "min", "max")


def _needed_columns(
    schema, group_by, aggs: dict[str, tuple], group_exprs=None
) -> list[str]:
    """Base-table columns the rollup actually reads: the plain group
    keys plus every schema column an agg or derived-group expression
    mentions (word match — conservative: an unparsed mention only
    widens the projection)."""
    import re

    need = list(group_by)
    exprs = " ".join(e for _k, e in aggs.values() if e)
    exprs += " " + " ".join((group_exprs or {}).values())
    for f in schema.fields:
        if f.name in need:
            continue
        if re.search(rf"\b{re.escape(f.name)}\b", exprs):
            need.append(f.name)
    return need


def _with_groups(df, group_exprs):
    """Attach derived group columns (SQL expressions) to a frame."""
    for name, e in (group_exprs or {}).items():
        df = df.withColumn(name, F.expr(e))
    return df


def _agg_out_cols(aggs: dict[str, tuple]) -> list[str]:
    """Stored agg columns in order: each agg output, plus the hidden
    non-null counter right after its sum."""
    out = []
    for name, (kind, _e) in aggs.items():
        out.append(name)
        if kind == "sum":
            out.append(_nn(name))
    return out


def _gkey_expr(group_by: Sequence[str]):
    return F.concat_ws(
        _SEP,
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(_NULL))
            for c in group_by
        ],
    ).alias(GKEY)


def _nn(name: str) -> str:
    """Hidden companion column: non-null input count of a sum agg.
    SQL SUM over an all-NULL group is NULL, not 0 — the signed-delta
    algebra alone cannot tell 'sum is 0' from 'no non-null inputs
    left', so the rollup stores this counter and nulls the sum out
    when it reaches 0."""
    return f"_nn_{name}"


def _full_agg_exprs(aggs: dict[str, tuple]) -> list:
    out = []
    for name, (kind, expr) in aggs.items():
        if kind == "count":
            out.append(F.count(F.lit(1)).alias(name))
        elif kind == "sum":
            out.append(F.sum(F.expr(expr)).alias(name))
            out.append(F.count(F.expr(expr)).alias(_nn(name)))
        elif kind == "min":
            out.append(F.min(F.expr(expr)).alias(name))
        elif kind == "max":
            out.append(F.max(F.expr(expr)).alias(name))
    return out


def _spec(props: dict) -> tuple[list[str], dict, dict[str, tuple]]:
    """``(group_by, group_exprs, aggs)`` from a rollup's properties."""
    return (
        json.loads(props["rollup_group_by"]),
        json.loads(props.get("rollup_group_exprs") or "{}"),
        {k: tuple(v) for k, v in json.loads(props["rollup_aggs"]).items()},
    )


@dataclass
class RefreshResult:
    mode: str  # "noop" | "full" | "incremental"
    from_snapshot_id: Optional[int]
    to_snapshot_id: Optional[int]
    groups_changed: int
    groups_recomputed: int


class MaterializedRollup:
    """A rollup Table plus the metadata to maintain it incrementally.

    The rollup is an ordinary lakehouse table (time travel, SQL views,
    MERGE, compaction all apply); its properties carry the base-table
    root, the group/agg spec, and the last base snapshot folded in.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.table = Table(spark, root)

    # -- lifecycle ----------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        base: Table,
        *,
        group_by: Sequence[str] = (),
        aggs: dict[str, tuple],
        group_exprs: Optional[dict] = None,
        partition_spec=None,
    ) -> "MaterializedRollup":
        """``aggs``: {out_col: (kind, expr_sql)} with kind in
        count|sum|min|max; expr_sql is ignored for count.
        ``group_exprs``: {out_col: sql_expr} DERIVED group keys (e.g.
        ``{"hour": "date_trunc('hour', ts)"}``) computed from base
        columns on every path — plain and derived keys group together.
        The rollup schema (group columns + _gkey + agg columns) is
        derived from the base schema by planning the aggregate on an
        empty slice — no data read."""
        for name, (kind, _e) in aggs.items():
            if kind not in _KINDS:
                raise ValueError(f"agg {name!r}: unknown kind {kind!r}")
        if not any(k == "count" for k, _ in aggs.values()):
            raise ValueError(
                "rollup needs a ('count', None) aggregate: the signed "
                "row count is what tracks group liveness (a group whose "
                "count reaches 0 must be deleted from the rollup)"
            )
        gnames = list(group_by) + list(group_exprs or {})
        if not gnames:
            raise ValueError("rollup needs at least one group key")
        probe = (
            _with_groups(base.scan().limit(0), group_exprs)
            .groupBy(*gnames)
            .agg(*_full_agg_exprs(aggs))
            .select(*gnames, _gkey_expr(gnames), *_agg_out_cols(aggs))
        )
        t = Table.create(
            spark,
            root,
            probe.schema,
            partition_spec=partition_spec,
            properties={
                "rollup_base_root": base.root,
                "rollup_group_by": json.dumps(list(group_by)),
                "rollup_group_exprs": json.dumps(dict(group_exprs or {})),
                "rollup_aggs": json.dumps(
                    {k: list(v) for k, v in aggs.items()}
                ),
                "rollup_synced_snapshot": None,
            },
        )
        r = MaterializedRollup(spark, t.root)
        return r

    # -- config accessors ---------------------------------------------------

    @property
    def _props(self) -> dict:
        return self.table.meta.properties

    @property
    def base(self) -> Table:
        return Table(self.spark, self._props["rollup_base_root"])

    @property
    def group_by(self) -> list[str]:
        return json.loads(self._props["rollup_group_by"])

    @property
    def group_exprs(self) -> dict:
        return json.loads(self._props.get("rollup_group_exprs") or "{}")

    @property
    def group_names(self) -> list[str]:
        return self.group_by + list(self.group_exprs)

    @property
    def aggs(self) -> dict[str, tuple]:
        return {
            k: tuple(v)
            for k, v in json.loads(self._props["rollup_aggs"]).items()
        }

    def scan(self) -> DataFrame:
        hidden = [GKEY] + [
            _nn(n) for n, (k, _e) in self.aggs.items() if k == "sum"
        ]
        return self.table.scan().drop(*hidden)

    def expected(self) -> DataFrame:
        """The full recompute (the oracle the incremental path must
        equal row-for-row)."""
        hidden = [
            _nn(n) for n, (k, _e) in self.aggs.items() if k == "sum"
        ]
        return (
            _with_groups(self.base.scan(), self.group_exprs)
            .groupBy(*self.group_names)
            .agg(*_full_agg_exprs(self.aggs))
            .drop(*hidden)
        )

    # -- maintenance --------------------------------------------------------

    def refresh(self, **merge_kw) -> RefreshResult:
        """Fold the base's change since the synced snapshot in. Reads
        the rollup's and the base's metadata once each, and commits on
        the rollup version it read."""
        from .ops.changes import (
            full_resync,
            incremental_scan,
            refresh_path,
            row_changes,
        )

        meta = self.table.meta
        props = meta.properties
        base = Table(self.spark, props["rollup_base_root"])
        bmeta = base.meta
        to_id = bmeta.current_snapshot_id
        synced = props.get("rollup_synced_snapshot")
        if synced == to_id or to_id is None:
            return RefreshResult("noop", synced, to_id, 0, 0)
        group_by, group_exprs, aggs = _spec(props)
        gnames = group_by + list(group_exprs)
        need = _needed_columns(
            T.StructType.fromJson(bmeta.schema_json), group_by, aggs,
            group_exprs,
        )
        marker = {"rollup_synced_snapshot": to_id}

        def base_rows():
            return _with_groups(
                base._scan(bmeta, snapshot_id=to_id, columns=need),
                group_exprs,
            )

        def full_agg():
            return (
                base_rows()
                .groupBy(*gnames)
                .agg(*_full_agg_exprs(aggs))
                .select(*gnames, _gkey_expr(gnames), *_agg_out_cols(aggs))
            )

        if synced is None:
            # marker rides the SAME commit as the data: a crash can
            # never leave rows without the marker (replay would append
            # the full build a second time)
            self.table._append(meta, full_agg(), set_props=marker)
            return RefreshResult("full", None, to_id, -1, 0)

        # neutral: compaction, clustering and manifest rewrites change
        # no logical rows — just advance the marker (zero reads).
        # append: the delta IS the appended files read once —
        # insert-only, no multiset diff, no delete algebra; refresh cost
        # stays ∝ new data even when a compaction rewrote the whole base
        # in between. changes: the CDC diff, projected to the columns
        # the algebra reads (payload columns never enter its scan or
        # exchange; projection commutes with the multiset diff for
        # signed-delta aggregation). resync: the synced snapshot
        # expired, or the diff would read at least
        # rollup_resync_cost_ratio x the table (float, "off" disables).
        path = refresh_path(
            base, bmeta, synced, to_id,
            props.get("rollup_resync_cost_ratio", "1.0"),
        )
        if path == "resync":
            full_resync(self.table, meta, full_agg(), "rollup", to_id)
            return RefreshResult("full-resync", synced, to_id, -1, 0)
        if path == "neutral":
            self.table._set_properties(meta, marker)
            return RefreshResult("incremental", synced, to_id, 0, 0)
        if path == "append":
            delta = incremental_scan(
                base, bmeta, from_snapshot_id=synced, to_snapshot_id=to_id
            ).select(*need).withColumn("_change_type", F.lit("insert"))
        else:
            delta = row_changes(
                base, bmeta, from_snapshot_id=synced, to_snapshot_id=to_id,
                columns=need,
            )
        src, n_groups, n_recomputed, cached = self._incremental_source(
            meta, _with_groups(delta, group_exprs), gnames, aggs, base_rows
        )
        try:
            if n_groups:
                # old+delta values are NOT replay-idempotent: stamp the
                # marker inside the merge commit itself
                self.table._merge(
                    meta, src, key=GKEY, set_props=marker, **merge_kw
                )
            else:
                # no data change: a metadata-only stamp (replaying an
                # empty diff is harmless either way)
                self.table._set_properties(meta, marker)
        finally:
            for c in cached:
                c.unpersist()
        return RefreshResult(
            "incremental", synced, to_id, n_groups, n_recomputed
        )

    def _incremental_source(self, meta, delta, group_by, aggs, base_rows):
        """MERGE source for one refresh: one row per delta group with
        the new agg values (or op='delete' when its count reaches 0).
        ``meta`` is the rollup's version; ``base_rows()`` the base rows
        at the refresh target."""
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        has_minmax = any(k in ("min", "max") for k, _ in aggs.values())
        d_exprs = [F.sum(sign).alias("_d_rows")]
        for name, (kind, expr) in aggs.items():
            if kind == "count":
                d_exprs.append(F.sum(sign).alias(f"_d_{name}"))
            elif kind == "sum":
                d_exprs.append(
                    F.sum(sign * F.expr(expr)).alias(f"_d_{name}")
                )
                d_exprs.append(
                    F.sum(
                        sign
                        * F.when(F.expr(expr).isNotNull(), 1).otherwise(0)
                    ).alias(f"_d_{_nn(name)}")
                )
            elif kind in ("min", "max"):
                fn = F.min if kind == "min" else F.max
                d_exprs.append(
                    fn(
                        F.when(
                            F.col("_change_type") == "insert", F.expr(expr)
                        )
                    ).alias(f"_d_{name}")
                )
        d_exprs.append(
            F.max(
                F.when(F.col("_change_type") == "delete", 1).otherwise(0)
            ).alias("_d_has_del")
        )
        d = (
            delta.groupBy(*group_by)
            .agg(*d_exprs)
            .select("*", _gkey_expr(group_by))
        )
        d = d.persist()
        cached = [d]
        n_groups = d.count()
        if n_groups == 0:
            d.unpersist()
            return None, 0, 0, []

        cur = self.table._scan(meta).select(
            F.col(GKEY).alias("_cur_gkey"),
            *[F.col(n).alias(f"_cur_{n}") for n in _agg_out_cols(aggs)],
        )
        j = d.join(cur, d[GKEY] == cur["_cur_gkey"], "left")

        out_cols = list(group_by) + [GKEY]
        sel = [F.col(c) for c in out_cols]
        new_cnt = None
        for name, (kind, expr) in aggs.items():
            old = F.col(f"_cur_{name}")
            dlt = F.col(f"_d_{name}")
            if kind == "count":
                val = F.coalesce(old, F.lit(0)) + F.coalesce(dlt, F.lit(0))
                new_cnt = val
            elif kind == "sum":
                nn_old = F.col(f"_cur_{_nn(name)}")
                nn_dlt = F.col(f"_d_{_nn(name)}")
                new_nn = F.coalesce(nn_old, F.lit(0)) + F.coalesce(
                    nn_dlt, F.lit(0)
                )
                # all non-null inputs gone -> SQL SUM is NULL, not 0
                val = F.when(
                    new_nn <= 0, F.lit(None)
                ).otherwise(
                    F.coalesce(old, F.lit(0)) + F.coalesce(dlt, F.lit(0))
                )
                sel.append(val.alias(name))
                sel.append(new_nn.alias(_nn(name)))
                continue
            elif kind == "min":
                val = F.least(old, dlt)  # least/greatest skip NULLs
            else:
                val = F.greatest(old, dlt)
            sel.append(val.alias(name))
        src = j.select(
            *sel,
            F.when(new_cnt <= 0, F.lit("delete")).alias("op"),
            F.col("_d_has_del").alias("_had_del"),
        )

        n_recomputed = 0
        if has_minmax:
            # groups that saw a delete and stay live: min/max are not
            # algebraically maintainable (the delete may have removed
            # the extreme) — recompute EXACTLY those groups from the
            # base, pruned by a broadcast semi-join on the group key
            need = src.filter((F.col("_had_del") == 1) & F.col("op").isNull())
            keys = need.select(GKEY).persist()
            cached.append(keys)
            n_recomputed = keys.count()
            if n_recomputed:
                exact = (
                    base_rows()
                    .select("*", _gkey_expr(group_by))
                    .join(F.broadcast(keys), on=GKEY, how="left_semi")
                    .groupBy(*group_by)
                    .agg(*_full_agg_exprs(aggs))
                    .select(
                        *group_by,
                        _gkey_expr(group_by),
                        *_agg_out_cols(aggs),
                        F.lit(None).cast("string").alias("op"),
                    )
                )
                src = src.filter(
                    ~((F.col("_had_del") == 1) & F.col("op").isNull())
                ).drop("_had_del").unionByName(exact)
            else:
                src = src.drop("_had_del")
        else:
            src = src.drop("_had_del")
        return src, n_groups, n_recomputed, cached
