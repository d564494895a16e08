"""A/B experiment analysis over event streams — deterministic variant
assignment plus the two-proportion significance readout (the "did the
B arm convert better, and is it real?" ask every clickstream product
team runs; the reference ships the table and the Athena/BI hand-off
(`/root/reference/README.md:104,113,317`) but no experiment operator —
same gap family as `lakehouse/funnel.py`).

Variant assignment is the repo's seeded-md5 primitive
(`lakehouse/sampling.py`): variant(user) = which of ``k`` equal hex
ranges the 8-hex-char ``md5(seed:user)`` prefix falls in — a pure
function of (seed, user), so assignment is REPRODUCIBLE across cluster
sizes, partitionings, retries, and engines (md5 exists verbatim in
DuckDB for the oracle twin), and a user can never switch arms
mid-experiment.

Statistics (all derived from integer counts, so cross-engine
bit-deterministic before the final rounding):
- per-arm ``conv_rate`` = converters / users;
- ``lift`` = arm rate − control rate (control = first arm, ``v0``);
- ``z_score`` = the standard two-proportion pooled z statistic vs
  control: (p_i − p_0) / sqrt(p̂(1−p̂)(1/n_0 + 1/n_i)) with
  p̂ = (c_0 + c_i)/(n_0 + n_i). |z| ≥ 1.96 ⇒ 95 % significance.

Scale shape: ONE corpus shuffle — the per-user pre-aggregate
(groupBy(user): converted flag + decimal-exact conversion value); the
variant is a codegen'd projection over that frame, the per-arm rollup
is bounded by k, and the control row joins back via a one-row
broadcast (bounded by construction). Per-user event lists are never
materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import _hash_hex, _hash_sql, _threshold_hex


def _variant_col(seed: int, user, k: int):
    h = _hash_hex(seed, user)
    expr = F.lit(f"v{k - 1}")
    for i in range(k - 1, 0, -1):
        expr = F.when(
            h < F.lit(_threshold_hex(i / k)), F.lit(f"v{i - 1}")
        ).otherwise(expr)
    return expr


def ab_test_report(
    events: DataFrame,
    *,
    conversion_type: str = "purchase",
    variants: int = 2,
    seed: int = 42,
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """One row per experiment arm: users, converters, conversion rate,
    decimal-exact conversion value, and lift + pooled two-proportion
    z-score vs the control arm ``v0`` (NULL on the control row)."""
    if variants < 2:
        raise ValueError("need at least two variants")
    conv = (F.col(type_col) == conversion_type).cast("int")
    per_user = events.groupBy(F.col(user_col).alias("__u")).agg(
        F.max(conv).alias("__c"),
        F.sum(
            F.when(
                F.col(type_col) == conversion_type, F.col(value_col)
            )
            .otherwise(F.lit(0.0))
            .cast("decimal(18,4)")
        ).alias("__v"),
    )
    arms = (
        per_user.select(
            _variant_col(seed, F.col("__u"), variants).alias("variant"),
            "__c",
            "__v",
        )
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("users"),
            F.sum("__c").alias("converters"),
            F.coalesce(F.sum("__v"), F.lit(0).cast("decimal(18,4)"))
            .cast("double")
            .alias("conv_value"),
        )
    )
    ctrl = arms.filter(F.col("variant") == "v0").select(
        F.col("users").alias("__n0"), F.col("converters").alias("__c0")
    )
    j = arms.crossJoin(F.broadcast(ctrl))  # one-row frame: bounded
    p = F.col("converters") / F.col("users")
    p0 = F.col("__c0") / F.col("__n0")
    pooled = (F.col("converters") + F.col("__c0")) / (
        F.col("users") + F.col("__n0")
    )
    se = F.sqrt(
        pooled * (1 - pooled) * (1 / F.col("users") + 1 / F.col("__n0"))
    )
    is_ctrl = F.col("variant") == "v0"
    # stable_round (not F.round): the rounded stats feed a cross-engine
    # value-hash; plain round(double) diverges from DuckDB at repr ties
    # (the round-3 driver red) — see lakehouse/stablemath.py
    from .stablemath import stable_round

    return j.select(
        "variant",
        "users",
        "converters",
        stable_round(p, 4, precision=10).alias("conv_rate"),
        "conv_value",
        F.when(is_ctrl, F.lit(None))
        .otherwise(stable_round(p - p0, 4, precision=10))
        .alias("lift"),
        F.when(is_ctrl | (se == 0), F.lit(None))
        .otherwise(stable_round((p - p0) / se, 4, precision=10))
        .alias("z_score"),
    ).orderBy("variant")


def ab_test_oracle_sql(
    *,
    conversion_type: str = "purchase",
    variants: int = 2,
    seed: int = 42,
    table: str = "events",
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
) -> str:
    """DuckDB twin: identical hash ranges, integer counts, and the
    stable (floor-based) rounding so the decimal stats hash-match
    bit-for-bit — see lakehouse/stablemath.py."""
    from .stablemath import stable_round_sql

    q = lambda s: str(s).replace("'", "''")
    h = _hash_sql(seed, "u")
    case = f"'v{variants - 1}'"
    for i in range(variants - 1, 0, -1):
        case = (
            f"CASE WHEN {h} < '{_threshold_hex(i / variants)}' "
            f"THEN 'v{i - 1}' ELSE {case} END"
        )
    p = "converters * 1.0 / users"
    p0 = "c0 * 1.0 / n0"
    pooled = "((converters + c0) * 1.0 / (users + n0))"
    se = (
        f"sqrt({pooled} * (1 - {pooled}) * (1.0 / users + 1.0 / n0))"
    )
    r = lambda e: stable_round_sql(e, 4, precision=10)
    return f"""
        WITH pu AS (
          SELECT {user_col} AS u,
                 max(CASE WHEN {type_col} = '{q(conversion_type)}'
                          THEN 1 ELSE 0 END) AS c,
                 SUM(CAST(CASE WHEN {type_col} = '{q(conversion_type)}'
                               THEN {value_col} ELSE 0.0 END
                          AS DECIMAL(18,4))) AS v
          FROM {table} GROUP BY 1
        ), arms AS (
          SELECT {case} AS variant,
                 count(*) AS users,
                 CAST(SUM(c) AS BIGINT) AS converters,
                 CAST(coalesce(SUM(v), 0) AS DOUBLE) AS conv_value
          FROM pu GROUP BY 1
        ), ctrl AS (
          SELECT users AS n0, converters AS c0 FROM arms
          WHERE variant = 'v0'
        )
        SELECT variant, users, converters,
               {r(p)} AS conv_rate,
               conv_value,
               CASE WHEN variant = 'v0' THEN NULL
                    ELSE {r(f"{p} - {p0}")} END AS lift,
               CASE WHEN variant = 'v0' OR {se} = 0 THEN NULL
                    ELSE {r(f"({p} - {p0}) / {se}")} END AS z_score
        FROM arms CROSS JOIN ctrl ORDER BY variant
    """
