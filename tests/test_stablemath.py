"""Output-typing discipline for cross-engine-stable rounding.

Round 4's driver reds (VERDICT r4 §What's wrong #1) were all one
class: ``stable_round`` emitted DECIMAL(p,d) and the driver's hash
protocol renders fixed-scale decimals (``1.0000``) differently from
float shortest-repr (``1.0``) — bit-identical values hashed red on
every trailing-zero cell. These tests pin the round-5 contract:

- ``stable_round`` / ``stable_round_sql`` emit DOUBLE, never DECIMAL;
- the ONLY decimal variant is the explicitly-internal
  ``stable_round_dec`` (for order-insensitive SUMs), and its users
  cast back to double at the output boundary;
- ``events_ab_test`` — red two rounds running — has an all
  DOUBLE/BIGINT/STRING output schema, named per VERDICT r4 next-step #4;
- the hardened replica gate (tools/check_entry.py) actually detects a
  DECIMAL output column, so this class can never ship silently again.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse.stablemath import stable_round, stable_round_dec, stable_round_sql


def test_stable_round_emits_double(spark):
    df = spark.range(1).select(
        stable_round(F.lit(0.4), 4).alias("a"),
        stable_round(F.lit(1.0), 4, precision=10).alias("b"),
    )
    assert dict(df.dtypes) == {"a": "double", "b": "double"}
    row = df.collect()[0]
    assert row.a == 0.4 and row.b == 1.0
    assert isinstance(row.a, float) and isinstance(row.b, float)


def test_stable_round_sql_emits_double_text():
    s = stable_round_sql("x * 1.0 / y", 4)
    assert s.endswith("AS DOUBLE)")
    assert "DECIMAL" not in s.upper().replace("AS DOUBLE", "")


def test_stable_round_dec_is_decimal_for_internal_sums(spark):
    df = spark.range(1).select(
        stable_round_dec(F.lit(0.123456789), 6).alias("d")
    )
    assert dict(df.dtypes)["d"] == "decimal(18,6)"
    from decimal import Decimal

    assert df.collect()[0].d == Decimal("0.123457")


def test_stable_round_null_propagates(spark):
    row = (
        spark.range(1)
        .select(stable_round(F.lit(None).cast("double"), 4).alias("v"))
        .collect()[0]
    )
    assert row.v is None


def test_stable_round_matches_duckdb_twin(spark):
    """The pair contract itself: identical values, identical Python
    float type, across magnitudes including exact .5 ties and
    trailing-zero results (the class that broke hashing)."""
    duckdb = pytest.importorskip("duckdb")
    vals = [0.12345, 0.4, 1.0, 2.5e-5, -0.12345, 3.14159265, 12345.00005]
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        stable_round(F.col("x"), 4).alias("r")
    )
    got = sorted(r.r for r in df.collect())
    con = duckdb.connect()
    sql = stable_round_sql("x", 4)
    want = sorted(
        r[0]
        for r in con.execute(
            f"SELECT {sql} AS r FROM (SELECT unnest(?) AS x)", [vals]
        ).fetchall()
    )
    assert got == want
    assert all(isinstance(v, float) for v in got + want)


def test_ab_test_output_schema_is_hash_safe(spark):
    """VERDICT r4 next-step #4: events_ab_test by name — two rounds
    driver-red, both times from output typing. Its schema must contain
    no DECIMAL (and in fact only string/long/double)."""
    from lakehouse.abtest import ab_test_report

    rows = [(2 * u, u, "view", 1.0) for u in range(40)] + [
        (2 * u + 1, u, "purchase", 5.0) for u in range(0, 40, 3)
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    )
    out = ab_test_report(events, conversion_type="purchase", variants=2)
    kinds = {t for _, t in out.dtypes}
    assert kinds <= {"string", "bigint", "double"}, out.dtypes


def test_replica_gate_detects_decimal_outputs(spark):
    """Prove the hardened gate catches the round-4 class: a DataFrame
    with a decimal column must be flagged on the Spark side, and a
    DuckDB query declaring a DECIMAL column on the oracle side."""
    duckdb = pytest.importorskip("duckdb")
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from check_entry import decimal_problems, oracle_type_problems

    bad_df = spark.range(1).select(
        F.lit(1.0).cast("decimal(18,4)").alias("v")
    )
    ok_df = spark.range(1).select(F.lit(1.0).alias("v"))

    con = duckdb.connect()
    probs = decimal_problems(bad_df) + oracle_type_problems(
        con,
        "SELECT NULL::DECIMAL(18,4) AS v UNION ALL "
        "SELECT CAST(1.0 AS DECIMAL(18,4))",
    )
    assert any("spark output has DECIMAL" in p for p in probs)
    assert any("oracle declares" in p and "DECIMAL" in p for p in probs)

    assert decimal_problems(ok_df) == []
    assert oracle_type_problems(con, "SELECT CAST(1.0 AS DOUBLE) AS v") == []
