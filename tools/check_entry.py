"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive value multiset. Usage:

    python tools/check_entry.py [sf_dir] [query ...]

DECIMAL OUTPUT BAN (round-5 hardening): round 4 shipped DECIMAL-typed
readouts that this gate's ``str()`` normalization could not
distinguish from doubles, while the driver's hash protocol could
(fixed-scale ``1.0000`` vs shortest-repr ``1.0``) — 5 driver reds the
replica called green. The gate now FAILS any query whose Spark output
schema or oracle result contains a decimal type/cell: decimals are for
internal arithmetic only and must be cast to DOUBLE at the output
boundary (lakehouse/stablemath.py docstring).

DECLARED ORACLE TYPES: the oracle side is checked on the DuckDB
relation's declared column types, never on fetched cells — ``fetchall()``
turns HUGEINT into a plain ``int`` and hides it, while a pandas/Arrow
materialization turns it into float64 or decimal128 and breaks the
hash comparison. Any HUGEINT, UHUGEINT or DECIMAL oracle column fails.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def decimal_problems(df):
    """The class the driver catches and ``str()``-normalization can't:
    any decimal in the Spark output (schema-typed). The oracle side is
    checked on its declared types by :func:`oracle_type_problems`."""
    bad = [
        f.name
        for f in df.schema.fields
        if "decimal" in f.dataType.simpleString()
    ]
    if not bad:
        return []
    return [
        f"spark output has DECIMAL column(s) {bad} — cast to DOUBLE "
        "at the output boundary (stablemath.py)"
    ]


BANNED_ORACLE_TYPES = ("HUGEINT", "DECIMAL")  # UHUGEINT contains HUGEINT


def oracle_type_problems(con, sql):
    """Oracle side: DuckDB's DECLARED output types (``con.sql(q)``
    column types, nested types included), never fetched cells."""
    rel = con.sql(sql)
    bad = [
        f"{name} {typ}"
        for name, typ in zip(rel.columns, map(str, rel.types))
        if any(b in typ for b in BANNED_ORACLE_TYPES)
    ]
    if not bad:
        return []
    return [
        f"oracle declares {bad} — cast the oracle SQL to BIGINT/DOUBLE"
    ]


def duckdb_views(sf_dir):
    """A DuckDB connection with one view per parquet table in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    return con


def fingerprint(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    normed = sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )
    return normed


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from lakehouse.session import build_session

    spark = build_session(
        "check-entry", master="local[8]", shuffle_partitions=8
    )
    con = duckdb_views(sf_dir)

    qs = E.queries()
    oracles = E.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            probs = decimal_problems(df)
            if probs:
                print(f"FAIL {name}: {'; '.join(probs)}")
                n_fail += 1
            else:
                print(f"ok   {name}: rows-only, {len(rows)} rows ({dt:.1f}s)")
                n_pass += 1
            continue
        try:
            problems = decimal_problems(df) + oracle_type_problems(
                con, oracles[name]
            )
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: oracle error")
            traceback.print_exc()
            n_fail += 1
            continue
        if sorted(cols) != sorted(ocols):
            problems.append(f"schema {sorted(cols)} != {sorted(ocols)}")
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} != {len(orows)}")
        if not problems:
            fa, fb = fingerprint(rows, cols), fingerprint(orows, ocols)
            if fa != fb:
                diff_a = [r for r in fa if r not in set(map(tuple, fb))][:3]
                diff_b = [r for r in fb if r not in set(map(tuple, fa))][:3]
                problems.append(
                    f"values differ; spark-only={diff_a} oracle-only={diff_b}"
                )
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(rows)} rows ({dt:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
