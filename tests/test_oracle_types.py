"""Declared-type gate over every DuckDB oracle: no oracle column may be
typed HUGEINT, UHUGEINT or DECIMAL. DuckDB types SUM over integers as
int128, which ``fetchall()`` hides (plain ``int``) but an Arrow/pandas
materialization turns into float64 or decimal128 — a value-identical
oracle that still fails a hash comparison against Spark's bigint.
DuckDB only; no Spark."""

from __future__ import annotations

import os
import sys

import pytest

import __spark_entry__ as E

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = E.SF0001  # the smallest test-data scale

pytest.importorskip("duckdb")
if not os.path.isdir(SF_DIR):
    pytest.skip(f"no test data at {SF_DIR}", allow_module_level=True)

sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_entry import duckdb_views, oracle_type_problems  # noqa: E402


def test_every_oracle_declares_bigint_or_double_not_int128_or_decimal():
    con = duckdb_views(SF_DIR)
    bad = {}
    for name, sql in sorted(E.oracle_sql().items()):
        problems = oracle_type_problems(con, sql)
        if problems:
            bad[name] = problems
    assert bad == {}
