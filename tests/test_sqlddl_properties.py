"""Property-based hardening of the DEFAULT-literal policy
(hypothesis): it must round-trip arbitrary well-formed literals and
refuse the rest loudly — a text front-end's failure mode must never be
a silent misparse."""

from __future__ import annotations

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

from lakehouse.sqldml import SqlDmlError  # noqa: E402
from lakehouse.sqlddl import _parse_literal  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(10**15), max_value=10**15))
def test_parse_literal_ints(n):
    assert _parse_literal(str(n)) == n


@settings(max_examples=200, deadline=None)
@given(
    st.floats(
        min_value=-1e12,
        max_value=1e12,
        allow_nan=False,
        allow_infinity=False,
    )
)
def test_parse_literal_floats(x):
    got = _parse_literal(repr(x))
    assert got == pytest.approx(x)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40))
def test_parse_literal_strings_roundtrip(s):
    quoted = "'" + s.replace("'", "''") + "'"
    assert _parse_literal(quoted) == s


@settings(max_examples=100, deadline=None)
@given(st.from_regex(r"[a-z_]{1,8}\s*[+*/-]\s*\d{1,4}", fullmatch=True))
def test_parse_literal_refuses_expressions(expr):
    if expr.strip().upper() in ("TRUE", "FALSE"):
        return
    with pytest.raises(SqlDmlError):
        _parse_literal(expr)
