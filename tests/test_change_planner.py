"""One change planner: every reader of "what changed between two
snapshots" plans through ``ops/changes.plan_changes`` (or the CDC read
set of ``row_changes``) on the one metadata version its op read.

Metadata-sized counts on a table of six 8-row appends: how often one
call reads ``snapshots.load_metadata`` and plans a snapshot
(``scan.plan_scan``). The planner plans each boundary snapshot of
``(from, to]`` once, so five appends cost six plans; a derived-table
refresh reads each of its two tables' metadata once."""

from __future__ import annotations

import sys

import pytest

from lakehouse import Table
from lakehouse.datasource import LakehouseStreamReader
from lakehouse.meta import scan as SC
from lakehouse.meta import snapshots as S
from lakehouse.ops.changes import diff_read_bytes
from lakehouse.rollup import MaterializedRollup
from lakehouse.schema import CLIPS_SCHEMA
from lakehouse.synth import synth_clips_pdf
from lakehouse.transform import MaterializedTransform


def _clips(spark, start: int, n: int = 8):
    pdf = synth_clips_pdf(range(start, start + n), seed=start + 1, n_days=2)
    return spark.createDataFrame(pdf, CLIPS_SCHEMA)


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("planner")
    t = Table.create(spark, str(root / "base"), CLIPS_SCHEMA)
    for i in range(6):
        t.append(_clips(spark, 8 * i), target_file_count=1)
    return {"table": t, "root": root}


def _count(monkeypatch, fn) -> dict[str, int]:
    """Calls of ``load_metadata`` and ``plan_scan`` while ``fn()`` runs,
    counted in every loaded ``lakehouse`` module that binds them (the
    modules under test are imported above, before any patch)."""
    counts = {"load_metadata": 0, "plan_scan": 0}
    for name, mod in (("load_metadata", S), ("plan_scan", SC)):
        orig = getattr(mod, name)

        def counted(*a, _name=name, _orig=orig, **kw):
            counts[_name] += 1
            return _orig(*a, **kw)

        for mname, m in list(sys.modules.items()):
            if mname.startswith("lakehouse") and getattr(m, name, None) is orig:
                monkeypatch.setattr(m, name, counted)
    try:
        fn()
    finally:
        monkeypatch.undo()
    return counts


def _sids(t: Table) -> list[int]:
    return [s.snapshot_id for s in t.snapshots()]


def test_incremental_scan_plans_each_boundary_once(spark, base, monkeypatch):
    t = base["table"]
    first = _sids(t)[0]
    out = {}
    n = _count(monkeypatch, lambda: out.setdefault(
        "df", t.incremental_scan(from_snapshot_id=first)
    ))
    assert n == {"load_metadata": 1, "plan_scan": 6}, n
    assert out["df"].count() == 5 * 8


def test_stream_reader_plans_each_boundary_once(spark, base, monkeypatch):
    t = base["table"]
    sids = _sids(t)
    reader = LakehouseStreamReader(t.root, {})
    out = {}
    n = _count(monkeypatch, lambda: out.setdefault("parts", reader.partitions(
        {"snapshot_id": sids[0]}, {"snapshot_id": sids[-1]}
    )))
    assert n == {"load_metadata": 1, "plan_scan": 6}, n
    assert sum(len(p.files) for p in out["parts"]) == 5


@pytest.mark.parametrize("call", ["row_changes", "diff_read_bytes",
                                  "changelog_view"])
def test_cdc_reads_metadata_once(spark, base, monkeypatch, call):
    t = base["table"]
    first = _sids(t)[0]
    fns = {
        "row_changes": lambda: t.row_changes(from_snapshot_id=first),
        "diff_read_bytes": lambda: diff_read_bytes(
            t, t.meta, from_snapshot_id=first
        ),
        "changelog_view": lambda: t.changelog_view(from_snapshot_id=first),
    }
    n = _count(monkeypatch, fns[call])
    assert n["load_metadata"] == 1, n


def _derived(spark, base, kind: str, name: str):
    """A fresh base clone and a derived table fully refreshed on it."""
    b = base["table"].clone_to(str(base["root"] / f"{name}-base"))
    root = str(base["root"] / f"{name}-derived")
    if kind == "rollup":
        d = MaterializedRollup.create(
            spark, root, b, group_by=["event_date"],
            aggs={"n": ("count", None), "dur_max": ("max", "dur_ms")},
        )
    else:
        d = MaterializedTransform.create(
            spark, root, b, key="clip_id", columns=["clip_id", "dur_ms"],
            exprs={"dur_s": "dur_ms / 1000.0"},
        )
    d.table.set_properties(**{f"{kind}_resync_cost_ratio": "off"})
    assert d.refresh().mode == "full"
    return b, d


CHANGES = {
    "appends": lambda spark, b: [
        b.append(_clips(spark, 1000 + 8 * i)) for i in range(3)
    ],
    "cow_delete": lambda spark, b: b.delete("dur_ms <= 1400"),
    "compaction": lambda spark, b: b.compact(),
}


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


@pytest.mark.parametrize("kind", ["rollup", "transform"])
@pytest.mark.parametrize("change", sorted(CHANGES))
def test_refresh_reads_each_table_once(spark, base, monkeypatch, kind, change):
    b, d = _derived(spark, base, kind, f"{kind}-{change}")
    CHANGES[change](spark, b)
    version = S.current_version(d.table.root)
    out = {}
    n = _count(monkeypatch, lambda: out.setdefault("res", d.refresh()))
    assert n["load_metadata"] == 2, f"{kind} after {change}: {n}"
    assert out["res"].mode == "incremental"
    assert S.current_version(d.table.root) == version + 1
    assert _rows(d.scan()) == _rows(d.expected())


@pytest.mark.parametrize(
    "change",
    [
        lambda t: t.add_column("extra", "int", default=7),
        lambda t: t.rename_column("transcript", "text"),
        lambda t: t.drop_column("transcript"),
    ],
    ids=["add_column", "rename_column", "drop_column"],
)
def test_incremental_scan_across_schema_change(spark, tmp_path, change):
    """A schema change commits no file: an append-only read across it
    returns exactly the appended rows."""
    t = Table.create(spark, str(tmp_path / "t"), CLIPS_SCHEMA)
    t.append(_clips(spark, 0, 4))
    s0 = t.current_snapshot_id()
    t.append(_clips(spark, 4, 4))
    change(t)
    t.append(_clips(spark, 8, 4))
    assert t.incremental_scan(from_snapshot_id=s0).count() == 8
    assert t.row_changes(from_snapshot_id=s0).count() == 8
