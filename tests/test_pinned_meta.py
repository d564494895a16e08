"""One metadata version per op: every engine op reads the table's
metadata once, at entry, and plans, reads, writes and commits on that
one version. Only a commit that loses the CAS reads the table again.

Two properties, both metadata-sized (a few tiny appends):

- one call of each op invokes ``snapshots.load_metadata`` exactly once,
  also when it first folds in pending merge-on-read deletes (it then
  continues on the version that fold-in published);
- a concurrent commit published between an op's planning and its
  publish makes the op rebase with exactly one more read and land the
  serial outcome (the op as of its read version, then the concurrent
  commit), or raise ``CommitConflictError`` — never a commit that mixes
  a plan of one version with a schema or spec of another."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse import Table
from lakehouse.errors import CommitConflictError
from lakehouse.meta import snapshots as S
from lakehouse.schema import CLIPS_SCHEMA
from lakehouse.streaming import (
    append_if_absent_batch,
    replicate_batch,
    upsert_batch,
)
from lakehouse.synth import clip_id_for, synth_clips_pdf

DATE_SPEC = [
    {"name": "event_date", "transform": "identity", "source": "event_date"}
]


def _clips(spark, start: int, n: int = 4, seed: int = 0):
    pdf = synth_clips_pdf(range(start, start + n), seed=seed or start, n_days=2)
    return spark.createDataFrame(pdf, CLIPS_SCHEMA)


def _pred(i: int):
    return [("clip_id", "=", clip_id_for(i))]


def _changes(spark):
    return (
        _clips(spark, 2, seed=77)
        .withColumn("_change_type", F.lit("insert"))
        .withColumn("_commit_snapshot_id", F.lit(1).cast("long"))
    )


#: one call of each op, on a table of three 4-row appends over 2 days
OPS = {
    "plan": lambda spark, t, ext: t.plan(),
    "scan": lambda spark, t, ext: t.scan(filter=_pred(1)),
    "compact": lambda spark, t, ext: t.compact(),
    "cluster": lambda spark, t, ext: t.cluster(["dur_ms"]),
    "merge_cow": lambda spark, t, ext: t.merge(_clips(spark, 2, seed=77)),
    "merge_mor": lambda spark, t, ext: t.merge(
        _clips(spark, 2, seed=77), mode="mor"
    ),
    "merge_schema_evolution": lambda spark, t, ext: t.merge(
        _clips(spark, 2, seed=77).withColumn("extra", F.lit(1)),
        schema_evolution=True,
    ),
    "materialize_deletes": lambda spark, t, ext: t.materialize_deletes(),
    "convert_deletes": lambda spark, t, ext: t.convert_deletes(),
    "delete_cow": lambda spark, t, ext: t.delete(_pred(1)),
    "delete_mor": lambda spark, t, ext: t.delete(_pred(1), mode="mor"),
    "delete_mor_pos": lambda spark, t, ext: t.delete(_pred(1), mode="mor-pos"),
    "update_cow": lambda spark, t, ext: t.update(
        {"dur_ms": "dur_ms + 1"}, _pred(2)
    ),
    "update_mor": lambda spark, t, ext: t.update(
        {"dur_ms": "dur_ms + 1"}, _pred(2), mode="mor"
    ),
    "overwrite_partitions": lambda spark, t, ext: t.overwrite_partitions(
        _clips(spark, 0, seed=9)
    ),
    "truncate": lambda spark, t, ext: t.truncate(),
    "add_files": lambda spark, t, ext: t.add_files(ext),
    "rewrite_manifests": lambda spark, t, ext: t.rewrite_manifests(),
    "expire_snapshots": lambda spark, t, ext: t.expire_snapshots(keep_last=1),
    "remove_orphan_files": lambda spark, t, ext: t.remove_orphan_files(),
    "upsert_batch": lambda spark, t, ext: upsert_batch(t)(
        _clips(spark, 2, seed=77), 0
    ),
    "append_if_absent_batch": lambda spark, t, ext: append_if_absent_batch(t)(
        _clips(spark, 20), 0
    ),
    "replicate_batch": lambda spark, t, ext: replicate_batch(t)(
        _changes(spark), 0
    ),
}

#: ops with nothing to do unless a merge-on-read delete is pending
NEED_DELETES = ("materialize_deletes", "convert_deletes")

#: ops that fold pending merge-on-read deletes in before they rewrite
FOLD_IN = [
    "compact", "cluster", "merge_cow", "delete_cow", "update_cow",
    "overwrite_partitions", "upsert_batch",
]

#: ops raced by a concurrent append; the first three also by a
#: concurrent schema change
RACED = [
    "compact", "merge_cow", "merge_mor", "cluster", "delete_cow",
    "update_cow", "delete_mor", "overwrite_partitions", "truncate",
    "materialize_deletes", "convert_deletes", "rewrite_manifests",
]


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """A plain table and one with a pending merge-on-read delete; each
    test works on a zero-copy clone of one of them."""
    root = tmp_path_factory.mktemp("pinned")
    plain = Table.create(
        spark, str(root / "plain"), CLIPS_SCHEMA, partition_spec=DATE_SPEC
    )
    for start in (0, 4, 8):
        plain.append(_clips(spark, start))
    pending = plain.clone_to(str(root / "pending"))
    pending.delete(_pred(9), mode="mor")
    ext = str(root / "external")
    _clips(spark, 500).write.parquet(ext)
    return {"plain": plain, "pending": pending, "ext": ext, "root": root}


def _clone(bases, kind: str, name: str) -> Table:
    return bases[kind].clone_to(str(bases["root"] / f"{kind}-{name}"))


def _count_loads(monkeypatch, fn) -> int:
    loads = [0]
    orig = S.load_metadata

    def counted(*a, **kw):
        loads[0] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(S, "load_metadata", counted)
    try:
        fn()
    finally:
        monkeypatch.setattr(S, "load_metadata", orig)
    return loads[0]


@pytest.mark.parametrize("op", sorted(OPS))
def test_op_reads_metadata_once(spark, bases, monkeypatch, op):
    kind = "pending" if op in NEED_DELETES else "plain"
    t = _clone(bases, kind, op)
    version = S.current_version(t.root)
    loads = _count_loads(monkeypatch, lambda: OPS[op](spark, t, bases["ext"]))
    assert loads == 1, f"{op}: {loads} metadata loads"
    committed = S.current_version(t.root) > version
    assert committed == (op not in ("plan", "scan", "remove_orphan_files"))


@pytest.mark.parametrize("op", FOLD_IN)
def test_op_with_fold_in_reads_metadata_once(spark, bases, monkeypatch, op):
    t = _clone(bases, "pending", op)
    assert t.plan().delete_files
    loads = _count_loads(monkeypatch, lambda: OPS[op](spark, t, bases["ext"]))
    assert loads == 1, f"{op} after a fold-in: {loads} metadata loads"
    assert not t.plan().delete_files
    assert t.scan(filter=_pred(9)).count() == 0  # the delete still holds


def _rows(t: Table) -> list[tuple]:
    return sorted(tuple(r) for r in t.scan().drop("bytes").collect())


def _racers(spark):
    return {
        "append": lambda other: other.append(_clips(spark, 1000)),
        "add_column": lambda other: other.add_column(
            "extra", "int", default=7
        ),
        "compact": lambda other: other.compact(),
        "cluster": lambda other: other.cluster(["dur_ms"]),
    }


@pytest.mark.parametrize(
    "op,racer",
    [(op, "append") for op in RACED]
    + [(op, "add_column") for op in ("compact", "merge_cow", "merge_mor")]
    # positions into files a concurrent rewrite retired hide nothing
    + [("delete_mor_pos", racer) for racer in ("compact", "cluster")],
)
def test_concurrent_commit_rebases_or_conflicts(
    spark, bases, monkeypatch, op, racer
):
    kind = "pending" if op in NEED_DELETES else "plain"
    race = _racers(spark)[racer]
    # the serial outcome: the op as of its read version, then the other
    serial = _clone(bases, kind, f"serial-{op}-{racer}")
    OPS[op](spark, serial, bases["ext"])
    race(Table.load(spark, serial.root))

    t = _clone(bases, kind, f"race-{op}-{racer}")
    other = Table.load(spark, t.root)
    orig_commit, orig_load = S.commit, S.load_metadata
    counting = [True]
    loads = [0]
    fired: list[bool] = []

    def commit_after_race(*a, **kw):
        # the op has planned and written; the other commit lands first
        if not fired:
            fired.append(True)
            counting[0] = False
            try:
                race(other)
            finally:
                counting[0] = True
        return orig_commit(*a, **kw)

    def counted(*a, **kw):
        loads[0] += counting[0]
        return orig_load(*a, **kw)

    monkeypatch.setattr(S, "commit", commit_after_race)
    monkeypatch.setattr(S, "load_metadata", counted)
    try:
        OPS[op](spark, t, bases["ext"])
    except CommitConflictError:
        conflicted = True
    else:
        conflicted = False
    finally:
        monkeypatch.setattr(S, "commit", orig_commit)
        monkeypatch.setattr(S, "load_metadata", orig_load)

    assert fired, f"{op} never committed"
    if conflicted:
        return
    assert _rows(t) == _rows(serial), f"{op} vs {racer}: not the serial outcome"
    assert loads[0] == 2, f"{op} vs {racer}: {loads[0]} metadata loads"
