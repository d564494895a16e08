"""Write-time CHECK constraints (Delta-invariants analog, built from
scratch on the property + commit machinery; lakehouse/constraints.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse.errors import ConstraintViolationError
from lakehouse.schema import CLIPS_SCHEMA
from lakehouse.synth import synth_clips_df
from lakehouse.table import Table


@pytest.fixture()
def t(spark, table_root):
    t = Table.create(spark, table_root, CLIPS_SCHEMA)
    t.append(synth_clips_df(spark, 40, seed=1, n_days=4))
    return t


def _bad_rows(spark, t, **overrides):
    df = synth_clips_df(spark, 4, seed=9, n_days=2, start=1000)
    for c, v in overrides.items():
        df = df.withColumn(c, F.lit(v).cast(dict(df.dtypes)[c]))
    return df


def test_add_enforce_and_drop(spark, t):
    t.add_check_constraint("dur_pos", "dur_ms > 0")
    t.add_check_constraint("sr_known", "sr_hz IN (8000, 16000, 44100, 48000)")
    assert set(t.check_constraints()) == {"dur_pos", "sr_known"}

    # clean rows commit fine
    before = t.current_snapshot_id()
    t.append(synth_clips_df(spark, 8, seed=2, n_days=2, start=100))

    # violating rows fail the JOB and commit NOTHING (ACID)
    snap = t.current_snapshot_id()
    with pytest.raises(Exception, match="dur_pos"):
        t.append(_bad_rows(spark, t, dur_ms=-5))
    assert t.current_snapshot_id() == snap
    assert t.scan().where("dur_ms <= 0").count() == 0
    assert before != snap  # the clean append did land

    # dropped constraint stops enforcement
    t.drop_check_constraint("dur_pos")
    t.drop_check_constraint("sr_known")
    t.append(_bad_rows(spark, t, dur_ms=-5))
    assert t.scan().where("dur_ms <= 0").count() == 4


def test_null_passes_sql_rule(spark, t):
    t.add_check_constraint("codec_known", "codec = 'pcm16'")
    df = synth_clips_df(spark, 2, seed=3, n_days=1, start=2000).withColumn(
        "codec", F.lit(None).cast("string")
    )
    t.append(df)  # NULL is not FALSE -> passes
    assert t.scan().where("codec IS NULL").count() == 2


def test_add_rejected_when_existing_rows_violate(spark, t):
    with pytest.raises(ConstraintViolationError, match="existing row"):
        t.add_check_constraint("impossible", "dur_ms > 1000000")
    assert t.check_constraints() == {}


def test_merge_path_enforces(spark, t):
    t.add_check_constraint("dur_pos", "dur_ms > 0")
    src = _bad_rows(spark, t, dur_ms=-1)
    snap = t.current_snapshot_id()
    with pytest.raises(Exception, match="dur_pos"):
        t.merge(src, key="clip_id")
    assert t.current_snapshot_id() == snap


def test_update_set_enforces(spark, t):
    t.add_check_constraint("dur_pos", "dur_ms > 0")
    with pytest.raises(Exception, match="dur_pos"):
        t.update({"dur_ms": "-dur_ms"}, "dur_ms > 0")


def test_duplicate_name_and_bad_name_rejected(spark, t):
    t.add_check_constraint("c1", "dur_ms > 0")
    with pytest.raises(ValueError, match="already exists"):
        t.add_check_constraint("c1", "dur_ms > 10")
    with pytest.raises(ValueError, match="identifier"):
        t.add_check_constraint("bad name!", "dur_ms > 0")
    with pytest.raises(ValueError, match="no CHECK constraint"):
        t.drop_check_constraint("nope")


def test_rename_drop_column_guarded(spark, t):
    t.add_check_constraint("dur_pos", "dur_ms > 0")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        t.rename_column("dur_ms", "duration_ms")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        t.drop_column("dur_ms")
    # unreferenced columns evolve freely
    t.rename_column("codec", "codec_name")
    t.drop_check_constraint("dur_pos")
    t.rename_column("dur_ms", "duration_ms")


def test_enforcement_is_jvm_map_side(spark, t):
    """The constraint predicate must fuse into the write projection:
    no Python node, no extra Exchange, for the 10^12-row write path."""
    from lakehouse.constraints import enforce

    df = enforce(
        synth_clips_df(spark, 8, seed=4, n_days=2, start=300).select(
            "clip_id", "dur_ms"
        ),
        {"dur_pos": "dur_ms > 0"},
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "raise_error" in plan


# --- generated columns ------------------------------------------------------


def test_generated_column_computed_and_validated(spark, tmp_path):
    from pyspark.sql import functions as F

    from lakehouse import Table
    from lakehouse.schema import CLICK_EVENT_SCHEMA  # noqa: F401
    from lakehouse.synth import synth_clips_df
    from lakehouse.schema import CLIPS_SCHEMA

    t = Table.create(
        spark, str(tmp_path / "t"), CLIPS_SCHEMA,
        partition_spec=[{"name": "event_date", "transform": "identity",
                         "source": "event_date"}],
    )
    t.set_generated_column("event_date", "to_date(ingest_ts)")

    base = synth_clips_df(spark, 24, seed=31, n_days=3)
    # writer OMITS the generated column -> computed on write
    t.append(base.drop("event_date"), target_file_count=2)
    got = t.scan()
    assert got.filter(
        F.col("event_date") != F.to_date("ingest_ts")).count() == 0
    assert got.filter(F.col("event_date").isNull()).count() == 0
    # partition pruning works over the computed values
    d = got.select("event_date").first()[0]
    plan = t.plan(filter=[("event_date", "=", d)])
    assert len(plan.files) < 2 * 3

    # writer supplies the CORRECT value -> accepted
    t.append(base.limit(4), target_file_count=1)
    # writer supplies a WRONG value -> job fails before any commit
    n_snaps = len(t.snapshots())
    bad = base.limit(3).withColumn(
        "event_date", F.to_date(F.lit("1999-01-01"))
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="__generated_event_date"):
        t.append(bad, target_file_count=1)
    assert len(t.snapshots()) == n_snaps, "failed write must not commit"

    # dependent-column changes refused (source column of the rule)
    with _pytest.raises(Exception, match="generated"):
        t.rename_column("ingest_ts", "ts2")
    # the generated column itself, on an UNPARTITIONED table (the
    # partitioned one refuses the drop earlier, as a partition source)
    t2 = Table.create(spark, str(tmp_path / "t2"), CLIPS_SCHEMA)
    t2.set_generated_column("event_date", "to_date(ingest_ts)")
    with _pytest.raises(Exception, match="generated"):
        t2.drop_column("event_date")
    # dropping the rule re-allows plain writes
    t.drop_generated_column_rule("event_date")
    t.append(bad, target_file_count=1)


def test_generated_add_validates_existing_rows(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from lakehouse import Table
    from lakehouse.errors import ConstraintViolationError
    from lakehouse.schema import CLIPS_SCHEMA
    from lakehouse.synth import synth_clips_df

    t = Table.create(spark, str(tmp_path / "t"), CLIPS_SCHEMA)
    t.append(
        synth_clips_df(spark, 10, seed=32, n_days=2).withColumn(
            "event_date", F.to_date(F.lit("1999-01-01"))
        ),
        target_file_count=1,
    )
    with _pytest.raises(ConstraintViolationError):
        t.set_generated_column("event_date", "to_date(ingest_ts)")


def _rid_table(spark, root):
    from pyspark.sql import types as T

    t = Table.create(spark, root, T.StructType([
        T.StructField("rid", T.LongType()),
        T.StructField("payload", T.StringType()),
    ]))
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "rid long, payload string"
    ))
    return t


#: setter -> (table builder, the setter, an append that breaks its rule)
RACED_SETTERS = {
    "check": (
        lambda spark, root: _rid_table(spark, root),
        lambda t: t.add_check_constraint("rid_small", "rid < 100"),
        lambda spark, t: t.append(
            spark.createDataFrame([(500, "x")], "rid long, payload string")
        ),
    ),
    "generated": (
        lambda spark, root: Table.create(spark, root, CLIPS_SCHEMA),
        lambda t: t.set_generated_column("event_date", "to_date(ingest_ts)"),
        lambda spark, t: t.append(
            _bad_rows(spark, t, event_date="1999-01-01")
        ),
    ),
    "identity": (
        lambda spark, root: _rid_table(spark, root),
        lambda t: t.set_identity_column("rid"),
        lambda spark, t: t.append(
            spark.createDataFrame([(500, "x")], "rid long, payload string")
        ),
    ),
}


@pytest.mark.parametrize("setter", sorted(RACED_SETTERS))
def test_setter_conflicts_with_rows_appended_after_its_check(
    spark, tmp_path, monkeypatch, setter
):
    """The rule setters validate the existing rows and commit on the
    version they validated: a breaking row appended between the check
    and the commit makes the commit raise, instead of landing a rule
    the table already breaks."""
    from lakehouse.errors import CommitConflictError
    from lakehouse.meta import snapshots as S

    build, set_rule, break_rule = RACED_SETTERS[setter]
    t = build(spark, str(tmp_path / "t"))
    other = Table.load(spark, t.root)
    orig_commit = S.commit
    fired: list[bool] = []

    def commit_after_race(*a, **kw):
        if not fired:
            fired.append(True)
            break_rule(spark, other)
        return orig_commit(*a, **kw)

    monkeypatch.setattr(S, "commit", commit_after_race)
    props = dict(t.meta.properties)
    with pytest.raises(CommitConflictError):
        set_rule(t)
    monkeypatch.undo()
    assert fired
    assert t.meta.properties == props
