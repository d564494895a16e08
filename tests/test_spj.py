"""Storage-partitioned join: parity with a plain Spark join, plan gate
(no join node, no data exchange), left-outer nulls, and the guard rails
(bucket-spec mismatch, pending MoR deletes, pre-spec files)."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from lakehouse import Table
from lakehouse.spj import SpjError, storage_partitioned_join

SCHEMA_A = T.StructType(
    [
        T.StructField("uid", T.LongType()),
        T.StructField("event", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)
SCHEMA_B = T.StructType(
    [
        T.StructField("uid", T.LongType()),
        T.StructField("segment", T.StringType()),
        T.StructField("score", T.LongType()),
    ]
)


def _bucket_spec(n=4):
    return [{"name": "uid_bucket", "transform": "bucket", "source": "uid", "n": n}]


def _mk(spark, root, schema, df, n=4, files=3):
    t = Table.create(spark, str(root), schema, partition_spec=_bucket_spec(n))
    t.append(df, target_file_count=files)
    return t


def _df_a(spark, rows=200):
    return spark.range(rows).select(
        (F.col("id") % 37).alias("uid"),
        F.concat(F.lit("e"), (F.col("id") % 5).cast("string")).alias("event"),
        (F.col("id") * 1.5).alias("value"),
    )


def _df_b(spark, uids=30):
    return spark.range(uids).select(
        F.col("id").alias("uid"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("segment"),
        (F.col("id") * 10).alias("score"),
    )


def _sorted_rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


class TestSpj:
    def test_inner_parity_with_spark_join(self, spark, tmp_path):
        ta = _mk(spark, tmp_path / "a", SCHEMA_A, _df_a(spark))
        tb = _mk(spark, tmp_path / "b", SCHEMA_B, _df_b(spark))
        got = storage_partitioned_join(ta, tb, on="uid")
        want = ta.scan().join(tb.scan(), on="uid", how="inner").select(
            "uid", "event", "value", "segment", "score"
        )
        assert _sorted_rows(got) == _sorted_rows(want)

    def test_plan_has_no_join_and_no_data_exchange(self, spark, tmp_path):
        ta = _mk(spark, tmp_path / "a", SCHEMA_A, _df_a(spark))
        tb = _mk(spark, tmp_path / "b", SCHEMA_B, _df_b(spark))
        got = storage_partitioned_join(ta, tb, on="uid")
        plan = got._jdf.queryExecution().executedPlan().toString()
        for node in (
            "SortMergeJoin",
            "BroadcastHashJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
        ):
            assert node not in plan, plan
        # the only exchange allowed is the ≤N-row task-frame round-robin
        assert plan.count("Exchange") <= 1, plan

    def test_left_outer_nulls(self, spark, tmp_path):
        ta = _mk(spark, tmp_path / "a", SCHEMA_A, _df_a(spark))
        # B covers only uids 0..9 → uids 10..36 must survive with nulls
        tb = _mk(spark, tmp_path / "b", SCHEMA_B, _df_b(spark, uids=10))
        got = storage_partitioned_join(ta, tb, on="uid", how="left")
        want = ta.scan().join(tb.scan(), on="uid", how="left").select(
            "uid", "event", "value", "segment", "score"
        )
        assert _sorted_rows(got) == _sorted_rows(want)
        assert got.filter("segment IS NULL").count() > 0
        # integral column survives null injection as a proper null
        assert got.filter("score IS NULL").count() == got.filter(
            "segment IS NULL"
        ).count()

    def test_left_outer_missing_bucket_entirely(self, spark, tmp_path):
        ta = _mk(spark, tmp_path / "a", SCHEMA_A, _df_a(spark))
        tb = Table.create(
            spark, str(tmp_path / "b"), SCHEMA_B, partition_spec=_bucket_spec()
        )
        # empty B: every A row survives, B columns all null
        got = storage_partitioned_join(ta, tb, on="uid", how="left")
        assert got.count() == 200
        assert got.filter("segment IS NOT NULL").count() == 0

    def test_column_selection(self, spark, tmp_path):
        ta = _mk(spark, tmp_path / "a", SCHEMA_A, _df_a(spark))
        tb = _mk(spark, tmp_path / "b", SCHEMA_B, _df_b(spark))
        got = storage_partitioned_join(
            ta, tb, on="uid", select_a=["value"], select_b=["segment"]
        )
        assert got.columns == ["uid", "value", "segment"]

    def test_survives_compaction_and_rename(self, spark, tmp_path):
        """Maintenance rewrites keep bucket values; field-id rename maps
        physical names in already-written files."""
        ta = _mk(spark, tmp_path / "a", SCHEMA_A, _df_a(spark), files=6)
        tb = _mk(spark, tmp_path / "b", SCHEMA_B, _df_b(spark))
        ta.compact()
        tb.rename_column("segment", "tier")
        got = storage_partitioned_join(
            ta, tb, on="uid", select_a=["event"], select_b=["tier"]
        )
        want = ta.scan().join(tb.scan(), on="uid").select("uid", "event", "tier")
        assert _sorted_rows(got) == _sorted_rows(want)

    def test_guards(self, spark, tmp_path):
        ta = _mk(spark, tmp_path / "a", SCHEMA_A, _df_a(spark))
        # bucket-count mismatch
        tb8 = _mk(spark, tmp_path / "b8", SCHEMA_B, _df_b(spark), n=8)
        with pytest.raises(SpjError, match="bucket counts differ"):
            storage_partitioned_join(ta, tb8, on="uid")
        # unpartitioned side
        tnb = Table.create(spark, str(tmp_path / "nb"), SCHEMA_B)
        tnb.append(_df_b(spark), target_file_count=1)
        with pytest.raises(SpjError, match="not bucket-partitioned"):
            storage_partitioned_join(ta, tnb, on="uid")
        # pending MoR deletes
        tb = _mk(spark, tmp_path / "b", SCHEMA_B, _df_b(spark))
        tb.delete([("uid", "=", 3)], mode="mor", key="uid")
        with pytest.raises(SpjError, match="merge-on-read"):
            storage_partitioned_join(ta, tb, on="uid")
        tb.materialize_deletes()
        assert storage_partitioned_join(ta, tb, on="uid").count() > 0
        # overlapping output names
        with pytest.raises(SpjError, match="disjoint"):
            storage_partitioned_join(
                ta, tb, on="uid", select_a=["event"], select_b=["uid"]
            )

    def test_pre_spec_file_refused_then_cluster_migrates(
        self, spark, tmp_path
    ):
        """The documented onboarding path for an existing table:
        update_partition_spec to bucket(N, key), then cluster() — whose
        rewrite derives partition values under the CURRENT spec — after
        which the table storage-partition-joins."""
        t = Table.create(spark, str(tmp_path / "t"), SCHEMA_A)
        t.append(_df_a(spark), target_file_count=1)
        t.update_partition_spec(_bucket_spec())
        tb = _mk(spark, tmp_path / "b", SCHEMA_B, _df_b(spark))
        with pytest.raises(SpjError, match="predates"):
            storage_partitioned_join(t, tb, on="uid")
        t.cluster(["uid"])
        got = storage_partitioned_join(t, tb, on="uid")
        want = t.scan().join(tb.scan(), on="uid").select(
            "uid", "event", "value", "segment", "score"
        )
        assert _sorted_rows(got) == _sorted_rows(want)


class TestSpjFullAndCogroup:
    def test_full_outer_parity(self, spark, tmp_path):
        # A misses uids 37+, B misses nothing below 45; disjoint tails
        ta = _mk(spark, tmp_path / "a", SCHEMA_A, _df_a(spark))     # uids 0..36
        tb = _mk(spark, tmp_path / "b", SCHEMA_B, _df_b(spark, uids=45))
        got = storage_partitioned_join(ta, tb, on="uid", how="full")
        want = ta.scan().join(tb.scan(), on="uid", how="full").select(
            "uid", "event", "value", "segment", "score"
        )
        assert _sorted_rows(got) == _sorted_rows(want)
        # B-only uids appear with null A columns
        assert got.filter("event IS NULL").count() > 0

    def test_cogroup_custom_reconcile(self, spark, tmp_path):
        """Per-bucket custom logic: count of A rows per uid joined with
        B's segment, computed inside the cogroup kernel — no shuffle."""
        from lakehouse.spj import storage_partitioned_cogroup

        ta = _mk(spark, tmp_path / "a", SCHEMA_A, _df_a(spark))
        tb = _mk(spark, tmp_path / "b", SCHEMA_B, _df_b(spark))
        out_schema = T.StructType(
            [
                T.StructField("uid", T.LongType()),
                T.StructField("n", T.LongType()),
                T.StructField("segment", T.StringType()),
            ]
        )

        def reconcile(a, b):
            g = a.groupby("uid").size().reset_index(name="n")
            return g.merge(b[["uid", "segment"]], on="uid", how="left")

        got = storage_partitioned_cogroup(
            ta, tb, on="uid", func=reconcile, schema=out_schema,
            select_a=["event"], select_b=["segment"],
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan.replace("join", "")
        want = (
            ta.scan()
            .groupBy("uid")
            .count()
            .withColumnRenamed("count", "n")
            .join(tb.scan().select("uid", "segment"), on="uid", how="left")
        )
        assert _sorted_rows(got) == _sorted_rows(want)


class TestSpjNullKeys:
    """SQL equi-join three-valued logic: NULL keys never match (ADVICE
    r3 high finding — pandas merge pairs NaN==NaN and null keys DO
    co-locate in one bucket)."""

    def _tables(self, spark, tmp_path, nulls_a=3, nulls_b=2):
        a = _df_a(spark).union(
            spark.range(nulls_a).select(
                F.lit(None).cast("long").alias("uid"),
                F.concat(F.lit("na"), F.col("id").cast("string")).alias(
                    "event"
                ),
                F.col("id").cast("double").alias("value"),
            )
        )
        b = _df_b(spark).union(
            spark.range(nulls_b).select(
                F.lit(None).cast("long").alias("uid"),
                F.concat(F.lit("nb"), F.col("id").cast("string")).alias(
                    "segment"
                ),
                (F.col("id") + 100).alias("score"),
            )
        )
        ta = _mk(spark, tmp_path / "a", SCHEMA_A, a)
        tb = _mk(spark, tmp_path / "b", SCHEMA_B, b)
        return ta, tb

    @pytest.mark.parametrize("how", ["inner", "left", "full"])
    def test_null_key_parity_with_spark_join(self, spark, tmp_path, how):
        ta, tb = self._tables(spark, tmp_path)
        got = storage_partitioned_join(ta, tb, on="uid", how=how)
        want = ta.scan().join(tb.scan(), on="uid", how=how).select(
            "uid", "event", "value", "segment", "score"
        )
        key = lambda rows: sorted(
            tuple("\0" if v is None else str(v) for v in r)
            for r in rows.collect()
        )
        assert key(got) == key(want)

    def test_inner_emits_no_null_null_pairs(self, spark, tmp_path):
        ta, tb = self._tables(spark, tmp_path)
        got = storage_partitioned_join(ta, tb, on="uid", how="inner")
        assert got.filter(F.col("uid").isNull()).count() == 0

    def test_outer_null_rows_survive_unmatched(self, spark, tmp_path):
        ta, tb = self._tables(spark, tmp_path, nulls_a=3, nulls_b=2)
        left = storage_partitioned_join(ta, tb, on="uid", how="left")
        nl = left.filter(F.col("uid").isNull())
        assert nl.count() == 3  # A's null-key rows, B side null-filled
        assert nl.filter(F.col("segment").isNotNull()).count() == 0
        full = storage_partitioned_join(ta, tb, on="uid", how="full")
        assert full.filter(F.col("uid").isNull()).count() == 5


class TestSpjPlanCap:
    def test_max_plan_bytes_guard(self, spark, tmp_path):
        ta = _mk(spark, tmp_path / "a", SCHEMA_A, _df_a(spark))
        tb = _mk(spark, tmp_path / "b", SCHEMA_B, _df_b(spark))
        with pytest.raises(SpjError, match="max_plan_bytes"):
            storage_partitioned_join(ta, tb, on="uid", max_plan_bytes=10)


class TestSpjSemiAnti:
    """Filtering joins over co-bucketed tables (the 10^12-row
    decontamination shape): zero exchange, B side read key-column-only,
    NULL keys follow Spark's semantics (semi drops, anti keeps)."""

    def _tables(self, spark, tmp_path):
        a = _df_a(spark).union(
            spark.range(2).select(
                F.lit(None).cast("long").alias("uid"),
                F.lit("na").alias("event"),
                F.lit(0.0).alias("value"),
            )
        )
        ta = _mk(spark, tmp_path / "a", SCHEMA_A, a)
        tb = _mk(spark, tmp_path / "b", SCHEMA_B, _df_b(spark, uids=20))
        return ta, tb

    @pytest.mark.parametrize("how", ["left_semi", "left_anti"])
    def test_parity_with_spark_join(self, spark, tmp_path, how):
        ta, tb = self._tables(spark, tmp_path)
        got = storage_partitioned_join(ta, tb, on="uid", how=how)
        assert got.columns == ["uid", "event", "value"]
        want = ta.scan().join(
            tb.scan().select("uid"), on="uid", how=how
        ).select("uid", "event", "value")
        key = lambda df: sorted(
            tuple("\0" if v is None else str(v) for v in r)
            for r in df.collect()
        )
        assert key(got) == key(want)

    def test_anti_keeps_null_keys_and_unmatched_buckets(
        self, spark, tmp_path
    ):
        ta, tb = self._tables(spark, tmp_path)
        anti = storage_partitioned_join(ta, tb, on="uid", how="left_anti")
        assert anti.filter(F.col("uid").isNull()).count() == 2
        semi = storage_partitioned_join(ta, tb, on="uid", how="left_semi")
        assert semi.filter(F.col("uid").isNull()).count() == 0
        assert semi.count() + anti.count() == ta.scan().count()

    def test_select_b_refused(self, spark, tmp_path):
        ta, tb = self._tables(spark, tmp_path)
        with pytest.raises(SpjError, match="no B-side columns"):
            storage_partitioned_join(
                ta, tb, on="uid", how="left_semi", select_b=["segment"]
            )


def test_semi_anti_int64_keys_stay_exact_with_nulls(spark, tmp_path):
    """Review fix: a null-containing int64 key column must not round-
    trip through float64 (keys beyond 2^53 would alias); the nullable
    Int64 read keeps membership exact."""
    big = (1 << 53) + 1
    S = T.StructType(
        [T.StructField("uid", T.LongType()), T.StructField("v", T.StringType())]
    )
    spec = [{"name": "b", "transform": "bucket", "source": "uid", "n": 4}]
    ta = Table.create(spark, str(tmp_path / "a"), S, partition_spec=spec)
    tb = Table.create(spark, str(tmp_path / "b"), S, partition_spec=spec)
    ta.append(spark.createDataFrame([(big, "big"), (7, "x"), (None, "n")], S))
    tb.append(spark.createDataFrame([(big - 1, "near"), (7, "y")], S))
    from lakehouse.spj import storage_partitioned_join

    semi = storage_partitioned_join(ta, tb, on="uid", how="left_semi")
    assert [(r.uid, r.v) for r in semi.collect()] == [(7, "x")]
    anti = storage_partitioned_join(ta, tb, on="uid", how="left_anti")
    got = sorted((str(r.uid), r.v) for r in anti.collect())
    assert got == sorted([(str(big), "big"), ("None", "n")])


def test_spj_reads_add_column_default(spark, tmp_path):
    """Files written before ``ADD COLUMN ... DEFAULT`` join with the
    default, exactly as ``Table.scan()`` reads them."""
    ta = _mk(spark, tmp_path / "a", SCHEMA_A, _df_a(spark))
    tb = _mk(spark, tmp_path / "b", SCHEMA_B, _df_b(spark))
    ta.add_column("score", "bigint", default=7)
    got = storage_partitioned_join(
        ta, tb, on="uid", select_a=["score"], select_b=["segment"]
    )
    want = ta.scan().select("uid", "score").join(
        tb.scan().select("uid", "segment"), on="uid"
    )
    assert _sorted_rows(got) == _sorted_rows(want)
    assert {r.score for r in got.collect()} == {7}
