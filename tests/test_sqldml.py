"""SQL DML front-end (lakehouse/sqldml.py): MERGE INTO / UPDATE /
DELETE statements dispatched to the native ops — parity with the
Python-API calls they compile to, clause-combination semantics, and
the loud refusals for out-of-grammar text."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from lakehouse import CLIPS_SCHEMA, Table
from lakehouse.catalog import Catalog
from lakehouse.sqldml import SqlDmlError, execute_dml
from lakehouse.synth import synth_clips_df


@pytest.fixture()
def wh(spark, tmp_path):
    cat = Catalog.create(str(tmp_path / "wh"))
    cat.create_table(spark, "clips", CLIPS_SCHEMA)
    cat.load_table(spark, "clips").append(
        synth_clips_df(spark, 30, seed=11, n_days=2), target_file_count=2
    )
    return cat


def _ids(t):
    return sorted(r.clip_id for r in t.scan().select("clip_id").collect())


class TestDelete:
    @pytest.mark.parametrize("mode", ["cow", "mor"])
    def test_delete_where(self, spark, wh, mode):
        t = wh.load_table(spark, "clips")
        pre = set(_ids(t))
        doomed = set(sorted(pre)[:5])
        in_list = ", ".join(f"'{c}'" for c in doomed)
        wh.sql(
            spark,
            f"DELETE FROM clips WHERE clip_id IN ({in_list})",
            mode=mode,
        )
        assert set(_ids(t)) == pre - doomed
        assert t.scan().count() == 25

    def test_missing_where_refused(self, spark, wh):
        with pytest.raises(SqlDmlError, match="WHERE"):
            wh.sql(spark, "DELETE FROM clips")


class TestUpdate:
    def test_update_set_where(self, spark, wh):
        t = wh.load_table(spark, "clips")
        wh.sql(
            spark,
            "UPDATE clips SET transcript = upper(transcript), "
            "codec = 'upd' WHERE sr_hz >= 16000",
        )
        out = t.scan()
        n_hi = out.filter(F.col("sr_hz") >= 16000).count()
        assert n_hi > 0
        assert out.filter(F.col("codec") == "upd").count() == n_hi
        bad = out.filter(
            (F.col("sr_hz") >= 16000)
            & (F.col("transcript") != F.upper(F.col("transcript")))
        ).count()
        assert bad == 0

    def test_string_literal_with_keywords(self, spark, wh):
        # keywords inside string literals must not confuse the parser
        t = wh.load_table(spark, "clips")
        victim = _ids(t)[0]
        wh.sql(
            spark,
            "UPDATE clips SET transcript = 'WHEN MATCHED THEN DELETE , "
            f"SET WHERE' WHERE clip_id = '{victim}'",
        )
        got = (
            t.scan().filter(F.col("clip_id") == victim)
            .select("transcript").first()[0]
        )
        assert got == "WHEN MATCHED THEN DELETE , SET WHERE"


class TestMerge:
    def _src(self, spark, t, n=6, codec="v2"):
        return (
            t.scan().orderBy("clip_id").limit(n)
            .withColumn("codec", F.lit(codec))
        )

    @pytest.mark.parametrize("mode", ["cow", "mor"])
    def test_upsert_parity_with_python_api(self, spark, wh, mode, tmp_path):
        t = wh.load_table(spark, "clips")
        src = self._src(spark, t).unionByName(
            synth_clips_df(spark, 3, start=700, seed=12, n_days=1)
        )
        src.createOrReplaceTempView("merge_src")
        wh.sql(
            spark,
            """MERGE INTO clips AS t USING merge_src AS s
               ON t.clip_id = s.clip_id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""",
            mode=mode,
        )
        out = t.scan()
        assert out.count() == 33
        assert out.filter(F.col("codec") == "v2").count() == 6

    def test_using_subquery_and_bare_key(self, spark, wh):
        t = wh.load_table(spark, "clips")
        t.scan().createOrReplaceTempView("clips_v")
        wh.sql(
            spark,
            """MERGE INTO clips USING (
                 SELECT clip_id, bytes, sr_hz, dur_ms, codec,
                        'subq' AS transcript, ingest_ts, event_date
                 FROM clips_v LIMIT 4
               ) ON clip_id = clip_id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""",
        )
        assert t.scan().filter(
            F.col("transcript") == "subq"
        ).count() == 4

    def test_full_sync_nms_delete(self, spark, wh):
        t = wh.load_table(spark, "clips")
        keep = _ids(t)[:8]
        t.scan().filter(F.col("clip_id").isin(keep)).createOrReplaceTempView(
            "sync_src"
        )
        wh.sql(
            spark,
            """MERGE INTO clips t USING sync_src s ON t.clip_id = s.clip_id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *
               WHEN NOT MATCHED BY SOURCE THEN DELETE""",
        )
        assert _ids(t) == sorted(keep)

    def test_nms_delete_with_condition(self, spark, wh):
        t = wh.load_table(spark, "clips")
        before = t.scan()
        n_lo = before.filter(F.col("sr_hz") < 16000).count()
        keep = _ids(t)[:5]
        t.scan().filter(F.col("clip_id").isin(keep)).createOrReplaceTempView(
            "sync_src2"
        )
        wh.sql(
            spark,
            """MERGE INTO clips t USING sync_src2 s ON t.clip_id = s.clip_id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *
               WHEN NOT MATCHED BY SOURCE AND sr_hz < 16000 THEN DELETE""",
        )
        out = t.scan()
        # survivors: all non-low-rate rows + low-rate rows in the source
        assert out.count() == 30 - n_lo + sum(
            1
            for r in before.filter(F.col("clip_id").isin(keep)).collect()
            if r.sr_hz < 16000
        )
        assert out.filter(
            (F.col("sr_hz") < 16000) & ~F.col("clip_id").isin(keep)
        ).count() == 0

    def test_matched_delete_only(self, spark, wh):
        t = wh.load_table(spark, "clips")
        pre = set(_ids(t))
        doomed = sorted(pre)[:4]
        t.scan().filter(F.col("clip_id").isin(doomed)).createOrReplaceTempView(
            "del_src"
        )
        wh.sql(
            spark,
            """MERGE INTO clips t USING del_src s ON t.clip_id = s.clip_id
               WHEN MATCHED THEN DELETE""",
        )
        assert set(_ids(t)) == pre - set(doomed)
        assert t.scan().count() == 26

    def test_update_only_does_not_insert(self, spark, wh):
        t = wh.load_table(spark, "clips")
        src = self._src(spark, t, n=3, codec="uo").unionByName(
            synth_clips_df(spark, 5, start=800, seed=13, n_days=1)
        )
        src.createOrReplaceTempView("upd_src")
        wh.sql(
            spark,
            """MERGE INTO clips t USING upd_src s ON t.clip_id = s.clip_id
               WHEN MATCHED THEN UPDATE SET *""",
        )
        out = t.scan()
        assert out.count() == 30  # the 5 unmatched rows were NOT inserted
        assert out.filter(F.col("codec") == "uo").count() == 3

    def test_insert_only_does_not_update(self, spark, wh):
        t = wh.load_table(spark, "clips")
        src = self._src(spark, t, n=3, codec="io").unionByName(
            synth_clips_df(spark, 5, start=850, seed=14, n_days=1)
        )
        src.createOrReplaceTempView("ins_src")
        wh.sql(
            spark,
            """MERGE INTO clips t USING ins_src s ON t.clip_id = s.clip_id
               WHEN NOT MATCHED THEN INSERT *""",
        )
        out = t.scan()
        assert out.count() == 35
        assert out.filter(F.col("codec") == "io").count() == 0

    def test_table_bound_form(self, spark, tmp_path):
        t = Table.create(spark, str(tmp_path / "solo"), CLIPS_SCHEMA)
        t.append(synth_clips_df(spark, 10, seed=15, n_days=1))
        t.sql("DELETE FROM solo WHERE sr_hz < 16000")
        assert t.scan().filter(F.col("sr_hz") < 16000).count() == 0
        with pytest.raises(SqlDmlError, match="bound table"):
            t.sql("DELETE FROM other WHERE true")


class TestRefusals:
    def test_out_of_grammar(self, spark, wh):
        for bad, pat in [
            ("SELECT * FROM clips", "MERGE INTO / UPDATE / DELETE"),
            # TRUNCATE graduated to the DDL front-end in round 5 —
            # a still-unknown verb must keep refusing loudly
            ("UPSERT INTO clips VALUES (1)", "MERGE INTO / UPDATE / DELETE"),
            (
                """MERGE INTO clips t USING clips_v s ON t.clip_id = s.clip_id
                   WHEN MATCHED AND t.sr_hz > 0 THEN UPDATE SET *""",
                "MATCHED AND",
            ),
            (
                """MERGE INTO clips t USING clips_v s ON t.clip_id = s.clip_id
                   WHEN MATCHED THEN UPDATE SET codec = 'x'""",
                "UPDATE SET [*]",
            ),
            (
                """MERGE INTO clips t USING clips_v s ON t.clip_id = s.other_id
                   WHEN MATCHED THEN UPDATE SET *""",
                "SAME column",
            ),
            (
                """MERGE INTO clips t USING clips_v s ON t.a = s.b OR true
                   WHEN MATCHED THEN UPDATE SET *""",
                "equi-condition",
            ),
            (
                """MERGE INTO clips t USING clips_v s ON x.clip_id = s.clip_id
                   WHEN MATCHED THEN UPDATE SET *""",
                "qualifier",
            ),
        ]:
            wh.load_table(spark, "clips").scan().limit(1)\
                .createOrReplaceTempView("clips_v")
            with pytest.raises(SqlDmlError, match=pat):
                wh.sql(spark, bad)

    def test_nms_update_set_routes_dict(self, spark, wh):
        t = wh.load_table(spark, "clips")
        keep = _ids(t)[:6]
        t.scan().filter(F.col("clip_id").isin(keep)).createOrReplaceTempView(
            "nmsu_src"
        )
        wh.sql(
            spark,
            """MERGE INTO clips t USING nmsu_src s ON t.clip_id = s.clip_id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *
               WHEN NOT MATCHED BY SOURCE THEN
                   UPDATE SET codec = 'stale', transcript = upper(transcript)
            """,
        )
        out = t.scan()
        assert out.count() == 30
        assert out.filter(F.col("codec") == "stale").count() == 24


class TestClauseCombos:
    def test_nms_only_refused(self, spark, wh):
        wh.load_table(spark, "clips").scan().limit(2)\
            .createOrReplaceTempView("combo_src")
        with pytest.raises(SqlDmlError, match="needs a matched"):
            wh.sql(
                spark,
                """MERGE INTO clips t USING combo_src s
                   ON t.clip_id = s.clip_id
                   WHEN NOT MATCHED BY SOURCE THEN DELETE""",
            )

    def test_insert_only_plus_nms_refused(self, spark, wh):
        wh.load_table(spark, "clips").scan().limit(2)\
            .createOrReplaceTempView("combo_src2")
        with pytest.raises(SqlDmlError, match="insert-only pre-filter"):
            wh.sql(
                spark,
                """MERGE INTO clips t USING combo_src2 s
                   ON t.clip_id = s.clip_id
                   WHEN NOT MATCHED THEN INSERT *
                   WHEN NOT MATCHED BY SOURCE THEN DELETE""",
            )

    def test_matched_delete_plus_nms_full_purge_scoped(self, spark, wh):
        t = wh.load_table(spark, "clips")
        pre = sorted(_ids(t))
        doomed = pre[:3]
        t.scan().filter(F.col("clip_id").isin(doomed))\
            .createOrReplaceTempView("combo_src3")
        # delete the matched keys AND every unmatched row in-domain
        wh.sql(
            spark,
            f"""MERGE INTO clips t USING combo_src3 s
                ON t.clip_id = s.clip_id
                WHEN MATCHED THEN DELETE
                WHEN NOT MATCHED BY SOURCE
                    AND clip_id < '{pre[10]}' THEN DELETE""",
        )
        got = sorted(_ids(t))
        assert got == [c for c in pre[10:]]


class TestInsert:
    def test_insert_select(self, spark, wh):
        t = wh.load_table(spark, "clips")
        t.scan().createOrReplaceTempView("clips_all")
        wh.sql(
            spark,
            """INSERT INTO clips
               SELECT concat('ins-', clip_id), bytes, sr_hz, dur_ms,
                      codec, transcript, ingest_ts, event_date
               FROM clips_all LIMIT 4""",
        )
        out = t.scan()
        assert out.count() == 34
        assert out.filter(F.col("clip_id").startswith("ins-")).count() == 4

    def test_insert_values_with_column_list(self, spark, tmp_path):
        schema = T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("score", T.DoubleType()),
            ]
        )
        t = Table.create(spark, str(tmp_path / "kv"), schema)
        t.sql("INSERT INTO kv (k, name) VALUES (1, 'a'), (2, 'b')")
        rows = sorted(tuple(r) for r in t.scan().collect())
        assert rows == [(1, "a", None), (2, "b", None)]
        with pytest.raises(SqlDmlError, match="not in table schema"):
            t.sql("INSERT INTO kv (nope) VALUES (1)")
        with pytest.raises(SqlDmlError, match="column"):
            t.sql("INSERT INTO kv (k, name) VALUES (1)")
        with pytest.raises(SqlDmlError, match="SELECT/VALUES"):
            t.sql("INSERT INTO kv SET x = 1")

    def test_insert_respects_generated_and_identity(self, spark, tmp_path):
        schema = T.StructType(
            [
                T.StructField("rid", T.LongType()),
                T.StructField("v", T.LongType()),
                T.StructField("v2", T.LongType()),
            ]
        )
        t = Table.create(spark, str(tmp_path / "gen"), schema)
        t.set_generated_column("v2", "v * 2")
        t.set_identity_column("rid", start=10)
        t.sql("INSERT INTO gen (v) VALUES (3), (4)")
        rows = sorted((r.v, r.v2) for r in t.scan().collect())
        assert rows == [(3, 6), (4, 8)]
        rids = [r.rid for r in t.scan().collect()]
        assert len(set(rids)) == 2 and all(r >= 10 for r in rids)


class TestReviewFixes:
    """Round-4 review findings: op-column collision, depth-aware
    keyword splitting, alias-qualified NMS expressions."""

    def test_source_op_column_does_not_trigger_deletes(self, spark, wh):
        t = wh.load_table(spark, "clips")
        # CDC-shaped source: a column literally named 'op' with
        # 'delete' values must NOT be interpreted as the merge marker
        src = (
            t.scan().orderBy("clip_id").limit(5)
            .withColumn("codec", F.lit("cdc"))
            .withColumn("op", F.lit("delete"))
        )
        src.createOrReplaceTempView("cdc_src")
        wh.sql(
            spark,
            """MERGE INTO clips t USING cdc_src s ON t.clip_id = s.clip_id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""",
        )
        out = t.scan()
        assert out.count() == 30  # nothing deleted
        assert out.filter("codec = 'cdc'").count() == 5  # pure upsert

    def test_using_subquery_with_join_on(self, spark, wh):
        t = wh.load_table(spark, "clips")
        t.scan().createOrReplaceTempView("cv")
        # the JOIN's ON inside the subquery must not split the MERGE
        wh.sql(
            spark,
            """MERGE INTO clips USING (
                 SELECT a.clip_id, a.bytes, a.sr_hz, a.dur_ms,
                        'joined' AS codec, a.transcript, a.ingest_ts,
                        a.event_date
                 FROM cv a JOIN cv b ON a.clip_id = b.clip_id
                 LIMIT 3
               ) ON clip_id = clip_id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""",
        )
        assert t.scan().filter("codec = 'joined'").count() == 3

    def test_alias_qualified_nms_condition(self, spark, wh):
        t = wh.load_table(spark, "clips")
        keep = sorted(
            r.clip_id for r in t.scan().select("clip_id").limit(6).collect()
        )
        t.scan().filter(F.col("clip_id").isin(keep)).createOrReplaceTempView(
            "al_src"
        )
        wh.sql(
            spark,
            """MERGE INTO clips AS t USING al_src AS s
               ON t.clip_id = s.clip_id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *
               WHEN NOT MATCHED BY SOURCE AND t.sr_hz >= 0 THEN DELETE""",
        )
        assert sorted(
            r.clip_id for r in t.scan().select("clip_id").collect()
        ) == keep
        # source-qualified reference refused loudly
        with pytest.raises(SqlDmlError, match="TARGET row"):
            wh.sql(
                spark,
                """MERGE INTO clips AS t USING al_src AS s
                   ON t.clip_id = s.clip_id
                   WHEN MATCHED THEN UPDATE SET *
                   WHEN NOT MATCHED BY SOURCE AND s.sr_hz > 0 THEN DELETE""",
            )

    def test_double_quoted_literal_and_scalar_subquery(self, spark, wh):
        t = wh.load_table(spark, "clips")
        victim = sorted(
            r.clip_id for r in t.scan().select("clip_id").collect()
        )[0]
        wh.sql(
            spark,
            f'UPDATE clips SET transcript = "use WHERE wisely" '
            f"WHERE clip_id = '{victim}'",
        )
        got = (
            t.scan().filter(F.col("clip_id") == victim)
            .select("transcript").first()[0]
        )
        assert got == "use WHERE wisely"


class TestAdviceR4:
    """Round-4 ADVICE findings: parenthesized INSERT query body, and
    loud rejection of a caller-supplied op_col."""

    def test_insert_parenthesized_select_body(self, spark, wh):
        # standard SQL: INSERT INTO t (SELECT ...) — the paren group
        # is a query body, not a column list
        t = wh.load_table(spark, "clips")
        t.scan().createOrReplaceTempView("clips_all2")
        wh.sql(
            spark,
            """INSERT INTO clips
               (SELECT concat('par-', clip_id), bytes, sr_hz, dur_ms,
                       codec, transcript, ingest_ts, event_date
                FROM clips_all2 LIMIT 3)""",
        )
        out = t.scan()
        assert out.count() == 33
        assert out.filter(F.col("clip_id").startswith("par-")).count() == 3

    def test_insert_union_of_parenthesized_selects(self, spark, tmp_path):
        # (SELECT..) UNION ALL (SELECT..): outer parens are NOT one
        # balanced group — must reach the engine parser intact
        schema = T.StructType([T.StructField("k", T.LongType())])
        t = Table.create(spark, str(tmp_path / "kv_u"), schema)
        t.sql(
            "INSERT INTO kv_u (SELECT 1 AS k) UNION ALL (SELECT 2 AS k)"
        )
        assert sorted(r.k for r in t.scan().collect()) == [1, 2]

    def test_merge_rejects_op_col_kwarg(self, spark, wh):
        t = wh.load_table(spark, "clips")
        t.scan().limit(2).createOrReplaceTempView("src2")
        with pytest.raises(SqlDmlError, match="op_col"):
            wh.sql(
                spark,
                """MERGE INTO clips t USING src2 s ON t.clip_id = s.clip_id
                   WHEN MATCHED THEN UPDATE SET *""",
                op_col="op",
            )


class TestInsertOverwrite:
    """INSERT OVERWRITE text form: PARTITION (...) → a static partition
    replace; without it, ``spark.sql.sources.partitionOverwriteMode``
    decides — ``static`` (Spark's default) replaces the whole table,
    ``dynamic`` the partitions the query's rows land in."""

    @pytest.fixture()
    def days(self, spark, tmp_path):
        schema = T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("day", T.StringType()),
        ])
        t = Table.create(
            spark, str(tmp_path / "days"), schema,
            partition_spec=[
                {"name": "day", "transform": "identity", "source": "day"}
            ],
        )
        t.append(spark.createDataFrame(
            [(i, str(i % 3)) for i in range(30)], schema
        ))
        return t

    def test_static_partition_with_omitted_column(self, spark, days):
        # Spark semantics: the listed partition column may be omitted
        # from the query body and fills from its literal
        days.sql(
            "INSERT OVERWRITE days PARTITION (day = '1') "
            "SELECT CAST(900 + id AS BIGINT) AS k FROM range(2)"
        )
        out = days.scan()
        assert out.filter("day = '1'").count() == 2
        assert out.filter("day = '0'").count() == 10  # untouched
        assert out.count() == 22
        ks = sorted(r.k for r in out.filter("day = '1'").collect())
        assert ks == [900, 901]

    @pytest.fixture()
    def overwrite_mode(self, spark):
        key = "spark.sql.sources.partitionOverwriteMode"
        before = spark.conf.get(key, None)
        yield lambda mode: spark.conf.set(key, mode)
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)

    def test_dynamic_overwrite(self, spark, days, overwrite_mode):
        overwrite_mode("dynamic")
        days.sql(
            "INSERT OVERWRITE TABLE days "
            "SELECT CAST(id AS BIGINT) AS k, '2' AS day FROM range(3)"
        )
        out = days.scan()
        assert out.filter("day = '2'").count() == 3  # replaced
        assert out.filter("day = '0'").count() == 10
        assert out.filter("day = '1'").count() == 10
        assert out.count() == 23

    def test_static_overwrite_replaces_partitioned_table(
        self, spark, days, overwrite_mode
    ):
        # Spark's default mode: the query's rows replace every live file
        overwrite_mode("static")
        before = days.current_snapshot_id()
        n_files = len(days.plan().files)
        days.sql(
            "INSERT OVERWRITE TABLE days "
            "SELECT CAST(id AS BIGINT) AS k, '2' AS day FROM range(3)"
        )
        rows = sorted(tuple(r) for r in days.scan().collect())
        assert rows == [(0, "2"), (1, "2"), (2, "2")]
        snaps = days.snapshots()
        assert snaps[-1].parent_snapshot_id == before  # one commit
        assert snaps[-1].summary["removed_files"] == n_files

    def test_static_overwrite_replaces_unpartitioned_table(
        self, spark, tmp_path, overwrite_mode
    ):
        overwrite_mode("static")
        schema = T.StructType([T.StructField("k", T.LongType())])
        t = Table.create(spark, str(tmp_path / "flat"), schema)
        t.append(spark.range(5).select(F.col("id").alias("k")))
        t.delete([("k", "=", 0)], mode="mor", key="k")  # a pending delete
        before = t.current_snapshot_id()
        t.sql("INSERT OVERWRITE flat SELECT id + 10 AS k FROM range(2)")
        assert sorted(r.k for r in t.scan().collect()) == [10, 11]
        assert t.snapshots()[-1].parent_snapshot_id == before
        assert not t.plan().delete_files

    def test_overwrite_refusals(self, spark, days):
        with pytest.raises(SqlDmlError, match="not a partition"):
            days.sql(
                "INSERT OVERWRITE days PARTITION (k = 1) "
                "SELECT CAST(1 AS BIGINT) AS k, '0' AS day"
            )
        with pytest.raises(SqlDmlError, match="SELECT/VALUES"):
            days.sql("INSERT OVERWRITE days SET x = 1")
        with pytest.raises(SqlDmlError, match="PARTITION entry"):
            days.sql(
                "INSERT OVERWRITE days PARTITION (day) SELECT 1 AS k"
            )
