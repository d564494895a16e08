"""The SQL front-end reads statements with Spark's own parser
(lakehouse/sql.py): types and identifiers the parser knows, expressions
handed to the ops as parsed Columns (subqueries, EXISTS and lambdas
included), clauses it parses but the engine does not implement refused
by name, and refusals that run no Spark job."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from lakehouse import CLIPS_SCHEMA, Table
from lakehouse.catalog import Catalog
from lakehouse.sql import SqlDmlError
from lakehouse.synth import synth_clips_df


@pytest.fixture()
def wh(spark, tmp_path):
    cat = Catalog.create(str(tmp_path / "wh"))
    for name in ("clips", "twin"):
        cat.create_table(spark, name, CLIPS_SCHEMA)
        cat.load_table(spark, name).append(
            synth_clips_df(spark, 30, seed=11, n_days=2), target_file_count=2
        )
    return cat


def _rows(t):
    return sorted(tuple(r) for r in t.scan().collect())


def _state(cat, spark):
    """Everything a refused statement must leave as it was."""
    return sorted(
        (n, cat.load_table(spark, n).current_snapshot_id(),
         cat.load_table(spark, n).schema.json())
        for n in cat.tables()
    )


def test_types_and_keyword_column_names(spark, tmp_path):
    cat = Catalog.create(str(tmp_path / "wh"))
    t = cat.sql(
        spark,
        "CREATE TABLE typed (m map<string,int>, d decimal(10,2), "
        "`select` BIGINT, b STRING)",
    )
    assert [f.dataType for f in t.schema.fields] == [
        T.MapType(T.StringType(), T.IntegerType()),
        T.DecimalType(10, 2),
        T.LongType(),
        T.StringType(),
    ]
    t.sql("INSERT INTO typed (select, b) VALUES (1, 'x'), (2, 'y')")
    assert sorted((r["select"], r.b, r.m) for r in t.scan().collect()) == [
        (1, "x", None), (2, "y", None),
    ]


class TestParityWithPythonApi:
    """Each statement gives the rows the Python API gives for the same
    expression text."""

    @pytest.fixture()
    def doomed(self, spark, wh):
        ids = sorted(
            r.clip_id
            for r in wh.load_table(spark, "clips").scan().collect()
        )[:7]
        spark.createDataFrame(
            [(i,) for i in ids], "dead_id string"
        ).createOrReplaceTempView("doomed_v")
        return ids

    @pytest.mark.parametrize("pred", [
        "clip_id IN (SELECT dead_id FROM doomed_v)",
        "EXISTS (SELECT 1 FROM doomed_v WHERE dead_id = clip_id)",
    ])
    def test_delete_with_subquery(self, spark, wh, doomed, pred):
        clips, twin = (wh.load_table(spark, n) for n in ("clips", "twin"))
        wh.sql(spark, f"DELETE FROM clips WHERE {pred}")
        twin.delete(pred)
        assert _rows(clips) == _rows(twin)
        left = {r.clip_id for r in clips.scan().collect()}
        assert len(left) == 23 and not left & set(doomed)

    def test_update_set_with_lambda(self, spark, wh):
        clips, twin = (wh.load_table(spark, n) for n in ("clips", "twin"))
        value = "concat_ws('-', transform(split(codec, ''), c -> upper(c)))"
        wh.sql(spark, f"UPDATE clips SET codec = {value} WHERE sr_hz >= 16000")
        twin.update({"codec": value}, "sr_hz >= 16000")
        assert _rows(clips) == _rows(twin)
        changed = clips.scan().filter(F.col("codec").contains("-")).count()
        assert changed == clips.scan().filter("sr_hz >= 16000").count() > 0

    def test_nms_update_with_target_qualifier(self, spark, wh):
        clips, twin = (wh.load_table(spark, n) for n in ("clips", "twin"))
        before = {r.clip_id: r.codec for r in clips.scan().collect()}
        keep = sorted(before)[:6]
        src = clips.scan().filter(F.col("clip_id").isin(keep))
        src.createOrReplaceTempView("keep_v")
        wh.sql(
            spark,
            """MERGE INTO clips t USING keep_v s ON t.clip_id = s.clip_id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *
               WHEN NOT MATCHED BY SOURCE THEN UPDATE SET codec = upper(t.codec)""",
        )
        twin.merge(
            twin.scan().filter(F.col("clip_id").isin(keep)),
            key="clip_id",
            not_matched_by_source={"codec": "upper(codec)"},
        )
        assert _rows(clips) == _rows(twin)
        assert {r.clip_id: r.codec for r in clips.scan().collect()} == {
            k: v if k in keep else v.upper() for k, v in before.items()
        }


REFUSED = [
    ("""MERGE INTO clips t USING src_v s ON t.clip_id = s.clip_id
        WHEN MATCHED AND t.sr_hz > 0 THEN UPDATE SET *""", "MATCHED AND"),
    ("""MERGE INTO clips t USING src_v s ON t.clip_id = s.clip_id
        WHEN MATCHED THEN UPDATE SET codec = 'x'""", "UPDATE SET [*]"),
    ("CREATE TABLE nn (k BIGINT NOT NULL)", "NOT NULL"),
    ("CREATE TABLE cm (k BIGINT COMMENT 'why')", "COMMENT"),
    ("CREATE TABLE IF NOT EXISTS ine (k BIGINT)", "IF NOT EXISTS"),
    ("DROP TABLE IF EXISTS clips", "IF EXISTS"),
    ("CREATE TABLE us (k BIGINT) USING parquet", "USING"),
    ("CREATE TABLE loc (k BIGINT) LOCATION '/nowhere'", "LOCATION"),
    ("CREATE TABLE tp (k BIGINT) TBLPROPERTIES ('a' = 'b')", "TBLPROPERTIES"),
    ("CREATE TABLE dd (ts TIMESTAMP) PARTITIONED BY (days(ts))", "days"),
    ("ALTER TABLE clips ADD COLUMNS (a INT, b INT)", "ADD COLUMNS"),
    ("DELETE FROM clips c WHERE c.sr_hz > 0", "alias"),
]


@pytest.mark.parametrize("stmt,clause", REFUSED)
def test_unimplemented_clause_refused_by_name(spark, wh, stmt, clause):
    wh.load_table(spark, "clips").scan().limit(1).createOrReplaceTempView(
        "src_v"
    )
    before = _state(wh, spark)
    with pytest.raises(SqlDmlError, match=clause):
        wh.sql(spark, stmt)
    assert _state(wh, spark) == before


def test_refusals_run_no_spark_job(spark, wh):
    # the inputs of test_sqldml.TestRefusals.test_out_of_grammar
    wh.load_table(spark, "clips").scan().limit(1).createOrReplaceTempView(
        "clips_v"
    )
    bad = [
        "SELECT * FROM clips",
        "UPSERT INTO clips VALUES (1)",
        """MERGE INTO clips t USING clips_v s ON t.clip_id = s.clip_id
           WHEN MATCHED AND t.sr_hz > 0 THEN UPDATE SET *""",
        """MERGE INTO clips t USING clips_v s ON t.clip_id = s.clip_id
           WHEN MATCHED THEN UPDATE SET codec = 'x'""",
        """MERGE INTO clips t USING clips_v s ON t.clip_id = s.other_id
           WHEN MATCHED THEN UPDATE SET *""",
        """MERGE INTO clips t USING clips_v s ON t.a = s.b OR true
           WHEN MATCHED THEN UPDATE SET *""",
        """MERGE INTO clips t USING clips_v s ON x.clip_id = s.clip_id
           WHEN MATCHED THEN UPDATE SET *""",
    ]
    sc = spark.sparkContext
    try:
        sc.setJobGroup("sql-refusals", "refused statements")
        for stmt in bad:
            with pytest.raises(SqlDmlError):
                wh.sql(spark, stmt)
        assert list(sc.statusTracker().getJobIdsForGroup("sql-refusals")) == []
        # the probe sees jobs when there are some
        sc.setJobGroup("sql-control", "control")
        spark.range(3).count()
        assert list(sc.statusTracker().getJobIdsForGroup("sql-control"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_static_overwrite_of_int_partition(spark, tmp_path):
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("n", T.IntegerType()),
    ])
    t = Table.create(
        spark, str(tmp_path / "ints"), schema,
        partition_spec=[{"name": "n", "transform": "identity", "source": "n"}],
    )
    t.append(spark.createDataFrame([(i, i % 4) for i in range(40)], schema))
    t.sql(
        "INSERT OVERWRITE ints PARTITION (n = 3) "
        "SELECT CAST(900 + id AS BIGINT) AS k FROM range(2)"
    )
    got = {}
    for r in t.scan().collect():
        got.setdefault(r.n, set()).add(r.k)
    assert got[3] == {900, 901}
    for n in (0, 1, 2):
        assert got[n] == set(range(n, 40, 4))


def test_backticked_dashed_catalog_name(spark, tmp_path):
    cat = Catalog.create(str(tmp_path / "wh"))
    cat.create_table(
        spark, "my-tab", T.StructType([T.StructField("k", T.LongType())])
    )
    cat.sql(spark, "INSERT INTO `my-tab` VALUES (1), (2)")
    cat.sql(spark, "DELETE FROM `my-tab` WHERE k = 1")
    assert [r.k for r in cat.load_table(spark, "my-tab").scan().collect()] == [2]
    with pytest.raises(SqlDmlError):
        cat.sql(spark, "DELETE FROM my-tab WHERE k = 2")
