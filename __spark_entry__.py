"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: builds a lakehouse table from the sf0.001
events parquet, runs the full maintenance cycle (append → compact →
Z-order cluster → MERGE → expire), and returns the post-maintenance
scan aggregate (proving scan parity survives the whole cycle).

``queries()`` / ``oracle_sql()`` — one entry per operator family:

- reference ingest-pipeline operators (SURVEY.md §2 P1–P8): JSON
  decode, flatten, timestamp/date derivation, defensive casts;
- analytics surface: aggregation, broadcast join, window functions;
- lakehouse maintenance (the engine core): compact / cluster / time
  travel / expire+GC / MERGE INTO — each builds a real table from the
  events parquet, runs the op, and returns the post-op scan, so the
  DuckDB oracle (plain SQL over the same parquet) IS the byte-identical
  scan-parity gate from the north rule;
- training-data ops: exact/Jaccard/MinHash-LSH/SimHash dedup, text
  quality + language-ID + token stats + fingerprints, cosine top-k +
  LSH ANN + embedding near-dup;
- audio payload ops (no SQL oracle — rows-only check): vectorized WAV
  decode, SNR invariant.

Numeric discipline for oracle parity: money-style sums go through
DECIMAL(18,4) (exact, order-insensitive) then cast to double; ratios
and cosines are rounded to 4 decimals with id tie-breaks before any
ranking; timestamps compare as unix micros (``unix_micros`` vs
``epoch_us``) with the Spark session pinned to UTC.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse.stablemath import stable_round
from pyspark.sql.window import Window

SF0001 = "/root/testdata/sf0.001"

EVENTS_OUT_SQL = (
    "SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, "
    "props, CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s FROM events"
)


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    _utc(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + derived event_date (reference op P7, glue_stream.py:239)."""
    df = _read(spark, sf_dir, "events")
    return df.withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withColumn("event_date", F.to_date("ts"))


def _events_out(df: DataFrame) -> DataFrame:
    """Comparable projection: timestamps → unix micros, dates → strings."""
    return df.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
        F.col("event_date").cast("string").alias("event_date_s"),
    )


def _dec_sum(col, alias, scale=4):
    return (
        F.sum(col.cast(f"decimal(18,{scale})")).cast("double").alias(alias)
    )


def _events_table(spark: SparkSession, sf_dir: str, *, appends: int = 4,
                  files_per_append: int = 4):
    """Build a real lakehouse table from the events parquet, appended in
    chunks so compaction has small files to work on."""
    from lakehouse import Table

    df = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_entry_")
    t = Table.create(
        spark,
        os.path.join(root, "events_table"),
        df.schema,
        partition_spec=[
            {"name": "event_date", "transform": "identity", "source": "event_date"}
        ],
    )
    for i in range(appends):
        t.append(
            df.filter(F.col("event_id") % appends == i),
            target_file_count=files_per_append,
        )
    return t


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Full maintenance cycle on sf0.001, then the post-cycle rollup."""
    t = _events_table(spark, SF0001, appends=3, files_per_append=2)
    t.compact(target_file_size=64 * 1024 * 1024)
    t.cluster(["user_id", "ts"], curve="zorder")
    src = (
        t.scan()
        .filter(F.col("user_id") % 7 == 0)
        .withColumn("value", F.col("value") + 1000.0)
        .withColumn("event_type", F.lit("updated"))
    )
    t.merge(src, key="event_id")
    t.expire_snapshots(keep_last=1)
    return (
        t.scan()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("value"), "total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# reference pipeline + analytics queries


def _q_events_json_pipeline(spark, sf_dir):
    """Reference chain P1→P8: JSON decode (from_json), struct flatten,
    date derivation, defensive cast + null-fill projection."""
    ev = _read(spark, sf_dir, "events")
    payload = F.from_json(F.col("props"), "k INT").alias("payload")
    flat = ev.select("event_id", "ts", "event_type", payload).select(
        "event_id", "ts", "event_type", "payload.*"
    )
    return flat.select(
        "event_id",
        F.col("k").cast("int").alias("k"),
        F.col("event_type").cast("string").alias("event_type"),
        F.to_date(F.col("ts").cast("timestamp")).cast("string").alias("event_date_s"),
        F.lit(None).cast("string").alias("user_agent"),
    )


def _q_hourly_rollup(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(F.col("value"), "total_value"),
    )


def _q_q1_pricing(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_sum(F.col("l_quantity"), "sum_qty"),
        _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
        _dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "sum_disc_price",
            6,
        ),
        F.count(F.lit(1)).alias("count_order"),
    )


def _q_segment_revenue(spark, sf_dir):
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum(F.col("o_totalprice"), "revenue"),
        )
    )


def _q_window_top_purchase(spark, sf_dir):
    ev = _read(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )


# ---------------------------------------------------------------------------
# lakehouse maintenance queries (post-op scan == oracle over raw parquet)


def _q_lh_compact(spark, sf_dir):
    t = _events_table(spark, sf_dir)
    t.compact(target_file_size=64 * 1024 * 1024)
    return _events_out(t.scan())


def _q_lh_rewrite_manifests(spark, sf_dir):
    """Manifest-layer compaction (Iceberg rewrite_manifests): many small
    appends leave one manifest per commit; the rewrite repacks all live
    entries into few large manifests with ZERO data movement. Asserted
    in-builder: manifest count strictly drops, the commit is
    metadata-only (no data files added/removed), and the scan is
    oracle-checked byte-identical afterwards."""
    from lakehouse.meta import snapshots as S

    t = _events_table(spark, sf_dir, appends=6, files_per_append=3)
    before = len(S.read_manifest_list(t.root, t.meta.snapshot().manifest_list))
    assert before == 6  # one manifest per append commit
    res = t.rewrite_manifests(entries_per_manifest=10_000)
    assert res.manifests_before == before, (res, before)
    assert res.manifests_after < res.manifests_before, res
    snap = t.meta.snapshot()
    assert snap.operation == "rewrite-manifests", snap.operation
    return _events_out(t.scan())


def _q_lh_clone(spark, sf_dir):
    """Zero-copy CLONE (Delta SHALLOW CLONE / Iceberg snapshot-migrate
    counterpart, lakehouse/ops/clone.py): clone the events table in
    metadata time — every byte hardlinked, asserted files_copied == 0 —
    then hammer the SOURCE with the full mutation ladder (MoR delete,
    compaction rewrite, snapshot expiry, orphan GC that unlinks the
    source's old directory entries). The CLONE's scan must still be
    byte-identical to the pre-churn events oracle: shared inodes
    survive source-side GC and the two tables share no metadata."""
    t = _events_table(spark, sf_dir)
    c = t.clone_to(os.path.join(tempfile.mkdtemp(prefix="lh_clone_"), "c"))
    assert c.meta.table_uuid != t.meta.table_uuid
    last = c.snapshots()[-1]
    assert last.operation == "clone", last.operation
    assert last.summary["files_copied"] == 0, last.summary  # pure links
    # churn the source: none of this may reach the clone
    t.delete("user_id % 3 = 0", mode="mor", key="event_id")
    t.compact()
    t.expire_snapshots(keep_last=1)
    t.remove_orphan_files(older_than_ms=0)
    return _events_out(c.scan())


def _q_lh_cluster(spark, sf_dir):
    t = _events_table(spark, sf_dir)
    t.cluster(["user_id", "ts"], curve="zorder")
    return _events_out(t.scan())


def _q_lh_cluster_hilbert(spark, sf_dir):
    t = _events_table(spark, sf_dir, appends=2)
    t.cluster(["user_id", "value"], curve="hilbert")
    return _events_out(t.scan())


def _q_lh_timetravel(spark, sf_dir):
    from lakehouse import Table

    df = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_tt_")
    t = Table.create(
        spark,
        os.path.join(root, "tt"),
        df.schema,
        partition_spec=[
            {"name": "event_date", "transform": "identity", "source": "event_date"}
        ],
    )
    s1 = t.append(df.filter(F.col("event_id") % 2 == 0))
    t.append(df.filter(F.col("event_id") % 2 == 1))
    return _events_out(t.scan(snapshot_id=s1.snapshot_id))


def _q_lh_partition_pruned(spark, sf_dir):
    import datetime as dt

    t = _events_table(spark, sf_dir, appends=2)
    t.compact()
    lo, hi = dt.date(2024, 1, 5), dt.date(2024, 1, 9)
    return _events_out(
        t.scan(filter=[("event_date", ">=", lo), ("event_date", "<=", hi)])
    )


def _q_lh_sorted_scan(spark, sf_dir):
    """Write-time sort order (Iceberg SortOrder analog): appends range-
    partition + sort on event_id, so a key-range scan prunes to the few
    files whose min/max overlap it — the builder asserts the kept set
    shrank vs the live set AND that kept ranges are disjoint per
    partition. Oracle = the same range predicate in SQL (layout is
    row-invisible)."""
    from lakehouse import Table
    from lakehouse.synth import synth_clips_df  # noqa: F401 (parity of import style)

    df = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_entry_")
    t = Table.create(spark, os.path.join(root, "events_sorted"), df.schema)
    t.set_sort_order(["event_id"])
    for i in range(2):
        t.append(df.filter(F.col("event_id") % 2 == i), target_file_count=8)

    live = t.live_files()
    n_live = len(live)
    # probe a 20%-wide band of the ACTUAL id domain (sf-independent —
    # fixed constants silently probe an empty range at small sf, where
    # kept==0 is CORRECT pruning and the gate below misfires); max id
    # comes from manifest stats, zero data reads. Oracle twin uses the
    # same 10%..30% arithmetic in SQL.
    mx = max(e.stats["event_id"]["max"] for e in live)
    lo, hi = mx // 10, (3 * mx) // 10
    plan = t.plan(filter=[("event_id", ">=", lo), ("event_id", "<=", hi)])
    kept = plan.files
    # the 2000-wide key range is ~1/8 of the id space: sorted runs must
    # prune the kept set to a minority of live files (unsorted appends
    # keep ~all of them — gated head-to-head in tests/test_sortorder.py).
    # On failure, dump every file's event_id stats — kept==0 would mean
    # stats exclude rows that exist (a real bug, not a flaky layout).
    assert 0 < len(kept) <= n_live // 2, (
        len(kept),
        n_live,
        [(e.file_path, e.stats.get("event_id")) for e in live],
    )
    assert all(e.sort_order == "sorted(event_id)" for e in kept)
    return _events_out(
        t.scan(filter=[("event_id", ">=", lo), ("event_id", "<=", hi)])
    )


def _q_lh_lineage_scan(spark, sf_dir):
    """Row lineage metadata columns (Iceberg _file/_pos analog): every
    row names its data file, its row position, and the snapshot that
    committed it. The builder asserts the lineage is exact — snapshot
    ids match the append commits, files match the live manifest — then
    returns the logical rows, which must equal plain SQL (lineage is
    read-side only, zero row perturbation)."""
    t = _events_table(spark, sf_dir, appends=3)
    df = t.scan_with_lineage()
    snaps = {s.snapshot_id for s in t.snapshots()}
    got_snaps = {
        r._snapshot_id
        for r in df.select("_snapshot_id").distinct().collect()
    }
    assert got_snaps <= snaps and len(got_snaps) == 3, (got_snaps, snaps)
    live = {e.file_path for e in t.live_files()}
    got_files = {
        r._file for r in df.select("_file").distinct().collect()
    }
    assert got_files == live, (len(got_files), len(live))
    return _events_out(df.drop("_file", "_pos", "_snapshot_id"))


def _q_lh_expire_gc(spark, sf_dir):
    import time

    t = _events_table(spark, sf_dir, appends=3)
    t.compact(target_file_size=64 * 1024 * 1024)
    t.expire_snapshots(keep_last=1)
    t.remove_orphan_files(older_than_ms=int(time.time() * 1000) + 60_000)
    return _events_out(t.scan())


def _q_lh_merge(spark, sf_dir):
    t = _events_table(spark, sf_dir, appends=2)
    t.compact()
    ev = _events(spark, sf_dir)
    is_del = (F.col("event_type") == "error") & (F.col("user_id") % 5 == 0)
    upd = (
        ev.filter((F.col("user_id") % 7 == 0) & ~is_del)
        .withColumn("value", F.col("value") + 1000.0)
        .withColumn("event_type", F.lit("updated"))
    )
    dels = ev.filter(is_del).withColumn("op", F.lit("delete"))
    ins = (
        ev.filter((F.col("event_type") == "signup") & (F.col("user_id") % 13 == 0))
        .withColumn("event_id", F.col("event_id") + 10_000_000)
        .withColumn("event_type", F.lit("inserted"))
        .withColumn("value", F.lit(1.0))
    )
    src = upd.withColumn("op", F.lit(None).cast("string")).unionByName(
        dels
    ).unionByName(ins.withColumn("op", F.lit(None).cast("string")))
    t.merge(src, key="event_id")
    return _events_out(t.scan())


def _q_lh_merge_mor(spark, sf_dir):
    """Same MERGE as lh_merge_upsert but merge-on-read: one commit of
    equality-delete file + appended source rows, zero target rewrites;
    the scan (delete applied at read) must match the same SQL oracle."""
    t = _events_table(spark, sf_dir, appends=2)
    t.compact()
    ev = _events(spark, sf_dir)
    is_del = (F.col("event_type") == "error") & (F.col("user_id") % 5 == 0)
    upd = (
        ev.filter((F.col("user_id") % 7 == 0) & ~is_del)
        .withColumn("value", F.col("value") + 1000.0)
        .withColumn("event_type", F.lit("updated"))
    )
    dels = ev.filter(is_del).withColumn("op", F.lit("delete"))
    ins = (
        ev.filter((F.col("event_type") == "signup") & (F.col("user_id") % 13 == 0))
        .withColumn("event_id", F.col("event_id") + 10_000_000)
        .withColumn("event_type", F.lit("inserted"))
        .withColumn("value", F.lit(1.0))
    )
    src = upd.withColumn("op", F.lit(None).cast("string")).unionByName(
        dels
    ).unionByName(ins.withColumn("op", F.lit(None).cast("string")))
    files_before = {e.file_path for e in t.plan().files}
    res = t.merge(src, key="event_id", mode="mor")
    assert res.files_touched == 0, "MoR merge must rewrite no target file"
    assert files_before <= {e.file_path for e in t.plan().files}, (
        "MoR merge removed a pre-existing data file"
    )
    assert len(t.plan().delete_files) == 1
    return _events_out(t.scan())


def _q_lh_merge_full_sync(spark, sf_dir):
    """MERGE ... WHEN NOT MATCHED BY SOURCE (Delta's
    whenNotMatchedBySourceDelete analog; the reference delegates DML to
    the Delta jar, README.md:194): partition-scoped full sync. The
    source holds the hottest date's user_id%3==0 rows re-valued; the
    clause deletes every OTHER row of that date-partition, while all
    other partitions stay untouched — their files must survive the
    commit byte-identical (condition is on the identity partition
    column, so out-of-scope files never even plan). Fully-in-condition
    files that lose every row drop METADATA-ONLY."""
    t = _events_table(spark, sf_dir, appends=2)
    t.compact()
    ev = _events(spark, sf_dir)
    d = ev.agg(F.max("event_date")).collect()[0][0]
    src = (
        ev.filter((F.col("event_date") == F.lit(d)) & (F.col("user_id") % 3 == 0))
        .withColumn("value", F.col("value") + 500.0)
        .withColumn("event_type", F.lit("synced"))
    )
    before = {e.file_path for e in t.plan().files}
    out_of_scope = before - {
        e.file_path for e in t.plan(filter=[("event_date", "=", d)]).files
    }
    t.merge(
        src,
        key="event_id",
        not_matched_by_source="delete",
        not_matched_by_source_condition=[("event_date", "=", d)],
    )
    after = {e.file_path for e in t.plan().files}
    assert out_of_scope <= after, (
        "full sync must not touch files outside the condition partition"
    )
    return _events_out(t.scan())


LH_MERGE_FULL_SYNC_ORACLE = """
WITH ev AS (SELECT *, CAST(ts AS DATE) AS event_date FROM events),
d AS (SELECT max(event_date) AS d FROM ev),
src AS (
    SELECT event_id, ts, user_id, 'synced' AS event_type,
           value + 500.0 AS value, props, event_date
    FROM ev WHERE event_date = (SELECT d FROM d) AND user_id % 3 = 0
),
merged AS (
    SELECT * FROM ev
    WHERE event_date <> (SELECT d FROM d)
    UNION ALL SELECT * FROM src
)
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
       CAST(event_date AS VARCHAR) AS event_date_s
FROM merged
"""


def _q_lh_sql_merge(spark, sf_dir):
    """SQL DML front-end (lakehouse/sql.py — r3 verdict #4): the
    same engine ops driven by ``MERGE INTO`` / ``DELETE`` / ``UPDATE``
    STATEMENT TEXT, the on-ramp for SQL-only BI/ELT tooling (the
    reference's analyst surface stops at read-only Athena,
    README.md:104-114). One upsert MERGE, one DELETE, one UPDATE —
    parsed, dispatched to the native merge/delete/update paths, and
    oracle-checked end-to-end against plain DuckDB SQL."""
    t = _events_table(spark, sf_dir, appends=2)
    t.compact()
    ev = _events(spark, sf_dir)
    upd = (
        ev.filter(F.col("user_id") % 7 == 0)
        .withColumn("value", F.col("value") + 1000.0)
        .withColumn("event_type", F.lit("updated"))
    )
    ins = (
        ev.filter(
            (F.col("event_type") == "signup") & (F.col("user_id") % 13 == 0)
        )
        .withColumn("event_id", F.col("event_id") + 10_000_000)
        .withColumn("event_type", F.lit("inserted"))
        .withColumn("value", F.lit(1.0))
    )
    upd.unionByName(ins).createOrReplaceTempView("sql_merge_src")
    t.sql(
        """MERGE INTO events_table AS t USING sql_merge_src AS s
           ON t.event_id = s.event_id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *"""
    )
    t.sql(
        "DELETE FROM events_table "
        "WHERE event_type = 'error' AND user_id % 5 = 0"
    )
    t.sql(
        "UPDATE events_table SET value = value * 2 "
        "WHERE event_type = 'updated'"
    )
    ev.createOrReplaceTempView("sql_ins_src")
    t.sql(
        """INSERT INTO events_table
           SELECT event_id + 30000000, ts, user_id, 'sql_inserted',
                  3.0, props, event_date
           FROM sql_ins_src
           WHERE event_type = 'signup' AND user_id % 17 = 0"""
    )
    return _events_out(t.scan())


LH_SQL_MERGE_ORACLE = """
WITH ev AS (SELECT * FROM events),
upd AS (
    SELECT event_id, ts, user_id, 'updated' AS event_type,
           (value + 1000.0) * 2 AS value, props
    FROM ev WHERE user_id % 7 = 0
),
ins AS (
    SELECT event_id + 10000000 AS event_id, ts, user_id,
           'inserted' AS event_type, 1.0 AS value, props
    FROM ev WHERE event_type = 'signup' AND user_id % 13 = 0
),
ins2 AS (
    SELECT event_id + 30000000 AS event_id, ts, user_id,
           'sql_inserted' AS event_type, 3.0 AS value, props
    FROM ev WHERE event_type = 'signup' AND user_id % 17 = 0
),
merged AS (
    SELECT * FROM ev
    WHERE event_id NOT IN (SELECT event_id FROM upd)
      AND NOT (event_type = 'error' AND user_id % 5 = 0)
    UNION ALL SELECT * FROM upd
    UNION ALL SELECT * FROM ins
    UNION ALL SELECT * FROM ins2
)
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
       CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s
FROM merged
"""


def _q_lh_sql_insert_overwrite(spark, sf_dir):
    """PARTITION-less ``INSERT OVERWRITE t SELECT …`` text, under both
    values of ``spark.sql.sources.partitionOverwriteMode``. ``static``
    (Spark's default) replaces the WHOLE table in one commit — the
    partitions the query's rows miss end up empty, and a pending MoR
    delete file goes with the files it applied to; ``dynamic`` then
    replaces only the partitions its rows land in (the latest date)."""
    t = _events_table(spark, sf_dir, appends=2)
    t.delete("event_type = 'error'", mode="mor", key="event_id")
    ev = _events(spark, sf_dir)
    ev.createOrReplaceTempView("sql_ow_src")
    d = ev.agg(F.max("event_date")).collect()[0][0]
    conf = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "static")
        head = t.current_snapshot_id()
        t.sql(
            """INSERT OVERWRITE events_table
               SELECT event_id, ts, user_id, 'replaced' AS event_type,
                      value * 2 AS value, props, event_date
               FROM sql_ow_src WHERE user_id % 4 = 0"""
        )
        assert t.snapshots()[-1].parent_snapshot_id == head, "one commit"
        assert not t.plan().delete_files, "the MoR delete file must go"
        spark.conf.set(conf, "dynamic")
        t.sql(
            f"""INSERT OVERWRITE events_table
                SELECT event_id + 40000000 AS event_id, ts, user_id,
                       'dynamic' AS event_type, 5.0 AS value, props,
                       event_date
                FROM sql_ow_src
                WHERE event_date = DATE'{d}' AND user_id % 5 = 0"""
        )
    finally:
        if prior is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prior)
    return _events_out(t.scan())


LH_SQL_INSERT_OVERWRITE_ORACLE = """
WITH ev AS (SELECT *, CAST(ts AS DATE) AS event_date FROM events),
d AS (SELECT max(event_date) AS d FROM ev),
replaced AS (
    SELECT event_id, ts, user_id, 'replaced' AS event_type,
           value * 2 AS value, props, event_date
    FROM ev WHERE user_id % 4 = 0 AND event_date <> (SELECT d FROM d)
),
dynamic AS (
    SELECT event_id + 40000000 AS event_id, ts, user_id,
           'dynamic' AS event_type, 5.0 AS value, props, event_date
    FROM ev WHERE event_date = (SELECT d FROM d) AND user_id % 5 = 0
),
merged AS (SELECT * FROM replaced UNION ALL SELECT * FROM dynamic)
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
       CAST(event_date AS VARCHAR) AS event_date_s
FROM merged
"""

def _q_lh_ops_alerts(spark, sf_dir):
    """Ops alarm evaluation (lakehouse/alerts.py — r3 verdict #5; the
    reference ships CloudWatch ALARMS over its stream,
    README.md:319-329). Three planted tables: healthy (maintained),
    fragmented (12 small files, never compacted), and one with a
    pending MoR delete — the warehouse sweep must fire EXACTLY the
    planted alarms, asserted here and oracle-checked as the fired
    (table, alert, severity) set."""
    import tempfile as _tf

    from lakehouse.catalog import Catalog
    from lakehouse.synth import synth_clips_df

    cat = Catalog.create(_tf.mkdtemp(prefix="lh_alerts_") + "/wh")
    from lakehouse.schema import CLIPS_SCHEMA

    for name in ("fresh", "frag", "backlog"):
        cat.create_table(spark, name, CLIPS_SCHEMA)
    fresh = cat.load_table(spark, "fresh")
    fresh.append(synth_clips_df(spark, 30, seed=41, n_days=1),
                 target_file_count=2)
    fresh.compact()
    frag = cat.load_table(spark, "frag")
    frag.append(synth_clips_df(spark, 30, seed=42, n_days=1),
                target_file_count=12)
    backlog = cat.load_table(spark, "backlog")
    backlog.append(synth_clips_df(spark, 30, seed=43, n_days=1),
                   target_file_count=2)
    backlog.compact()
    victim = backlog.scan().select("clip_id").first()[0]
    backlog.delete([("clip_id", "=", victim)], mode="mor")
    now = max(
        t.meta.snapshots[-1].timestamp_ms
        for t in (fresh, frag, backlog)
    ) + 1000
    got = cat.alerts(spark, [
        {"kind": "stale_table", "max_age_ms": 3_600_000},
        {"kind": "stale_maintenance", "max_age_ms": 3_600_000},
        {"kind": "small_files", "max_files": 5},
        {"kind": "delete_backlog", "max_delete_files": 0},
    ], now_ms=now)
    fired = sorted(
        (r.table_name, r.alert) for r in got.collect()
    )
    assert fired == [
        ("backlog", "delete_backlog"),
        ("frag", "small_files"),
        ("frag", "stale_maintenance"),
    ], fired
    return got.select("table_name", "alert", "severity")


LH_OPS_ALERTS_ORACLE = """
SELECT * FROM (VALUES
    ('backlog', 'delete_backlog', 'warn'),
    ('frag', 'small_files', 'warn'),
    ('frag', 'stale_maintenance', 'warn')
) AS t(table_name, alert, severity)
"""


def _q_lh_sql_ddl_lifecycle(spark, sf_dir):
    """SQL DDL front-end (lakehouse/sql.py — r4 verdict #6): a full
    table lifecycle driven through STATEMENT TEXT only — CREATE TABLE
    … PARTITIONED BY … AS SELECT, ALTER TABLE ADD COLUMN … DEFAULT,
    then INSERT / MERGE / DELETE through the DML front-end, then a
    pruned read back. An SQL-only ELT tool can now create AND write.
    All ops dispatch to the same native paths (partitioned ACID
    append, metadata-only add-column with Iceberg-v3 initial-default,
    keys-only merge), so every scale property is the dispatched op's
    own."""
    import tempfile as _tf

    from lakehouse.catalog import Catalog

    cat = Catalog.create(_tf.mkdtemp(prefix="lh_ddl_") + "/wh")
    _events(spark, sf_dir).createOrReplaceTempView("ddl_src")
    cat.sql(
        spark,
        """CREATE TABLE orders_ddl PARTITIONED BY (event_date_s) AS
           SELECT event_id, user_id, event_type, value,
                  CAST(event_date AS STRING) AS event_date_s
           FROM ddl_src""",
    )
    # TRUNCATE / column-list CREATE / DROP, self-gated in-builder on a
    # scratch table (the oracle below covers the orders_ddl flow; these
    # verbs leave no rows to hash): truncate must be a METADATA-ONLY
    # whole-table delete with time travel intact, drop must unregister
    scratch = cat.sql(
        spark,
        "CREATE TABLE ddl_scratch (k BIGINT, tag STRING DEFAULT 'x')",
    )
    scratch.sql("INSERT INTO ddl_scratch (k) VALUES (1), (2), (3)")
    pre = scratch.current_snapshot_id()
    tsnap = cat.sql(spark, "TRUNCATE TABLE ddl_scratch")
    assert tsnap.summary.get("truncate") is True
    assert tsnap.summary.get("added_files", 0) == 0  # zero data I/O
    assert tsnap.summary.get("removed_records") == 3
    assert scratch.scan().count() == 0
    assert scratch.scan(snapshot_id=pre).count() == 3  # time travel
    scratch.sql("INSERT INTO ddl_scratch VALUES (9, 'post')")
    assert scratch.scan().count() == 1  # still writable, schema intact
    cat.sql(spark, "DROP TABLE ddl_scratch")
    assert "ddl_scratch" not in cat.tables()
    cat.sql(
        spark,
        "ALTER TABLE orders_ddl ADD COLUMN status STRING DEFAULT 'open'",
    )
    # old files scan as the default (metadata-only, zero rewrites)
    cat.sql(
        spark,
        """INSERT INTO orders_ddl
           (SELECT event_id + 50000000, user_id, 'ddl_inserted',
                   4.0, CAST(event_date AS STRING), 'new'
            FROM ddl_src
            WHERE event_type = 'signup' AND user_id % 9 = 0)""",
    )
    spark.sql(
        """SELECT event_id, user_id, event_type, value,
                  CAST(event_date AS STRING) AS event_date_s,
                  'flagged' AS status
           FROM ddl_src WHERE event_type = 'purchase' AND user_id % 11 = 0"""
    ).createOrReplaceTempView("ddl_fix_src")
    cat.sql(
        spark,
        """MERGE INTO orders_ddl t USING ddl_fix_src s
           ON t.event_id = s.event_id
           WHEN MATCHED THEN UPDATE SET *""",
    )
    cat.sql(
        spark,
        "DELETE FROM orders_ddl WHERE event_type = 'error' AND user_id % 3 = 0",
    )
    return cat.load_table(spark, "orders_ddl").scan().select(
        "event_id", "user_id", "event_type", "value",
        "event_date_s", "status",
    )


LH_SQL_DDL_ORACLE = """
WITH base AS (
    SELECT event_id, user_id, event_type, value,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s,
           'open' AS status
    FROM events
),
merged AS (
    SELECT event_id, user_id, event_type, value, event_date_s,
           CASE WHEN event_type = 'purchase' AND user_id % 11 = 0
                THEN 'flagged' ELSE status END AS status
    FROM base
),
inserted AS (
    SELECT event_id + 50000000 AS event_id, user_id,
           'ddl_inserted' AS event_type, 4.0 AS value,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s,
           'new' AS status
    FROM events WHERE event_type = 'signup' AND user_id % 9 = 0
)
SELECT * FROM (
    SELECT * FROM merged UNION ALL SELECT * FROM inserted
)
WHERE NOT (event_type = 'error' AND user_id % 3 = 0)
"""


LH_MERGE_ORACLE = """
WITH ev AS (SELECT * FROM events),
dels AS (
    SELECT event_id FROM ev WHERE event_type = 'error' AND user_id % 5 = 0
),
upd AS (
    SELECT event_id, ts, user_id, 'updated' AS event_type,
           value + 1000.0 AS value, props
    FROM ev
    WHERE user_id % 7 = 0
      AND NOT (event_type = 'error' AND user_id % 5 = 0)
),
ins AS (
    SELECT event_id + 10000000 AS event_id, ts, user_id,
           'inserted' AS event_type, 1.0 AS value, props
    FROM ev WHERE event_type = 'signup' AND user_id % 13 = 0
),
merged AS (
    SELECT * FROM ev
    WHERE event_id NOT IN (SELECT event_id FROM dels)
      AND event_id NOT IN (SELECT event_id FROM upd)
    UNION ALL SELECT * FROM upd
    UNION ALL SELECT * FROM ins
)
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
       CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s
FROM merged
"""


# ---------------------------------------------------------------------------
# training-data ops


def _q_dedup_exact(spark, sf_dir):
    from lakehouse.dedup import dedup_exact

    return dedup_exact(_read(spark, sf_dir, "documents"))


def _q_dedup_jaccard(spark, sf_dir):
    from lakehouse.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"), k=3, threshold=0.1
    )


def _q_dedup_windows(spark, sf_dir):
    """Exact-substring boilerplate removal (Lee et al. 2022 restated
    as non-overlapping window hashing): windows recurring in >=2
    distinct docs are cut from every document, survivors reassembled
    in order."""
    from lakehouse.dedup import dedup_windows

    return dedup_windows(
        _read(spark, sf_dir, "documents"), window=3, min_docs=2
    )


def _q_split_leakage(spark, sf_dir):
    """Eval-set hygiene audit: verified near-dup pairs straddling the
    deterministic train/val/test boundary — each row is a leak that
    would inflate eval scores (cross-split decontamination)."""
    from lakehouse.dedup import split_leakage_pairs

    return split_leakage_pairs(
        _read(spark, sf_dir, "documents"), seed=7, threshold=0.05
    )


def _q_dedup_minhash(spark, sf_dir):
    from lakehouse.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _read(spark, sf_dir, "documents"),
        k=3,
        num_hashes=16,
        bands=8,
        threshold=0.05,
    )


def _q_dedup_clusters(spark, sf_dir):
    """Connected-component duplicate-cluster ids over the MinHash-LSH
    near-dup pair graph (min-label propagation, one |V|+|E| shuffle per
    round, O(component diameter) rounds); oracle = recursive-CTE
    transitive closure of the identical pair graph."""
    from lakehouse.dedup import dedup_clusters, minhash_lsh_pairs

    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, k=3, num_hashes=16, bands=8, threshold=0.05
    )
    return dedup_clusters(docs, pairs)


def _q_simhash(spark, sf_dir):
    from lakehouse.dedup import simhash64

    return simhash64(_read(spark, sf_dir, "documents"))


def _q_simhash_pairs(spark, sf_dir):
    from lakehouse.dedup import simhash_pairs

    return simhash_pairs(_read(spark, sf_dir, "documents"), max_hamming=2)


def _q_text_quality(spark, sf_dir):
    from lakehouse.textops import quality_features

    return quality_features(_read(spark, sf_dir, "documents"))


def _q_gopher_quality_filter(spark, sf_dir):
    """Gopher heuristic quality rules (Rae et al. 2021 §A1.1, the
    named pre-filter of production pretraining pipelines): word-count
    bounds, integer-exact mean-word-length bounds, symbol ratio,
    alphabetic-word fraction, minimum stop-words — one codegen'd
    projection, zero shuffle; DuckDB twin evaluates the identical
    integer cross-multiplications."""
    from lakehouse.textops import gopher_rules

    return gopher_rules(_read(spark, sf_dir, "documents"), min_words=30)


# the synthetic corpus contains no PII, so the scrub query plants a
# deterministic specimen per doc — the SAME expression the oracle
# appends (Spark `||` and DuckDB `||` build identical strings), so the
# redaction path is actually exercised, not vacuously zero-count
_PII_ENRICH = (
    "text || ' contact user' || CAST(doc_id AS {s}) || "
    "'@mail.example.org see https://ex.org/d/' || CAST(doc_id AS {s}) || "
    "' node 10.0.' || CAST(doc_id % 200 AS {s}) || "
    "'.7 call +1 555 01' || CAST(doc_id % 90 + 10 AS {s})"
)


def _q_text_normalize(spark, sf_dir):
    """C4-style normalization (lowercase, punctuation→space, whitespace
    collapse) as pure codegen projections; same literal patterns in the
    DuckDB twin."""
    from lakehouse.textops import normalize_text

    return normalize_text(_read(spark, sf_dir, "documents"))


def _q_pii_scrub(spark, sf_dir):
    from lakehouse.textops import pii_scrub

    df = _read(spark, sf_dir, "documents").selectExpr(
        "doc_id", _PII_ENRICH.format(s="STRING") + " AS text"
    )
    return pii_scrub(df)


def _q_unigram_logprob(spark, sf_dir):
    from lakehouse.textops import unigram_logprob

    return unigram_logprob(_read(spark, sf_dir, "documents"))


def _q_bigram_logprob(spark, sf_dir):
    from lakehouse.textops import bigram_logprob

    return bigram_logprob(_read(spark, sf_dir, "documents"))


# fixed query set for the BM25 gate (terms drawn from the synthetic
# documents vocabulary so every query matches)
_BM25_QUERIES = ["fast merge join", "spark window agg", "slow scan table"]


def _q_asof_join(spark, sf_dir):
    """Backward as-of join (lakehouse/joins.py): every event enriched
    with the user's most recent prior-or-concurrent purchase — the
    point-in-time lookup Spark has no operator for. Right side is
    pre-aggregated per (user_id, ts) to satisfy the uniqueness
    contract. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from lakehouse.joins import asof_join

    ev = _read(spark, sf_dir, "events")
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase_value"))
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"), right,
        on="ts", by=["user_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("ts_matched").cast("timestamp")).alias(
            "purchase_ts_us"
        ),
        stable_round(
            F.col("last_purchase_value"), 6
        ).alias("last_purchase_value"),
    )


def _q_bpe_coverage(spark, sf_dir):
    """Self-verifying tokenizer-coverage audit (lakehouse/bpe.py):
    train a small BPE vocabulary on the documents corpus, then score
    fit. Asserted in-builder: (1) the roundtrip invariant holds on
    EVERY row (token stream re-concatenates to the lowercased words
    tailed by </w>); (2) an alien word-salad document scores strictly
    worse than the corpus mean on BOTH fertility and char-fallback.
    Returns the per-source coverage summary."""
    from lakehouse.bpe import bpe_coverage, bpe_train

    docs = _read(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=24)
    cov = bpe_coverage(docs, merges)
    rows = cov.collect()
    assert rows and all(r.roundtrip_ok for r in rows)
    mean_f = sum(r.fertility for r in rows) / len(rows)
    mean_c = sum(r.char_fallback_ratio for r in rows) / len(rows)
    alien = spark.createDataFrame(
        [(999_999, "zzqxv wqkjz xqzzv vqzkx")], "doc_id long, text string"
    )
    a = bpe_coverage(alien, merges).collect()[0]
    assert a.roundtrip_ok
    assert a.fertility > mean_f and a.char_fallback_ratio > mean_c, (
        a.fertility, mean_f, a.char_fallback_ratio, mean_c,
    )
    joined = cov.join(docs.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("fertility"), 4).alias("avg_fertility"),
            F.round(F.avg("char_fallback_ratio"), 4).alias(
                "avg_char_fallback"
            ),
            F.min(F.col("roundtrip_ok").cast("int")).alias("all_roundtrip"),
        )
        .orderBy("source")
    )


def _q_events_funnel(spark, sf_dir):
    """Ordered view→click→purchase funnel with a 24 h per-hop horizon
    (lakehouse/funnel.py) — the flagship clickstream analytics query of
    the reference's domain. Oracle: identical min()-cascade in DuckDB."""
    from lakehouse.funnel import funnel_report

    return funnel_report(
        _read(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        within=86400.0,
    )


def _q_events_attribution(spark, sf_dir):
    """Last-touch attribution with a 24 h lookback
    (lakehouse/attribution.py): which touch channel (view/click/signup)
    gets credit for each purchase — one per-user window, no join node."""
    from lakehouse.attribution import attribution_report

    return attribution_report(
        _read(spark, sf_dir, "events"),
        ["view", "click", "signup"],
        "purchase",
        model="last_touch",
        lookback=86400.0,
    )


def _q_events_attribution_linear(spark, sf_dir):
    """Linear (equal-share) attribution, unbounded lookback
    (lakehouse/attribution.py): per-channel fractional credit summed as
    exact decimals of per-row IEEE shares."""
    from lakehouse.attribution import attribution_report

    return attribution_report(
        _read(spark, sf_dir, "events"),
        ["view", "click", "signup"],
        "purchase",
        model="linear",
    )


def _q_events_transitions(spark, sf_dir):
    """First-order Markov next-event transition matrix
    (lakehouse/paths.py): one window sort, |types|^2-bounded output."""
    from lakehouse.paths import event_transitions

    return event_transitions(_read(spark, sf_dir, "events"))


def _q_events_transition_gaps(spark, sf_dir):
    """Dwell-time transition matrix (lakehouse/paths.py): mean/max gap
    seconds per adjacent (src, dst) pair — decimal-exact micro sums."""
    from lakehouse.paths import transition_gaps

    return transition_gaps(_read(spark, sf_dir, "events"))


def _q_events_top_paths(spark, sf_dir):
    """Top-20 user journeys over each user's first 5 events
    (lakehouse/paths.py): row_number-bounded collect, deterministic
    tie-breaks."""
    from lakehouse.paths import top_paths

    return top_paths(_read(spark, sf_dir, "events"))


def _q_events_rate_anomalies(spark, sf_dir):
    """Event-rate anomaly screen (lakehouse/anomaly.py): daily buckets
    per event type, z-scored against each type's own buckets via exact
    integer power sums — the data-side alarm the reference's CloudWatch
    chapter never gives the table itself."""
    from lakehouse.anomaly import rate_anomalies

    return rate_anomalies(
        _read(spark, sf_dir, "events"), bucket_s=86400, z_threshold=2.0
    )


def _q_events_ab_test(spark, sf_dir):
    """A/B experiment readout (lakehouse/abtest.py): seeded-md5 arm
    assignment (a user can never switch arms), conversion = a purchase
    over 150 (so arms differ and the z-score is non-degenerate), lift +
    pooled two-proportion z vs control."""
    from lakehouse.abtest import ab_test_report

    ev = _read(spark, sf_dir, "events").filter(
        "event_type != 'purchase' OR value > 150"
    )
    return ab_test_report(ev, conversion_type="purchase", variants=3, seed=7)


def _q_cohort_retention(spark, sf_dir):
    """Weekly cohort-retention triangle (lakehouse/funnel.py): users
    cohorted by first-activity week, counted once per active week.
    Oracle: identical date_trunc/datediff arithmetic in DuckDB."""
    from lakehouse.funnel import cohort_retention

    return cohort_retention(_read(spark, sf_dir, "events"), max_periods=8)


def _q_fk_integrity(spark, sf_dir):
    """Referential-integrity audit (lakehouse/integrity.py) with
    DETERMINISTICALLY PLANTED defects: every 97th order gets a NULL
    custkey (NOT-NULL violation, reported separately) and every 101st
    a custkey shifted out of the customer domain (a true FK orphan);
    lineitem→orders is left intact as the all-green control row.
    Oracle: per-relationship NOT EXISTS counts in DuckDB."""
    from lakehouse.integrity import integrity_report

    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    li = _read(spark, sf_dir, "lineitem")
    o = orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .when(
            F.col("o_orderkey") % 101 == 0, F.col("o_custkey") + 1000000
        )
        .otherwise(F.col("o_custkey")),
    )
    return integrity_report(
        [
            ("orders->customer", o, cust, [("o_custkey", "c_custkey")]),
            ("lineitem->orders", li, orders, [("l_orderkey", "o_orderkey")]),
        ]
    )


def _q_range_join(spark, sf_dir):
    """Bucketed interval join (lakehouse/joins.py): events falling in
    6-hour promo windows opened by every 37th purchase — the
    inequality join Spark would compile to a BroadcastNestedLoopJoin;
    here it is a bucket equi-join + exact post-filter. Oracle: plain
    DuckDB inequality join."""
    from lakehouse.joins import range_join

    ev = _read(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    win_us = 6 * 3600 * 1_000_000
    promos = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 37 == 0)
    ).select(
        F.col("event_id").alias("promo_id"),
        us.alias("start_us"),
        (us + F.lit(win_us)).alias("end_us"),
    )
    pts = ev.select("event_id", "event_type", us.alias("t_us"))
    return range_join(
        pts, promos,
        left_on="t_us", start_col="start_us", end_col="end_us",
        bucket_width=win_us,
    ).select("event_id", "event_type", "t_us", "promo_id", "start_us", "end_us")


def _q_bm25_topk(spark, sf_dir):
    from lakehouse.textops import bm25_topk

    return bm25_topk(_read(spark, sf_dir, "documents"), _BM25_QUERIES, k=10)


def _q_repetition_stats(spark, sf_dir):
    from lakehouse.textops import repetition_stats

    return repetition_stats(_read(spark, sf_dir, "documents"), n=2)


# eval slice for the decontamination query: a deterministic 1-in-29
# doc_id residue class stands in for the benchmark set; the remaining
# docs are the training corpus screened against it
_DECONTAM_EVAL_PRED = "doc_id % 29 = 0"


def _q_decontaminate(spark, sf_dir):
    from lakehouse.dedup import decontaminate

    docs = _read(spark, sf_dir, "documents")
    ev = docs.filter(_DECONTAM_EVAL_PRED)
    train = docs.filter(f"NOT ({_DECONTAM_EVAL_PRED})")
    return decontaminate(train, ev, k=8, min_hits=1)


def _q_transcript_wer(spark, sf_dir):
    """Word error rate of a deterministically corrupted hypothesis
    (drop every 5th word, reverse every 3rd kept word) against each
    document — the distributed DP verified word-for-word by the
    DuckDB byte-encoded levenshtein twin."""
    from lakehouse.transcripts import corrupt_transcript, wer_pairs

    pairs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("text").alias("ref"),
        corrupt_transcript(F.col("text"), 5, reverse_every=3).alias("hyp"),
    )
    return wer_pairs(pairs)


def _q_transcript_cer(spark, sf_dir):
    """Character error rate — pure-Catalyst levenshtein projection."""
    from lakehouse.transcripts import cer_pairs, corrupt_transcript

    pairs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("text").alias("ref"),
        corrupt_transcript(F.col("text"), 4, reverse_every=2).alias("hyp"),
    )
    return cer_pairs(pairs)


def _q_transcript_align(spark, sf_dir):
    """Uniform forced alignment (deterministic aligner stand-in): one
    row per word with integer-exact time windows partitioning [0, dur).
    Duration is synthesized as length(text)*50 identically in the
    oracle (test tables carry no audio duration)."""
    from lakehouse.transcripts import align_uniform

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("clip_id"),
        "text",
        (F.length("text") * 50).alias("dur_ms"),
    )
    return align_uniform(docs, transcript_col="text")


def _q_transcript_align_energy(spark, sf_dir):
    """Energy-guided forced alignment (lakehouse/transcripts.py
    align_energy): word windows confined to energy-VAD voiced spans —
    the deterministic refinement of align_uniform (silence never sits
    inside a word window). Self-verifying on planted read-speech: tone
    segments separated by exact silences, one word per segment, so the
    aligner must recover every planted boundary EXACTLY (frame-aligned
    plants); clips with more words than spans keep windows inside
    spans, monotonic, count-conserving; all-silence clips fall back to
    uniform windows. Returns the per-clip alignment summary."""
    import numpy as np

    from lakehouse.synth import wrap_wav
    from lakehouse.transcripts import align_energy

    sr = 16000
    rows = []
    expected = {}
    for i in range(40):
        n_seg = 1 + i % 5
        seg_ms = [200 + 20 * ((i + j) % 6) for j in range(n_seg)]
        gap = 200
        parts, starts, t0 = [], [], 0
        for j, ms in enumerate(seg_ms):
            t = np.arange(int(sr * ms / 1000)) / sr
            parts.append(
                (0.6 * np.sin(2 * np.pi * (250 + 90 * j) * t)).astype(
                    np.float32
                )
            )
            starts.append((t0, t0 + ms))
            t0 += ms
            if j < n_seg - 1:
                parts.append(np.zeros(int(sr * gap / 1000), np.float32))
                t0 += gap
        cid = f"al-{i:04d}"
        rows.append(
            {
                "clip_id": cid,
                "bytes": wrap_wav(np.concatenate(parts), sr, "pcm16"),
                "transcript": " ".join(
                    f"w{j}" for j in range(n_seg)
                ),
            }
        )
        expected[cid] = starts
    df = spark.createDataFrame(rows).repartition(8)
    al = align_energy(df)
    got = al.collect()
    by_clip: dict = {}
    for r in got:
        by_clip.setdefault(r["clip_id"], []).append(r)
    assert len(by_clip) == 40
    for cid, rs in by_clip.items():
        rs.sort(key=lambda r: r["pos"])
        exp = expected[cid]
        assert len(rs) == len(exp), f"{cid}: word count"
        for r, (a, b) in zip(rs, exp):
            assert r["n_spans"] == len(exp), (cid, r)
            assert (r["t_start_ms"], r["t_end_ms"]) == (a, b), (
                f"{cid} pos {r['pos']}: got "
                f"({r['t_start_ms']},{r['t_end_ms']}) want ({a},{b})"
            )
    return (
        al.groupBy("clip_id")
        .agg(
            F.count("*").alias("n_words"),
            F.max("n_spans").alias("n_spans"),
            F.min("t_start_ms").alias("first_start_ms"),
            F.max("t_end_ms").alias("last_end_ms"),
        )
        .orderBy("clip_id")
    )


def _q_audio_data_card(spark, sf_dir):
    """Audio corpus data card (lakehouse/audio.py profile_clips): the
    dataset-documentation artifact a training corpus ships with
    (Datasheets for Datasets) — one decode pass to five floats per
    clip, then one aggregate + two breakdowns over the narrow persisted
    frame (payloads never reach an exchange). Self-verifying: planted
    defects (2 hard-clipped clips, 3 DC-biased, 4 empty transcripts in
    a 100-clip corpus) must surface at EXACTLY their planted rates, the
    codec/sr breakdowns must conserve the corpus, and hours must equal
    metadata arithmetic."""
    import numpy as np

    from lakehouse.audio import profile_clips, shift_dc_clips
    from lakehouse.synth import synth_clips_df, wrap_wav

    cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    base = synth_clips_df(spark, 91, seed=79, n_days=2).select(cols)
    # planted defects (deterministic)
    t = np.arange(16000) / 16000
    clipped = np.clip(3.0 * np.sin(2 * np.pi * 180 * t), -1, 1).astype(
        np.float32
    )
    extra = spark.createDataFrame(
        [
            {
                "clip_id": f"planted-{i:02d}",
                "bytes": wrap_wav(clipped, 16000, "pcm16"),
                "sr_hz": 16000,
                "dur_ms": 1000,
                "codec": "pcm16",
                "transcript": "",
            }
            for i in range(2)
        ]
    ).select(cols)
    dc = shift_dc_clips(
        synth_clips_df(spark, 3, start=500, seed=80, n_days=1), 0.12
    ).select(cols)
    empties = (
        synth_clips_df(spark, 4, start=600, seed=81, n_days=1)
        .withColumn("transcript", F.lit(""))
        .select(cols)
    )
    df = base.unionByName(extra).unionByName(dc).unionByName(empties)
    card_df = profile_clips(df)
    card = {
        (r["section"], r["metric"]): r["value"]
        for r in card_df.collect()
    }
    n = 100.0
    assert card[("corpus", "n_clips")] == n
    assert card[("corpus", "decode_fail_rate")] == 0.0
    assert abs(card[("audio", "clipping_rate")] - 2 / n) < 1e-9, card
    assert abs(card[("audio", "dc_offset_rate")] - 3 / n) < 1e-9, card
    assert abs(card[("transcript", "empty_rate")] - 6 / n) < 1e-9, card
    exp_hours = df.agg(F.sum("dur_ms")).collect()[0][0] / 3.6e6
    assert abs(card[("corpus", "total_hours")] - exp_hours) < 1e-9
    assert sum(v for (s, _), v in card.items() if s == "codec") == n
    assert sum(v for (s, _), v in card.items() if s == "sr_hz") == n
    return card_df


def _q_lh_llm_pipeline(spark, sf_dir):
    """End-to-end LLM training-data pipeline (the text twin of
    lh_asr_pipeline): curate (exact dedup → verified MinHash-LSH
    near-dedup → quality floor) → benchmark decontamination →
    deterministic train/val/test split → BPE tokenizer TRAINED ON THE
    TRAIN SPLIT ONLY → encode all splits → pack the train split into
    fixed-capacity sequences. Self-verifying at every joint: the
    planted benchmark (every doc_id % 37 == 0) must be completely
    scrubbed from the surviving corpus; splits are disjoint+exhaustive;
    packing conserves every BPE token exactly with zero overflow and at
    most one non-full sequence. Returns the per-stage ledger."""
    from lakehouse.bpe import bpe_encode, bpe_train
    from lakehouse.dedup import curate_documents, decontaminate
    from lakehouse.packing import pack_sequences
    from lakehouse.sampling import split_assign

    docs = _read(spark, sf_dir, "documents")
    n0 = docs.count()
    kept = curate_documents(docs, min_tokens=5, threshold=0.5)
    kept.persist()
    n1 = kept.count()
    assert 0 < n1 <= n0

    # decontaminate against a planted benchmark: k=4 so every surviving
    # doc (>= 5 tokens) has grams — an unflagged leak is impossible
    eval_df = docs.filter(F.col("doc_id") % 37 == 0)
    flags = decontaminate(kept, eval_df, k=4)
    clean = kept.join(
        flags.filter(F.col("contaminated") == 0).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    clean.persist()
    n2 = clean.count()
    leaked = clean.filter(F.col("doc_id") % 37 == 0).count()
    assert leaked == 0, f"{leaked} benchmark docs survived scrubbing"
    assert 0 < n2 < n1, "decontamination must remove the planted set"

    spl = split_assign(
        clean, {"train": 0.9, "val": 0.05, "test": 0.05}, seed=11
    )
    spl.persist()
    by_split = dict(
        (r["split"], r["n"])
        for r in spl.groupBy("split").agg(
            F.count("*").alias("n")).collect()
    )
    assert sum(by_split.values()) == n2, "splits must be exhaustive"
    assert by_split.get("train", 0) > 0

    train = spl.filter(F.col("split") == "train")
    merges = bpe_train(train, num_merges=24, min_freq=2)
    n_merges = merges.count()
    assert n_merges > 0

    enc = bpe_encode(train, merges, out_col="bpe")
    tok_train = enc.select(
        "doc_id", F.array_join("bpe", " ").alias("text")
    )
    total_tokens = int(
        enc.agg(F.sum(F.size("bpe"))).collect()[0][0]
    )
    packed = pack_sequences(tok_train, capacity=128)
    packed.persist()
    packed_tokens = int(packed.agg(F.sum("n_tok")).collect()[0][0])
    assert packed_tokens == total_tokens, "packing lost tokens"
    per_seq = packed.groupBy("seq_id").agg(
        F.sum("n_tok").alias("fill"),
        F.max(F.col("seq_off") + F.col("n_tok")).alias("hi"),
    )
    assert per_seq.filter(F.col("hi") > 128).count() == 0, "overflow"
    n_seq = per_seq.count()
    assert per_seq.filter(F.col("fill") < 128).count() <= 1, \
        "only the final sequence may be non-full"

    rows = [
        ("00_input_docs", n0),
        ("01_curated_docs", n1),
        ("02_decontaminated_docs", n2),
        ("03_train_docs", by_split.get("train", 0)),
        ("04_val_docs", by_split.get("val", 0)),
        ("05_test_docs", by_split.get("test", 0)),
        ("06_bpe_merges", n_merges),
        ("07_train_bpe_tokens", total_tokens),
        ("08_train_sequences", n_seq),
    ]
    return spark.createDataFrame(
        [{"stage": s, "n": int(v)} for s, v in rows]
    ).orderBy("stage")


def _q_chunk_documents(spark, sf_dir):
    """Sliding-window chunking (RAG/long-doc layout): 24-token windows
    advancing by 18 so sf docs (~40 tokens) produce several overlapping
    chunks each; pure map plan (no shuffle) vs the identical DuckDB
    window arithmetic."""
    from lakehouse.packing import chunk_documents

    return chunk_documents(
        _read(spark, sf_dir, "documents"), chunk_tokens=24, overlap=6
    )


def _q_pack_sequences(spark, sf_dir):
    from lakehouse.packing import pack_sequences

    # capacity 128 so sf0.01's ~40-token docs actually straddle
    # sequence boundaries; bucket_width 64 forces the two-pass
    # distributed prefix sum through multiple real buckets
    return pack_sequences(
        _read(spark, sf_dir, "documents"), capacity=128, bucket_width=64
    )


def _q_length_bucket_batches(spark, sf_dir):
    from lakehouse.packing import bucket_batches
    from lakehouse.textops import token_count_ws

    # padding-minimizing batch assembly: bucket docs by token count
    # (fixed 64-token integer ranges), cut each bucket into batches of
    # 16 in doc_id order; sub_width 64 forces the two-pass distributed
    # row numbering through multiple real sub-buckets at sf0.01
    return bucket_batches(
        _read(spark, sf_dir, "documents"),
        token_count_ws(F.col("text")),
        id_col="doc_id",
        batch_size=16,
        bucket_len=64,
        sub_width=64,
    )


def _q_audio_duration_batches(spark, sf_dir):
    """Self-verifying: duration-bucketed batch assembly over audio clips
    (the ASR-loader twin of length_bucket_batches). The builder asserts
    the invariant that makes bucketing worth shipping: total padding
    with 250 ms buckets is <= total padding of the same batching with
    ONE bucket (unsorted baseline), and every batch conserves rows
    (sum n_rows == n clips)."""
    from lakehouse.packing import bucket_batches
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 512, seed=42, n_days=4).select(
        "clip_id", "dur_ms"
    )
    idx = F.split(F.col("clip_id"), "-").getItem(1).cast("long")
    clips = df.select(idx.alias("cid"), "dur_ms")
    out = bucket_batches(
        clips, F.col("dur_ms"), id_col="cid", batch_size=8,
        bucket_len=250, sub_width=64,
    )
    bucketed = out.agg(
        F.sum("pad_len").alias("pad"), F.sum("n_rows").alias("n")
    ).collect()[0]
    flat = (
        bucket_batches(
            clips, F.col("dur_ms"), id_col="cid", batch_size=8,
            bucket_len=1 << 40, sub_width=64,
        )
        .agg(F.sum("pad_len").alias("pad"))
        .collect()[0]
    )
    assert bucketed.n == 512, f"row conservation violated: {bucketed.n}"
    assert bucketed.pad <= flat.pad, (
        f"bucketing increased padding: {bucketed.pad} > {flat.pad}"
    )
    return out


def _q_sample_hash(spark, sf_dir):
    from lakehouse.sampling import hash_sample

    # deterministic Bernoulli: membership is f(seed, doc_id) only —
    # same rows on any cluster size / partitioning / retry
    return hash_sample(
        _read(spark, sf_dir, "documents"), fraction=0.25, seed=7
    )


def _q_sample_stratified(spark, sf_dir):
    from lakehouse.sampling import stratified_sample

    # exactly-n-per-language via rank over the seeded hash (uniform
    # without replacement); one shuffle keyed on the stratum
    return stratified_sample(
        _read(spark, sf_dir, "documents"), ["lang"], 15, seed=7
    )


def _q_sample_mixture(spark, sf_dir):
    from lakehouse.sampling import stratified_fractions

    # corpus mixture weighting: per-source keep rates as ONE filter
    return stratified_fractions(
        _read(spark, sf_dir, "documents"),
        "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        seed=7,
        default_fraction=0.1,
    )


def _q_split_assign(spark, sf_dir):
    from lakehouse.sampling import split_assign

    # deterministic train/val/test labels: disjoint + exhaustive by
    # construction (cumulative thresholds over ONE hash draw); a row's
    # split never depends on the rest of the corpus
    return split_assign(
        _read(spark, sf_dir, "documents"),
        {"train": 0.9, "val": 0.05, "test": 0.05},
        seed=13,
    )


def _q_lang_id(spark, sf_dir):
    from lakehouse.textops import lang_id

    return lang_id(_read(spark, sf_dir, "documents"))


def _q_token_stats(spark, sf_dir):
    from lakehouse.textops import token_stats

    return token_stats(_read(spark, sf_dir, "documents"))


def _q_fingerprint(spark, sf_dir):
    from lakehouse.textops import doc_fingerprint

    return doc_fingerprint(_read(spark, sf_dir, "documents"), k=8)


def _q_bpe_train(spark, sf_dir):
    """Self-verifying distributed BPE tokenizer training (Sennrich 2016
    as map-reduce; lakehouse/bpe.py). The GATE bounds the corpus (a
    deterministic doc_id slice) so the pure-Python reference trainer can
    re-derive the merge sequence on the identical word frequencies —
    the distributed trainer must match merge-for-merge including
    tie-breaks; encoding every sampled doc with the learned table must
    detokenize back to the normalized text. The operator itself keeps
    the word table distributed (one corpus shuffle; one argmax row to
    the driver per merge)."""
    from collections import Counter

    from lakehouse.bpe import END_OF_WORD, bpe_encode, bpe_train, py_bpe_train

    docs = _read(spark, sf_dir, "documents").where("doc_id % 5 = 0")
    merges_df = bpe_train(docs, num_merges=24, min_freq=2)

    texts = [r.text for r in docs.select("text").collect()]
    wf = Counter(w for t in texts for w in t.lower().split() if w)
    want = py_bpe_train(dict(wf), num_merges=24, min_freq=2)
    got = [
        (r["rank"], r["left"], r["right"], r["pair_freq"])
        for r in merges_df.orderBy("rank").collect()
    ]
    assert got == want, (got[:5], want[:5])
    assert len(got) == 24, len(got)

    sample = docs.where("doc_id % 35 = 0")
    enc = bpe_encode(sample, merges_df).select("doc_id", "text", "bpe_tokens")
    for r in enc.collect():
        detok = "".join(r.bpe_tokens).replace(END_OF_WORD, " ").strip()
        assert detok == " ".join(r.text.lower().split()), r.doc_id

    return merges_df.orderBy("rank")


QUERY_VEC_IDS = list(range(10))


def _q_cosine_topk(spark, sf_dir):
    from lakehouse.similarity import cosine_topk

    return cosine_topk(_read(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, k=5)


def _q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 per-vector quantization (8 B/dim -> 1 B/dim; the
    100 TB similarity working-set lever); scale + integer self-norm
    match the bit-exact DuckDB twin."""
    from lakehouse.similarity import quantize_embeddings

    return quantize_embeddings(_read(spark, sf_dir, "embeddings")).select(
        "vec_id", "scale", "qnorm2"
    )


def _q_cosine_topk_int8(spark, sf_dir):
    """Top-k cosine over int8-quantized vectors (scales cancel: integer
    dot / sqrt of integer norms — no dequantization). Oracle-exact vs
    the same quantized arithmetic in DuckDB; the builder additionally
    asserts recall@5 >= 0.9 against the float-exact cosine_topk."""
    from lakehouse.similarity import cosine_topk, cosine_topk_int8

    emb = _read(spark, sf_dir, "embeddings")
    out = cosine_topk_int8(emb, QUERY_VEC_IDS, k=5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, QUERY_VEC_IDS, k=5).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    recall = len(got & exact) / max(1, len(exact))
    assert recall >= 0.9, f"int8 recall@5 vs exact = {recall}"
    return out


def _q_ann_ivf(spark, sf_dir):
    from lakehouse.similarity import ann_ivf_topk

    # 16 coarse lists, probe the 4 nearest — candidates ~ corpus/4; at
    # 10^12 rows the same plan runs with n_centroids in the thousands
    # (assignment stays ONE projection pass; probe side stays broadcast)
    return ann_ivf_topk(
        _read(spark, sf_dir, "embeddings"),
        QUERY_VEC_IDS,
        k=5,
        n_centroids=16,
        nprobe=4,
    )


def _q_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced sampling (lakehouse/similarity.py): cap each
    embedding-space cluster at k rows — the diversity-curation
    complement of SemDeDup (a raw hash sample reproduces density skew;
    this flattens the mode mix, SSL-Prototypes style). IVF assignment
    is the one full pass; per-cluster selection ranks by a seeded md5
    draw through the salted two-level top-k, so a dominant cluster
    never lands in one task. Oracle = identical centroid arithmetic +
    md5 draw with a plain row_number."""
    from lakehouse.similarity import cluster_balanced_sample

    return cluster_balanced_sample(
        _read(spark, sf_dir, "embeddings"), 25, n_centroids=16
    )


def _q_pq_topk(spark, sf_dir):
    from lakehouse.similarity import pq_topk

    # product-quantized ADC top-k: the corpus side of the scoring join
    # carries ONLY (id, 8 tinyints) — 32x less than raw float32; the
    # oracle twin regenerates the seeded codebooks and re-runs the
    # identical encode + lookup arithmetic
    return pq_topk(_read(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, k=5)


def _q_ann_ivfpq(spark, sf_dir):
    from lakehouse.similarity import ann_ivfpq_topk

    # the FAISS IVFPQ architecture: coarse lists prune to nprobe/16 of
    # the corpus, PQ codes score the survivors — both computed in ONE
    # projection pass over the raw vectors
    return ann_ivfpq_topk(
        _read(spark, sf_dir, "embeddings"),
        QUERY_VEC_IDS,
        k=5,
        n_coarse=16,
        nprobe=4,
    )


def _q_ann_lsh(spark, sf_dir):
    from lakehouse.similarity import ann_lsh_topk

    # 8 bits = 256 buckets (16x round 1's ceiling), multiprobe=2 probes
    # Hamming-<=2 neighbors; bucket count is a corpus-size knob — at
    # 10^12 rows the same mechanism runs at n_bits 20+ unchanged
    return ann_lsh_topk(
        _read(spark, sf_dir, "embeddings"),
        QUERY_VEC_IDS,
        k=5,
        n_bits=8,
        multiprobe=2,
    )


def _q_embedding_near_dup(spark, sf_dir):
    from lakehouse.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        _read(spark, sf_dir, "embeddings"), threshold=0.45, n_bits=16, n_bands=4
    )


def _q_semantic_dedup(spark, sf_dir):
    from lakehouse.similarity import semantic_dedup

    # SemDeDup over the embeddings table: 16 coarse lists here; at
    # 10^12 rows the same plan runs with n_centroids ~ 10^5 so every
    # inverted list stays small — the within-cluster join is the only
    # shuffle besides the assignment projection
    return semantic_dedup(
        _read(spark, sf_dir, "embeddings"), threshold=0.45, n_centroids=16
    )


# ---------------------------------------------------------------------------
# audio payload (rows-only checks; deterministic synth, no sf input)


def _q_audio_decode(spark, sf_dir):
    """Self-verifying (no SQL oracle exists for WAV decode): the builder
    itself asserts the decode invariants from tests/test_audio.py:65 —
    every clip decodes, and n_samples == sr_hz * dur_ms // 1000 exactly
    — so the driver's rows-only gate proves correctness, not liveness
    (VERDICT.md next-round #2)."""
    from lakehouse.audio import with_audio_features
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 256, seed=42, n_days=4)
    out = with_audio_features(df).select(
        "clip_id",
        "sr_hz",
        "dur_ms",
        "codec",
        F.col("audio.ok").alias("decode_ok"),
        F.col("audio.n_samples").alias("n_samples"),
        F.round(F.col("audio.rms"), 4).alias("rms"),
        F.size(F.split("transcript", " ")).alias("n_words"),
    )
    chk = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~F.col("decode_ok")).cast("int")).alias("n_bad"),
        F.sum(
            (
                F.col("n_samples")
                != F.expr("div(CAST(sr_hz AS BIGINT) * dur_ms, 1000)")
            ).cast("int")
        ).alias("n_len_mismatch"),
    ).collect()[0]
    assert chk.n == 256 and chk.n_bad == 0 and chk.n_len_mismatch == 0, (
        f"audio decode invariant violated: {chk}"
    )
    return out


def _q_audio_snr(spark, sf_dir):
    """Self-verifying: asserts the SNR >= 30 dB invariant holds for ALL
    pcm16/f32 clips (tests/test_audio.py:85 made distributed), so the
    driver's rows-only gate fails loudly on any violation."""
    from lakehouse.audio import synth_snr_db
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 128, seed=42, n_days=4)
    idx = F.split(F.col("clip_id"), "-").getItem(1).cast("long")
    snr = synth_snr_db(F.col("bytes"), idx, F.lit(42))
    out = (
        df.withColumn("snr_db", snr)
        .groupBy("codec")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("snr_db") >= 30.0).cast("int")).alias("n_snr_ok"),
        )
    )
    # pcm8's theoretical quantization floor sits below 30 dB (see
    # tests/test_audio.py:26); the canonical invariant covers the rest
    bad = out.filter(
        (F.col("codec") != "pcm8") & (F.col("n_snr_ok") != F.col("n"))
    ).collect()
    assert not bad, f"SNR invariant violated for codecs: {bad}"
    return out


def _q_cosine_topk_arrow(spark, sf_dir):
    """Self-verifying: the Arrow/numpy partial-top-k cosine path (one
    BLAS matmul per Arrow batch, only k candidates per batch cross the
    shuffle) must return neighbor-for-neighbor the same ranking as the
    oracle-green Catalyst path on the same queries (asserted, cosine
    tolerance 1e-4 for independent roundings)."""
    from lakehouse.similarity import cosine_topk, cosine_topk_arrow

    emb = _read(spark, sf_dir, "embeddings").repartition(8)
    qids = [0, 7, 23, 41]
    got = cosine_topk_arrow(emb, qids, k=5)
    ref = {
        (r.query_id, r.rank): r for r in cosine_topk(emb, qids, k=5).collect()
    }
    rows = got.collect()
    assert len(rows) == len(ref)
    for r in rows:
        want = ref[(r.query_id, r.rank)]
        assert r.neighbor_id == want.neighbor_id, (r, want)
        assert abs(r.cosine - float(want.cosine)) <= 1e-4
    return got


def _q_curate_documents(spark, sf_dir):
    """One-call corpus curation (exact dedup -> verified MinHash-LSH
    near-dedup keeping each cluster's min id -> token-count quality
    floor), the composed training-data flow; oracle = the same
    composition of the per-stage SQL oracles in DuckDB."""
    from lakehouse.dedup import curate_documents

    df = _read(spark, sf_dir, "documents")
    return curate_documents(df).select("doc_id", "lang", "n_chars")


def _q_profile_documents(spark, sf_dir):
    """One-pass per-column dataset profile (long format: one row per
    column) over the documents table — count/nulls/exact distinct/
    min/max plus mean and exact interpolated median for numerics, all
    built-in aggregates in a single aggregation job. Oracle = the same
    statistics in DuckDB (quantile_cont == Spark's percentile)."""
    from lakehouse.profile import profile_columns

    df = _read(spark, sf_dir, "documents")
    return profile_columns(df, ["doc_id", "text", "lang", "n_chars"])


def _q_audio_spectral(spark, sf_dir):
    """Self-verifying (no SQL oracle for FFT): framed-FFT spectral
    features over deterministic synth clips. The builder asserts the
    invariants from tests/test_audio.py (every clip analyzes; band
    energies PARTITION the spectrum so their sum equals total_energy
    to float tolerance — a Parseval-style exactness check; centroid and
    95% rolloff inside Nyquist), so the driver's rows-only gate proves
    correctness, not liveness."""
    from lakehouse.audio import with_spectral_features
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 192, seed=42, n_days=4)
    out = with_spectral_features(df).select(
        "clip_id",
        "sr_hz",
        F.col("spectral.n_frames").alias("n_frames"),
        F.round("spectral.centroid_hz", 2).alias("centroid_hz"),
        F.round("spectral.bandwidth_hz", 2).alias("bandwidth_hz"),
        F.round("spectral.rolloff95_hz", 2).alias("rolloff95_hz"),
        F.col("spectral.ok").alias("ok"),
        (
            F.abs(
                F.aggregate(
                    "spectral.band_energy", F.lit(0.0), lambda a, v: a + v
                )
                - F.col("spectral.total_energy")
            )
            <= F.col("spectral.total_energy") * 1e-9 + 1e-12
        ).alias("parseval_ok"),
    )
    chk = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~F.col("ok")).cast("int")).alias("n_bad"),
        F.sum((~F.col("parseval_ok")).cast("int")).alias("n_pv_bad"),
        F.sum(
            (
                (F.col("centroid_hz") < 0)
                | (F.col("centroid_hz") > F.col("sr_hz") / 2)
                | (F.col("rolloff95_hz") > F.col("sr_hz") / 2)
            ).cast("int")
        ).alias("n_bounds_bad"),
    ).collect()[0]
    assert chk.n == 192 and chk.n_bad == 0, chk
    assert chk.n_pv_bad == 0 and chk.n_bounds_bad == 0, chk
    return out


def _q_audio_dominant_freq(spark, sf_dir):
    """Self-verifying DSP estimation with GENERATOR ground truth: the
    FFT-peak dominant frequency (parabolic interpolation, sub-bin
    accuracy) must land within 8 Hz / 2 raw bins of a strongest-tier
    sinusoid the synthetic generator actually planted — the component
    list is re-derived from the same rng stream, per clip, inside the
    checker UDF (asserted for ALL clips)."""
    from lakehouse.audio import synth_dominant_error_udf, with_dominant_freq
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 192, seed=42, n_days=4)
    idx = F.split(F.col("clip_id"), "-").getItem(1).cast("long")
    out = (
        with_dominant_freq(df)
        .withColumn(
            "err_hz", synth_dominant_error_udf(42)(F.col("bytes"), idx)
        )
        .select(
            "clip_id",
            "sr_hz",
            F.col("dominant.ok").alias("ok"),
            F.round("dominant.dominant_hz", 2).alias("dominant_hz"),
            F.round("dominant.bin_hz", 3).alias("bin_hz"),
            F.round("err_hz", 3).alias("err_hz"),
        )
    )
    chk = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~F.col("ok")).cast("int")).alias("n_bad"),
        F.sum(
            (
                F.col("err_hz") > F.greatest(F.lit(8.0), F.col("bin_hz") * 2)
            ).cast("int")
        ).alias("n_off"),
    ).collect()[0]
    assert chk.n == 192 and chk.n_bad == 0 and chk.n_off == 0, chk
    return out


def _q_audio_spectral_topk(spark, sf_dir):
    """Self-verifying: audio-content similarity search with NO external
    model — unit-norm log-band-energy embeddings from the framed FFT,
    exact cosine top-1 via the similarity module. Planted byte-
    identical copies (same synth idx under a new id) MUST resolve to
    their originals with cosine ~ 1 (asserted), so the rows-only gate
    carries a real recall check."""
    from lakehouse.audio import with_spectral_embedding
    from lakehouse.similarity import cosine_topk
    from lakehouse.synth import synth_clips_df

    base = synth_clips_df(spark, 160, seed=42, n_days=4)
    copies = (
        synth_clips_df(spark, 4, seed=42, n_days=4)
        .withColumn("clip_id", F.concat(F.lit("copy-"), F.col("clip_id")))
    )
    emb = with_spectral_embedding(base.unionByName(copies)).select(
        "clip_id", "embedding"
    )
    qids = [r.clip_id for r in copies.select("clip_id").collect()]
    top1 = cosine_topk(emb, qids, k=1, id_col="clip_id", vec_col="embedding")
    rows = top1.collect()
    got = {r.query_id: (r.neighbor_id, r.cosine) for r in rows}
    for q in qids:
        nb, cos = got[q]
        assert nb == q[len("copy-"):] and cos >= 0.9999, (q, nb, cos)
    return top1


def _q_lh_audio_dedup_curation(spark, sf_dir):
    """End-to-end curation flow (rows-only, self-verifying): a lakehouse
    table with planted duplicate clips → dedup_clips (fingerprint →
    pigeonhole Hamming pairs → merge-on-read equality delete of each
    pair's greater id) → compact folds the delete in. Asserts the
    delete commit rewrote nothing, exactly the planted copies vanished,
    and a second pass is a no-op."""
    from lakehouse import Table
    from lakehouse.audio import dedup_clips
    from lakehouse.schema import CLIPS_SCHEMA
    from lakehouse.synth import synth_clips_df, synth_clips_pdf

    root = tempfile.mkdtemp(prefix="lh_dedup_")
    t = Table.create(
        spark,
        os.path.join(root, "clips"),
        CLIPS_SCHEMA,
        partition_spec=[
            {"name": "event_date", "transform": "identity", "source": "event_date"}
        ],
    )
    t.append(synth_clips_df(spark, 96, seed=51, n_days=2), target_file_count=4)
    dup = synth_clips_pdf(range(0, 6), seed=51, n_days=2)
    dup["clip_id"] = [f"zz-dup-{i}" for i in range(6)]
    t.append(spark.createDataFrame(dup, schema=CLIPS_SCHEMA), target_file_count=1)

    files_before = {e.file_path for e in t.plan().files}
    res = dedup_clips(t)
    assert res.keys_deleted == 6, res
    assert {e.file_path for e in t.plan().files} == files_before, (
        "dedup delete must be merge-on-read (no data rewrite)"
    )
    t.compact()  # folds the delete in
    assert t.plan().delete_files == []
    out = t.scan().select("clip_id", "dur_ms").orderBy("clip_id")
    ids = [r.clip_id for r in out.collect()]
    assert len(ids) == 96 and not any(i.startswith("zz-dup") for i in ids)
    res2 = dedup_clips(t)
    assert res2.keys_deleted == 0 and res2.snapshot_id is None
    return out


def _q_lh_wav_dir_ingest(spark, sf_dir):
    """File-drop source (rows-only, self-verifying): write a tree of
    raw .wav files (3 codecs + one corrupt), bulk-ingest through
    Spark's binaryFile source into the clips schema, and assert
    in-builder that payload bytes survive untouched, header fields
    (sr/dur/codec) match the generator, the corrupt file routes to
    quarantine via ingest_error, and the valid subset appends into a
    lakehouse table whose scan equals the drop. Returns per-codec
    counts + duration sums (deterministic)."""
    from lakehouse import Table
    from lakehouse.audio import ingest_wav_dir
    from lakehouse.schema import CLIPS_SCHEMA
    from lakehouse.synth import synth_pcm, wrap_wav

    root = tempfile.mkdtemp(prefix="lh_wavdrop_")
    drop = os.path.join(root, "drop", "day1")
    os.makedirs(drop)
    sr = 8000
    originals = {}
    for i in range(24):
        codec = ["pcm16", "mulaw", "alaw"][i % 3]
        x = synth_pcm(7, i, sr, sr // 4 + 100 * (i % 5))
        raw = wrap_wav(x, sr, codec)
        cid = f"clip-{i:03d}"
        with open(os.path.join(drop, cid + ".wav"), "wb") as f:
            f.write(raw)
        originals[cid] = (codec, raw, len(x))
    with open(os.path.join(drop, "broken.wav"), "wb") as f:
        f.write(b"RIFFxxxxWAVEgarbage")

    out = ingest_wav_dir(spark, os.path.join(root, "drop"))
    rows = {r["clip_id"]: r for r in out.collect()}
    assert set(rows) == set(originals) | {"broken"}
    assert rows["broken"]["ingest_error"] and rows["broken"]["codec"] is None
    for cid, (codec, raw, n) in originals.items():
        r = rows[cid]
        assert (r["codec"], r["sr_hz"]) == (codec, sr)
        assert r["dur_ms"] == int(n * 1000 / sr + 0.5)  # HALF_UP like F.round
        assert bytes(r["bytes"]) == raw, "payload must survive untouched"

    t = Table.create(spark, os.path.join(root, "t"), CLIPS_SCHEMA)
    t.append(out.filter("ingest_error IS NULL").drop("ingest_error"))
    assert t.scan().count() == len(originals)
    return (
        t.scan()
        .groupBy("codec")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dur_ms").cast("long").alias("dur_sum"),
        )
        .orderBy("codec")
    )


def _q_lh_audio_roundtrip(spark, sf_dir):
    """Clips table through append→compact→cluster; PCM sha1 + transcript
    must be invariant (the per-row payload invariant, rows-only)."""
    from lakehouse import Table
    from lakehouse.audio import pcm_sha1
    from lakehouse.schema import CLIPS_SCHEMA
    from lakehouse.synth import synth_clips_df

    root = tempfile.mkdtemp(prefix="lh_audio_")
    t = Table.create(
        spark,
        os.path.join(root, "clips"),
        CLIPS_SCHEMA,
        partition_spec=[
            {"name": "event_date", "transform": "identity", "source": "event_date"}
        ],
    )
    for i in range(3):
        t.append(
            # pmod, not %: Spark's % keeps the dividend's sign, so a
            # negative xxhash64 % 3 is in {0,-1,-2} and rows silently
            # vanish from every split (caught by the self-verify below)
            synth_clips_df(spark, 64, seed=42, n_days=2).filter(
                F.pmod(F.xxhash64("clip_id"), F.lit(3)) == i
            ),
            target_file_count=2,
        )
    t.compact()
    t.cluster(["clip_id"], curve="zorder")
    out = t.scan().select(
        "clip_id",
        "transcript",
        pcm_sha1(F.col("bytes")).alias("pcm_sha1"),
    )
    # self-verifying: the post-maintenance scan must equal the
    # independently regenerated synth reference bit-for-bit (PCM sha1 +
    # transcript), making the rows-only gate a real correctness check
    ref = synth_clips_df(spark, 64, seed=42, n_days=2).select(
        "clip_id",
        "transcript",
        pcm_sha1(F.col("bytes")).alias("pcm_sha1"),
    )
    missing = ref.exceptAll(out).count()
    extra = out.exceptAll(ref).count()
    assert missing == 0 and extra == 0, (
        f"audio roundtrip drifted from synth reference: "
        f"missing={missing} extra={extra}"
    )
    return out


def _q_audio_resample_segment(spark, sf_dir):
    """DSP transform surface (rows-only): resample to 8 kHz then trim to
    [100,300) ms, all through vectorized struct-returning pandas UDFs;
    features prove the payload stayed decodable audio."""
    from lakehouse.audio import audio_features_ext, resample_clips, segment_clips
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 96, seed=42, n_days=2, num_partitions=4)
    out = segment_clips(resample_clips(df, 8000), 100, 300)
    res = out.select(
        "clip_id",
        "sr_hz",
        "dur_ms",
        audio_features_ext(F.col("bytes")).alias("f"),
    ).select("clip_id", "sr_hz", "dur_ms", "f.peak", "f.zcr", "f.silence_ratio")
    # self-verifying DSP invariants (tests/test_audio.py:121,136,148):
    # resample pinned every clip to 8 kHz, the [100,300) ms segment is
    # <= 200 ms, and the payload stayed decodable audio with in-range
    # features — violations fail the driver gate loudly
    chk = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("sr_hz") != 8000).cast("int")).alias("bad_sr"),
        F.sum((F.col("dur_ms") > 200).cast("int")).alias("bad_dur"),
        F.sum(
            (
                ~F.col("peak").between(0.0, 1.0)
                | ~F.col("zcr").between(0.0, 1.0)
                | ~F.col("silence_ratio").between(0.0, 1.0)
            ).cast("int")
        ).alias("bad_feat"),
    ).collect()[0]
    assert (
        chk.n > 0 and chk.bad_sr == 0 and chk.bad_dur == 0 and chk.bad_feat == 0
    ), f"resample/segment invariant violated: {chk}"
    return res


def _q_audio_transcode_g711(spark, sf_dir):
    """Codec normalization surface (rows-only): transcode the pcm16
    corpus to G.711 mu-law and A-law (pure-numpy companding inside
    Arrow batches, lakehouse/g711.py) and verify per-row fidelity
    DISTRIBUTED: every transcoded clip must hold SNR >= 30 dB against
    its original decode (the BASELINE invariant floor; G.711 sits near
    38 dB) with sr/duration unchanged — violations fail the gate."""
    from lakehouse.audio import pair_snr_db, transcode_clips
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 96, seed=42, n_days=2, num_partitions=4)
    orig = df.select(
        "clip_id", F.col("bytes").alias("obytes"),
        F.col("sr_hz").alias("osr"), F.col("dur_ms").alias("odur"),
    )
    res = None
    for codec in ("mulaw", "alaw"):
        tr = transcode_clips(df, codec).join(orig, "clip_id")
        part = tr.select(
            "clip_id",
            "codec",
            F.round(pair_snr_db(F.col("obytes"), F.col("bytes")), 2).alias(
                "snr_db"
            ),
            (F.col("sr_hz") == F.col("osr")).cast("int").alias("sr_ok"),
            (F.col("dur_ms") == F.col("odur")).cast("int").alias("dur_ok"),
        )
        res = part if res is None else res.unionByName(part)
    chk = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("snr_db").alias("min_snr"),
        F.sum(1 - F.col("sr_ok")).alias("bad_sr"),
        F.sum(1 - F.col("dur_ok")).alias("bad_dur"),
    ).collect()[0]
    assert (
        chk.n == 192 and chk.min_snr >= 30.0
        and chk.bad_sr == 0 and chk.bad_dur == 0
    ), f"G.711 transcode invariant violated: {chk}"
    return res


def _q_audio_transcode_adpcm(spark, sf_dir):
    """4-bit IMA ADPCM transcode tier (rows-only): normalize the pcm16
    corpus to WAV format tag 17 (lakehouse/adpcm.py, block-vectorized —
    the per-sample recurrence loops over BLOCK position with numpy
    across all blocks) and verify distributed: payload shrinks to
    < 0.35x of pcm16, sr/duration survive, and per-row SNR vs the
    original decode holds the codec's honest floors — >= 12 dB overall
    (the synth corpus puts tones at the 8 kHz Nyquist edge, ADPCM's
    slope-overload worst case; decode is verified against a scalar
    textbook IMA decoder in pytest) and >= 25 dB at 44.1 kHz."""
    from lakehouse.audio import pair_snr_db, transcode_clips
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 96, seed=42, n_days=2, num_partitions=4)
    orig = df.select(
        "clip_id", F.col("bytes").alias("obytes"),
        F.length("bytes").alias("olen"),
        F.col("sr_hz").alias("osr"), F.col("dur_ms").alias("odur"),
    )
    res = transcode_clips(df, "adpcm").join(orig, "clip_id").select(
        "clip_id",
        "codec",
        "sr_hz",
        F.round(pair_snr_db(F.col("obytes"), F.col("bytes")), 2).alias("snr_db"),
        F.round(F.length("bytes") / F.col("olen"), 4).alias("size_ratio"),
        (F.col("sr_hz") == F.col("osr")).cast("int").alias("sr_ok"),
        (F.col("dur_ms") == F.col("odur")).cast("int").alias("dur_ok"),
    )
    chk = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("snr_db").alias("min_snr"),
        F.min(F.when(F.col("sr_hz") >= 44100, F.col("snr_db"))).alias("min_hi"),
        F.max("size_ratio").alias("max_ratio"),
        F.sum(1 - F.col("sr_ok")).alias("bad_sr"),
        F.sum(1 - F.col("dur_ok")).alias("bad_dur"),
    ).collect()[0]
    assert (
        chk.n == 96 and chk.min_snr >= 12.0 and chk.min_hi >= 25.0
        and chk.max_ratio < 0.35 and chk.bad_sr == 0 and chk.bad_dur == 0
    ), f"ADPCM transcode invariant violated: {chk}"
    return res


def _q_audio_split_on_silence(spark, sf_dir):
    """Energy-VAD segmentation (rows-only): clips with PLANTED silence
    gaps must split into exactly the planted segment count — one output
    row per voiced segment, fan-out entirely map-side (mapInPandas, no
    shuffle). Self-verifying: the builder asserts per-clip segment
    counts and that every segment decodes as voiced audio."""
    import numpy as np

    from lakehouse.audio import split_on_silence_clips
    from lakehouse.synth import wrap_wav

    sr = 8000

    def tone(ms, f):
        tt = np.arange(int(sr * ms / 1000)) / sr
        return (0.4 * np.sin(2 * np.pi * f * tt)).astype(np.float32)

    gap = np.zeros(int(sr * 0.12), dtype=np.float32)  # 120 ms >= min
    rows, want = [], {}
    for i in range(96):
        n_seg = 1 + i % 4
        parts = []
        for s in range(n_seg):
            if s:
                parts.append(gap)
            parts.append(tone(150 + 10 * s, 300.0 + 50.0 * s))
        cid = f"plant-{i:04d}"
        rows.append((cid, bytearray(wrap_wav(np.concatenate(parts), sr))))
        want[cid] = n_seg
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    segs = split_on_silence_clips(
        df, min_silence_ms=100, min_segment_ms=40
    ).select("clip_id", "seg_idx", "seg_start_ms", "dur_ms")
    got = {
        r.clip_id: r.n
        for r in segs.groupBy("clip_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want, {
        k: (got.get(k), want[k]) for k in want if got.get(k) != want[k]
    }
    return segs


def _q_audio_normalize_trim(spark, sf_dir):
    """Levelling + silence-strip surface (rows-only): peak-normalize to
    0.9 then trim sub-threshold head/tail frames, both vectorized
    struct-returning pandas UDFs. Self-verifying (the in-builder assert
    pattern): every surviving clip's decoded peak must sit at the
    target within 2 PCM16 quantization steps, trim accounting must be
    non-negative and bounded by the original duration."""
    from lakehouse.audio import audio_features_ext, normalize_clips, trim_silence_clips
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 96, seed=43, n_days=2, num_partitions=4)
    out = trim_silence_clips(
        normalize_clips(df, mode="peak", target=0.9), threshold_db=-40.0
    )
    res = out.select(
        "clip_id",
        "dur_ms",
        "gain_db",
        "trimmed_head_ms",
        "trimmed_tail_ms",
        audio_features_ext(F.col("bytes")).alias("f"),
    ).select(
        "clip_id", "dur_ms", "gain_db",
        "trimmed_head_ms", "trimmed_tail_ms", "f.peak",
    )
    q16 = 2.0 / 32767
    chk = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.abs(F.col("peak") - 0.9) > q16).cast("int")
        ).alias("bad_peak"),
        F.sum(
            (
                (F.col("trimmed_head_ms") < 0)
                | (F.col("trimmed_tail_ms") < 0)
            ).cast("int")
        ).alias("bad_trim"),
        F.sum(F.col("gain_db").isNull().cast("int")).alias("bad_gain"),
    ).collect()[0]
    assert (
        chk.n > 0
        and chk.bad_peak == 0
        and chk.bad_trim == 0
        and chk.bad_gain == 0
    ), f"normalize/trim invariant violated: {chk}"
    return res


def _q_audio_dup_detection(spark, sf_dir):
    """Perceptual near-dup detection over audio payloads (rows-only,
    self-verifying): 64-bit Haitsma-Kalker-style fingerprints (frame
    energy + zero-crossing delta signs; one Arrow batch UDF) and the
    shared 16-bit-chunk pigeonhole Hamming equi-join from text dedup —
    never a cross join, so the same plan holds at 10^12 clips.

    The builder PLANTS its own ground truth: exact byte copies and
    gain-scaled (peak-normalized, PCM16-requantized) copies of known
    clips under new ids. Asserts the returned pair set == the planted
    pair set exactly — recall AND precision, no oracle needed."""
    from lakehouse.audio import audio_dup_pairs, normalize_clips
    from lakehouse.schema import CLIPS_SCHEMA
    from lakehouse.synth import synth_clips_df, synth_clips_pdf

    base = synth_clips_df(spark, 128, seed=47, n_days=2, num_partitions=4)
    planted_pdf = synth_clips_pdf(range(0, 8), seed=47, n_days=2)
    copies = planted_pdf.iloc[:4].copy()
    copies["clip_id"] = [f"copy-{i}" for i in range(4)]
    gains = planted_pdf.iloc[4:8].copy()
    gains["clip_id"] = [f"gain-{i}" for i in range(4)]
    gain_df = normalize_clips(
        spark.createDataFrame(gains, schema=CLIPS_SCHEMA),
        mode="peak",
        target=0.5,
    ).select(*[f.name for f in CLIPS_SCHEMA.fields])
    allc = base.unionByName(
        spark.createDataFrame(copies, schema=CLIPS_SCHEMA)
    ).unionByName(gain_df)

    pairs = audio_dup_pairs(allc, max_hamming=3).orderBy("clip_a", "clip_b")
    got = {(r.clip_a, r.clip_b) for r in pairs.collect()}
    planted = {
        tuple(sorted((planted_pdf["clip_id"].iloc[i], f"copy-{i}")))
        for i in range(4)
    } | {
        tuple(sorted((planted_pdf["clip_id"].iloc[4 + i], f"gain-{i}")))
        for i in range(4)
    }
    assert got == planted, (
        f"dup detection missed {planted - got} / false {got - planted}"
    )
    return pairs


# ---------------------------------------------------------------------------
# row-level DML, refs/WAP, rollback, incremental/CDC


def _q_audio_noise_mix(spark, sf_dir):
    """Self-verifying MUSAN-style noise mixing (Snyder et al. 2015).
    Asserted in-builder: (1) no row dropped; (2) every mixed clip's
    measured SNR vs its original payload lands within ±0.5 dB of the
    exact target; (3) unmixed fallbacks (noise-empty hash buckets) are
    flagged AND byte-identical to their source; (4) byte-identical
    under repartitioning of BOTH corpora. Returns the mixed/unmixed
    ledger."""
    from lakehouse.audio import mix_noise_clips, pair_snr_db
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 96, seed=21, n_days=3)
    noise = synth_clips_df(spark, 256, seed=77, n_days=2).withColumn(
        "clip_id", F.concat(F.lit("nz-"), "clip_id")
    )
    out = mix_noise_clips(df, noise, snr_db=10.0, seed=5)
    rows = out.collect()
    assert len(rows) == 96
    base = {r.clip_id: bytes(r.bytes) for r in df.collect()}
    for r in rows:
        if not r.mixed:
            assert r.noise_id is None and bytes(r.bytes) == base[r.clip_id]
    snrs = (
        df.select("clip_id", F.col("bytes").alias("orig"))
        .join(
            out.filter("mixed").select("clip_id", "bytes"), "clip_id"
        )
        .select(pair_snr_db(F.col("orig"), F.col("bytes")).alias("s"))
        .collect()
    )
    assert snrs and all(9.5 <= r.s <= 10.5 for r in snrs), (
        min(r.s for r in snrs),
        max(r.s for r in snrs),
    )
    again = {
        r.clip_id: bytes(r.bytes)
        for r in mix_noise_clips(
            df.repartition(7, "clip_id"),
            noise.repartition(5, "clip_id"),
            snr_db=10.0,
            seed=5,
        ).collect()
    }
    assert {r.clip_id: bytes(r.bytes) for r in rows} == again
    return (
        out.groupBy("mixed")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("noise_id").alias("n_noise_ids"),
        )
        .orderBy("mixed")
    )


def _q_audio_speed_perturb(spark, sf_dir):
    """Self-verifying 3-way speed perturbation (Ko et al. 2015 — the
    deterministic corpus-tripling recipe, vs audio_augment's seeded
    RANDOM perturbation). Asserted in-builder: (1) corpus exactly
    triples with unique ids and the Kaldi sp<f>- id convention; (2)
    the factor-1.0 variant is BYTE-identical to its source (pcm16
    roundtrip exactness); (3) durations scale by 1/f within rounding;
    (4) on planted single-tone clips the measured dominant frequency
    scales by exactly f (spectral correctness of the time stretch);
    (5) output is partitioning-invariant. Returns the per-factor
    duration ledger."""
    import numpy as np

    from lakehouse.audio import speed_perturb_clips, with_dominant_freq
    from lakehouse.synth import synth_clips_df, wrap_wav

    df = synth_clips_df(spark, 96, seed=17, n_days=3).select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"
    )
    sp = speed_perturb_clips(df)
    rows = sp.select(
        "clip_id", "speed_factor", "bytes", "dur_ms", "transcript"
    ).collect()
    assert len(rows) == 3 * 96
    assert len({r.clip_id for r in rows}) == len(rows)
    base = {r.clip_id: r for r in df.collect()}
    for r in rows:
        src = (
            r.clip_id.split("-", 1)[1]
            if r.clip_id.startswith("sp")
            else r.clip_id
        )
        b = base[src]
        assert r.transcript == b.transcript, r.clip_id
        if r.speed_factor == 1.0:
            assert r.clip_id == src and bytes(r.bytes) == bytes(b.bytes)
        assert abs(r.dur_ms - b.dur_ms / r.speed_factor) <= 2.0, r.clip_id

    # partitioning invariance (deterministic grid, no RNG)
    again = {
        r.clip_id: bytes(r.bytes)
        for r in speed_perturb_clips(df.repartition(7, "clip_id"))
        .select("clip_id", "bytes")
        .collect()
    }
    assert {r.clip_id: bytes(r.bytes) for r in rows} == again

    # spectral exactness on planted single tones
    sr = 16000
    tones = []
    for i, f0 in enumerate((220.0, 997.0, 2333.0)):
        t = np.arange(int(sr * 0.8)) / sr
        x = (0.25 * np.sin(2 * np.pi * f0 * t)).astype(np.float32)
        tones.append((f"tone-{i}", f0, wrap_wav(x, sr, "pcm16")))
    tdf = spark.createDataFrame(
        [(cid, b, sr, 800, "pcm16", "x") for cid, _f, b in tones],
        df.schema,
    )
    f0s = {cid: f for cid, f, _b in tones}
    for r in (
        with_dominant_freq(speed_perturb_clips(tdf))
        .select("clip_id", "speed_factor", "dominant")
        .collect()
    ):
        src = (
            r.clip_id.split("-", 1)[1]
            if r.clip_id.startswith("sp")
            else r.clip_id
        )
        want = r.speed_factor * f0s[src]
        got = r.dominant["dominant_hz"]
        assert abs(got - want) <= 0.01 * want + 3.0, (r.clip_id, got, want)

    return (
        sp.groupBy("speed_factor")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dur_ms").alias("dur_total_ms"),
        )
        .orderBy("speed_factor")
    )


def _q_audio_pitch_shift(spark, sf_dir):
    """Self-verifying phase-vocoder pitch shift (duration-preserving —
    the complement of audio_speed_perturb, which shifts pitch and tempo
    together). Asserted in-builder: (1) map-only — the output id set
    equals the input id set; (2) dur_ms is EXACTLY preserved and the
    decoded sample count is unchanged; (3) on planted single-tone clips
    the measured dominant frequency scales by exactly the factor; (4)
    transcript carried; (5) deterministic under repartitioning (no
    RNG). Returns the per-clip dominant-frequency ledger."""
    import numpy as np

    from lakehouse.audio import (
        decode_wav,
        pitch_shift_clips,
        with_dominant_freq,
    )
    from lakehouse.synth import wrap_wav

    sr = 16000
    rows, f0s = [], {}
    for i, f0 in enumerate((220.0, 451.0, 997.0, 1660.0, 2333.0)):
        t = np.arange(int(sr * 0.8)) / sr
        x = (0.25 * np.sin(2 * np.pi * f0 * t)).astype(np.float32)
        cid = f"tone-{i}"
        rows.append((cid, wrap_wav(x, sr, "pcm16"), sr, 800, "pcm16", f"w{i}"))
        f0s[cid] = f0
    df = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    src = {r.clip_id: r for r in df.collect()}
    fac = 1.25
    out = with_dominant_freq(pitch_shift_clips(df, fac))
    got = {
        r.clip_id: r
        for r in out.select(
            "clip_id", "bytes", "dur_ms", "transcript", "dominant"
        ).collect()
    }
    assert set(got) == set(src)
    for cid, r in got.items():
        b = src[cid]
        assert r.dur_ms == b.dur_ms and r.transcript == b.transcript
        _, y = decode_wav(bytes(r.bytes))
        _, x0 = decode_wav(bytes(b.bytes))
        assert len(y) == len(x0), cid
        want = fac * f0s[cid]
        hz = r.dominant["dominant_hz"]
        assert abs(hz - want) <= 0.01 * want + 3.0, (cid, hz, want)
    again = {
        r.clip_id: bytes(r.bytes)
        for r in pitch_shift_clips(df.repartition(3, "clip_id"), fac)
        .select("clip_id", "bytes")
        .collect()
    }
    assert again == {c: bytes(r.bytes) for c, r in got.items()}
    return out.select(
        "clip_id",
        "pitch_factor",
        "dur_ms",
        F.round(F.col("dominant.dominant_hz"), 1).alias("dominant_hz"),
    ).orderBy("clip_id")


def _q_audio_time_stretch(spark, sf_dir):
    """Self-verifying phase-vocoder time stretch (tempo change, pitch
    preserved — the exact complement of audio_pitch_shift). Asserted
    in-builder: (1) map-only — output id set equals input id set;
    (2) the LENGTH LAW: decoded sample count == round(orig / rate) and
    dur_ms recomputed to match; (3) on planted single-tone clips the
    dominant frequency is UNCHANGED (pitch preserved); (4) transcript
    carried; (5) deterministic under repartitioning (no RNG). Returns
    the per-clip dominant-frequency ledger."""
    import numpy as np

    from lakehouse.audio import (
        decode_wav,
        time_stretch_clips,
        with_dominant_freq,
    )
    from lakehouse.synth import wrap_wav

    sr = 16000
    rows, f0s = [], {}
    for i, f0 in enumerate((220.0, 451.0, 997.0, 1660.0, 2333.0)):
        t = np.arange(int(sr * 0.8)) / sr
        x = (0.25 * np.sin(2 * np.pi * f0 * t)).astype(np.float32)
        cid = f"tone-{i}"
        rows.append((cid, wrap_wav(x, sr, "pcm16"), sr, 800, "pcm16", f"w{i}"))
        f0s[cid] = f0
    df = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    src = {r.clip_id: r for r in df.collect()}
    rate = 1.25
    out = with_dominant_freq(time_stretch_clips(df, rate))
    got = {
        r.clip_id: r
        for r in out.select(
            "clip_id", "bytes", "dur_ms", "transcript", "dominant"
        ).collect()
    }
    assert set(got) == set(src)
    for cid, r in got.items():
        b = src[cid]
        assert r.transcript == b.transcript
        _, y = decode_wav(bytes(r.bytes))
        _, x0 = decode_wav(bytes(b.bytes))
        n_want = max(1, int(round(len(x0) / rate)))
        assert len(y) == n_want, (cid, len(y), n_want)
        assert r.dur_ms == int(1000 * n_want / sr + 0.5), cid
        hz = r.dominant["dominant_hz"]
        want = f0s[cid]
        assert abs(hz - want) <= 0.01 * want + 3.0, (cid, hz, want)
    again = {
        r.clip_id: bytes(r.bytes)
        for r in time_stretch_clips(df.repartition(3, "clip_id"), rate)
        .select("clip_id", "bytes")
        .collect()
    }
    assert again == {c: bytes(r.bytes) for c, r in got.items()}
    return out.select(
        "clip_id",
        "stretch_rate",
        "dur_ms",
        F.round(F.col("dominant.dominant_hz"), 1).alias("dominant_hz"),
    ).orderBy("clip_id")


def _q_audio_bandwidth_screen(spark, sf_dir):
    """Self-verifying effective-bandwidth screen (the upsampled-8k-
    masquerading-as-16k corpus defect). Asserted in-builder: planted
    sinc-upsampled broadband clips ALL flag suspect with bw_ratio <
    0.55, native broadband clips ALL pass with bw_ratio > 0.8, and an
    undecodable payload yields a NULL verdict. Returns the per-clip
    bandwidth ledger."""
    import numpy as np

    from lakehouse.audio import _resample_sinc, detect_upsampled_clips
    from lakehouse.synth import wrap_wav

    sr = 16000
    rng = np.random.default_rng(11)
    rows = []
    for i in range(6):
        x = (0.3 * rng.standard_normal(int(sr * 0.6))).clip(-1, 1).astype(
            np.float32
        )
        rows.append(
            (f"nat-{i}", wrap_wav(x, sr, "pcm16"), sr, 600, "pcm16", "w")
        )
        up = _resample_sinc(_resample_sinc(x, sr, 8000), 8000, sr)
        rows.append(
            (f"up-{i}", wrap_wav(up, sr, "pcm16"), sr, 600, "pcm16", "w")
        )
    df = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    out = detect_upsampled_clips(df)
    got = {r.clip_id: r for r in out.collect()}
    assert len(got) == 12
    for i in range(6):
        assert got[f"up-{i}"].suspect_upsampled is True
        assert got[f"nat-{i}"].suspect_upsampled is False
        assert got[f"up-{i}"].bw_ratio < 0.55 < 0.8 < got[f"nat-{i}"].bw_ratio
    return out.select(
        "clip_id", "effective_bw_hz", "bw_ratio", "suspect_upsampled"
    ).orderBy("clip_id")


def _q_audio_compress_dynamics(spark, sf_dir):
    """Self-verifying dynamic-range compression. Asserted in-builder on
    planted loud/soft alternating segments: (1) the loud segment's RMS
    drops by EXACTLY (level − threshold)(1 − 1/ratio) dB within 0.1 dB;
    (2) the sub-threshold segment is untouched within 0.05 dB; (3)
    dur_ms preserved; (4) deterministic under repartitioning. Returns
    the per-clip reduction ledger."""
    import numpy as np

    from lakehouse.audio import compress_dynamics_clips, decode_wav
    from lakehouse.synth import wrap_wav

    sr = 16000
    seg = int(sr * 0.2)
    t = np.arange(seg) / sr
    rows = []
    for i, amp in enumerate((0.5, 0.25)):
        x = np.concatenate(
            [
                amp * np.sin(2 * np.pi * 440 * t),
                0.01 * np.sin(2 * np.pi * 440 * t),
            ]
            * 2
        ).astype(np.float32)
        rows.append(
            (f"c{i}", wrap_wav(x, sr, "pcm16"), sr, 800, "pcm16", "w", amp)
        )
    df = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string, amp double",
    )
    out = compress_dynamics_clips(df, threshold_db=-20.0, ratio=4.0)
    got = {r.clip_id: r for r in out.collect()}

    def rms_db(v):
        return 20 * np.log10(
            np.sqrt(np.mean(v.astype(np.float64) ** 2)) + 1e-12
        )

    q = seg // 4
    for cid, b, amp in [("c0", rows[0][1], 0.5), ("c1", rows[1][1], 0.25)]:
        r = got[cid]
        assert r.dur_ms == 800
        _, xin = decode_wav(bytes(b))
        _, y = decode_wav(bytes(r.bytes))
        lvl = rms_db(xin[q : seg - q])
        want = -(lvl + 20.0) * 0.75
        gotd = rms_db(y[q : seg - q]) - lvl
        assert abs(gotd - want) < 0.1, (cid, gotd, want)
        s_in = rms_db(xin[seg + q : 2 * seg - q])
        s_out = rms_db(y[seg + q : 2 * seg - q])
        assert abs(s_out - s_in) < 0.05, cid
        assert abs(r.reduction_db + want) < 0.2, cid
    again = {
        r.clip_id: bytes(r.bytes)
        for r in compress_dynamics_clips(
            df.repartition(3, "clip_id"), threshold_db=-20.0, ratio=4.0
        ).collect()
    }
    assert again == {c: bytes(r.bytes) for c, r in got.items()}
    return out.select(
        "clip_id", "dur_ms", F.round("reduction_db", 2).alias("reduction_db")
    ).orderBy("clip_id")


def _q_audio_resample_sinc(spark, sf_dir):
    """Self-verifying windowed-sinc resample. Asserted in-builder:
    (1) anti-aliasing — a planted tone ABOVE the target Nyquist decays
    below 1% RMS after the sinc downsample while the linear path folds
    it in at >20% (the aliasing linear interpolation cannot reject);
    (2) at a non-integer ratio the passband SNR vs an ideally-rendered
    reference clears the repo-wide 30 dB bar; (3) payload columns swap
    consistently (sr_hz/dur_ms/codec). Returns the per-clip ledger."""
    import numpy as np

    from lakehouse.audio import decode_wav, resample_clips, snr_db
    from lakehouse.synth import wrap_wav

    sr = 16000
    t = np.arange(int(sr * 0.8)) / sr
    hi = (0.4 * np.sin(2 * np.pi * 5000.0 * t)).astype(np.float32)
    pb = (0.4 * np.sin(2 * np.pi * 2000.0 * t)).astype(np.float32)
    schema = (
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string"
    )
    df = spark.createDataFrame(
        [
            ("hi-5k", wrap_wav(hi, sr, "pcm16"), sr, 800, "pcm16", "x"),
            ("pb-2k", wrap_wav(pb, sr, "pcm16"), sr, 800, "pcm16", "x"),
        ],
        schema,
    )

    def _rms(v):
        return float(np.sqrt(np.mean(v[64:-64].astype(np.float64) ** 2)))

    down_sinc = {
        r.clip_id: r for r in resample_clips(df, 8000, method="sinc").collect()
    }
    down_lin = {
        r.clip_id: r
        for r in resample_clips(df, 8000, method="linear").collect()
    }
    _, ys = decode_wav(bytes(down_sinc["hi-5k"].bytes))
    _, yl = decode_wav(bytes(down_lin["hi-5k"].bytes))
    assert _rms(ys) < 0.01 < 0.2 < _rms(yl), (_rms(ys), _rms(yl))
    assert down_sinc["hi-5k"].sr_hz == 8000
    assert down_sinc["hi-5k"].codec == "pcm16"

    tgt = 11025
    r = {
        x.clip_id: x for x in resample_clips(df, tgt, method="sinc").collect()
    }["pb-2k"]
    _, y = decode_wav(bytes(r.bytes))
    n_out = int(round(len(pb) * tgt / sr))
    ref = (
        0.4 * np.sin(2 * np.pi * 2000.0 * np.arange(n_out) / tgt)
    ).astype(np.float32)
    n = min(len(y), len(ref))
    s = snr_db(ref[64 : n - 64], y[64 : n - 64])
    assert s >= 30.0, s

    rows = [
        ("hi-5k", 8000, float(round(_rms(ys), 4)), float(round(_rms(yl), 4))),
        ("pb-2k", tgt, float(round(s, 1)), None),
    ]
    return spark.createDataFrame(
        rows, "clip_id string, target_sr int, sinc_metric double, "
        "linear_metric double"
    )


def _q_audio_telephony(spark, sf_dir):
    """Self-verifying telephony-channel simulation (8 kHz + G.712
    passband brick-wall + G.711 μ-law round trip + exact-length
    restoration; lakehouse/audio.py): asserted in-builder — (1) no row
    dropped, dur_ms preserved exactly in keep_rate mode; (2) a planted
    in-band tone keeps ≥80% RMS while a planted above-band tone loses
    ≥95%; (3) the bandwidth screen flags every >8 kHz clip after the
    channel (the two ops cross-check); (4) byte-identical under
    repartitioning. Returns the per-clip before/after ledger."""
    import numpy as np
    from pyspark.sql import Row

    from lakehouse.audio import (
        decode_wav,
        detect_upsampled_clips,
        simulate_telephony_clips,
    )
    from lakehouse.synth import synth_clips_df, wrap_wav

    sr = 16000
    t_ax = np.arange(int(sr * 1.2)) / sr
    tones = spark.createDataFrame(
        [
            Row(
                clip_id=f"tone-{f}",
                bytes=wrap_wav(
                    (0.4 * np.sin(2 * np.pi * f * t_ax)).astype(
                        np.float32
                    ),
                    sr,
                    "pcm16",
                ),
                sr_hz=sr,
                dur_ms=1200,
                codec="pcm16",
            )
            for f in (1000.0, 5000.0)
        ]
    )
    out = {r.clip_id: r for r in simulate_telephony_clips(tones).collect()}
    assert all(r.dur_ms == 1200 and r.sr_hz == sr for r in out.values())

    def rms(b):
        _, x = decode_wav(b)
        return float(np.sqrt(np.mean(x.astype(np.float64) ** 2)))

    in_rms = 0.4 / np.sqrt(2.0)
    assert rms(out["tone-1000.0"].bytes) >= 0.8 * in_rms
    assert rms(out["tone-5000.0"].bytes) <= 0.05 * in_rms

    wide = synth_clips_df(spark, 64, seed=37, n_days=2).filter(
        "sr_hz > 8000"
    )
    sim = simulate_telephony_clips(wide)
    flags = detect_upsampled_clips(sim).select(
        "clip_id", "sr_hz", "dur_ms", "suspect_upsampled",
        F.round("bw_ratio", 4).alias("bw_ratio"),
    )
    rows = flags.collect()
    assert len(rows) == wide.count()
    assert all(r.suspect_upsampled for r in rows), "channel must narrow"
    h1 = sorted(
        (r.clip_id, r.h)
        for r in sim.selectExpr("clip_id", "md5(bytes) AS h").collect()
    )
    h2 = sorted(
        (r.clip_id, r.h)
        for r in simulate_telephony_clips(wide.repartition(9))
        .selectExpr("clip_id", "md5(bytes) AS h")
        .collect()
    )
    assert h1 == h2
    return flags


def _q_audio_loudness_norm(spark, sf_dir):
    """Self-verifying EBU R128 loudness levelling (ITU-R BS.1770-4
    K-weighting + gated integration; lakehouse/audio.py): measure the
    corpus, normalize to -23 LUFS (the R128 program level), re-measure.
    Asserted in-builder: (1) no row dropped; (2) every normalized clip
    within ±0.1 LU of target (loudness is scale-covariant, so the gain
    is exact up to PCM16 quantization); (3) the applied gain equals
    target − measured loudness within ±0.1 dB (cross-checks the two
    passes against each other); (4) byte-identical under
    repartitioning. Returns the per-clip loudness ledger."""
    from lakehouse.audio import measure_loudness_clips, normalize_clips
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 96, seed=44, n_days=3)
    before = measure_loudness_clips(df).select(
        "clip_id", F.col("lufs").alias("lufs_in")
    )
    normed = normalize_clips(df, mode="lufs", target=-23.0)
    after = measure_loudness_clips(normed).select(
        "clip_id", "gain_db", F.col("lufs").alias("lufs_out")
    )
    out = before.join(after, "clip_id")
    rows = out.collect()
    assert len(rows) == 96, len(rows)
    for r in rows:
        assert r.lufs_in is not None and r.lufs_out is not None
        assert abs(r.lufs_out - (-23.0)) < 0.1, (r.clip_id, r.lufs_out)
        assert abs(r.gain_db - (-23.0 - r.lufs_in)) < 0.1, r.clip_id
    # determinism: normalized payload bytes invariant under partitioning
    h1 = sorted(
        (r.clip_id, r.h)
        for r in normed.select(
            "clip_id", F.md5("bytes").alias("h")
        ).collect()
    )
    h2 = sorted(
        (r.clip_id, r.h)
        for r in normalize_clips(
            df.repartition(7), mode="lufs", target=-23.0
        ).select("clip_id", F.md5("bytes").alias("h")).collect()
    )
    assert h1 == h2
    return out.select(
        "clip_id",
        F.round("lufs_in", 3).alias("lufs_in"),
        F.round("lufs_out", 3).alias("lufs_out"),
        F.round("gain_db", 3).alias("gain_db"),
    )


def _q_audio_denoise(spark, sf_dir):
    """Self-verifying spectral-gating denoise (Boll 1979 spectral
    subtraction with a median-across-frequency broadband floor).
    Asserted in-builder: (1) no row dropped, duration preserved
    exactly; (2) adding white noise at 5 dB then denoising improves
    per-clip SNR vs the regenerated synth reference for EVERY clip,
    mean improvement >= +3 dB; (3) transparency — denoising already-
    clean clips keeps SNR vs reference >= 12 dB; (4) deterministic:
    byte-identical under repartitioning. Returns the per-clip SNR
    ledger."""
    from lakehouse.audio import augment_clips, denoise_clips, synth_snr_db
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 96, seed=33, n_days=3)
    idx = F.split(F.col("clip_id"), "-").getItem(1).cast("long")
    snr33 = lambda: synth_snr_db(F.col("bytes"), idx, F.lit(33))  # noqa: E731

    noisy = augment_clips(df, seed=9, noise_snr_db=5.0)
    den = denoise_clips(noisy)
    out = (
        noisy.select("clip_id", "dur_ms", snr33().alias("snr_noisy"))
        .join(
            den.select(
                "clip_id",
                F.col("dur_ms").alias("dur_den"),
                "noise_floor_db",
                snr33().alias("snr_denoised"),
            ),
            "clip_id",
        )
        .withColumn(
            "improvement_db", F.col("snr_denoised") - F.col("snr_noisy")
        )
    )
    rows = out.collect()
    assert len(rows) == 96, len(rows)
    assert all(r.dur_den == r.dur_ms for r in rows)
    assert all(r.improvement_db > 0 for r in rows), min(
        r.improvement_db for r in rows
    )
    mean_imp = sum(r.improvement_db for r in rows) / len(rows)
    assert mean_imp >= 3.0, mean_imp

    clean = denoise_clips(df).select("clip_id", snr33().alias("s")).collect()
    assert all(r.s >= 12.0 for r in clean), min(r.s for r in clean)

    again = {
        r.clip_id: bytes(r.bytes)
        for r in denoise_clips(noisy.repartition(7, "clip_id")).collect()
    }
    first = {r.clip_id: bytes(r.bytes) for r in den.collect()}
    assert first == again
    return out.select(
        "clip_id", "snr_noisy", "snr_denoised", "improvement_db",
        "noise_floor_db",
    )


def _q_audio_reverb(spark, sf_dir):
    """Self-verifying reverberation augmentation (Ko et al. 2017 recipe
    with a per-clip synthesized velvet-noise RIR). Asserted in-builder:
    (1) on a 16-clip sample the operator's FFT convolution matches an
    independent DIRECT O(n^2) numpy convolution from the same seeded
    RIR within PCM16 tolerance; (2) duration and sample rate are
    preserved for every clip (alignment safety); (3) the drawn T60 stays
    in range and DRR is finite; (4) re-running on a different
    partitioning is byte-identical (seeded per clip_id, not batch
    position)."""
    import numpy as np

    from lakehouse.audio import _synth_rir, decode_wav, reverb_clips
    from lakehouse.synth import synth_clips_df

    rt = (80.0, 160.0)
    df = synth_clips_df(spark, 96, seed=31, n_days=3).select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec"
    )
    out = reverb_clips(df, seed=9, rt60_range=rt)
    rows = {r.clip_id: r for r in out.collect()}
    orig = {r.clip_id: r for r in df.collect()}
    assert set(rows) == set(orig) and len(rows) == 96
    for cid, r in rows.items():
        o = orig[cid]
        assert r.sr_hz == o.sr_hz and r.dur_ms == o.dur_ms, cid
        assert rt[0] <= r.rt60_ms <= rt[1], cid
        assert r.drr_db is not None and np.isfinite(r.drr_db), cid

    seeds = {
        r.clip_id: r.s
        for r in df.select(
            "clip_id", F.xxhash64("clip_id", F.lit(9)).alias("s")
        ).collect()
    }
    sample = sorted(rows)[::6]  # 16 clips get the expensive direct check
    for cid in sample:
        sr, x = decode_wav(orig[cid].bytes)
        rng = np.random.default_rng(np.uint64(np.int64(seeds[cid])))
        rt60 = float(rng.uniform(*rt))
        h = _synth_rir(rng, sr, rt60)
        y = np.convolve(x.astype(np.float64), h)[: len(x)]
        peak = float(np.max(np.abs(y)))
        if peak > 0.99997:
            y = y * (0.99997 / peak)
        _, got = decode_wav(rows[cid].bytes)
        assert np.allclose(got, y.astype(np.float32), atol=2.5 / 32768.0), cid

    again = {
        r.clip_id: bytes(r.bytes)
        for r in reverb_clips(
            df.repartition(7), seed=9, rt60_range=rt
        ).collect()
    }
    assert all(again[c] == bytes(rows[c].bytes) for c in rows)

    return out.select(
        "clip_id",
        "dur_ms",
        F.round("rt60_ms", 2).alias("rt60_ms"),
        F.round("drr_db", 2).alias("drr_db"),
    ).orderBy("clip_id")


def _q_audio_augment(spark, sf_dir):
    """Self-verifying: seeded training-data augmentation. Invariants
    asserted inside the builder so the driver's rows-only gate proves
    correctness: (1) noise-only augmentation at a 20 dB target lands
    within +/-1.5 dB of target measured against the original payload
    (pair_snr_db — quantization adds <0.1 dB at 20 dB); (2) speed
    perturbation scales duration by 1/s within rounding; (3) the run is
    deterministic — re-running yields byte-identical payloads."""
    from lakehouse.audio import augment_clips, pair_snr_db
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 192, seed=42, n_days=4).select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec"
    )
    noisy = augment_clips(df, seed=7, noise_snr_db=20.0)
    both = df.select("clip_id", F.col("bytes").alias("orig")).join(
        noisy.select("clip_id", "bytes"), "clip_id"
    )
    snr_stats = both.select(
        pair_snr_db(F.col("orig"), F.col("bytes")).alias("snr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            ((F.col("snr") < 18.5) | (F.col("snr") > 21.5)).cast("int")
        ).alias("n_off_target"),
    ).collect()[0]
    assert snr_stats.n == 192 and snr_stats.n_off_target == 0, (
        f"noise SNR off target: {snr_stats}"
    )

    full = augment_clips(
        df, seed=7, noise_snr_db=25.0, gain_db_range=(-6.0, 6.0),
        speed_range=(0.9, 1.1),
    )
    dur_chk = (
        df.select("clip_id", F.col("dur_ms").alias("dur0"))
        .join(full.select("clip_id", "dur_ms", "speed"), "clip_id")
        .withColumn(
            "expect", F.round(F.col("dur0") / F.col("speed"))
        )
        .filter(
            F.abs(F.col("dur_ms") - F.col("expect")) > 2
        )
        .count()
    )
    assert dur_chk == 0, f"{dur_chk} clips broke the speed/duration law"

    rerun = augment_clips(
        df, seed=7, noise_snr_db=25.0, gain_db_range=(-6.0, 6.0),
        speed_range=(0.9, 1.1),
    )
    diff = (
        full.select("clip_id", F.sha1("bytes").alias("h"))
        .join(
            rerun.select("clip_id", F.sha1("bytes").alias("h2")), "clip_id"
        )
        .filter(F.col("h") != F.col("h2"))
        .count()
    )
    assert diff == 0, f"augmentation not deterministic: {diff} clips differ"
    return full.select(
        "clip_id", "sr_hz", "dur_ms",
        F.round("speed", 4).alias("speed"),
        F.round("gain_db", 4).alias("gain_db"),
        "noise_snr_db",
    )


def _q_audio_qc_detection(spark, sf_dir):
    """Self-verifying audio QC screen: plant hard-clipped clips (via a
    +16 dB deterministic gain) and DC-biased clips (+0.25 shift) in a
    clean corpus, run the vectorized feature screen, and assert the
    flagged sets equal the planted sets EXACTLY in both directions
    (recall and precision) — the mis-biased-ADC / hot-gain-stage
    detector a 10^12-clip ingest fleet runs before training."""
    from lakehouse.audio import (
        audio_features_ext,
        augment_clips,
        shift_dc_clips,
    )
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 154, seed=31, n_days=3).select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec"
    )
    idx = F.split(F.col("clip_id"), "-").getItem(1).cast("long")
    is_clip = idx % 7 == 0
    is_dc = (idx % 7 != 0) & (idx % 11 == 0)
    clean = df.filter(~is_clip & ~is_dc)
    hot = augment_clips(
        df.filter(is_clip), seed=1, noise_snr_db=None,
        gain_db_range=(16.0, 16.0),
    ).select(*clean.columns)
    biased = shift_dc_clips(df.filter(is_dc), 0.25).select(*clean.columns)
    corpus = clean.unionByName(hot).unionByName(biased)

    feats = corpus.select(
        "clip_id",
        idx.alias("i"),
        audio_features_ext(F.col("bytes")).alias("f"),
    ).select(
        "clip_id",
        "i",
        (F.col("f.clipping_ratio") > 0.05).alias("flag_clipping"),
        (F.abs(F.col("f.dc_offset")) > 0.1).alias("flag_dc"),
        F.round("f.clipping_ratio", 4).alias("clipping_ratio"),
        F.round("f.dc_offset", 4).alias("dc_offset"),
    )
    wrong = feats.filter(
        (F.col("flag_clipping") != (F.col("i") % 7 == 0))
        | (F.col("flag_dc") != ((F.col("i") % 7 != 0) & (F.col("i") % 11 == 0)))
    ).count()
    assert wrong == 0, f"{wrong} clips mis-flagged"
    n = feats.count()
    assert n == 154, n
    # returned surface = the flag decisions, which the oracle re-derives
    # in pure SQL from the planted-defect rule (clip ids are a closed
    # formula of the index); the raw feature values stay asserted above
    return feats.select("clip_id", "flag_clipping", "flag_dc")


def _q_audio_mfcc_invariance(spark, sf_dir):
    """Self-verifying MFCC embedding: volume-scaled (-12 dB) copies of
    every clip land on the SAME level-invariant embedding (cosine >=
    0.999 after pcm16 re-quantization), while distinct clips stay
    apart (mean cross-cosine well below the match bar) — the property
    that makes mfcc[1:] the right key for loudness-normalized dedup."""
    from lakehouse.audio import augment_clips, with_mfcc_embedding
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 96, seed=17, n_days=2).select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec"
    )
    scaled = augment_clips(
        df, seed=1, noise_snr_db=None, gain_db_range=(-12.0, -12.0)
    ).select("clip_id", "bytes")
    a = with_mfcc_embedding(df.select("clip_id", "bytes")).select(
        "clip_id", F.col("embedding").alias("ea")
    )
    b = with_mfcc_embedding(scaled).select(
        "clip_id", F.col("embedding").alias("eb")
    )
    cos = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    j = a.join(b, "clip_id").select(
        "clip_id", F.round(cos, 4).alias("cos_same")
    )
    n_bad = j.filter(F.col("cos_same") < 0.999).count()
    assert n_bad == 0, f"{n_bad} scaled copies failed to self-match"
    # distinct clips: shifted join pairs clip i with a different clip
    idx = F.split(F.col("clip_id"), "-").getItem(1).cast("long")
    a2 = a.select(idx.alias("i"), "ea")
    b2 = b.select(((idx + 1) % 96).alias("i"), F.col("eb").alias("eo"))
    cross = a2.join(b2, "i").select(
        F.aggregate(
            F.zip_with("ea", "eo", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("c")
    )
    mean_cross = cross.agg(F.avg("c")).collect()[0][0]
    assert mean_cross < 0.9, f"cross-clip cosine too high: {mean_cross}"
    return j


def _q_audio_word_crop(spark, sf_dir):
    """Self-verifying ASR example extractor: one cropped payload per
    aligned word. The builder asserts row fan-out equals the corpus
    word count, every crop decodes to its window length (±1 ms), and
    per clip the windows partition [0, dur) exactly. Zero shuffles —
    the whole extractor is a map (plan-asserted)."""
    from lakehouse.audio import word_crop_examples
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 128, seed=23, n_days=2)
    out = word_crop_examples(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "word_crop_examples must stay a map"
    n_words = df.select(
        F.sum(F.size(F.split("transcript", " ")))
    ).collect()[0][0]
    stats = out.select(
        "clip_id",
        (F.abs(F.col("dur_ms") - (F.col("t_end_ms") - F.col("t_start_ms"))) > 1)
        .cast("int")
        .alias("bad"),
        (F.col("t_end_ms") - F.col("t_start_ms")).alias("w"),
    )
    agg = stats.agg(
        F.count(F.lit(1)).alias("n"), F.sum("bad").alias("n_bad")
    ).collect()[0]
    assert agg.n == n_words and agg.n_bad == 0, agg
    per_clip = (
        out.groupBy("clip_id").agg(F.sum(F.col("t_end_ms") - F.col("t_start_ms")).alias("tot"))
        .join(df.select("clip_id", "dur_ms"), "clip_id")
        .filter("tot != dur_ms")
        .count()
    )
    assert per_clip == 0, f"{per_clip} clips' windows do not partition dur"
    return out.select(
        "clip_id", "pos", "word", "t_start_ms", "t_end_ms", "dur_ms"
    )


def _q_audio_spectrogram(spark, sf_dir):
    """Self-verifying framed log-mel spectrogram materialization: every
    clip decodes, the flat array length equals n_frames*n_mels, and
    n_frames obeys the hop law 1 + (max(n,512)-512) DIV 256 derived
    from dur_ms*sr — the sequence-model feature layout, asserted
    end-to-end."""
    from lakehouse.audio import with_spectrogram
    from lakehouse.synth import synth_clips_df

    df = synth_clips_df(spark, 160, seed=37, n_days=3)
    out = with_spectrogram(df).select(
        "clip_id", "dur_ms", "sr_hz", "spectrogram.*"
    )
    n_samples = F.round(F.col("dur_ms") * F.col("sr_hz") / 1000).cast("long")
    want_frames = (
        F.lit(1) + (F.greatest(n_samples, F.lit(512)) - 512) / 256
    ).cast("long")
    bad = out.filter(
        (~F.col("ok"))
        | (F.size("logmel") != F.col("n_frames") * F.col("n_mels"))
        | (F.col("n_frames") != want_frames)
    ).count()
    assert bad == 0, f"{bad} clips broke the spectrogram laws"
    return out.select(
        "clip_id",
        "n_frames",
        "n_mels",
        F.round(
            F.aggregate(
                "logmel", F.lit(0.0), lambda a, v: a + v
            ) / F.size("logmel"),
            4,
        ).alias("mean_logmel"),
    )


def _q_audio_specaugment(spark, sf_dir):
    """Self-verifying SpecAugment (Park et al. 2019) over the framed
    log-mel layout: per clip, cells OUTSIDE the recorded mask spans are
    bit-identical to the input spectrogram, cells INSIDE equal the
    clip's mean fill value, and the seeded masks are retry/partitioning
    invariant (asserted over the full bounded corpus)."""
    import numpy as np

    from lakehouse.audio import specaugment, with_spectrogram
    from lakehouse.synth import synth_clips_df

    df = with_spectrogram(synth_clips_df(spark, 96, seed=41, n_days=3))
    aug = specaugment(df, seed=11, max_t=12, max_f=4)
    rows = aug.select("clip_id", "spectrogram", "spectrogram_aug").collect()
    assert len(rows) == 96 and all(r.spectrogram_aug.ok for r in rows)
    any_masked = False
    for r in rows:
        nf, nm = r.spectrogram.n_frames, r.spectrogram.n_mels
        orig = np.asarray(r.spectrogram.logmel, np.float32).reshape(nf, nm)
        got = np.asarray(r.spectrogram_aug.logmel, np.float32).reshape(nf, nm)
        masked = np.zeros((nf, nm), dtype=bool)
        for t0, t in r.spectrogram_aug.time_masks:
            masked[t0 : t0 + t, :] = True
        for f0, f in r.spectrogram_aug.freq_masks:
            masked[:, f0 : f0 + f] = True
        assert np.array_equal(got[~masked], orig[~masked]), r.clip_id
        assert np.all(got[masked] == np.float32(orig.mean())), r.clip_id
        any_masked = any_masked or bool(masked.any())
    assert any_masked, "no clip received any mask"
    return aug.select(
        "clip_id",
        F.col("spectrogram_aug.n_frames").alias("n_frames"),
        F.col("spectrogram_aug.n_mels").alias("n_mels"),
        F.size("spectrogram_aug.time_masks").alias("n_time_spans"),
        F.size("spectrogram_aug.freq_masks").alias("n_freq_spans"),
        F.round(
            F.aggregate(
                "spectrogram_aug.logmel", F.lit(0.0), lambda a, v: a + v
            )
            / F.size("spectrogram_aug.logmel"),
            4,
        ).alias("mean_logmel_aug"),
    )


def _q_audio_cmvn(spark, sf_dir):
    """Self-verifying CMVN (cepstral mean/variance normalization, the
    Kaldi apply-cmvn step) over the framed log-mel layout. Per-clip
    path: after with_cmvn every clip's per-dim mean is ~0 and std is ~1
    (full bounded corpus, numpy-checked). Corpus path: apply_cmvn with
    cmvn_corpus_stats literals is pure Catalyst (plan-asserted: no
    Arrow/Python eval node), and recomputing corpus stats on its output
    yields mean ~0 / std ~1 per dim."""
    import numpy as np

    from lakehouse.audio import (
        apply_cmvn,
        cmvn_corpus_stats,
        with_cmvn,
        with_spectrogram,
    )
    from lakehouse.synth import synth_clips_df

    df = with_spectrogram(synth_clips_df(spark, 96, seed=43, n_days=3))
    df.persist()
    try:
        # --- per-clip CMVN ---------------------------------------------------
        rows = with_cmvn(df).select("clip_id", "spectrogram_cmvn").collect()
        assert len(rows) == 96 and all(r.spectrogram_cmvn.ok for r in rows)
        for r in rows:
            nf, nm = r.spectrogram_cmvn.n_frames, r.spectrogram_cmvn.n_mels
            m = np.asarray(r.spectrogram_cmvn.logmel, np.float64).reshape(
                nf, nm
            )
            assert np.abs(m.mean(axis=0)).max() < 1e-4, r.clip_id
            if nf > 1:
                # dims floored by the variance floor are legitimately ≠1
                std = m.std(axis=0)
                assert np.abs(std[std > 0.5] - 1.0).max() < 1e-3, r.clip_id

        # --- corpus-level CMVN ----------------------------------------------
        n, mean, std = cmvn_corpus_stats(df)
        assert n == sum(
            r.n for r in df.select(
                F.col("spectrogram.n_frames").alias("n")
            ).collect()
        )
        normed = apply_cmvn(df, mean, std)
        # plan-gate: everything ABOVE the cached spectrogram scan (the
        # apply_cmvn projection itself) is pure Catalyst — the cached
        # relation's recipe below the InMemoryTableScan boundary is the
        # only place a Python eval node may appear.
        plan = normed._jdf.queryExecution().executedPlan().toString()
        above = plan.split("InMemoryTableScan")[0]
        assert "EvalPython" not in above and "transform(" in above, above
        n2, mean2, std2 = cmvn_corpus_stats(normed, "spectrogram_cmvn")
        assert n2 == n
        assert np.abs(mean2).max() < 1e-4, mean2
        assert np.abs(std2 - 1.0).max() < 1e-3, std2
        return with_cmvn(df).select(
            "clip_id",
            F.col("spectrogram_cmvn.n_frames").alias("n_frames"),
            F.col("spectrogram_cmvn.n_mels").alias("n_mels"),
            F.round(
                F.aggregate(
                    "spectrogram_cmvn.logmel", F.lit(0.0), lambda a, v: a + v
                )
                / F.size("spectrogram_cmvn.logmel"),
                4,
            ).alias("mean_cmvn"),
        )
    finally:
        df.unpersist()


def _q_audio_cmvn_group(spark, sf_dir):
    """Self-verifying per-group CMVN (the Kaldi per-speaker apply-cmvn
    step between per-clip and corpus-global). cmvn_group_stats keeps
    the stats DISTRIBUTED (one row per group — speaker counts scale
    with the corpus, nothing collected); this gate re-derives every
    group's mean/std in numpy on the bounded corpus and asserts the
    operator matches, then checks apply_cmvn_grouped normalized every
    clip with ITS group's stats (per-group recomputed mean ~0 / std ~1)
    and quarantines clips whose group has no stats (ok=false)."""
    import numpy as np

    from lakehouse.audio import (
        apply_cmvn_grouped,
        cmvn_group_stats,
        with_spectrogram,
    )
    from lakehouse.synth import synth_clips_df

    df = with_spectrogram(synth_clips_df(spark, 96, seed=47, n_days=3))
    df = df.withColumn(
        "speaker",
        F.concat(
            F.lit("spk"), F.pmod(F.xxhash64("clip_id"), F.lit(4)).cast("string")
        ),
    )
    df.persist()
    try:
        rows = df.select("clip_id", "speaker", "spectrogram").collect()
        by_grp: dict = {}
        for r in rows:
            m = np.asarray(r.spectrogram.logmel, np.float64).reshape(
                r.spectrogram.n_frames, r.spectrogram.n_mels
            )
            by_grp.setdefault(r.speaker, []).append(m)
        stats = cmvn_group_stats(df, "speaker")
        srows = {r.speaker: r for r in stats.collect()}
        assert set(srows) == set(by_grp) and len(srows) == 4
        for g, ms in by_grp.items():
            frames = np.vstack(ms)
            assert srows[g].n_frames_total == frames.shape[0], g
            assert (
                np.abs(np.array(srows[g].mean) - frames.mean(axis=0)).max()
                < 1e-8
            ), g
            assert (
                np.abs(np.array(srows[g].std) - frames.std(axis=0)).max()
                < 1e-7
            ), g

        normed = apply_cmvn_grouped(df, stats, "speaker")
        got = normed.select("speaker", "spectrogram_cmvn").collect()
        assert len(got) == 96 and all(r.spectrogram_cmvn.ok for r in got)
        regrp: dict = {}
        for r in got:
            m = np.asarray(r.spectrogram_cmvn.logmel, np.float64).reshape(
                r.spectrogram_cmvn.n_frames, r.spectrogram_cmvn.n_mels
            )
            regrp.setdefault(r.speaker, []).append(m)
        for g, ms in regrp.items():
            frames = np.vstack(ms)
            assert np.abs(frames.mean(axis=0)).max() < 1e-4, g
            std = frames.std(axis=0)
            assert np.abs(std[std > 0.5] - 1.0).max() < 1e-3, g

        # a group absent from the stats frame quarantines, never passes
        # unnormalized features silently
        miss = apply_cmvn_grouped(
            df.limit(4).withColumn("speaker", F.lit("spk_unknown")),
            stats,
            "speaker",
        ).select("spectrogram_cmvn.ok").collect()
        assert all(not r.ok for r in miss)

        return (
            stats.select(
                "speaker",
                "n_frames_total",
                F.round(
                    F.aggregate("mean", F.lit(0.0), lambda a, v: a + v)
                    / F.size("mean"),
                    4,
                ).alias("grand_mean"),
            )
            .orderBy("speaker")
        )
    finally:
        df.unpersist()


def _q_audio_deltas(spark, sf_dir):
    """Self-verifying delta / delta-delta regression features (Kaldi
    add-deltas; HTK §5.10): the operator's output matches an
    independent numpy re-derivation on the full bounded corpus, and
    delta-delta equals the delta operator applied twice."""
    import numpy as np

    from lakehouse.audio import _delta_frames, with_deltas, with_spectrogram
    from lakehouse.synth import synth_clips_df

    df = with_deltas(
        with_spectrogram(synth_clips_df(spark, 96, seed=47, n_days=3)),
        width=2,
    )
    rows = df.select("clip_id", "spectrogram", "spectrogram_delta").collect()
    assert len(rows) == 96 and all(r.spectrogram_delta.ok for r in rows)
    for r in rows:
        nf, nm = r.spectrogram.n_frames, r.spectrogram.n_mels
        m = np.asarray(r.spectrogram.logmel, np.float64).reshape(nf, nm)
        want1 = _delta_frames(m, 2)
        want2 = _delta_frames(want1, 2)
        got1 = np.asarray(r.spectrogram_delta.delta, np.float32).reshape(
            nf, nm
        )
        got2 = np.asarray(r.spectrogram_delta.delta2, np.float32).reshape(
            nf, nm
        )
        assert np.allclose(got1, want1, atol=1e-4), r.clip_id
        assert np.allclose(got2, want2, atol=1e-4), r.clip_id
        # edge replication: a constant-over-time dim has zero delta
        assert np.allclose(got1[:, m.std(axis=0) == 0], 0.0)
    return df.select(
        "clip_id",
        F.col("spectrogram_delta.n_frames").alias("n_frames"),
        F.round(
            F.aggregate(
                "spectrogram_delta.delta", F.lit(0.0), lambda a, v: a + v
            ),
            4,
        ).alias("delta_sum"),
        F.round(
            F.aggregate(
                "spectrogram_delta.delta2", F.lit(0.0), lambda a, v: a + v
            ),
            4,
        ).alias("delta2_sum"),
    )


def _q_lh_asr_pipeline(spark, sf_dir):
    """Self-verifying END-TO-END ASR data pipeline over a real lakehouse
    table — the whole arc a training job runs in one query: ingest a
    corpus with planted defects → curate_clips (QC screen + perceptual
    dedup, ONE MoR delete commit) → framed log-mel spectrograms →
    per-speaker CMVN → seeded SpecAugment → duration-bucketed batch
    assembly. Asserted in-builder: curation removes EXACTLY the planted
    defects; every survivor flows ok=true through features, grouped
    CMVN, and SpecAugment; per-speaker recomputed stats are mean~0/
    std~1; batch assembly conserves survivors exactly (sum n_rows ==
    survivor count). Returns the per-stage ledger."""
    import numpy as np

    from lakehouse import Table
    from lakehouse.audio import (
        apply_cmvn_grouped,
        augment_clips,
        cmvn_group_stats,
        curate_clips,
        shift_dc_clips,
        specaugment,
        with_spectrogram,
    )
    from lakehouse.packing import bucket_batches
    from lakehouse.synth import synth_clips_df

    clean = synth_clips_df(spark, 128, seed=53, n_days=3)
    dups = (
        clean.limit(4)
        .withColumn("clip_id", F.concat(F.lit("zz-dup-"), F.col("clip_id")))
    )
    clipped = augment_clips(
        synth_clips_df(spark, 4, seed=71, n_days=3, start=50_000),
        seed=1, noise_snr_db=None, gain_db_range=(16.0, 16.0),
    ).select(*clean.columns)
    biased = shift_dc_clips(
        synth_clips_df(spark, 4, seed=83, n_days=3, start=60_000), 0.25
    ).select(*clean.columns)

    root = tempfile.mkdtemp(prefix="lh_asr_")
    t = Table.create(spark, os.path.join(root, "clips"), clean.schema)
    t.append(clean, target_file_count=4)
    t.append(dups.unionByName(clipped).unionByName(biased))
    ingested = t.scan().count()
    assert ingested == 140, ingested

    res = curate_clips(t)
    assert res.keys_deleted == 12, res
    survivors = t.scan().count()
    assert survivors == 128, survivors

    feats = with_spectrogram(t.scan()).withColumn(
        "speaker",
        F.concat(
            F.lit("spk"), F.pmod(F.xxhash64("clip_id"), F.lit(4)).cast("string")
        ),
    )
    feats.persist()
    try:
        stats = cmvn_group_stats(feats, "speaker")
        normed = apply_cmvn_grouped(feats, stats, "speaker")
        aug = specaugment(
            normed, seed=13, spec_col="spectrogram_cmvn"
        ).select("clip_id", "speaker", "dur_ms", "spectrogram_aug")
        rows = aug.collect()
        assert len(rows) == 128 and all(r.spectrogram_aug.ok for r in rows)
        by_spk: dict = {}
        for r in rows:
            m = np.asarray(
                r.spectrogram_aug.logmel, np.float64
            ).reshape(r.spectrogram_aug.n_frames, r.spectrogram_aug.n_mels)
            by_spk.setdefault(r.speaker, 0)
            by_spk[r.speaker] += m.shape[0]
        # per-speaker CMVN held BEFORE masking: recompute on the
        # normalized (unmasked) twin
        recheck: dict = {}
        for r in normed.select("speaker", "spectrogram_cmvn").collect():
            m = np.asarray(
                r.spectrogram_cmvn.logmel, np.float64
            ).reshape(r.spectrogram_cmvn.n_frames, r.spectrogram_cmvn.n_mels)
            recheck.setdefault(r.speaker, []).append(m)
        for g, ms in recheck.items():
            fr = np.vstack(ms)
            assert np.abs(fr.mean(axis=0)).max() < 1e-4, g
            std = fr.std(axis=0)
            assert np.abs(std[std > 0.5] - 1.0).max() < 1e-3, g

        idx = F.split(F.col("clip_id"), "-").getItem(1).cast("long")
        batches = bucket_batches(
            feats.select(idx.alias("cid"), "dur_ms"),
            F.col("dur_ms"),
            id_col="cid",
            batch_size=8,
            bucket_len=250,
            sub_width=64,
        )
        agg = batches.agg(
            F.sum("n_rows").alias("n"), F.count(F.lit(1)).alias("b")
        ).collect()[0]
        assert agg["n"] == 128, agg
        ledger = [
            ("1_ingested", ingested),
            ("2_curated_survivors", survivors),
            ("3_defects_removed", int(res.keys_deleted)),
            ("4_speakers", len(by_spk)),
            ("5_aug_frames", int(sum(by_spk.values()))),
            ("6_batches", int(agg["b"])),
        ]
        return spark.createDataFrame(ledger, "stage string, rows long")
    finally:
        feats.unpersist()


def _q_lh_curate_clips(spark, sf_dir):
    """Self-verifying one-call audio curation: plant near-duplicate,
    hard-clipped, and DC-biased clips in a clean corpus stored as a
    real lakehouse table, run curate_clips (QC screen + perceptual
    dedup, ONE merge-on-read delete commit), and assert the survivor
    id set is EXACTLY the clean originals."""
    from lakehouse import Table
    from lakehouse.audio import augment_clips, curate_clips, shift_dc_clips
    from lakehouse.synth import synth_clips_df

    clean = synth_clips_df(spark, 96, seed=29, n_days=3)
    dups = (
        clean.limit(6)
        .withColumn("clip_id", F.concat(F.lit("zz-dup-"), F.col("clip_id")))
    )
    clipped = augment_clips(
        synth_clips_df(spark, 5, seed=77, n_days=3, start=50_000),
        seed=1, noise_snr_db=None, gain_db_range=(16.0, 16.0),
    ).select(*clean.columns)
    biased = shift_dc_clips(
        synth_clips_df(spark, 5, seed=88, n_days=3, start=60_000), 0.25
    ).select(*clean.columns)

    root = tempfile.mkdtemp(prefix="lh_cur_")
    t = Table.create(spark, os.path.join(root, "clips"), clean.schema)
    t.append(clean, target_file_count=4)
    t.append(dups.unionByName(clipped).unionByName(biased))

    res = curate_clips(t)
    assert res.keys_deleted == 16, res  # 6 dups + 5 clipped + 5 biased
    got = {r.clip_id for r in t.scan().select("clip_id").collect()}
    want = {r.clip_id for r in clean.select("clip_id").collect()}
    assert got == want, (len(got), len(want), got ^ want)
    # curation is idempotent: a second pass finds nothing
    assert curate_clips(t).keys_deleted == 0
    return (
        t.scan()
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dur_ms").alias("dur_sum"),
        )
        .select(F.col("event_date").cast("string").alias("d"), "n", "dur_sum")
    )


def _q_lh_delete(spark, sf_dir):
    """Copy-on-write DELETE: drops error-rows for every 3rd user; the
    post-delete scan must equal plain SQL with the negated predicate."""
    t = _events_table(spark, sf_dir, appends=2)
    t.delete("event_type = 'error' AND user_id % 3 = 0")
    return _events_out(t.scan())


def _q_lh_delete_mor(spark, sf_dir):
    """Merge-on-read DELETE: the delete commit writes only an equality
    delete file (no data file rewritten — asserted), scans apply it as
    a broadcast anti-join, and materialize_deletes() folds it in with
    an identical row set (asserted). Oracle = plain SQL with the
    negated predicate, same as the COW twin."""
    t = _events_table(spark, sf_dir, appends=2)
    files_before = {e.file_path for e in t.plan().files}
    t.delete(
        "event_type = 'error' AND user_id % 3 = 0", mode="mor", key="event_id"
    )
    assert {e.file_path for e in t.plan().files} == files_before, (
        "MoR delete must not rewrite data files"
    )
    assert len(t.plan().delete_files) == 1
    n_mor = t.scan().count()
    t.materialize_deletes()
    assert t.plan().delete_files == []
    assert t.scan().count() == n_mor, "materialize changed the row set"
    return _events_out(t.scan())


def _q_lh_rename_drop(spark, sf_dir):
    """Field-id column mapping (Iceberg RENAME/DROP COLUMN, round 2):
    rename ``value``→``amount`` and drop ``props`` as METADATA-ONLY
    commits (zero files rewritten — asserted), then append post-rename
    data so the scan mixes both write schemas: old files resolve
    ``amount`` to their physical ``value`` column by field id, and the
    dropped ``props`` values are unreachable. The filtered scan also
    exercises per-entry stats-name translation (old files' stats live
    under ``value``). Oracle = plain SQL with the rename applied and
    the dropped column omitted. Cites lakehouse/fieldids.py; the
    Iceberg spec's schema-evolution section is the published model."""
    t = _events_table(spark, sf_dir, appends=2)
    files_before = {e.file_path for e in t.plan().files}
    t.rename_column("value", "amount")
    t.drop_column("props")
    assert {e.file_path for e in t.plan().files} == files_before, (
        "rename/drop must not rewrite any data file"
    )
    df = _events(spark, sf_dir).filter(F.col("event_id") % 7 == 0)
    t.append(
        df.withColumnRenamed("value", "amount").drop("props").selectExpr(
            "event_id + 1000000 AS event_id", "ts", "user_id",
            "event_type", "amount", "event_date",
        )
    )
    return t.scan(filter=[("amount", ">", 100.0)]).select(
        "event_id",
        "user_id",
        "event_type",
        "amount",
        F.col("event_date").cast("string").alias("event_date_s"),
    )


def _q_lh_ndv_analyze(spark, sf_dir):
    """ANALYZE/NDV sketches (lakehouse/ops/analyze.py): KMV top-k per
    column. The builder asserts the estimator against the true distinct
    count (exact when distinct < k; ≤ 3·(1/sqrt(k-2)) relative error
    otherwise — 3 sigma of the published KMV bound) and that
    ``approx_ndv`` answers from the PERSISTED sketch without a fresh
    scan. The returned exact counts are oracle-checked by DuckDB
    COUNT(DISTINCT ...)."""
    t = _events_table(spark, sf_dir, appends=2)
    res = t.analyze(["user_id", "event_type", "event_id"], k=256)
    out = []
    for c in ("user_id", "event_type", "event_id"):
        exact = t.scan().select(c).distinct().count()
        est = res[c].ndv
        if res[c].exact:
            assert est == exact, (c, est, exact)
        else:
            assert abs(est - exact) / exact <= 3 / (256 - 2) ** 0.5, (
                c, est, exact,
            )
        # persisted-sketch read path: zero-scan answer equals analyze's
        assert t.approx_ndv(c) == est
        out.append((c, exact))
    return spark.createDataFrame(out, "column string, exact_ndv long")


def _q_column_quantiles(spark, sf_dir):
    """Exact distributed quantiles (lakehouse/quantiles.py): the value
    at rank ceil(b·N/B) for b=1..20 over events.value — Spark only
    ships percentile_approx as its scalable path; this is the rank-
    EXACT equivalent via coarse-bucket prefix-sum (one narrow agg, one
    constant-bounded count pass, per-bucket sort of only the buckets
    containing a target rank). Deterministic under ties; DuckDB twin
    is row_number over the full order joined to the same integer-exact
    ranks."""
    from lakehouse.quantiles import exact_quantiles

    return exact_quantiles(_events(spark, sf_dir), "value", 20)


def _q_lh_histogram_selectivity(spark, sf_dir):
    """ANALYZE histograms + CBO selectivity (ops/analyze.py): exact
    equi-depth bounds persisted per snapshot, then range-predicate
    selectivity answered from stats alone (zero data read) — asserted
    in-builder against the true counts within the equi-depth bound
    (one bucket's interpolation error + probe-value ties); ``=`` goes
    through the persisted NDV sketch. Self-verifying (the estimates
    are engine artifacts; no SQL twin claims them)."""
    B = 32
    t = _events_table(spark, sf_dir, appends=2)
    t.analyze_histograms(["value"], buckets=B, exact=True)
    t.analyze(["user_id"], k=256)
    t.analyze_histograms(["user_id"], buckets=B)
    n = t.count_rows().value
    out = []
    for col, op, probe in [
        ("value", "<=", 250.0),
        ("value", ">", 500.0),
        ("value", "<", 100.0),
        ("user_id", "<=", 400.0),
    ]:
        est = t.estimate_selectivity(col, op, probe)
        actual = t.scan().filter(f"{col} {op} {probe}").count()
        ties = t.scan().filter(F.col(col) == probe).count()
        tol = (2.0 if est.method.startswith("approx") else 1.0) * n / B
        assert abs(est.est_rows - actual) <= tol + ties + 1, (
            col, op, probe, est.est_rows, actual,
        )
        out.append((col, op, float(probe), int(round(est.est_rows)), actual))
    # probe user_id=3: in-domain at EVERY sf (sf0.001 only has ids
    # 0..14, so a fixed large probe would clamp to fraction 0)
    eq = t.estimate_selectivity("user_id", "=", 3)
    assert eq.method.endswith("+ndv") and 0 < eq.fraction < 0.2
    return spark.createDataFrame(
        out,
        "column string, op string, probe double, "
        "est_rows bigint, actual_rows bigint",
    )


def _q_lh_changelog_pairs(spark, sf_dir):
    """Changelog view with UPDATE pairing (Iceberg's
    create_changelog_view): a MERGE that updates every 11th event and
    inserts fresh ids, then the changelog between the two snapshots —
    delete+insert sharing the identifier become update_before /
    update_after, pure inserts stay ``insert``. The diff reads only the
    file-set symmetric difference; the pairing window shuffles only the
    diff (change-proportional, never the table)."""
    t = _events_table(spark, sf_dir, appends=2)
    s0 = t.current_snapshot_id()
    ev = _events(spark, sf_dir)
    src = (
        ev.filter(F.col("event_id") % 11 == 0)
        .withColumn("value", F.col("value") + 1000)
        .unionByName(
            ev.filter(F.col("event_id") % 13 == 0).withColumn(
                "event_id", F.col("event_id") + 2000000
            )
        )
    )
    t.merge(src, key="event_id")
    return t.changelog_view(
        from_snapshot_id=s0,
        identifier_columns=["event_id"],
        columns=["event_id", "value"],
    ).select("event_id", "value", "_change_type")


def _q_lh_delete_mor_pos(spark, sf_dir):
    """Merge-on-read POSITIONAL delete (Iceberg v2 position deletes,
    the round-2 complement to equality deletes): the commit writes one
    (file_path, row_pos) file naming exact rows — no key column, no
    uniqueness requirement, no data file rewritten (asserted). Scans
    apply it as a broadcast anti-join on the Parquet reader's
    _metadata (file_path, row_index) columns; materialize_deletes()
    folds it in with an identical row set (asserted). Oracle = plain
    SQL with the negated predicate."""
    t = _events_table(spark, sf_dir, appends=2)
    files_before = {e.file_path for e in t.plan().files}
    res = t.delete(
        "event_type = 'click' AND user_id % 5 = 0", mode="mor-pos"
    )
    assert res.keys_deleted > 0
    assert {e.file_path for e in t.plan().files} == files_before, (
        "positional MoR delete must not rewrite data files"
    )
    dels = t.plan().delete_files
    assert len(dels) == 1 and dels[0].is_pos_delete
    n_mor = t.scan().count()
    t.materialize_deletes()
    assert t.plan().delete_files == []
    assert t.scan().count() == n_mor, "materialize changed the row set"
    return _events_out(t.scan())


def _q_lh_delete_convert(spark, sf_dir):
    """Minor delete compaction (eq->pos conversion, the round-2 delete
    maintenance midpoint): two equality MoR deletes plus one positional
    delete pending, then convert_deletes() folds all three into ONE
    positional delete file with ZERO data rewrites (asserted) and an
    identical visible row set; materialize then folds that in
    unchanged. Oracle = plain SQL with all three predicates negated."""
    t = _events_table(spark, sf_dir, appends=2)
    t.delete(
        "event_type = 'error' AND user_id % 3 = 0", mode="mor", key="event_id"
    )
    t.delete(
        "event_type = 'purchase' AND user_id % 7 = 0",
        mode="mor",
        key="event_id",
    )
    t.delete("event_type = 'click' AND user_id % 5 = 0", mode="mor-pos")
    files_before = {e.file_path for e in t.plan().files}
    n_mor = t.scan().count()
    res = t.convert_deletes()
    assert res.eq_files_converted == 2 and res.pos_files_compacted == 1
    assert {e.file_path for e in t.plan().files} == files_before, (
        "convert_deletes must not touch data files"
    )
    dels = t.plan().delete_files
    assert len(dels) == 1 and dels[0].is_pos_delete
    assert t.scan().count() == n_mor, "conversion changed the row set"
    t.materialize_deletes()
    assert t.plan().delete_files == []
    assert t.scan().count() == n_mor
    return _events_out(t.scan())


def _spj_events_table(spark, sf_dir, root):
    """Shared SPJ fixture: the events projection as a bucket(8,
    user_id) lakehouse table (both SPJ entry queries build on it)."""
    from lakehouse import Table

    ev = _events(spark, sf_dir)
    spec = [
        {"name": "u_bucket", "transform": "bucket", "source": "user_id",
         "n": 8}
    ]
    ta = Table.create(
        spark, os.path.join(root, "ev"),
        ev.select("event_id", "user_id", "event_type", "value").schema,
        partition_spec=spec,
    )
    ta.append(
        ev.select("event_id", "user_id", "event_type", "value"),
        target_file_count=4,
    )
    return ev, spec, ta


def _assert_spj_plan(out, label="SPJ"):
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{label} plan contains {node}"
    assert plan.count("Exchange") <= 1, f"{label} plan shuffles data"


def _q_lh_spj_join(spark, sf_dir):
    """Storage-partitioned join (Iceberg SPJ analog, lakehouse/spj.py):
    events and a per-user profile table, both bucket(8, user_id)-
    partitioned, joined bucket-locally — NO join node and NO data
    exchange in the plan (asserted inline; the only exchange is the
    8-row task frame). At 10^12 rows this is the join whose shuffle
    would otherwise BE the job."""
    from lakehouse import Table
    from lakehouse.spj import storage_partitioned_join

    root = tempfile.mkdtemp(prefix="lh_spj_")
    ev, spec, ta = _spj_events_table(spark, sf_dir, root)
    prof = ev.groupBy("user_id").agg(
        _dec_sum(F.col("value"), "user_total"),
        F.count(F.lit(1)).alias("n_events"),
    )
    tb = Table.create(
        spark, os.path.join(root, "prof"), prof.schema, partition_spec=spec
    )
    tb.append(prof, target_file_count=2)
    out = storage_partitioned_join(
        ta, tb, on="user_id",
        select_a=["event_id", "event_type", "value"],
        select_b=["user_total", "n_events"],
    )
    _assert_spj_plan(out)
    return out.select(
        "user_id", "event_id", "event_type", "value", "user_total",
        "n_events",
    )


def _q_lh_spj_anti(spark, sf_dir):
    """Storage-partitioned ANTI join (round 4): events minus a
    co-bucketed exclusion list — the 10^12-row decontamination /
    tombstone-exclusion shape with ZERO exchange (asserted inline; the
    B side reads its key column only). Exclusions: every user_id
    divisible by 9, via a bucket(8, user_id) exclusion table."""
    from lakehouse import Table
    from lakehouse.spj import storage_partitioned_join

    root = tempfile.mkdtemp(prefix="lh_spja_")
    ev, spec, ta = _spj_events_table(spark, sf_dir, root)
    excl = ev.select("user_id").distinct().filter(
        F.col("user_id") % 9 == 0
    )
    tb = Table.create(
        spark, os.path.join(root, "excl"), excl.schema, partition_spec=spec
    )
    tb.append(excl, target_file_count=2)
    out = storage_partitioned_join(
        ta, tb, on="user_id",
        select_a=["event_id", "event_type", "value"],
        how="left_anti",
    )
    _assert_spj_plan(out, "SPJ anti")
    return out.select("user_id", "event_id", "event_type", "value")


LH_SPJ_ANTI_ORACLE = """
    SELECT user_id, event_id, event_type, value
    FROM events
    WHERE user_id IS NULL OR user_id NOT IN (
        SELECT DISTINCT user_id FROM events WHERE user_id % 9 = 0
    )
"""  # IS NULL arm: left_anti KEEPS null-key rows; NOT IN alone would
     # drop them through SQL three-valued logic (none exist in the
     # seeded data, but the oracle must encode the semantics under test


def _q_lh_spj_cogroup(spark, sf_dir):
    """Self-verifying: storage_partitioned_cogroup (the generic
    per-bucket pandas kernel, lakehouse/spj.py) computes per-user event
    counts joined with the profile segment INSIDE the bucket kernel;
    the builder asserts exact equality with the plain Spark
    groupBy+join twin AND that the plan carries no join node. Rows-only
    under the driver (the custom-kernel op is the point — its SQL twin
    is the assertion, not the oracle)."""
    from pyspark.sql import types as T

    from lakehouse import Table
    from lakehouse.spj import storage_partitioned_cogroup

    ev = _events(spark, sf_dir)
    spec = [
        {"name": "u_bucket", "transform": "bucket", "source": "user_id",
         "n": 8}
    ]
    root = tempfile.mkdtemp(prefix="lh_spjcg_")
    ta = Table.create(
        spark, os.path.join(root, "ev"),
        ev.select("event_id", "user_id", "event_type").schema,
        partition_spec=spec,
    )
    ta.append(
        ev.select("event_id", "user_id", "event_type"),
        target_file_count=4,
    )
    prof = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    tb = Table.create(
        spark, os.path.join(root, "prof"), prof.schema, partition_spec=spec
    )
    tb.append(prof, target_file_count=2)
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("purchases", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )

    def kernel(a, b):
        g = (
            a[a.event_type == "purchase"]
            .groupby("user_id")
            .size()
            .reset_index(name="purchases")
        )
        j = b[["user_id", "n_events"]].merge(g, on="user_id", how="left")
        j["purchases"] = j["purchases"].fillna(0).astype("int64")
        return j[["user_id", "purchases", "n_events"]]

    out = storage_partitioned_cogroup(
        ta, tb, on="user_id", func=kernel, schema=out_schema,
        select_a=["event_type"], select_b=["n_events"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan.replace("join", ""), "cogroup plan has a join"
    want = (
        ta.scan()
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("long").alias("purchases"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    got = {(r.user_id, r.purchases, r.n_events) for r in out.collect()}
    exp = {(r.user_id, r.purchases, r.n_events) for r in want.collect()}
    assert got == exp, (
        f"cogroup != Spark twin: {len(got ^ exp)} differing rows"
    )
    return out.orderBy("user_id")


LH_SPJ_ORACLE = """
WITH prof AS (
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS user_total,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
)
SELECT e.user_id, e.event_id, e.event_type, e.value,
       p.user_total, p.n_events
FROM events e JOIN prof p ON e.user_id = p.user_id
"""


def _q_lh_identity_append(spark, sf_dir):
    """Identity column (GENERATED BY DEFAULT AS IDENTITY,
    lakehouse/identity.py): a surrogate key auto-assigned at the append
    choke — unique, ascending between commits, gaps allowed (Delta's
    contract), watermark CAS-guarded in the data commit. Raw ids are
    partitioning-dependent, so the ORACLE-COMPARED output is the
    deterministic invariant set: row count, distinct-sk count (must
    equal it), null-sk count (zero), and commit-order monotonicity."""
    from pyspark.sql import types as T

    from lakehouse import Table

    ev = _events(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("sk", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="lh_ident_")
    t = Table.create(spark, os.path.join(root, "t"), schema)
    t.set_identity_column("sk", start=1000)
    half_a = ev.filter(F.col("event_id") % 2 == 0).select(
        F.lit(None).cast("long").alias("sk"), "event_id", "event_type"
    )
    half_b = ev.filter(F.col("event_id") % 2 == 1).select(
        F.lit(None).cast("long").alias("sk"), "event_id", "event_type"
    )
    t.append(half_a, target_file_count=3)
    max_first = t.scan().agg(F.max("sk")).collect()[0][0]
    t.append(half_b, target_file_count=3)
    out = t.scan()
    second_min = (
        out.filter(F.col("event_id") % 2 == 1)
        .agg(F.min("sk"))
        .collect()[0][0]
    )
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("sk").alias("n_distinct_sk"),
        F.sum(F.when(F.col("sk").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_sk"),
        F.lit(bool(second_min > max_first)).alias("ascending_commits"),
        F.lit(bool(max_first >= 1000)).alias("start_respected"),
    )


LH_IDENTITY_ORACLE = """
SELECT COUNT(*) AS n,
       COUNT(*) AS n_distinct_sk,
       CAST(0 AS BIGINT) AS n_null_sk,
       TRUE AS ascending_commits,
       TRUE AS start_respected
FROM events
"""


def _q_lh_count_pushdown(spark, sf_dir):
    """Metadata-only aggregate pushdown (Iceberg/Delta answer
    SELECT COUNT/MIN/MAX from table metadata; the reference's analysts
    run exactly such probes through Athena, README.md:104-114): a
    date-range count + user_id min/max over the partitioned table must
    come ENTIRELY from manifest stats — zero files read (asserted) —
    and match the SQL oracle computed from the data."""
    import datetime as dt

    t = _events_table(spark, sf_dir, appends=2)
    flt = [
        ("event_date", ">=", dt.date(2024, 1, 5)),
        ("event_date", "<=", dt.date(2024, 1, 9)),
    ]
    cnt = t.count_rows(filter=flt)
    assert cnt.fallback is None and cnt.files_scanned == 0, (
        "partition-aligned count must be pure metadata"
    )
    mm = t.min_max(["user_id"], filter=flt)
    assert mm.files_scanned == 0, "numeric min/max must be pure metadata"
    lo, hi = mm.per_column["user_id"]
    # cross-check the metadata answers against a real scan before
    # handing them to the driver's oracle compare
    real = t.scan(filter=flt).agg(
        F.count(F.lit(1)), F.min("user_id"), F.max("user_id")
    ).collect()[0]
    assert (cnt.value, lo, hi) == (real[0], real[1], real[2])
    return spark.createDataFrame(
        [(cnt.value, lo, hi)],
        "cnt bigint, min_user bigint, max_user bigint",
    )


def _q_lh_sum_pushdown(spark, sf_dir):
    """Metadata-only SUM/AVG pushdown: tables opted in via the
    ``agg_stats_columns`` property carry exact per-file sums + null
    counts in their manifests (harvested at the shared write choke),
    so a partition-aligned ``SELECT SUM(c), COUNT(c)`` touches ZERO
    data bytes — the capability Iceberg/Delta stop short of (they
    push down COUNT/MIN/MAX only; the reference's Athena analysts
    re-scan for every SUM, README.md:104-114). Asserted pure-metadata
    in-builder, cross-checked against a real scan, then against the
    SQL oracle."""
    import datetime as dt

    from lakehouse import Table

    df = _events(spark, sf_dir).withColumn(
        "value_c", F.expr("CAST(FLOOR(value * 100) AS BIGINT)")
    )
    root = tempfile.mkdtemp(prefix="lh_entry_")
    t = Table.create(
        spark,
        os.path.join(root, "events_sum"),
        df.schema,
        partition_spec=[
            {
                "name": "event_date",
                "transform": "identity",
                "source": "event_date",
            }
        ],
        properties={"agg_stats_columns": "value_c,user_id"},
    )
    for i in range(2):
        t.append(
            df.filter(F.col("event_id") % 2 == i), target_file_count=4
        )
    flt = [
        ("event_date", ">=", dt.date(2024, 1, 5)),
        ("event_date", "<=", dt.date(2024, 1, 9)),
    ]
    res = t.sum_agg(["value_c", "user_id"], filter=flt)
    assert res.fallback is None and res.files_scanned == 0, (
        "partition-aligned SUM must be pure metadata"
    )
    (s_v, n_v), (s_u, n_u) = (
        res.per_column["value_c"],
        res.per_column["user_id"],
    )
    real = (
        t.scan(filter=flt)
        .agg(
            F.sum("value_c"),
            F.count("value_c"),
            F.sum("user_id"),
            F.count("user_id"),
        )
        .collect()[0]
    )
    assert (s_v, n_v, s_u, n_u) == tuple(real), (
        "metadata sums must equal the scan"
    )
    import math as _m

    # same IEEE floor-based rounding as the oracle SQL: s_u/n_u is the
    # identical double in both engines, so the rounded value is
    # bit-deterministic (lakehouse/stablemath.py rationale)
    avg_u = _m.floor((s_u / n_u) * 1_000_000.0 + 0.5) / 1_000_000.0
    return spark.createDataFrame(
        [(s_v, n_v, s_u, avg_u)],
        "sum_value_c bigint, n_value_c bigint, "
        "sum_user bigint, avg_user double",
    )


def _q_lh_rollup_incremental(spark, sf_dir):
    """Incrementally-maintained materialized rollup (the 10^12-row
    alternative to the reference's full-re-scan Athena aggregates,
    README.md:104-114): initial full compute, then an append AND a
    merge-on-read delete folded in purely from the CDC delta (mode
    asserted; the delete forces the exact min/max group recompute
    path). Oracle = full SQL recompute over the post-DML row set; the
    builder additionally asserts the incremental result equals the
    engine's own full recompute."""
    from lakehouse.rollup import MaterializedRollup

    t = _events_table(spark, sf_dir, appends=2)
    roll = MaterializedRollup.create(
        spark,
        tempfile.mkdtemp(prefix="lh_roll_") + "/rollup",
        t,
        group_by=["event_date", "event_type"],
        aggs={
            "n": ("count", None),
            "v_sum": ("sum", "CAST(value AS DECIMAL(18,4))"),
            "v_min": ("min", "value"),
            "v_max": ("max", "value"),
        },
    )
    # the MoR delete below touches every file's key range at this data
    # size, so the resync cost guard would (correctly) switch to a full
    # recompute; this query exercises the incremental algebra itself
    roll.table.set_properties(rollup_resync_cost_ratio="off")
    assert roll.refresh().mode == "full"

    ev = _events(spark, sf_dir)
    t.append(
        ev.filter((F.col("event_type") == "signup") & (F.col("user_id") % 11 == 0))
        .withColumn("event_id", F.col("event_id") + 20_000_000)
    )
    t.delete(
        "event_type = 'error' AND user_id % 4 = 0", mode="mor", key="event_id"
    )
    res = roll.refresh()
    assert res.mode == "incremental" and res.groups_changed > 0
    assert res.groups_recomputed > 0  # the delete hit min/max groups

    # engine-internal gate: incremental == full recompute, row for row
    exp = roll.expected()
    got = roll.scan()
    assert got.count() == exp.count()
    assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()
    return got.select(
        F.col("event_date").cast("string").alias("event_date_s"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("v_sum").cast("double").alias("v_sum"),
        "v_min",
        "v_max",
    )


def _pq_index_oracle_sql() -> str:
    """Seeded PQ encode over the post-DML embeddings row set (the
    lh_pq_index_incremental twin): union the synthetic append, drop the
    MoR-deleted ids, encode with the identical seeded codebooks."""
    from lakehouse.similarity import _pq_encode_sql, pq_codebooks

    enc = _pq_encode_sql(pq_codebooks(), "cv")
    cols = ", ".join(
        f"CAST(pq_code[{i + 1}] AS INTEGER) AS c{i + 1}" for i in range(8)
    )
    return f"""
    WITH base AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, embedding FROM embeddings
        WHERE vec_id % 7 = 0
    ),
    live AS (SELECT * FROM base WHERE NOT (vec_id % 11 = 3)),
    codes AS (
        SELECT vec_id, {enc} AS pq_code
        FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM live)
    )
    SELECT vec_id, {cols} FROM codes
    """


def _q_lh_pq_index(spark, sf_dir):
    """The ANN index as an incrementally-maintained lakehouse table:
    embeddings land in an ACID table, a MaterializedTransform with the
    registered ``pq_code`` extractor materializes the PQ codes, and an
    append + MoR delete fold in from the CDC delta alone — new vectors
    encode, deleted vectors' codes vanish, nothing re-encodes. Oracle =
    the seeded PQ encode over the post-DML row set."""
    from lakehouse import Table
    from lakehouse.transform import MaterializedTransform

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    root = tempfile.mkdtemp(prefix="lh_pqidx_")
    t = Table.create(spark, os.path.join(root, "emb"), emb.schema)
    t.append(emb)
    mt = MaterializedTransform.create(
        spark,
        os.path.join(root, "pq_index"),
        t,
        key="vec_id",
        columns=["vec_id", "embedding"],
        transform="pq_code",
    )
    # pin the CDC path: at sf-test scale the DML touches most bytes and
    # the cost guard would (correctly) pick full-resync; the query's
    # point is the incremental fold-in
    mt.table.set_properties(transform_resync_cost_ratio="off")
    assert mt.refresh().mode == "full"

    t.append(
        emb.filter(F.col("vec_id") % 7 == 0).withColumn(
            "vec_id", F.col("vec_id") + 1_000_000
        )
    )
    t.delete("vec_id % 11 = 3", mode="mor", key="vec_id")
    res = mt.refresh()
    assert res.mode == "incremental", res
    assert res.rows_upserted > 0 and res.rows_deleted > 0, res

    return mt.scan().select(
        "vec_id",
        *[
            F.element_at("pq_code", i + 1).cast("int").alias(f"c{i + 1}")
            for i in range(8)
        ],
    )


def _q_lh_transform_incremental(spark, sf_dir):
    """Incrementally-maintained derived FEATURE table (row-level
    sibling of the rollup): initial full compute, then an append and a
    merge-on-read delete folded in purely from the CDC delta — refresh
    reads only changed files, writes only changed keys (the 10^12-row
    alternative to recomputing features for the whole corpus). Oracle =
    the same projection over the post-DML row set; the builder also
    asserts incremental == the engine's own full recompute."""
    from lakehouse.transform import MaterializedTransform

    t = _events_table(spark, sf_dir, appends=2)
    mt = MaterializedTransform.create(
        spark,
        tempfile.mkdtemp(prefix="lh_feat_") + "/features",
        t,
        key="event_id",
        columns=["event_id", "event_type", "value", "ts"],
        exprs={
            "etype": "event_type",
            "v2": "CAST(floor(value * 2.0 * 10000.0 + 0.5) / 10000.0 AS DOUBLE)",
            "ehour": "CAST(date_trunc('hour', ts) AS STRING)",
        },
    )
    mt.table.set_properties(transform_resync_cost_ratio="off")
    assert mt.refresh().mode == "full"

    ev = _events(spark, sf_dir)
    t.append(
        ev.filter(
            (F.col("event_type") == "signup") & (F.col("user_id") % 13 == 0)
        ).withColumn("event_id", F.col("event_id") + 40_000_000)
    )
    t.delete(
        "event_type = 'error' AND user_id % 5 = 0", mode="mor", key="event_id"
    )
    res = mt.refresh()
    assert res.mode == "incremental", res
    assert res.rows_upserted > 0 and res.rows_deleted > 0, res

    exp = mt.expected()
    got = mt.scan()
    assert got.count() == exp.count()
    assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()
    return got


def _q_lh_datasource_scan(spark, sf_dir):
    """Registered-format read surface: ``spark.read.format("lakehouse")``
    over a table with a pending merge-on-read delete. The WHERE clause is
    pushed into manifest-level file pruning (pushFilters), the equality
    delete is applied inside the Arrow read tasks — the third analyst
    surface after Table.scan() and SQL temp views, mirroring the
    reference's any-engine catalog path (README.md:104-114)."""
    import datetime as dt

    from lakehouse.datasource import register

    t = _events_table(spark, sf_dir, appends=2)
    t.delete(
        "event_type = 'error' AND user_id % 3 = 0", mode="mor", key="event_id"
    )
    # runtime-settable; host harnesses may default it false, and we want
    # the pushdown reader exercised here (register() degrades to the
    # no-pushFilters reader only when this conf is off)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)
    df = (
        spark.read.format("lakehouse")
        .load(t.root)
        .filter(
            (F.col("event_date") >= F.lit(dt.date(2024, 1, 5)))
            & (F.col("event_date") <= F.lit(dt.date(2024, 1, 9)))
        )
    )
    return _events_out(df)


def _q_lh_bloom_point_lookup(spark, sf_dir):
    """Bloom-sidecar file skipping (lakehouse/bloom.py): point lookups
    on an UNSORTED key whose per-file min/max ranges all overlap — only
    the blooms can prune. Self-verifying: asserts the plan kept fewer
    files than live, which min/max alone cannot do here. Oracle = plain
    IN-list SQL (skipping is a superset optimization; rows identical).
    """
    from lakehouse import Table

    df = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_bloom_")
    t = Table.create(
        spark,
        os.path.join(root, "ev"),
        df.schema,
        partition_spec=[
            {"name": "event_date", "transform": "identity", "source": "event_date"}
        ],
        properties={"bloom_columns": ["event_id"]},
    )
    # interleave event_ids across appends: every file's id range spans
    # the table, so stats-based skipping keeps everything
    for i in range(4):
        t.append(
            df.filter(F.pmod(F.xxhash64(F.col("event_id")), F.lit(4)) == i),
            target_file_count=2,
        )
    ids = [11, 503, 2011, 3517, 9001]
    plan = t.plan(filter=[("event_id", "in", ids)])
    n_live = len(t.plan().files)
    assert 0 < len(plan.files) < n_live, (
        f"bloom skipping ineffective: kept {len(plan.files)}/{n_live}"
    )
    return _events_out(t.scan(filter=[("event_id", "in", ids)]))


def _q_lh_update(spark, sf_dir):
    """Copy-on-write UPDATE: +1000 on purchase values (exact in FP)."""
    t = _events_table(spark, sf_dir, appends=2)
    t.update(
        {"value": "value + 1000.0", "event_type": "'purchase_adj'"},
        "event_type = 'purchase'",
    )
    return _events_out(t.scan())


def _q_lh_rollup_hourly(spark, sf_dir):
    """The reference's hourly-rollup analyst query as an incrementally
    maintained table: DERIVED time-bucket group key (date_trunc hour)
    plus event_type, refreshed from the CDC delta after an append AND
    a merge-on-read delete (mode asserted). Oracle = full SQL recompute
    over the post-DML row set."""
    from lakehouse.rollup import MaterializedRollup

    t = _events_table(spark, sf_dir, appends=2)
    roll = MaterializedRollup.create(
        spark,
        tempfile.mkdtemp(prefix="lh_rollh_") + "/rollup",
        t,
        group_by=["event_type"],
        group_exprs={"hh": "date_trunc('HOUR', ts)"},
        aggs={
            "n": ("count", None),
            "v_sum": ("sum", "CAST(value AS DECIMAL(18,4))"),
        },
    )
    roll.table.set_properties(rollup_resync_cost_ratio="off")
    assert roll.refresh().mode == "full"
    ev = _events(spark, sf_dir)
    t.append(
        ev.filter((F.col("event_type") == "signup") & (F.col("user_id") % 9 == 0))
        .withColumn("event_id", F.col("event_id") + 30_000_000)
    )
    t.delete(
        "event_type = 'click' AND user_id % 6 = 0", mode="mor", key="event_id"
    )
    res = roll.refresh()
    assert res.mode == "incremental" and res.groups_changed > 0
    exp = roll.expected()
    got = roll.scan()
    assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()
    return got.select(
        F.unix_micros(F.col("hh")).alias("hh_us"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("v_sum").cast("double").alias("v_sum"),
    )


def _q_lh_update_mor(spark, sf_dir):
    """Merge-on-read UPDATE: same SET/WHERE as the COW twin but ONE
    commit of equality-delete + appended updated rows — zero target
    rewrites (asserted); same SQL oracle as lh_update_cow."""
    t = _events_table(spark, sf_dir, appends=2)
    files_before = {e.file_path for e in t.plan().files}
    res = t.update(
        {"value": "value + 1000.0", "event_type": "'purchase_adj'"},
        "event_type = 'purchase'",
        mode="mor",
        key="event_id",
    )
    assert res.files_touched == 0
    assert files_before <= {e.file_path for e in t.plan().files}
    n = t.scan().count()
    t.materialize_deletes()
    assert t.scan().count() == n
    return _events_out(t.scan())


def _q_lh_wap_publish(spark, sf_dir):
    """Write-audit-publish: stage odd events on an 'audit' branch (main
    must still see only the evens), then fast-forward-publish."""
    from lakehouse import Table

    df = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_wap_")
    t = Table.create(
        spark,
        os.path.join(root, "wap"),
        df.schema,
        partition_spec=[
            {"name": "event_date", "transform": "identity", "source": "event_date"}
        ],
    )
    t.append(df.filter(F.col("event_id") % 2 == 0))
    t.append(df.filter(F.col("event_id") % 2 == 1), branch="audit")
    staged_hidden = t.scan().count()          # pre-publish: evens only
    audit_total = t.scan(ref="audit").count() # branch: everything
    assert audit_total > staged_hidden, "branch isolation broken"
    t.fast_forward("audit", drop=True)
    return _events_out(t.scan())


def _q_lh_cherry_pick(spark, sf_dir):
    """WAP publish AFTER main has moved (Iceberg cherrypick_snapshot):
    stage a third of the events on an audit branch, advance main with
    another append AND an equality delete that would match the staged
    keys, then cherry-pick. The picked rows must land re-sequenced
    ABOVE the delete (MoR ordering), so the oracle is: evens, minus the
    mid-flight delete, plus the full staged third — fast_forward would
    refuse this publish outright (asserted)."""
    from lakehouse import Table
    from lakehouse.errors import RefError

    df = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_cp_")
    t = Table.create(
        spark,
        os.path.join(root, "cp"),
        df.schema,
        partition_spec=[
            {"name": "event_date", "transform": "identity", "source": "event_date"}
        ],
    )
    t.append(df.filter(F.col("event_id") % 3 == 0))
    staged = t.append(df.filter(F.col("event_id") % 3 == 1), branch="audit")
    t.append(df.filter(F.col("event_id") % 3 == 2))  # main moves
    # mid-flight delete: hits evens on main AND would match staged keys
    t.delete("event_id % 10 < 2", mode="mor", key="event_id")
    try:
        t.fast_forward("audit")
        raise AssertionError("fast_forward must refuse a diverged publish")
    except RefError:
        pass
    snap = t.cherry_pick(staged.snapshot_id)
    assert snap.operation == "cherry-pick", snap.operation
    assert snap.summary["source_snapshot"] == staged.snapshot_id
    return _events_out(t.scan())


def _q_lh_retention_policy(spark, sf_dir):
    """TTL retention as an autopilot policy: the table property
    ``retention_filter`` names expired rows; maintain() enforces it
    FIRST, before any rewrite can waste work on them. Here the policy
    is partition-aligned (the table partitions by event_date), so the
    enforcement pass drops whole files METADATA-ONLY — asserted: the
    delete commit adds zero files. A second maintain() pass skips at
    zero data cost (pruned planning proves nothing matches)."""
    import json as _json

    t = _events_table(spark, sf_dir, appends=2)
    t.set_properties(
        retention_filter=_json.dumps([["event_date", "<", "2024-01-04"]])
    )
    rep = t.maintain(min_small_files=10_000)
    assert rep.took("retention_delete"), rep.actions
    snap = t.meta.snapshot()
    assert snap.operation == "delete", snap.operation
    assert snap.summary["added_files"] == 0, snap.summary  # metadata-only
    assert snap.summary["removed_files"] > 0, snap.summary
    rep2 = t.maintain(min_small_files=10_000)
    sk = [s for s in rep2.skipped if s["action"] == "retention_delete"]
    assert sk and sk[0]["candidate_files"] == 0, rep2.skipped
    return _events_out(t.scan())


def _q_lh_default_column(spark, sf_dir):
    """Iceberg-v3-style DEFAULT column values: a metadata-only ADD
    COLUMN with a default (zero rewrites) makes every pre-existing row
    scan as the default; rows appended afterwards store explicit
    values. The oracle reconstructs the same view with a CASE over the
    plain events table, so a null leaking where the default belongs
    breaks the hash."""
    from lakehouse import Table

    df = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_defaults_")
    t = Table.create(
        spark,
        os.path.join(root, "events_table"),
        df.schema,
        partition_spec=[
            {"name": "event_date", "transform": "identity",
             "source": "event_date"}
        ],
    )
    old = df.filter(F.col("event_id") % 4 != 3)
    for i in range(2):
        t.append(old.filter(F.col("event_id") % 2 == i))
    t.add_column("region", "string", default="emea")
    t.append(
        df.filter(F.col("event_id") % 4 == 3).withColumn(
            "region", F.lit("apac")
        )
    )
    s = t.scan()
    return s.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
        F.col("event_date").cast("string").alias("event_date_s"),
        "region",
    )


def _q_lh_autopilot(spark, sf_dir):
    """Maintenance autopilot parity: a table with accumulated small
    files AND pending MoR deletes gets ONE maintain() call; the builder
    asserts the policy fired fold-in + compaction (metadata-only
    decisions), and the post-maintenance scan must hash-match the plain
    SQL view of the surviving rows — proving the autopilot's rewrites
    changed layout, never data."""
    t = _events_table(spark, sf_dir, appends=4)
    t.delete("event_id % 10 = 7", mode="mor", key="event_id")
    rep = t.maintain(
        min_small_files=4,
        materialize_hidden_fraction=0.05,
        expire_keep_last=1,
        gc=True,
    )
    assert rep.took("materialize_deletes"), rep
    assert rep.took("compact"), rep
    assert rep.took("expire_snapshots"), rep
    assert not t.plan().delete_files
    return _events_out(t.scan())


def _q_lh_constraint_enforcement(spark, sf_dir):
    """Write-time CHECK constraints (Delta-invariants analog): ADD
    validates existing rows; a violating append fails map-side BEFORE
    any snapshot commit, so it leaves zero trace (asserted on the
    snapshot id AND by the final scan parity — a leaked row would break
    the oracle hash); the clean append after it lands normally."""
    t = _events_table(spark, sf_dir, appends=2)
    t.add_check_constraint("type_allowed", "event_type <> 'forbidden'")
    t.add_check_constraint("id_nonneg", "event_id >= 0")
    snap = t.current_snapshot_id()
    bad = _events(spark, sf_dir).limit(50).withColumn(
        "event_type", F.lit("forbidden")
    )
    try:
        t.append(bad)
        raise AssertionError("violating append must fail")
    except AssertionError:
        raise
    except Exception:
        pass  # expected: CHECK constraint failure from the write job
    assert t.current_snapshot_id() == snap, "violation must commit NOTHING"
    try:
        t.add_check_constraint("id_neg_existing", "event_id < 0")
        raise AssertionError("ADD over violating existing rows must fail")
    except AssertionError:
        raise
    except Exception:
        pass  # expected: ConstraintViolationError from existing-row check
    return _events_out(t.scan())


def _q_lh_sql_view(spark, sf_dir):
    """The analyst SQL path (reference: Athena over the Glue catalog,
    README.md:104-114): register the post-compaction table as a
    snapshot-pinned temp view and answer a rollup with spark.sql —
    proving the engine is queryable with plain SQL, not only its API.
    The view is registered BEFORE an extra append and must not see it
    (snapshot isolation for SQL readers)."""
    t = _events_table(spark, sf_dir, appends=2)
    t.compact(target_file_size=64 * 1024 * 1024)
    t.create_or_replace_view("events_lh")
    # snapshot isolation probe: marker rows appended AFTER registration
    # must be invisible to the pinned view — a leak shows up as a 'leak'
    # event_type group and fails the oracle hash
    marker = (
        _events(spark, sf_dir)
        .withColumn("event_id", -F.col("event_id") - 1)
        .withColumn("event_type", F.lit("leak"))
    )
    t.append(marker, target_file_count=1)
    return spark.sql(
        """
        SELECT event_type,
               CAST(event_date AS STRING) AS event_date_s,
               COUNT(1) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                   AS total_value
        FROM events_lh
        GROUP BY event_type, event_date
        """
    )


def _q_lh_partition_evolution(spark, sf_dir):
    """Partition-spec evolution: half the events land under
    identity(event_date), the spec evolves to add bucket(user_id, 8),
    the other half lands under the new spec — and the scan over the
    mixed-spec table must equal plain SQL over all events. Also asserts
    both generations of partition values coexist in the manifests."""
    from lakehouse import Table

    df = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_pevo_")
    base_spec = [
        {"name": "event_date", "transform": "identity", "source": "event_date"}
    ]
    t = Table.create(
        spark, os.path.join(root, "events"), df.schema,
        partition_spec=base_spec,
    )
    t.append(df.filter(F.col("event_id") % 2 == 0))
    t.update_partition_spec(
        base_spec
        + [
            {
                "name": "user_bucket",
                "transform": "bucket",
                "source": "user_id",
                "n": 8,
            }
        ]
    )
    t.append(df.filter(F.col("event_id") % 2 == 1))
    key_sets = {frozenset(e.partition) for e in t.live_files()}
    assert key_sets == {
        frozenset({"event_date"}),
        frozenset({"event_date", "user_bucket"}),
    }, f"expected mixed-spec manifests, got {key_sets}"
    return _events_out(t.scan())


def _q_lh_rollback(spark, sf_dir):
    """Snapshot rollback: wipe the table with a DELETE, roll back to the
    pre-delete snapshot — the scan must equal the raw events again."""
    t = _events_table(spark, sf_dir, appends=2)
    v = t.current_snapshot_id()
    t.delete("TRUE")
    assert t.scan().count() == 0, "wipe-delete left rows behind"
    t.rollback(v)
    return _events_out(t.scan())


def _q_lh_incremental(spark, sf_dir):
    """Incremental append-scan: only rows appended after the checkpoint
    snapshot come back; a compaction in between is data-neutral."""
    from lakehouse import Table

    df = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_inc_")
    t = Table.create(
        spark,
        os.path.join(root, "inc"),
        df.schema,
        partition_spec=[
            {"name": "event_date", "transform": "identity", "source": "event_date"}
        ],
    )
    t.append(df.filter(F.col("event_id") % 2 == 0), target_file_count=3)
    v0 = t.current_snapshot_id()
    t.compact(target_file_size=64 * 1024 * 1024)  # skipped by the reader
    t.append(df.filter(F.col("event_id") % 2 == 1))
    return _events_out(t.incremental_scan(from_snapshot_id=v0))


def _q_lh_cdc(spark, sf_dir):
    """CDC row_changes across a delete + an append, tagged insert/delete.
    Only the file-set symmetric difference is read (scale path)."""
    t = _events_table(spark, sf_dir, appends=2)
    v0 = t.current_snapshot_id()
    t.delete("event_type = 'error' AND user_id % 11 = 0")
    ev = _events(spark, sf_dir)
    t.append(
        ev.filter((F.col("event_type") == "signup") & (F.col("user_id") % 9 == 0))
        .withColumn("event_id", F.col("event_id") + 50_000_000)
    )
    cdc = t.row_changes(from_snapshot_id=v0)
    return cdc.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
        F.col("event_date").cast("string").alias("event_date_s"),
        F.col("_change_type").alias("change_type"),
    )


def _q_lh_overwrite_partitions(spark, sf_dir):
    """Dynamic INSERT OVERWRITE: backfill one day with adjusted rows —
    only that partition is replaced, every other day is untouched."""
    t = _events_table(spark, sf_dir, appends=2)
    ev = _events(spark, sf_dir)
    day = F.to_date(F.lit("2024-01-03"))
    src = (
        ev.filter(F.col("event_date") == day)
        .withColumn("value", F.col("value") + 5000.0)
        .withColumn("event_type", F.lit("backfilled"))
    )
    t.overwrite_partitions(src)
    return _events_out(t.scan())


def _q_lh_files_metadata(spark, sf_dir):
    """Metadata-table rollup: per-partition record counts from manifest
    stats alone (no data read) must equal SQL GROUP BY over the data."""
    t = _events_table(spark, sf_dir, appends=2)
    t.compact(target_file_size=64 * 1024 * 1024)
    return (
        t.partitions_df()
        .select(
            F.get_json_object("partition", "$.event_date").alias("event_date_s"),
            F.col("file_count"),
            F.col("record_count"),
        )
        .orderBy("event_date_s")
    )


def _q_lh_commit_metrics(spark, sf_dir):
    """Ops-metrics surface (the reference ships monitoring as a
    first-class chapter — CloudWatch metrics + alarms over the Glue
    stream, /root/reference/README.md:319-329; here it's a queryable
    per-commit metadata view, zero data I/O): append twice, COW-delete,
    compact, then read Table.metrics(). The deterministic columns
    (commit ordinal, operation, files/records added-removed) must match
    the SQL oracle computing the same ledger from the events data; the
    non-deterministic ones (commit_ms, job_id link) are asserted
    in-builder."""
    from lakehouse import Table

    df = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_entry_")
    # unpartitioned + target_file_count=1 => each commit's file ledger
    # is exactly predictable from row counts alone
    t = Table.create(spark, os.path.join(root, "metrics_tbl"), df.schema)
    t.append(df.filter(F.col("event_type") != "purchase"),
             target_file_count=1)
    t.append(df.filter(F.col("event_type") == "purchase"),
             target_file_count=1)
    # only file 1 holds 'error' rows: the probe-planned COW rewrite
    # touches exactly that file
    t.delete("event_type = 'error'", mode="cow")
    t.compact()  # 2 small files -> 1 bin -> one replace commit

    m = t.metrics()
    rows = {r["commit_seq"]: r for r in m.collect()}
    assert len(rows) == 4, sorted(rows)
    assert all(r["commit_ms"] is not None for r in rows.values())
    assert rows[4]["operation"] == "replace" and rows[4]["job_id"], (
        "maintenance commits must carry their lineage job link"
    )
    import os as _os
    assert _os.path.isdir(
        _os.path.join(t.root, "metadata", "lineage", rows[4]["job_id"])
    ), "job_id must point at the on-disk lineage log"
    return m.select(
        "commit_seq", "operation", "added_files", "removed_files",
        "added_records", "removed_records",
    ).orderBy("commit_seq")


def _q_lh_streaming_pipeline(spark, sf_dir):
    """The reference's full ingest-to-analyst arc in engine terms
    (etl/glue_stream.py lifecycle §3.1: Kinesis tail → transform →
    Delta append → Athena rollup): an upstream lakehouse table is
    tailed through the REGISTERED streaming source with snapshot rate
    limiting (max_snapshots_per_batch=1), every micro-batch lands in a
    downstream table via the idempotent foreachBatch sink WITH an
    incremental derived-feature refresh, and an incremental rollup
    serves the analyst query. Self-verifying along the way: the
    checkpointed restart delivers a late upstream append exactly once
    (counts asserted after each drain); the returned rollup is
    oracle-checked against plain SQL over the full events data."""
    from lakehouse import Table
    from lakehouse.datasource import register
    from lakehouse.rollup import MaterializedRollup
    from lakehouse.streaming import append_with_transform_batch
    from lakehouse.transform import MaterializedTransform

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)

    ev = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_entry_")
    src = Table.create(spark, os.path.join(root, "src"), ev.schema)
    for i in range(3):  # upstream ingest history: 3 commits
        src.append(
            ev.filter(F.col("event_id") % 4 == i), target_file_count=2
        )

    dst = Table.create(spark, os.path.join(root, "dst"), ev.schema)
    feat = MaterializedTransform.create(
        spark, os.path.join(root, "feat"), dst,
        key="event_id",
        columns=["event_id", "value"],
        exprs={"v2": "value * 2.0"},
    )
    ckpt = os.path.join(root, "ckpt")
    sink = append_with_transform_batch(dst, feat)

    def drain():
        # Python stream sources fall back to single-batch execution
        # under availableNow, so each drain advances at most ONE
        # snapshot (the rate limit) from the checkpointed offset
        q = (
            spark.readStream.format("lakehouse")
            .option("start", "beginning")
            .option("max_snapshots_per_batch", "1")
            .load(src.root)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    def drain_until_caught_up(limit=10):
        prev = -1
        for _ in range(limit):
            drain()
            cur = dst.scan().count()
            if cur == prev:
                return cur
            prev = cur
        raise AssertionError(f"stream never caught up (limit {limit})")

    n3 = src.scan().count()
    assert drain_until_caught_up() == n3
    assert feat.scan().count() == n3, "derived table must track the sink"
    # late upstream data, then resume from the checkpoint: exactly once
    src.append(ev.filter(F.col("event_id") % 4 == 3), target_file_count=2)
    total = ev.count()
    assert drain_until_caught_up() == total
    assert feat.scan().count() == total
    drain()  # nothing new: replay must not duplicate
    assert dst.scan().count() == total
    # rate limiting really split the catch-up into per-snapshot batches
    offsets = [
        n
        for n in os.listdir(os.path.join(ckpt, "offsets"))
        if not n.startswith(".")
    ]
    assert len(offsets) >= 4, offsets

    roll = MaterializedRollup.create(
        spark, os.path.join(root, "roll"), dst,
        group_by=["event_type"],
        aggs={
            "n": ("count", None),
            "v_sum": ("sum", "CAST(value AS DECIMAL(18,4))"),
        },
    )
    assert roll.refresh().mode == "full"
    return (
        roll.scan()
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("v_sum").cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


def _q_lh_multi_table_txn(spark, sf_dir):
    """Multi-table ACID transactions (lakehouse/txn.py) — the catalog
    capability the reference's single-Delta-sink design never had
    (etl/glue_stream.py:339-349 lands ONE table; Iceberg's REST-catalog
    ``commitTransaction`` is the public analog). Exercises all four
    protocol paths, self-verifying at each step:

    1. committed txn → both tables fast-forward-published atomically;
    2. publisher killed at the durable commit point (intent ledger
       written, nothing published — exactly what a dead process leaves
       on disk) → plain readers see NEITHER table's rows, then
       ``Catalog.pin`` recovery lands BOTH (all-or-nothing);
    3. aborted txn → zero visible effect;
    4. a concurrent writer moves main mid-txn → publish degrades from
       fast-forward to cherry-pick, nobody's rows lost.

    Returns the per-table (rows, value sum) summary, DuckDB-checked."""
    import json as _json

    from lakehouse import Catalog
    from lakehouse.txn import _cas_create, _txns_dir

    ev = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_txn_")
    cat = Catalog.create(os.path.join(root, "wh"))
    for name in ("events_a", "events_b"):
        cat.create_table(spark, name, ev.schema)

    def counts():
        return {
            n: cat.load_table(spark, n).scan().count()
            for n in ("events_a", "events_b")
        }

    # 1. the happy path: one txn, two tables, atomic publish
    with cat.transaction(spark) as txn:
        txn.append("events_a", ev.filter(F.col("event_id") % 3 == 0),
                   target_file_count=2)
        txn.append("events_b", ev.filter(F.col("event_id") % 3 == 1),
                   target_file_count=2)
        assert counts() == {"events_a": 0, "events_b": 0}, \
            "staged rows leaked to plain readers"
        modes = txn.commit()
    assert set(modes.values()) == {"fast-forward"}, modes
    base = counts()

    # 2. crash at the durable commit point: hand-write the intent
    #    record (what commit() CAS-creates) and "die" before publishing
    txn2 = cat.transaction(spark)
    third = ev.filter(F.col("event_id") % 3 == 2)
    s_a = txn2.append("events_a", third, target_file_count=2)
    s_b = txn2.append("events_b", third, target_file_count=2)
    os.makedirs(_txns_dir(cat.path), exist_ok=True)
    _cas_create(
        os.path.join(_txns_dir(cat.path), f"{txn2.txn_id}.json"),
        {"txn_id": txn2.txn_id, "ts_ms": 0, "tables": [
            {"name": "events_a", "root": cat.resolve("events_a"),
             "branch": txn2.branch, "staged": [s_a.snapshot_id]},
            {"name": "events_b", "root": cat.resolve("events_b"),
             "branch": txn2.branch, "staged": [s_b.snapshot_id]},
        ]},
    )
    assert counts() == base, "durably-committed txn visible before publish"
    pins = cat.pin(spark)  # recovery-first: finishes the dead publish
    n3 = third.count()
    for n in ("events_a", "events_b"):
        got = cat.load_table(spark, n).scan(
            snapshot_id=pins[n]).count()
        assert got == base[n] + n3, f"{n}: recovery missed rows"
    assert cat.recover_txns(spark) == {}, "recovery must be idempotent"

    # 3. abort: zero visible effect
    mid = counts()
    with cat.transaction(spark) as dead:
        dead.append("events_a", ev.limit(50), target_file_count=1)
    assert counts() == mid, "aborted txn leaked rows"

    # 4. concurrent writer between staging and publish → cherry-pick
    txn4 = cat.transaction(spark)
    txn4.append("events_a", ev.filter(F.col("event_id") % 7 == 0),
                target_file_count=2)
    cat.load_table(spark, "events_a").append(
        ev.filter(F.col("event_id") % 5 == 0), target_file_count=2
    )
    modes4 = txn4.commit()
    assert modes4["events_a"].startswith("cherry-pick"), modes4

    frames = [
        cat.load_table(spark, n).scan()
        .agg(F.count("*").alias("n_rows"), _dec_sum(F.col("value"), "v_sum"))
        .select(F.lit(n).alias("table_name"), "n_rows", "v_sum")
        for n in ("events_a", "events_b")
    ]
    return frames[0].unionByName(frames[1]).orderBy("table_name")


def _q_lh_cdc_stream(spark, sf_dir):
    """Streaming CDC source (Delta's streaming readChangeFeed analog;
    lakehouse/datasource.py changes=true): the registered format tails
    a table's CHANGE rows — appends stream as tagged inserts, MoR
    merge/delete commits stream the full row images their new delete
    files kill, all planned map-only from manifest diffs (no shuffle in
    the source). The builder ingests the events corpus in three
    appends, MoR-upserts every event_id % 7 == 0 row (value doubled),
    then MoR-deletes every event_id % 10 == 0 row, draining the stream
    against ONE checkpoint between mutations (exactly-once across
    restarts asserted in-builder: the second drain adds only the
    delete images). Returns per-change-type row counts and event_id
    sums; the DuckDB oracle derives the same ledger from set algebra
    over the raw corpus (update = delete old image + insert new)."""
    from lakehouse import Table
    from lakehouse.datasource import register

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)

    ev = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_cdc_stream_")
    t = Table.create(spark, os.path.join(root, "t"), ev.schema)
    for i in range(3):
        t.append(ev.filter(F.col("event_id") % 3 == i),
                 target_file_count=2)

    out, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")
    sdf = (
        spark.readStream.format("lakehouse")
        .option("changes", "true")
        .option("start", "beginning")
        .load(t.root)
    )

    def drain():
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.read.parquet(out)

    n_total = ev.count()
    upd = ev.filter(F.col("event_id") % 7 == 0).withColumn(
        "value", F.col("value") * 2
    )
    n_upd = upd.count()
    t.merge(upd, mode="mor", key="event_id")
    got = drain()
    # inserts = corpus + new images; deletes = old images of merged keys
    assert got.filter(F.col("_change_type") == "insert").count() \
        == n_total + n_upd, "merge CDC insert images wrong"
    assert got.filter(F.col("_change_type") == "delete").count() \
        == n_upd, "merge CDC delete images wrong"
    # updated images stream the NEW value (post-image = 2x), not the old
    base7 = ev.filter(F.col("event_id") % 7 == 0).agg(
        F.sum("value")).collect()[0][0] or 0.0
    post = got.filter(
        (F.col("_change_type") == "insert")
        & (F.col("_commit_snapshot_id") == t.current_snapshot_id())
    ).agg(F.sum("value")).collect()[0][0] or 0.0
    assert abs(post - 2 * base7) <= 1e-6 * max(1.0, abs(base7)), \
        "merge CDC streamed the pre-image, not the post-image"

    t.delete("event_id % 10 = 0", mode="mor", key="event_id")
    n_before = got.count()
    got = drain()  # checkpointed restart: ONLY the delete images arrive
    n10 = ev.filter(F.col("event_id") % 10 == 0).count()
    assert got.count() == n_before + n10, "restart was not exactly-once"

    return (
        got.groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("event_id").cast("long").alias("sum_id"),
        )
        .orderBy("change_type")
    )


def _q_lh_webdataset_export(spark, sf_dir):
    """WebDataset tar-shard export/import (lakehouse/webdataset.py) —
    the training-loader handoff the reference's analyst-table endpoint
    never reaches (README.md:104-114 stops at Athena; a GPU loader
    consumes key-grouped tar shards, Aizman et al. 2019). Exports a
    deterministic clip corpus to hash-assigned shards (one shuffle +
    streaming tar serialization; zeroed tar metadata makes shard bytes
    a pure function of content), reads them back shard-parallel, and
    self-verifies: byte-exact payload + transcript round-trip for every
    key exactly once, and a re-export from a differently-partitioned
    frame is byte-identical per shard (sha256). Returns the shard
    manifest — deterministic, so the driver's stable-hash check holds."""
    from lakehouse.synth import synth_clips_df
    from lakehouse.webdataset import export_webdataset, read_webdataset

    clips = synth_clips_df(spark, 300, seed=77, n_days=2)
    root = tempfile.mkdtemp(prefix="lh_wds_")
    out = os.path.join(root, "wds")
    man = export_webdataset(
        clips, out, n_shards=6, meta_cols=["sr_hz", "dur_ms", "codec"],
        write_index=True,
    )
    rows = man.collect()
    assert sum(r["n_samples"] for r in rows) == 300

    # wids-style byte index: every member indexed; a single ranged read
    # returns the exact payload bytes
    from lakehouse.webdataset import read_webdataset_index

    idx = read_webdataset_index(spark, out)
    assert idx.count() == 3 * 300, "3 members per sample"
    probe = idx.filter(F.col("ext") == "wav").orderBy("key").first()
    paths = {r["shard"]: r["path"] for r in rows}
    want = bytes(
        clips.filter(F.col("clip_id") == probe["key"])
        .select("bytes").first()[0]
    )
    with open(paths[probe["shard"]], "rb") as fh:
        fh.seek(probe["offset"])
        assert fh.read(probe["size"]) == want, "ranged read mismatch"

    back = read_webdataset(spark, out)
    j = clips.select(
        F.col("clip_id").alias("key"), "bytes", "transcript"
    ).join(back, "key", "full_outer")
    bad = j.filter(
        F.col("bytes").isNull()
        | F.col("data").isNull()
        | (F.md5(F.col("bytes")) != F.md5(F.col("data")))
        | (F.col("transcript") != F.col("text"))
    ).count()
    assert bad == 0, f"{bad} samples failed byte-exact round-trip"
    assert j.count() == 300, "key multiplicity broken"

    man2 = export_webdataset(
        clips.repartition(17), os.path.join(root, "wds2"), n_shards=6,
        meta_cols=["sr_hz", "dur_ms", "codec"],
    )
    assert {
        (r["shard"], r["sha256"]) for r in man2.collect()
    } == {(r["shard"], r["sha256"]) for r in rows}, \
        "re-export not byte-identical"

    # incremental sync: churn a TABLE (MoR delete + append + compact),
    # re-serialize only the dirty shards, prove clean shards kept their
    # exact bytes and the synced dir equals a fresh full export
    from lakehouse import Table
    from lakehouse.webdataset import sync_webdataset

    t = Table.create(spark, os.path.join(root, "t"), clips.schema)
    t.append(clips, target_file_count=4)
    sdir = os.path.join(root, "wds_sync")
    r0 = sync_webdataset(t, sdir, n_shards=6,
                         meta_cols=["sr_hz", "dur_ms", "codec"])
    assert r0.mode == "full"
    pre = {x["shard"]: x["sha256"] for x in r0.manifest.collect()}
    t.delete("pmod(xxhash64(clip_id), 9) = 0", mode="mor")
    t.append(synth_clips_df(spark, 30, start=900, seed=78, n_days=1),
             target_file_count=1)
    t.compact()  # data-neutral churn must not dirty anything extra
    r1 = sync_webdataset(t, sdir, n_shards=6,
                         meta_cols=["sr_hz", "dur_ms", "codec"])
    assert r1.mode == "incremental", r1
    post = {x["shard"]: x["sha256"] for x in r1.manifest.collect()}
    for name in pre:
        sid = int(name.split("-")[1].split(".")[0])
        if sid not in r1.dirty_shards:
            assert post[name] == pre[name], f"clean shard {name} rewritten"
    fresh = export_webdataset(
        t.scan(), os.path.join(root, "wds_fresh"), n_shards=6,
        meta_cols=["sr_hz", "dur_ms", "codec"],
    ).collect()
    assert {x["shard"]: x["sha256"] for x in fresh} == post, \
        "incremental sync diverged from a full export"

    return r1.manifest.select(
        "shard", "n_samples", "tar_bytes", "sha256", "min_key", "max_key"
    ).orderBy("shard")


def _q_lh_generated_column(spark, sf_dir):
    """Generated columns (Delta GENERATED ALWAYS AS;
    lakehouse/constraints.py apply_generated + Table.set_generated_
    column) — the declarative form of the reference's hand-coded date
    derivation (etl/glue_stream.py:239 withColumn(event_date)): the
    table OWNS the rule, every write path computes the column when the
    writer omits it and fails pre-commit on contradicting values.
    In-builder: a wrong supplied value must fail without committing;
    the returned per-day rollup over the COMPUTED column is
    DuckDB-checked against the same expression over the raw corpus."""
    from pyspark.sql import types as T

    from lakehouse import Table

    ev = _events(spark, sf_dir).drop("event_date")
    schema = T.StructType(
        ev.schema.fields + [T.StructField("day_s", T.StringType(), True)]
    )
    root = tempfile.mkdtemp(prefix="lh_gen_")
    t = Table.create(spark, os.path.join(root, "t"), schema)
    t.set_generated_column("day_s", "CAST(CAST(ts AS DATE) AS STRING)")
    t.append(ev, target_file_count=4)  # writer omits day_s -> computed

    n_snaps = len(t.snapshots())
    bad = ev.limit(3).withColumn("day_s", F.lit("1999-01-01"))
    failed = False
    try:
        t.append(bad, target_file_count=1)
    except Exception:
        failed = True
    assert failed, "contradicting supplied value must fail the write"
    assert len(t.snapshots()) == n_snaps, "failed write must not commit"

    return (
        t.scan()
        .groupBy("day_s")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").cast("long").alias("sum_id"),
        )
        .orderBy("day_s")
    )


def _q_lh_cdc_replication(spark, sf_dir):
    """Lakehouse-to-lakehouse replication = CDC stream + the
    ``replicate_batch`` sink (lakehouse/streaming.py) — the composition
    Delta documents as CDF + foreachBatch + MERGE, here end-to-end
    through the registered format. The source ingests the events corpus
    in three appends, MoR-upserts every event_id % 7 == 0 row (value
    doubled) and MoR-deletes every event_id % 10 == 0 row; the mirror
    is maintained purely from the change stream across TWO checkpointed
    drains. In-builder asserts: mirror rows ≡ source rows exactly after
    each drain (exceptAll both ways), replayed drains commit nothing.
    Returns the mirror's per-type rollup; the DuckDB oracle derives the
    same final state from the churn rules alone."""
    from lakehouse import Table
    from lakehouse.datasource import register
    from lakehouse.streaming import replicate_batch

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)

    ev = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_cdc_repl_")
    src = Table.create(spark, os.path.join(root, "src"), ev.schema)
    for i in range(3):
        src.append(ev.filter(F.col("event_id") % 3 == i),
                   target_file_count=2)
    dst = Table.create(spark, os.path.join(root, "dst"), ev.schema)
    sink = replicate_batch(dst, key="event_id")
    ckpt = os.path.join(root, "ckpt")

    def drain():
        q = (
            spark.readStream.format("lakehouse")
            .option("changes", "true")
            .option("start", "beginning")
            .load(src.root)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    def assert_mirror():
        a, b = src.scan(), dst.scan()
        assert a.exceptAll(b).count() == 0, "mirror has missing rows"
        assert b.exceptAll(a).count() == 0, "mirror has extra rows"

    drain()
    assert_mirror()
    src.merge(
        ev.filter(F.col("event_id") % 7 == 0).withColumn(
            "value", F.col("value") * 2
        ),
        mode="mor",
        key="event_id",
    )
    src.delete("event_id % 10 = 0", mode="mor", key="event_id")
    drain()  # checkpointed restart picks up ONLY the two mutations
    assert_mirror()
    n_snaps = len(dst.snapshots())
    drain()  # replay: batch-id idempotency must commit nothing
    assert len(dst.snapshots()) == n_snaps, "replayed batch re-applied"
    assert_mirror()

    return (
        dst.scan()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            _dec_sum(F.col("value"), "total_value"),
        )
        .orderBy("event_type")
    )


def _q_lh_merge_serializable(spark, sf_dir):
    """Serializable-isolation MERGE (Iceberg's conflictDetectionFilter
    / validateNoConflicting* analog; Table._validate_serializable): a
    merge planned against snapshot S must REFUSE to commit when a
    concurrent commit after S adds rows or deletes overlapping the
    source-key range (write skew / lost delete), and must COMMIT when
    the concurrent work is provably disjoint — the overlap test rides
    manifest min/max stats alone (zero data I/O), re-checked on every
    CAS retry against the base actually committed on. In-builder: the
    conflict case runs on a zero-copy CLONE (same snapshot chain) and
    must raise; the disjoint case (concurrent append shifted beyond the
    key range) must pass stats pruning and commit. The survivor
    table's rollup is DuckDB-checked."""
    from lakehouse import CommitConflictError, Table

    ev = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_ser_")
    t = Table.create(spark, os.path.join(root, "t"), ev.schema)
    for i in range(3):
        t.append(ev.filter(F.col("event_id") % 3 == i),
                 target_file_count=2)
    src = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "value", F.col("value") * 2
    )
    base = t.current_snapshot_id()

    # conflict case on a zero-copy clone: overlapping concurrent append
    c = t.clone_to(os.path.join(root, "conflict"))
    c.append(
        ev.filter(F.col("event_id") % 7 == 3)
        .withColumn("event_id", F.col("event_id") + 1),
        target_file_count=1,
    )
    raised = False
    try:
        c.merge(src, mode="mor", key="event_id",
                isolation="serializable", validate_from=base)
    except CommitConflictError:
        raised = True
    assert raised, "overlapping concurrent append must conflict"

    # disjoint case on the real table: keys shifted beyond the range
    t.append(
        ev.filter(F.col("event_id") % 7 == 0)
        .withColumn("event_id", F.col("event_id") + F.lit(2_000_000_000)),
        target_file_count=2,
    )
    res = t.merge(src, mode="mor", key="event_id",
                  isolation="serializable", validate_from=base)
    assert res.snapshot_id is not None, "disjoint append must not conflict"

    return (
        t.scan()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            _dec_sum(F.col("value"), "total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# event-time operators (lakehouse/streaming_agg.py)


def _q_events_windowed_rollup(spark, sf_dir):
    """Tumbling 15-min event-time window × event_type (reference defers
    this to Athena over the Delta table; here it's one hash aggregate,
    valid in batch and streaming mode alike)."""
    from lakehouse.streaming_agg import windowed_rollup

    ev = _events(spark, sf_dir)
    return windowed_rollup(
        ev, ts_col="ts", key_col="event_type", window="900 seconds",
        sum_col="value",
    )


def _q_events_sliding_rollup(spark, sf_dir):
    """Sliding 15-min window hopping every 5 min × event_type
    (lakehouse/streaming_agg.py) — the moving-average view; every event
    lands in exactly 3 overlapping windows."""
    from lakehouse.streaming_agg import sliding_rollup

    ev = _events(spark, sf_dir)
    return sliding_rollup(
        ev, ts_col="ts", key_col="event_type", window="900 seconds",
        slide="300 seconds", sum_col="value",
    )


def _q_stream_sliding_parity(spark, sf_dir):
    """Watermarked SLIDING-window aggregate through a real restarted
    file stream; self-verifies against the batch twin on the same rows
    (append-mode finalized hop windows must equal the batch aggregate)."""
    from lakehouse.streaming_agg import drive_batches, sliding_rollup

    sub = (
        _events(spark, sf_dir)
        .filter(F.col("user_id") % 20 == 0)
        .select("ts", "event_type", "value")
    )
    got = drive_batches(
        spark,
        lambda s: sliding_rollup(
            s, ts_col="ts", key_col="event_type", window="3600 seconds",
            slide="1200 seconds", watermark="3600 seconds",
            sum_col="value",
        ),
        _stream_batches(spark, sub, "event_type"),
    ).filter(F.col("event_type") != "zz_flush")
    want = sliding_rollup(
        sub, ts_col="ts", key_col="event_type", window="3600 seconds",
        slide="1200 seconds", sum_col="value",
    )
    cols = ["window_start_us", "window_end_us", "event_type", "n", "total"]
    g = [tuple(r) for r in got.select(*cols).orderBy(*cols).collect()]
    w = [tuple(r) for r in want.select(*cols).orderBy(*cols).collect()]
    assert g == w, (
        f"streaming hop windows diverge from batch twin: "
        f"{len(g)} vs {len(w)} rows"
    )
    return got


def _q_events_interval_join(spark, sf_dir):
    """Event-time interval join (lakehouse/streaming_agg.py): every
    purchase within 1 h at-or-after a view by the same user — the
    batch run of the expression tree the streaming twin executes as a
    stream-stream inner join."""
    from lakehouse.streaming_agg import interval_join

    return interval_join(_events(spark, sf_dir), within=3600.0)


def _q_stream_interval_join_parity(spark, sf_dir):
    """Stream-stream inner join through a real restarted file stream
    (both sides derived from one source — Spark's stream-stream
    self-join): watermarked state, time-range eviction; self-verifies
    as a multiset against the batch twin on the same rows."""
    from lakehouse.streaming_agg import drive_batches, interval_join

    sub = (
        _events(spark, sf_dir)
        .filter(F.col("user_id") % 10 == 0)
        .select("event_id", "ts", "user_id", "event_type")
    )
    parts, prev = [], None
    for b in _STREAM_CUTS:
        cond = (
            F.col("ts") < b
            if prev is None
            else (F.col("ts") >= prev) & (F.col("ts") < b)
        )
        parts.append(sub.filter(cond))
        prev = b
    parts.append(sub.filter(F.col("ts") >= prev))
    # typed flush row (the generic _stream_batches helper builds DOUBLE
    # fillers, which would break this sub's BIGINT id columns)
    parts.append(
        spark.sql(
            "SELECT CAST(-1 AS BIGINT) AS event_id, "
            "TIMESTAMP '2025-01-01 00:00:00' AS ts, "
            "CAST(-1 AS BIGINT) AS user_id, 'zz_flush' AS event_type"
        )
    )
    got = drive_batches(
        spark,
        lambda s: interval_join(s, within=3600.0, watermark="3600 seconds"),
        parts,
    )
    want = interval_join(sub, within=3600.0)
    cols = ["key", "left_id", "right_id", "left_ts_us", "right_ts_us"]
    g = sorted(tuple(r) for r in got.select(*cols).collect())
    w = sorted(tuple(r) for r in want.select(*cols).collect())
    assert g == w, (
        f"stream-stream join diverges from batch twin: "
        f"{len(g)} vs {len(w)} rows"
    )
    return got.orderBy(*cols)


def _q_stream_interval_join_outer(spark, sf_dir):
    """LEFT-OUTER stream-stream join — the subtlest Structured
    Streaming contract: an unmatched left emits with NULL right columns
    only after the watermark proves its match window closed. Driven
    through a restarted file stream; self-verifies as a multiset
    against the batch left-join twin (matched pairs + every view that
    never converted within the hour)."""
    from lakehouse.streaming_agg import drive_batches, interval_join

    sub = (
        _events(spark, sf_dir)
        .filter(F.col("user_id") % 10 == 0)
        .select("event_id", "ts", "user_id", "event_type")
    )
    parts, prev = [], None
    for b in _STREAM_CUTS:
        cond = (
            F.col("ts") < b
            if prev is None
            else (F.col("ts") >= prev) & (F.col("ts") < b)
        )
        parts.append(sub.filter(cond))
        prev = b
    parts.append(sub.filter(F.col("ts") >= prev))
    # the flush must carry an IN-TYPE (right-typed) row: the type
    # filters push below the shared watermark node, so an off-type
    # sentinel is never read and the watermark stalls; a far-future
    # purchase advances it and can match nothing (too late for every
    # left). Two flushes: NULL rows materialize on the trigger AFTER
    # the watermark advancement lands in the checkpoint.
    def _flush(eid):
        return spark.sql(
            f"SELECT CAST({eid} AS BIGINT) AS event_id, "
            "TIMESTAMP '2025-01-01 00:00:00' AS ts, "
            "CAST(-1 AS BIGINT) AS user_id, 'purchase' AS event_type"
        )
    parts.extend([_flush(-1), _flush(-2)])
    got = drive_batches(
        spark,
        lambda s: interval_join(
            s, within=3600.0, watermark="3600 seconds", how="left_outer"
        ),
        parts,
    )
    want = interval_join(sub, within=3600.0, how="left_outer")
    cols = ["key", "left_id", "right_id", "left_ts_us", "right_ts_us"]
    # repr-keyed sort: NULL right columns make raw tuples unorderable
    g = sorted((tuple(r) for r in got.select(*cols).collect()), key=repr)
    w = sorted((tuple(r) for r in want.select(*cols).collect()), key=repr)
    assert g == w, (
        f"outer stream-stream join diverges from batch twin: "
        f"{len(g)} vs {len(w)} rows"
    )
    return got.orderBy(*cols)


def _q_lh_add_files_scan(spark, sf_dir):
    """Metadata-only parquet adoption (Iceberg add_files): write the
    events corpus as a FOREIGN Spark hive layout (partitionBy drops the
    partition column from data pages), adopt it into a fresh table with
    ONE footer-harvested commit, and scan. In-builder asserts: every
    file hardlinked (zero data bytes moved — inodes shared with the
    source), every entry carries the fill flag for the dropped column,
    and the partition-pruned scan skips files. The scan output must
    hash-match DuckDB reading the ORIGINAL events parquet."""
    df = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="lh_adopt_")
    ext = os.path.join(root, "external")
    df.repartition(4, "event_id").write.partitionBy("event_date").parquet(ext)

    from lakehouse import Table

    t = Table.create(
        spark,
        os.path.join(root, "events_table"),
        df.schema,
        partition_spec=[
            {"name": "event_date", "transform": "identity",
             "source": "event_date"}
        ],
    )
    snap = t.add_files(ext)
    assert snap.summary["zero-copy-links"] == snap.summary["adopted-files"]
    live = t.live_files()
    src_inodes = {
        os.stat(os.path.join(dp, fn)).st_ino
        for dp, _dirs, fns in os.walk(ext)
        for fn in fns
        if fn.endswith(".parquet")
    }
    assert all(
        os.stat(os.path.join(t.root, e.file_path)).st_ino in src_inodes
        for e in live
    )
    assert all(
        e.stats.get("event_date", {}).get("fill") for e in live
    )
    d = sorted(e.partition["event_date"] for e in live)[0]
    plan = t.plan(filter=[("event_date", "=", d)])
    assert len(plan.files) < plan.candidate_files
    return _events_out(t.scan())


def _q_events_sessionize(spark, sf_dir):
    """Gap-based sessions (30 min) per user — lag/cumsum over ONE
    exchange on user_id, no Python boundary."""
    from lakehouse.streaming_agg import sessionize_batch

    ev = _events(spark, sf_dir)
    return sessionize_batch(
        ev, key_col="user_id", ts_col="ts", gap_s=1800, sum_col="value"
    )


_STREAM_CUTS = ["2024-01-04", "2024-01-08"]


def _stream_batches(spark, sub, key_col):
    """Time-ordered micro-batches split at _STREAM_CUTS plus a far-future
    flush row that drives the watermark past every open session/window."""
    parts, prev = [], None
    for b in _STREAM_CUTS:
        cond = (
            F.col("ts") < b
            if prev is None
            else (F.col("ts") >= prev) & (F.col("ts") < b)
        )
        parts.append(sub.filter(cond))
        prev = b
    parts.append(sub.filter(F.col("ts") >= prev))
    cols = ", ".join(
        f"'zz_flush' AS {c}" if c == key_col
        else "TIMESTAMP '2025-01-01 00:00:00' AS ts" if c == "ts"
        else f"CAST(0.0 AS DOUBLE) AS {c}"
        for c in sub.columns
    )
    return parts + [spark.sql(f"SELECT {cols}")]


def _q_stream_sessionize_parity(spark, sf_dir):
    """Stateful streaming sessionization (applyInPandasWithState +
    event-time timeout) through a REAL file-source stream with restarts;
    self-verifies row-for-row against the batch lag/cumsum twin, and the
    returned (streaming) rows are oracle-checked against DuckDB."""
    from lakehouse.streaming_agg import (
        drive_batches,
        sessionize_batch,
        sessionize_stream,
    )

    sub = (
        _events(spark, sf_dir)
        .filter(F.col("user_id") % 20 == 0)
        .select(F.col("user_id").cast("string").alias("user_id"), "ts", "value")
    )
    got = drive_batches(
        spark,
        lambda s: sessionize_stream(
            s, key_col="user_id", ts_col="ts", gap_s=1800,
            watermark="3600 seconds", sum_col="value",
        ),
        _stream_batches(spark, sub, "user_id"),
    ).filter(F.col("user_id") != "zz_flush")
    want = sessionize_batch(
        sub, key_col="user_id", ts_col="ts", gap_s=1800, sum_col="value"
    )
    cols = ["user_id", "session_start_us", "session_end_us", "n", "total"]
    g = [tuple(r) for r in got.select(*cols).orderBy(*cols).collect()]
    w = [tuple(r) for r in want.select(*cols).orderBy(*cols).collect()]
    assert g == w, (
        f"streaming sessions diverge from batch twin: {len(g)} vs {len(w)} "
        f"rows; first diff: {next((a, b) for a, b in zip(g, w) if a != b) if g and w else None}"
    )
    return got


def _q_stream_rollup_parity(spark, sf_dir):
    """Watermarked tumbling-window aggregate through a real restarted
    file stream; self-verifies against the batch twin on the same rows
    (append-mode finalized windows must equal the batch hash aggregate)."""
    from lakehouse.streaming_agg import drive_batches, windowed_rollup

    sub = (
        _events(spark, sf_dir)
        .filter(F.col("user_id") % 20 == 0)
        .select("ts", "event_type", "value")
    )
    got = drive_batches(
        spark,
        lambda s: windowed_rollup(
            s, ts_col="ts", key_col="event_type", window="3600 seconds",
            watermark="3600 seconds", sum_col="value",
        ),
        _stream_batches(spark, sub, "event_type"),
    ).filter(F.col("event_type") != "zz_flush")
    want = windowed_rollup(
        sub, ts_col="ts", key_col="event_type", window="3600 seconds",
        sum_col="value",
    )
    cols = ["window_start_us", "window_end_us", "event_type", "n", "total"]
    g = [tuple(r) for r in got.select(*cols).orderBy(*cols).collect()]
    w = [tuple(r) for r in want.select(*cols).orderBy(*cols).collect()]
    assert g == w, (
        f"streaming windows diverge from batch twin: {len(g)} vs {len(w)} rows"
    )
    return got


_SESSIONIZE_SUB = (
    "(SELECT CAST(user_id AS VARCHAR) AS user_id, ts, value "
    "FROM events WHERE user_id % 20 = 0)"
)
_ROLLUP_SUB = (
    "(SELECT ts, event_type, value FROM events WHERE user_id % 20 = 0)"
)


LH_CDC_ORACLE = """
WITH ins AS (
    SELECT event_id + 50000000 AS event_id, ts, user_id, event_type,
           value, props, 'insert' AS change_type
    FROM events WHERE event_type = 'signup' AND user_id % 9 = 0
),
dels AS (
    SELECT event_id, ts, user_id, event_type, value, props,
           'delete' AS change_type
    FROM events WHERE event_type = 'error' AND user_id % 11 = 0
)
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
       CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s, change_type
FROM (SELECT * FROM ins UNION ALL SELECT * FROM dels)
"""


# ---------------------------------------------------------------------------
# registry


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is deliberate: the driver's correctness gate
    samples the FIRST 50 entries, so positions 1-50 cover every module
    (reference pipeline, event-time, lakehouse core incl. the streaming
    arc + ops metrics, dedup, textops, packing, transcripts, sampling,
    similarity, audio) — one representative per family first, variants
    in the tail. The full registry is replica-checked each round with
    tools/check_entry.py (log committed as CHECK_ALL_r{N}.log)."""
    return {
        # --- first 50: one per module/family (driver-sampled) --------
        # reference pipeline + analytics
        "events_json_pipeline": _q_events_json_pipeline,
        "hourly_rollup": _q_hourly_rollup,
        "events_funnel": _q_events_funnel,
        # event-time operators (batch twins + streaming parity)
        "events_windowed_rollup": _q_events_windowed_rollup,
        "events_sessionize": _q_events_sessionize,
        # lakehouse maintenance + DML core
        "lh_compact_scan_parity": _q_lh_compact,
        "lh_rewrite_manifests": _q_lh_rewrite_manifests,
        "lh_cluster_zorder_parity": _q_lh_cluster,
        "lh_timetravel_scan": _q_lh_timetravel,
        "lh_partition_pruned_scan": _q_lh_partition_pruned,
        "lh_merge_upsert": _q_lh_merge,
        "lh_merge_mor": _q_lh_merge_mor,
        "lh_merge_full_sync": _q_lh_merge_full_sync,
        "lh_sql_merge": _q_lh_sql_merge,
        "lh_sql_insert_overwrite": _q_lh_sql_insert_overwrite,
        "lh_sql_ddl_lifecycle": _q_lh_sql_ddl_lifecycle,
        "lh_spj_join": _q_lh_spj_join,
        "lh_spj_anti": _q_lh_spj_anti,
        "lh_identity_append": _q_lh_identity_append,
        "lh_delete_mor": _q_lh_delete_mor,
        "lh_count_pushdown": _q_lh_count_pushdown,
        "column_quantiles": _q_column_quantiles,
        "lh_rollup_incremental": _q_lh_rollup_incremental,
        "events_attribution": _q_events_attribution,
        "events_ab_test": _q_events_ab_test,
        "events_rate_anomalies": _q_events_rate_anomalies,
        "events_interval_join": _q_events_interval_join,
        "lh_datasource_scan": _q_lh_datasource_scan,
        "lh_bloom_point_lookup": _q_lh_bloom_point_lookup,
        "lh_clone_scan_parity": _q_lh_clone,
        "lh_sql_view_rollup": _q_lh_sql_view,
        "lh_constraint_enforcement": _q_lh_constraint_enforcement,
        "lh_default_column": _q_lh_default_column,
        "lh_autopilot_scan_parity": _q_lh_autopilot,
        "lh_partition_evolution": _q_lh_partition_evolution,
        "lh_cdc_row_changes": _q_lh_cdc,
        "lh_commit_metrics": _q_lh_commit_metrics,
        "lh_ops_alerts": _q_lh_ops_alerts,
        "lh_streaming_pipeline": _q_lh_streaming_pipeline,
        "lh_multi_table_txn": _q_lh_multi_table_txn,
        "lh_cdc_stream": _q_lh_cdc_stream,
        "lh_webdataset_export": _q_lh_webdataset_export,
        "lh_add_files_scan": _q_lh_add_files_scan,
        "lh_retention_policy": _q_lh_retention_policy,
        # dedup family
        "dedup_exact": _q_dedup_exact,
        "curate_documents": _q_curate_documents,
        # textops family
        "text_quality": _q_text_quality,
        "asof_join_enrich": _q_asof_join,
        "fk_integrity_audit": _q_fk_integrity,
        # tokenizer family (rows-only, self-verifying)
        "bpe_train": _q_bpe_train,
        # packing family
        "pack_sequences": _q_pack_sequences,
        # transcripts family
        "transcript_wer": _q_transcript_wer,
        # sampling family
        "split_assign": _q_split_assign,
        # similarity family
        "cosine_topk": _q_cosine_topk,
        # audio family (rows-only, self-verifying)
        "audio_qc_detection": _q_audio_qc_detection,
        "lh_asr_pipeline": _q_lh_asr_pipeline,
        # --- tail: variants + the rest (replica-checked) -------------
        "lh_cdc_replication": _q_lh_cdc_replication,
        "lh_generated_column": _q_lh_generated_column,
        "lh_merge_serializable": _q_lh_merge_serializable,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "lh_spj_cogroup": _q_lh_spj_cogroup,
        "lh_sum_pushdown": _q_lh_sum_pushdown,
        "bm25_topk": _q_bm25_topk,
        "lh_llm_pipeline": _q_lh_llm_pipeline,
        "stream_rollup_parity": _q_stream_rollup_parity,
        "stream_sessionize_parity": _q_stream_sessionize_parity,
        "lh_rollback": _q_lh_rollback,
        "lh_incremental_scan": _q_lh_incremental,
        "unigram_logprob": _q_unigram_logprob,
        "bigram_logprob": _q_bigram_logprob,
        "lang_id": _q_lang_id,
        "range_join_promos": _q_range_join,
        "events_cohort_retention": _q_cohort_retention,
        "bpe_coverage": _q_bpe_coverage,
        "sample_hash": _q_sample_hash,
        "window_top_purchase": _q_window_top_purchase,
        "lh_delete_convert": _q_lh_delete_convert,
        "simhash_pairs": _q_simhash_pairs,
        "pii_scrub": _q_pii_scrub,
        "chunk_documents": _q_chunk_documents,
        "transcript_align_uniform": _q_transcript_align,
        "transcript_align_energy": _q_transcript_align_energy,
        "audio_data_card": _q_audio_data_card,
        "segment_revenue": _q_segment_revenue,
        "q1_pricing_summary": _q_q1_pricing,
        "lh_cluster_hilbert_parity": _q_lh_cluster_hilbert,
        "lh_sorted_scan": _q_lh_sorted_scan,
        "lh_lineage_scan": _q_lh_lineage_scan,
        "lh_expire_gc_scan_parity": _q_lh_expire_gc,
        "lh_delete_cow": _q_lh_delete,
        "lh_rename_drop": _q_lh_rename_drop,
        "lh_ndv_analyze": _q_lh_ndv_analyze,
        "lh_histogram_selectivity": _q_lh_histogram_selectivity,
        "lh_changelog_pairs": _q_lh_changelog_pairs,
        "lh_delete_mor_pos": _q_lh_delete_mor_pos,
        "lh_rollup_hourly": _q_lh_rollup_hourly,
        "lh_update_cow": _q_lh_update,
        "lh_update_mor": _q_lh_update_mor,
        "lh_overwrite_partitions": _q_lh_overwrite_partitions,
        "lh_files_metadata": _q_lh_files_metadata,
        "lh_pq_index_incremental": _q_lh_pq_index,
        "lh_wap_publish": _q_lh_wap_publish,
        "dedup_ngram_jaccard": _q_dedup_jaccard,
        "dedup_windows": _q_dedup_windows,
        "split_leakage_audit": _q_split_leakage,
        "decontaminate": _q_decontaminate,
        "simhash64": _q_simhash,
        "repetition_stats": _q_repetition_stats,
        "token_stats": _q_token_stats,
        "doc_fingerprint": _q_fingerprint,
        "profile_documents": _q_profile_documents,
        "transcript_cer": _q_transcript_cer,
        "text_normalize": _q_text_normalize,
        "length_bucket_batches": _q_length_bucket_batches,
        "sample_mixture": _q_sample_mixture,
        "cosine_topk_arrow": _q_cosine_topk_arrow,
        "embedding_quantize": _q_embedding_quantize,
        "cosine_topk_int8": _q_cosine_topk_int8,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "sample_stratified": _q_sample_stratified,
        "pq_topk": _q_pq_topk,
        "ann_ivfpq_topk": _q_ann_ivfpq,
        "embedding_near_dup": _q_embedding_near_dup,
        "semantic_dedup": _q_semantic_dedup,
        "cluster_balanced_sample": _q_cluster_balanced_sample,
        # audio payload (rows-only)
        "audio_decode_features": _q_audio_decode,
        "audio_snr_invariant": _q_audio_snr,
        "audio_resample_segment": _q_audio_resample_segment,
        "audio_transcode_g711": _q_audio_transcode_g711,
        "audio_transcode_adpcm": _q_audio_transcode_adpcm,
        "audio_split_on_silence": _q_audio_split_on_silence,
        "audio_normalize_trim": _q_audio_normalize_trim,
        "audio_dup_detection": _q_audio_dup_detection,
        "audio_mfcc_invariance": _q_audio_mfcc_invariance,
        "audio_word_crop": _q_audio_word_crop,
        "lh_audio_curate_clips": _q_lh_curate_clips,
        "audio_spectrogram": _q_audio_spectrogram,
        "audio_specaugment": _q_audio_specaugment,
        "audio_cmvn": _q_audio_cmvn,
        "audio_cmvn_group": _q_audio_cmvn_group,
        "audio_deltas": _q_audio_deltas,
        "audio_duration_batches": _q_audio_duration_batches,
        "audio_augment": _q_audio_augment,
        "audio_noise_mix": _q_audio_noise_mix,
        "audio_speed_perturb": _q_audio_speed_perturb,
        "audio_pitch_shift": _q_audio_pitch_shift,
        "audio_resample_sinc": _q_audio_resample_sinc,
        "audio_compress_dynamics": _q_audio_compress_dynamics,
        "audio_bandwidth_screen": _q_audio_bandwidth_screen,
        "audio_reverb": _q_audio_reverb,
        "audio_denoise": _q_audio_denoise,
        "audio_loudness_norm": _q_audio_loudness_norm,
        "audio_telephony": _q_audio_telephony,
        "audio_spectral_features": _q_audio_spectral,
        "audio_spectral_topk": _q_audio_spectral_topk,
        "audio_dominant_freq": _q_audio_dominant_freq,
        "lh_audio_roundtrip": _q_lh_audio_roundtrip,
        "lh_audio_dedup_curation": _q_lh_audio_dedup_curation,
        "lh_wav_dir_ingest": _q_lh_wav_dir_ingest,
        # journey analytics (round 3, session 5)
        "lh_transform_incremental": _q_lh_transform_incremental,
        "lh_cherry_pick": _q_lh_cherry_pick,
        "dedup_clusters": _q_dedup_clusters,
        "gopher_quality_filter": _q_gopher_quality_filter,
        "events_attribution_linear": _q_events_attribution_linear,
        "events_transitions": _q_events_transitions,
        "events_top_paths": _q_events_top_paths,
        "events_transition_gaps": _q_events_transition_gaps,
        "audio_time_stretch": _q_audio_time_stretch,
        "events_sliding_rollup": _q_events_sliding_rollup,
        "stream_sliding_parity": _q_stream_sliding_parity,
        "stream_interval_join_parity": _q_stream_interval_join_parity,
        "stream_interval_join_outer": _q_stream_interval_join_outer,
    }


def _funnel_oracle() -> str:
    from lakehouse.funnel import funnel_oracle_sql

    return funnel_oracle_sql(["view", "click", "purchase"], within=86400.0)


def _attribution_oracle(model, lookback) -> str:
    from lakehouse.attribution import attribution_oracle_sql

    return attribution_oracle_sql(
        ["view", "click", "signup"],
        "purchase",
        model=model,
        lookback=lookback,
    )


def _rate_anomalies_oracle() -> str:
    from lakehouse.anomaly import rate_anomalies_oracle_sql

    return rate_anomalies_oracle_sql(bucket_s=86400, z_threshold=2.0)


def _ab_test_oracle() -> str:
    from lakehouse.abtest import ab_test_oracle_sql

    return ab_test_oracle_sql(
        conversion_type="purchase",
        variants=3,
        seed=7,
        table=(
            "(SELECT * FROM events "
            "WHERE event_type != 'purchase' OR value > 150)"
        ),
    )


def _transitions_oracle() -> str:
    from lakehouse.paths import transitions_oracle_sql

    return transitions_oracle_sql()


def _transition_gaps_oracle() -> str:
    from lakehouse.paths import transition_gaps_oracle_sql

    return transition_gaps_oracle_sql()


def _top_paths_oracle() -> str:
    from lakehouse.paths import top_paths_oracle_sql

    return top_paths_oracle_sql()


def _cohort_oracle() -> str:
    from lakehouse.funnel import cohort_retention_oracle_sql

    return cohort_retention_oracle_sql(max_periods=8)


def _sampling_oracles() -> tuple[str, str, str, str]:
    from lakehouse.sampling import (
        hash_sample_oracle_sql,
        split_assign_oracle_sql,
        stratified_fractions_oracle_sql,
        stratified_sample_oracle_sql,
    )

    return (
        hash_sample_oracle_sql(fraction=0.25, seed=7),
        stratified_sample_oracle_sql(["lang"], 15, seed=7),
        stratified_fractions_oracle_sql(
            "source",
            {"src0": 1.0, "src1": 0.5, "src2": 0.25},
            seed=7,
            default_fraction=0.1,
        ),
        split_assign_oracle_sql(
            {"train": 0.9, "val": 0.05, "test": 0.05}, seed=13
        ),
    )


# Golden for bpe_train: py_bpe_train (pure-Python reference trainer)
# over Counter(w for docs[doc_id%5==0].text.lower().split()) at sf0.01
# — regenerate with:
#   python -c "import duckdb; from collections import Counter;
#   from lakehouse.bpe import py_bpe_train;
#   wf=Counter(w for (t,) in duckdb.sql(\"SELECT text FROM
#   '/root/testdata/sf0.01/documents.parquet' WHERE doc_id%5=0\")
#   .fetchall() for w in t.lower().split() if w);
#   print(py_bpe_train(dict(wf), num_merges=24, min_freq=2))"
_BPE_TRAIN_GOLDEN = [
    (0, "e", "r", 908), (1, "e", "</w>", 875), (2, "o", "w", 582),
    (3, "ow", "</w>", 582), (4, "er", "</w>", 563), (5, "s", "t", 551),
    (6, "o", "r", 518), (7, "n", "</w>", 515), (8, "l", "u", 380),
    (9, "h", "</w>", 375), (10, "t", "</w>", 370), (11, "g", "</w>", 366),
    (12, "a", "r", 360), (13, "p", "ar", 360), (14, "a", "t", 354),
    (15, "a", "</w>", 347), (16, "y", "</w>", 330), (17, "i", "n", 329),
    (18, "c", "u", 212), (19, "cu", "st", 212), (20, "cust", "o", 212),
    (21, "custo", "m", 212), (22, "custom", "er</w>", 212),
    (23, "r", "ow</w>", 207),
]
_BPE_TRAIN_GOLDEN_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"({r}, '{l}', '{rr}', {f})" for r, l, rr, f in _BPE_TRAIN_GOLDEN
    )
    + ') AS t("rank", "left", "right", pair_freq)'
)

# Golden for lh_webdataset_export: post-churn shard manifest (zeroed
# tar metadata ⇒ shard bytes are a pure function of content; the query
# itself asserts re-export byte-identity and byte-exact round-trips).
_WDS_EXPORT_GOLDEN = [
    ("shard-000000.tar", 32, 2283520,
     "ea84f5b40b3b31831aa1e9ad24bf0bd799775e3c0bf24dad7dfe14e8b50f559c",
     "clip-000000000009", "hot-000000000921"),
    ("shard-000001.tar", 53, 3461120,
     "7898d6918a843d2f3f0652565e856ff3da750379805bf6d89dc1b64ada4a5cfe",
     "clip-000000000005", "hot-000000000902"),
    ("shard-000002.tar", 59, 4433920,
     "7846a8ab47e4dd8008cf86f1478252c893bfe6476f650cca8d06f2544ddc6592",
     "clip-000000000015", "hot-000000000920"),
    ("shard-000003.tar", 46, 3717120,
     "a7b68a66a9ea50fbeb78a76dd6282e57f0860ec2c6905deb4beeec3e921e5ce4",
     "clip-000000000014", "hot-000000000251"),
    ("shard-000004.tar", 44, 3031040,
     "dd5f6819d627920308de54a50200cd5254eb4408ce1d9f7412b9942e89e1d9ce",
     "clip-000000000007", "hot-000000000910"),
    ("shard-000005.tar", 56, 4311040,
     "5aac19cb924ff5a331bed06d486da4dde1d567f63a8f60536e9d525467e3cd65",
     "clip-000000000003", "hot-000000000922"),
]
_WDS_EXPORT_GOLDEN_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{s}', {n}, {b}, '{h}', '{mn}', '{mx}')"
        for s, n, b, h, mn, mx in _WDS_EXPORT_GOLDEN
    )
    + ") AS t(shard, n_samples, tar_bytes, sha256, min_key, max_key)"
)


def oracle_sql() -> dict[str, str]:
    from lakehouse.quantiles import (
        quantiles_oracle_sql as _quantiles_oracle_sql,
    )
    from lakehouse.dedup import (
        curate_documents_oracle_sql,
        decontaminate_oracle_sql,
        dedup_clusters_oracle_sql,
        dedup_exact_oracle_sql,
        dedup_windows_oracle_sql,
        minhash_lsh_oracle_sql,
        ngram_jaccard_oracle_sql,
        simhash_oracle_sql,
        simhash_pairs_oracle_sql,
        split_leakage_oracle_sql,
    )
    from lakehouse.similarity import (
        ann_ivf_oracle_sql,
        ann_ivfpq_oracle_sql,
        ann_lsh_oracle_sql,
        cosine_topk_int8_oracle_sql,
        cosine_topk_oracle_sql,
        embedding_near_dup_oracle_sql,
        pq_topk_oracle_sql,
        quantize_embeddings_oracle_sql,
        cluster_balanced_sample_oracle_sql,
        semantic_dedup_oracle_sql,
    )
    from lakehouse.streaming_agg import (
        interval_join_oracle_sql,
        sessionize_oracle_sql,
        sliding_rollup_oracle_sql,
        windowed_rollup_oracle_sql,
    )
    from lakehouse import transcripts
    from lakehouse.packing import (
        bucket_batches_oracle_sql,
        chunk_documents_oracle_sql,
        pack_sequences_oracle_sql,
    )
    from lakehouse.textops import (
        doc_fingerprint_oracle_sql,
        lang_id_oracle_sql,
        pii_scrub_oracle_sql,
        gopher_rules_oracle_sql,
        quality_oracle_sql,
        repetition_oracle_sql,
        token_stats_oracle_sql,
        normalize_text_oracle_sql,
        unigram_logprob_oracle_sql,
        bigram_logprob_oracle_sql,
        bm25_topk_oracle_sql,
    )

    return {
        "events_json_pipeline": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
                   event_type,
                   CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s,
                   CAST(NULL AS VARCHAR) AS user_agent
            FROM events
        """,
        "hourly_rollup": """
            SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
                   count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem GROUP BY 1, 2
        """,
        "segment_revenue": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "window_top_purchase": """
            SELECT user_id, event_id, value FROM (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, event_id) AS rn
                FROM events WHERE event_type = 'purchase'
            ) WHERE rn = 1
        """,
        # event-time operators
        "events_windowed_rollup": windowed_rollup_oracle_sql(
            table="events", ts_col="ts", key_col="event_type",
            window_s=900, sum_col="value",
        ),
        "events_sessionize": sessionize_oracle_sql(
            table="events", key_col="user_id", ts_col="ts",
            gap_s=1800, sum_col="value",
        ),
        "stream_sessionize_parity": sessionize_oracle_sql(
            table=_SESSIONIZE_SUB, key_col="user_id", ts_col="ts",
            gap_s=1800, sum_col="value",
        ),
        "stream_rollup_parity": windowed_rollup_oracle_sql(
            table=_ROLLUP_SUB, ts_col="ts", key_col="event_type",
            window_s=3600, sum_col="value",
        ),
        "events_sliding_rollup": sliding_rollup_oracle_sql(
            table="events", ts_col="ts", key_col="event_type",
            window_s=900, slide_s=300, sum_col="value",
        ),
        "stream_sliding_parity": sliding_rollup_oracle_sql(
            table=_ROLLUP_SUB, ts_col="ts", key_col="event_type",
            window_s=3600, slide_s=1200, sum_col="value",
        ),
        "events_interval_join": interval_join_oracle_sql(
            table="events", within=3600.0,
        ),
        "stream_interval_join_parity": interval_join_oracle_sql(
            table="(SELECT * FROM events WHERE user_id % 10 = 0)",
            within=3600.0,
        ),
        "stream_interval_join_outer": interval_join_oracle_sql(
            table="(SELECT * FROM events WHERE user_id % 10 = 0)",
            within=3600.0, how="left_outer",
        ),
        # maintenance parity: post-op scan must equal the raw table
        "lh_compact_scan_parity": EVENTS_OUT_SQL,
        "lh_rewrite_manifests": EVENTS_OUT_SQL,
        "lh_clone_scan_parity": EVENTS_OUT_SQL,
        "lh_add_files_scan": EVENTS_OUT_SQL,
        "lh_cluster_zorder_parity": EVENTS_OUT_SQL,
        "lh_cluster_hilbert_parity": EVENTS_OUT_SQL,
        "lh_timetravel_scan": EVENTS_OUT_SQL + " WHERE event_id % 2 = 0",
        "lh_sorted_scan": (
            EVENTS_OUT_SQL
            + " WHERE event_id >= (SELECT MAX(event_id) // 10 FROM events)"
            + " AND event_id <= (SELECT 3 * MAX(event_id) // 10 FROM events)"
        ),
        "lh_lineage_scan": EVENTS_OUT_SQL,
        "lh_partition_pruned_scan": EVENTS_OUT_SQL
        + " WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'",
        "lh_expire_gc_scan_parity": EVENTS_OUT_SQL,
        "lh_merge_upsert": LH_MERGE_ORACLE,
        "lh_merge_mor": LH_MERGE_ORACLE,
        "lh_merge_full_sync": LH_MERGE_FULL_SYNC_ORACLE,
        "lh_identity_append": LH_IDENTITY_ORACLE,
        "lh_spj_join": LH_SPJ_ORACLE,
        "lh_spj_anti": LH_SPJ_ANTI_ORACLE,
        "lh_changelog_pairs": """
            WITH upd AS (
                SELECT event_id, value FROM events WHERE event_id % 11 = 0
            )
            SELECT event_id, value, 'update_before' AS _change_type
            FROM upd
            UNION ALL
            SELECT event_id, value + 1000, 'update_after' FROM upd
            UNION ALL
            SELECT event_id + 2000000, value, 'insert'
            FROM events WHERE event_id % 13 = 0
        """,
        "lh_ndv_analyze": """
            SELECT 'user_id' AS column, count(DISTINCT user_id) AS exact_ndv
            FROM events
            UNION ALL
            SELECT 'event_type', count(DISTINCT event_type) FROM events
            UNION ALL
            SELECT 'event_id', count(DISTINCT event_id) FROM events
        """,
        "column_quantiles": _quantiles_oracle_sql(20, "value", "events"),
        "lh_rename_drop": """
            WITH both_gens AS (
                SELECT event_id, user_id, event_type, value AS amount,
                       CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s
                FROM events
                UNION ALL
                SELECT event_id + 1000000, user_id, event_type,
                       value AS amount,
                       CAST(CAST(ts AS DATE) AS VARCHAR)
                FROM events WHERE event_id % 7 = 0
            )
            SELECT * FROM both_gens WHERE amount > 100.0
        """,
        "lh_delete_cow": EVENTS_OUT_SQL
        + " WHERE NOT (event_type = 'error' AND user_id % 3 = 0)",
        "lh_delete_mor": EVENTS_OUT_SQL
        + " WHERE NOT (event_type = 'error' AND user_id % 3 = 0)",
        "lh_delete_mor_pos": EVENTS_OUT_SQL
        + " WHERE NOT (event_type = 'click' AND user_id % 5 = 0)",
        "lh_count_pushdown": (
            "SELECT COUNT(*) AS cnt, MIN(user_id) AS min_user, "
            "MAX(user_id) AS max_user FROM (" + EVENTS_OUT_SQL + ") "
            "WHERE event_date_s BETWEEN '2024-01-05' AND '2024-01-09'"
        ),
        "lh_sum_pushdown": (
            "SELECT CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)"
            " AS sum_value_c, "
            "COUNT(CAST(FLOOR(value * 100) AS BIGINT)) AS n_value_c, "
            "CAST(SUM(user_id) AS BIGINT) AS sum_user, "
            "floor(AVG(user_id) * 1000000.0 + 0.5) / 1000000.0 AS avg_user "
            "FROM (" + EVENTS_OUT_SQL + ") "
            "WHERE event_date_s BETWEEN '2024-01-05' AND '2024-01-09'"
        ),
        "lh_transform_incremental": (
            "WITH rows AS ("
            "SELECT * FROM events "
            "WHERE NOT (event_type = 'error' AND user_id % 5 = 0) "
            "UNION ALL "
            "SELECT event_id + 40000000 AS event_id, ts, user_id, "
            "event_type, value, props FROM events "
            "WHERE event_type = 'signup' AND user_id % 13 = 0) "
            "SELECT event_id, event_type AS etype, "
            "CAST(floor(value * 2.0 * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS v2, "
            "CAST(date_trunc('hour', ts) AS VARCHAR) AS ehour "
            "FROM rows"
        ),
        "lh_rollup_incremental": (
            "WITH rows AS ("
            "SELECT * FROM events "
            "WHERE NOT (event_type = 'error' AND user_id % 4 = 0) "
            "UNION ALL "
            "SELECT event_id + 20000000 AS event_id, ts, user_id, "
            "event_type, value, props FROM events "
            "WHERE event_type = 'signup' AND user_id % 11 = 0) "
            "SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s, "
            "event_type, COUNT(*) AS n, "
            "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v_sum, "
            "MIN(value) AS v_min, MAX(value) AS v_max "
            "FROM rows GROUP BY 1, 2"
        ),
        "lh_rollup_hourly": (
            "WITH rows AS ("
            "SELECT * FROM events "
            "WHERE NOT (event_type = 'click' AND user_id % 6 = 0) "
            "UNION ALL "
            "SELECT event_id + 30000000 AS event_id, ts, user_id, "
            "event_type, value, props FROM events "
            "WHERE event_type = 'signup' AND user_id % 9 = 0) "
            "SELECT epoch_us(date_trunc('hour', ts)) AS hh_us, "
            "event_type, COUNT(*) AS n, "
            "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v_sum "
            "FROM rows GROUP BY 1, 2"
        ),
        "lh_delete_convert": EVENTS_OUT_SQL
        + " WHERE NOT (event_type = 'error' AND user_id % 3 = 0)"
        + " AND NOT (event_type = 'purchase' AND user_id % 7 = 0)"
        + " AND NOT (event_type = 'click' AND user_id % 5 = 0)",
        "lh_datasource_scan": EVENTS_OUT_SQL
        + " WHERE NOT (event_type = 'error' AND user_id % 3 = 0)"
        + " AND CAST(ts AS DATE) BETWEEN DATE '2024-01-05'"
        + " AND DATE '2024-01-09'",
        "lh_bloom_point_lookup": EVENTS_OUT_SQL
        + " WHERE event_id IN (11, 503, 2011, 3517, 9001)",
        "lh_update_cow": """
            SELECT event_id, epoch_us(ts) AS ts_us, user_id,
                   CASE WHEN event_type = 'purchase' THEN 'purchase_adj'
                        ELSE event_type END AS event_type,
                   CASE WHEN event_type = 'purchase' THEN value + 1000.0
                        ELSE value END AS value,
                   props, CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s
            FROM events
        """,
        "curate_documents": (
            "SELECT doc_id, lang, n_chars FROM ("
            + curate_documents_oracle_sql()
            + ")"
        ),
        "profile_documents": (
            "WITH d AS (SELECT * FROM documents) "
            "SELECT 'doc_id' AS column, COUNT(*) AS n, "
            "COUNT(*) - COUNT(doc_id) AS nulls, "
            "COUNT(DISTINCT doc_id) AS n_distinct, "
            "CAST(MIN(doc_id) AS VARCHAR) AS min_s, "
            "CAST(MAX(doc_id) AS VARCHAR) AS max_s, "
            "AVG(doc_id) AS mean, quantile_cont(doc_id, 0.5) AS median "
            "FROM d UNION ALL "
            "SELECT 'text', COUNT(*), COUNT(*) - COUNT(text), "
            "COUNT(DISTINCT text), CAST(MIN(text) AS VARCHAR), "
            "CAST(MAX(text) AS VARCHAR), NULL, NULL FROM d UNION ALL "
            "SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), "
            "COUNT(DISTINCT lang), CAST(MIN(lang) AS VARCHAR), "
            "CAST(MAX(lang) AS VARCHAR), NULL, NULL FROM d UNION ALL "
            "SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), "
            "COUNT(DISTINCT n_chars), CAST(MIN(n_chars) AS VARCHAR), "
            "CAST(MAX(n_chars) AS VARCHAR), AVG(n_chars), "
            "quantile_cont(n_chars, 0.5) FROM d"
        ),
        "lh_update_mor": """
            SELECT event_id, epoch_us(ts) AS ts_us, user_id,
                   CASE WHEN event_type = 'purchase' THEN 'purchase_adj'
                        ELSE event_type END AS event_type,
                   CASE WHEN event_type = 'purchase' THEN value + 1000.0
                        ELSE value END AS value,
                   props, CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s
            FROM events
        """,
        "lh_wap_publish": EVENTS_OUT_SQL,
        # staged third survives in full (picked rows re-sequence above
        # the mid-flight delete); the rest loses event_id % 10 < 2
        "lh_cherry_pick": EVENTS_OUT_SQL
        + " WHERE (event_id % 3 = 1) OR (event_id % 10 >= 2)",
        "lh_retention_policy": EVENTS_OUT_SQL
        + " WHERE CAST(ts AS DATE) >= '2024-01-04'",
        "lh_constraint_enforcement": EVENTS_OUT_SQL,
        "lh_autopilot_scan_parity": (
            EVENTS_OUT_SQL + " WHERE event_id % 10 != 7"
        ),
        "lh_default_column": (
            "SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, "
            "value, props, CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s, "
            "CASE WHEN event_id % 4 = 3 THEN 'apac' ELSE 'emea' END AS region "
            "FROM events"
        ),
        "lh_rollback": EVENTS_OUT_SQL,
        "lh_partition_evolution": EVENTS_OUT_SQL,
        "lh_sql_view_rollup": """
            SELECT event_type,
                   CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s,
                   count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_value
            FROM events GROUP BY 1, 2
        """,
        "lh_incremental_scan": EVENTS_OUT_SQL + " WHERE event_id % 2 = 1",
        "lh_cdc_row_changes": LH_CDC_ORACLE,
        "lh_overwrite_partitions": """
            SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
                   value, props, CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s
            FROM events WHERE CAST(ts AS DATE) <> DATE '2024-01-03'
            UNION ALL
            SELECT event_id, epoch_us(ts) AS ts_us, user_id,
                   'backfilled' AS event_type, value + 5000.0 AS value,
                   props, CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s
            FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-03'
        """,
        "lh_files_metadata": """
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date_s,
                   1 AS file_count, count(*) AS record_count
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "lh_sql_merge": LH_SQL_MERGE_ORACLE,
        "lh_sql_insert_overwrite": LH_SQL_INSERT_OVERWRITE_ORACLE,
        "lh_sql_ddl_lifecycle": LH_SQL_DDL_ORACLE,
        "lh_ops_alerts": LH_OPS_ALERTS_ORACLE,
        "lh_commit_metrics": """
            WITH c AS (
                SELECT count(*) AS n,
                       count(*) FILTER (WHERE event_type <> 'purchase') AS np,
                       count(*) FILTER (WHERE event_type = 'purchase') AS p,
                       count(*) FILTER (WHERE event_type = 'error') AS e
                FROM events
            )
            SELECT 1 AS commit_seq, 'append' AS operation,
                   1 AS added_files, 0 AS removed_files,
                   np AS added_records, 0 AS removed_records FROM c
            UNION ALL
            SELECT 2, 'append', 1, 0, p, 0 FROM c
            UNION ALL
            SELECT 3, 'delete', 1, 1, np - e, np FROM c
            UNION ALL
            SELECT 4, 'replace', 1, 2, n - e, n - e FROM c
            ORDER BY commit_seq
        """,
        "lh_streaming_pipeline": """
            SELECT event_type, count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_value
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "lh_multi_table_txn": """
            WITH a AS (
                SELECT value FROM events WHERE event_id % 3 IN (0, 2)
                UNION ALL
                SELECT value FROM events WHERE event_id % 7 = 0
                UNION ALL
                SELECT value FROM events WHERE event_id % 5 = 0
            ), b AS (
                SELECT value FROM events WHERE event_id % 3 IN (1, 2)
            )
            SELECT 'events_a' AS table_name, COUNT(*) AS n_rows,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v_sum
            FROM a
            UNION ALL
            SELECT 'events_b', COUNT(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
            FROM b
            ORDER BY table_name
        """,
        "lh_cdc_stream": """
            -- CDC ledger from set algebra: an upsert of the %7 keys is
            -- delete(old image) + insert(new image); the %10 delete
            -- removes each live key's current image exactly once
            WITH ins AS (
                SELECT event_id FROM events
                UNION ALL
                SELECT event_id FROM events WHERE event_id % 7 = 0
            ), del AS (
                SELECT event_id FROM events WHERE event_id % 7 = 0
                UNION ALL
                SELECT event_id FROM events WHERE event_id % 10 = 0
            )
            SELECT 'delete' AS change_type, COUNT(*) AS n_rows,
                   CAST(SUM(event_id) AS BIGINT) AS sum_id
            FROM del
            UNION ALL
            SELECT 'insert', COUNT(*), CAST(SUM(event_id) AS BIGINT)
            FROM ins
            ORDER BY change_type
        """,
        "lh_cdc_replication": """
            -- the mirror's final state from the churn rules alone:
            -- %7 rows carry the doubled value, %10 rows are gone
            WITH final AS (
                SELECT event_type,
                       CASE WHEN event_id % 7 = 0 THEN value * 2
                            ELSE value END AS value
                FROM events WHERE event_id % 10 <> 0
            )
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_value
            FROM final GROUP BY 1 ORDER BY 1
        """,
        "lh_generated_column": """
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day_s,
                   COUNT(*) AS n,
                   CAST(SUM(event_id) AS BIGINT) AS sum_id
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "lh_merge_serializable": """
            -- survivor table: corpus with %5 values doubled by the
            -- merge, plus the DISJOINT shifted %7 append (ids beyond
            -- the merge key range, untouched by the upsert)
            WITH base AS (
                SELECT event_type,
                       CASE WHEN event_id % 5 = 0 THEN value * 2
                            ELSE value END AS value
                FROM events
            ), shifted AS (
                SELECT event_type, value FROM events
                WHERE event_id % 7 = 0
            )
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_value
            FROM (SELECT * FROM base UNION ALL SELECT * FROM shifted)
            GROUP BY 1 ORDER BY 1
        """,
        # training-data ops
        "dedup_exact": dedup_exact_oracle_sql(),
        "split_leakage_audit": split_leakage_oracle_sql(seed=7, threshold=0.05),
        "dedup_ngram_jaccard": ngram_jaccard_oracle_sql(k=3, threshold=0.1),
        "dedup_windows": dedup_windows_oracle_sql(window=3, min_docs=2),
        "dedup_minhash_lsh": minhash_lsh_oracle_sql(
            k=3, num_hashes=16, bands=8, threshold=0.05
        ),
        "simhash64": simhash_oracle_sql(),
        "simhash_pairs": simhash_pairs_oracle_sql(max_hamming=2),
        "dedup_clusters": dedup_clusters_oracle_sql(
            k=3, num_hashes=16, bands=8, threshold=0.05
        ),
        "text_quality": quality_oracle_sql(),
        "gopher_quality_filter": gopher_rules_oracle_sql(min_words=30),
        "repetition_stats": repetition_oracle_sql(n=2),
        "unigram_logprob": unigram_logprob_oracle_sql(),
        "bigram_logprob": bigram_logprob_oracle_sql(),
        "bm25_topk": bm25_topk_oracle_sql(_BM25_QUERIES, k=10),
        "asof_join_enrich": """
            WITH r AS (SELECT user_id, ts,
                              max(value) AS last_purchase_value
                       FROM events WHERE event_type = 'purchase'
                       GROUP BY user_id, ts)
            SELECT l.event_id, l.user_id,
                   epoch_us(l.ts) AS ts_us,
                   epoch_us(r.ts) AS purchase_ts_us,
                   CAST(floor(r.last_purchase_value * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE) AS last_purchase_value
            FROM events l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "events_funnel": _funnel_oracle(),
        "events_cohort_retention": _cohort_oracle(),
        "events_attribution": _attribution_oracle("last_touch", 86400.0),
        "events_attribution_linear": _attribution_oracle("linear", None),
        "events_transitions": _transitions_oracle(),
        "events_top_paths": _top_paths_oracle(),
        "events_transition_gaps": _transition_gaps_oracle(),
        "events_ab_test": _ab_test_oracle(),
        "events_rate_anomalies": _rate_anomalies_oracle(),
        "fk_integrity_audit": """
            WITH o AS (SELECT o_orderkey,
                              CASE WHEN o_orderkey % 97 = 0 THEN NULL
                                   WHEN o_orderkey % 101 = 0
                                       THEN o_custkey + 1000000
                                   ELSE o_custkey END AS o_custkey
                       FROM orders),
                 o_orph AS (SELECT o_custkey FROM o
                            WHERE o_custkey IS NOT NULL
                              AND NOT EXISTS (SELECT 1 FROM customer c
                                              WHERE c.c_custkey = o.o_custkey)),
                 l_orph AS (SELECT l_orderkey FROM lineitem l
                            WHERE l_orderkey IS NOT NULL
                              AND NOT EXISTS (SELECT 1 FROM orders x
                                              WHERE x.o_orderkey = l.l_orderkey))
            SELECT 'orders->customer' AS relationship,
                   (SELECT count(*) FROM o) AS child_rows,
                   (SELECT count(*) FROM o WHERE o_custkey IS NULL)
                       AS null_key_rows,
                   (SELECT count(*) FROM o_orph) AS orphan_rows,
                   (SELECT count(DISTINCT o_custkey) FROM o_orph)
                       AS missing_keys
            UNION ALL
            SELECT 'lineitem->orders',
                   (SELECT count(*) FROM lineitem),
                   (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL),
                   (SELECT count(*) FROM l_orph),
                   (SELECT count(DISTINCT l_orderkey) FROM l_orph)
        """,
        "range_join_promos": """
            WITH p AS (SELECT event_id AS promo_id, epoch_us(ts) AS start_us,
                              epoch_us(ts) + CAST(6*3600 AS BIGINT)*1000000
                                  AS end_us
                       FROM events
                       WHERE event_type = 'purchase' AND event_id % 37 = 0)
            SELECT l.event_id, l.event_type, epoch_us(l.ts) AS t_us,
                   p.promo_id, p.start_us, p.end_us
            FROM events l, p
            WHERE epoch_us(l.ts) >= p.start_us AND epoch_us(l.ts) < p.end_us
        """,
        "text_normalize": normalize_text_oracle_sql(),
        "decontaminate": decontaminate_oracle_sql(
            eval_pred=_DECONTAM_EVAL_PRED, k=8, min_hits=1
        ),
        "pack_sequences": pack_sequences_oracle_sql(capacity=128),
        "chunk_documents": chunk_documents_oracle_sql(
            chunk_tokens=24, overlap=6
        ),
        "transcript_wer": transcripts.wer_oracle_sql(
            drop_every=5, reverse_every=3
        ),
        "transcript_cer": transcripts.cer_oracle_sql(
            drop_every=4, reverse_every=2
        ),
        "transcript_align_uniform": transcripts.align_uniform_oracle_sql(),
        "length_bucket_batches": bucket_batches_oracle_sql(
            batch_size=16, bucket_len=64
        ),
        "sample_hash": _sampling_oracles()[0],
        "split_assign": _sampling_oracles()[3],
        "sample_stratified": _sampling_oracles()[1],
        "sample_mixture": _sampling_oracles()[2],
        "pii_scrub": pii_scrub_oracle_sql(
            table="(SELECT doc_id, "
            + _PII_ENRICH.format(s="VARCHAR")
            + " AS text FROM documents)"
        ),
        "lang_id": lang_id_oracle_sql(),
        "token_stats": token_stats_oracle_sql(),
        "doc_fingerprint": doc_fingerprint_oracle_sql(k=8),
        "cosine_topk": cosine_topk_oracle_sql(QUERY_VEC_IDS, k=5),
        "embedding_quantize": quantize_embeddings_oracle_sql(),
        "cosine_topk_int8": cosine_topk_int8_oracle_sql(QUERY_VEC_IDS, k=5),
        "ann_lsh_topk": ann_lsh_oracle_sql(
            QUERY_VEC_IDS, k=5, n_bits=8, multiprobe=2
        ),
        "ann_ivf_topk": ann_ivf_oracle_sql(
            QUERY_VEC_IDS, k=5, n_centroids=16, nprobe=4
        ),
        "pq_topk": pq_topk_oracle_sql(QUERY_VEC_IDS, k=5),
        "lh_pq_index_incremental": _pq_index_oracle_sql(),
        "ann_ivfpq_topk": ann_ivfpq_oracle_sql(
            QUERY_VEC_IDS, k=5, n_coarse=16, nprobe=4
        ),
        "embedding_near_dup": embedding_near_dup_oracle_sql(
            threshold=0.45, n_bits=16, n_bands=4
        ),
        "semantic_dedup": semantic_dedup_oracle_sql(
            threshold=0.45, n_centroids=16
        ),
        "cluster_balanced_sample": cluster_balanced_sample_oracle_sql(
            25, n_centroids=16
        ),
        # --- formerly no_oracle rows (VERDICT r3 next-round #3) ----------
        # audio_qc_detection: the planted-defect rule IS the oracle —
        # clip ids are a closed formula of the synth index (synth.py
        # clip_id_for: hot- prefix when idx%10<3), flags are the
        # deterministic plant pattern; pure SQL, no golden needed.
        "audio_qc_detection": """
            SELECT CASE WHEN i % 10 < 3 THEN 'hot-' ELSE 'clip-' END
                       || lpad(CAST(i AS VARCHAR), 12, '0') AS clip_id,
                   (i % 7 = 0) AS flag_clipping,
                   ((i % 7 <> 0) AND (i % 11 = 0)) AS flag_dc
            FROM range(154) AS t(i)
        """,
        # bpe_train: golden merge sequence computed by py_bpe_train (the
        # INDEPENDENT pure-Python reference trainer, lakehouse/bpe.py)
        # over the sf0.01 documents slice (doc_id % 5 = 0, lowercased
        # whitespace words) — the driver's correctness protocol runs at
        # sf0.01, which pins this golden; replicas must use sf0.01 too.
        "bpe_train": _BPE_TRAIN_GOLDEN_SQL,
        # lh_webdataset_export: shard manifest golden. n_samples /
        # min/max keys follow from the deterministic synth corpus +
        # churn; tar_bytes/sha256 pin the byte-determinism contract the
        # query itself proves (re-export from a differently-partitioned
        # frame must be byte-identical). sf-independent (synth input).
        "lh_webdataset_export": _WDS_EXPORT_GOLDEN_SQL,
        # remaining audio queries intentionally omitted → rows-only check
    }
