"""Streaming ingest: foreachBatch append with exactly-once batch commits.

Engine-side counterpart of the reference's checkpointed streaming sink
(/root/reference/etl/glue_stream.py:339-349): the stream replays batches
after a restart, and the table must not double-commit them.
"""

from __future__ import annotations

import pytest

from lakehouse import Table
from lakehouse.schema import CLIPS_SCHEMA
from lakehouse.streaming import append_batch, committed_batch_ids
from lakehouse.synth import synth_clips_df

DATE_SPEC = [
    {"name": "event_date", "transform": "identity", "source": "event_date"}
]


@pytest.fixture()
def clips_table(spark, table_root):
    return Table.create(
        spark, table_root, CLIPS_SCHEMA, partition_spec=DATE_SPEC
    )


def test_batch_append_is_idempotent(spark, clips_table):
    cb = append_batch(clips_table)
    batch = synth_clips_df(spark, 32, seed=7, n_days=2)
    cb(batch, 0)
    assert clips_table.scan().count() == 32
    cb(batch, 0)  # replay after simulated restart
    assert clips_table.scan().count() == 32
    cb(synth_clips_df(spark, 16, start=32, seed=7, n_days=2), 1)
    assert clips_table.scan().count() == 48
    assert committed_batch_ids(clips_table) == {0, 1}


def test_empty_batch_commits_nothing(spark, clips_table):
    cb = append_batch(clips_table)
    cb(synth_clips_df(spark, 0, seed=7), 0)
    assert clips_table.current_snapshot_id() is None
    assert committed_batch_ids(clips_table) == set()


def test_rate_stream_end_to_end(spark, clips_table):
    """Bounded rate-source stream through the real writeStream surface."""
    from lakehouse.streaming import run_stream_demo

    result = run_stream_demo(
        spark, clips_table, batches=2, rows_per_second=64, timeout_s=90
    )
    assert result["batches_committed"] >= 2
    assert result["rows_after"] > result["rows_before"]
    # every committed snapshot carries its stream batch id
    ids = committed_batch_ids(clips_table)
    assert len(ids) == result["batches_committed"]


def test_upsert_batch_sink(spark, clips_table):
    """Streaming upsert sink: per-batch MERGE with in-batch dedup and
    batch-id idempotency (the foreachBatch+MERGE recipe engine-side)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from lakehouse.schema import CLIPS_SCHEMA
    from lakehouse.streaming import upsert_batch
    from lakehouse.synth import synth_clips_pdf

    cb = upsert_batch(clips_table, key="clip_id", order_col="ingest_ts")
    base = synth_clips_df(spark, 24, seed=7, n_days=2)
    cb(base, 0)
    assert clips_table.scan().count() == 24

    # batch 1: update 6 rows — two versions of each key; the later
    # ingest_ts must win
    pdf_old = synth_clips_pdf(range(0, 6), seed=99, n_days=2)
    pdf_new = synth_clips_pdf(range(0, 6), seed=123, n_days=2)
    keys = list(synth_clips_pdf(range(0, 6), seed=7, n_days=2)["clip_id"])
    t0 = pd.Timestamp("2024-06-01 00:00:00")
    for pdf, ts in ((pdf_old, t0), (pdf_new, t0 + pd.Timedelta(hours=1))):
        pdf["clip_id"] = keys
        pdf["ingest_ts"] = ts
    both = pd.concat([pdf_old, pdf_new], ignore_index=True)
    cb(spark.createDataFrame(both, schema=CLIPS_SCHEMA), 1)

    assert clips_table.scan().count() == 24  # upsert, not append
    got = {
        r.clip_id: r.transcript
        for r in clips_table.scan()
        .filter(F.col("clip_id").isin(keys))
        .select("clip_id", "transcript")
        .collect()
    }
    for cid, tr in zip(keys, pdf_new["transcript"]):
        assert got[cid] == tr  # the later version won

    # replay of batch 1 is a no-op (idempotent)
    snap = clips_table.current_snapshot_id()
    cb(spark.createDataFrame(both, schema=CLIPS_SCHEMA), 1)
    assert clips_table.current_snapshot_id() == snap


def test_stream_maintained_rollup(spark, clips_table, tmp_path):
    """Continuous aggregation: the foreachBatch sink appends AND
    refreshes an incremental rollup; replayed batches change nothing,
    and the rollup equals the full recompute after every batch."""
    from lakehouse.rollup import MaterializedRollup
    from lakehouse.streaming import append_with_rollup_batch

    roll = MaterializedRollup.create(
        spark,
        str(tmp_path / "roll"),
        clips_table,
        group_by=["event_date"],
        aggs={"n": ("count", None), "dur_sum": ("sum", "CAST(dur_ms AS BIGINT)")},
    )
    cb = append_with_rollup_batch(clips_table, roll)

    def check():
        got, exp = roll.scan(), roll.expected()
        assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()

    b0 = synth_clips_df(spark, 24, seed=7, n_days=2)
    cb(b0, 0)
    check()
    cb(b0, 0)  # replay: append skipped, refresh no-ops
    assert len(committed_batch_ids(clips_table)) == 1
    check()
    cb(synth_clips_df(spark, 16, start=24, seed=7, n_days=3), 1)
    check()
    assert roll.scan().agg({"n": "sum"}).collect()[0][0] == 40


def test_append_if_absent_batch_key_dedup(spark, clips_table):
    """Exactly-once BY KEY: overlapping batches append only new keys,
    existing rows are never rewritten (first write wins), replays skip,
    and the key probe is a planned point lookup."""
    from pyspark.sql import functions as F

    from lakehouse.streaming import append_if_absent_batch

    cb = append_if_absent_batch(clips_table, key="clip_id")
    b0 = synth_clips_df(spark, 30, seed=7, n_days=2)
    cb(b0, 0)
    assert clips_table.scan().count() == 30
    files_after_b0 = {e.file_path for e in clips_table.live_files()}

    # batch 1 overlaps keys [15,30) with CHANGED payloads + 10 new keys
    overlap = synth_clips_df(spark, 15, start=15, seed=7, n_days=2).withColumn(
        "transcript", F.lit("changed")
    )
    fresh = synth_clips_df(spark, 10, start=30, seed=7, n_days=2)
    cb(overlap.unionByName(fresh), 1)
    got = clips_table.scan()
    assert got.count() == 40
    # first write wins: the overlapping keys kept their ORIGINAL rows
    assert got.filter("transcript = 'changed'").count() == 0
    assert files_after_b0 <= {e.file_path for e in clips_table.live_files()}

    # replay of batch 1 and a fully-duplicate batch 2 are both no-ops
    cb(overlap.unionByName(fresh), 1)
    cb(synth_clips_df(spark, 20, seed=7, n_days=2), 2)
    assert clips_table.scan().count() == 40


def test_append_if_absent_nothing_new_commits_nothing(
    spark, clips_table, monkeypatch
):
    """An empty batch (told from the key probe) and a batch whose keys
    are all present (told from the append's output) commit no snapshot,
    leave no job directory behind, and run no ``isEmpty()`` job."""
    import os

    from pyspark.sql.classic import dataframe as classic_dataframe

    from lakehouse.streaming import append_if_absent_batch

    cb = append_if_absent_batch(clips_table, key="clip_id")
    cb(synth_clips_df(spark, 12, seed=7, n_days=2), 0)
    head = clips_table.current_snapshot_id()
    jobs_before = set(os.listdir(os.path.join(clips_table.root, "data")))

    def no_is_empty(self):
        raise AssertionError("append_if_absent_batch ran an isEmpty() job")

    monkeypatch.setattr(classic_dataframe.DataFrame, "isEmpty", no_is_empty)
    cb(spark.createDataFrame([], CLIPS_SCHEMA), 1)
    cb(synth_clips_df(spark, 12, seed=7, n_days=2), 2)  # all present
    assert clips_table.current_snapshot_id() == head
    assert clips_table.scan().count() == 12
    jobs_after = set(os.listdir(os.path.join(clips_table.root, "data")))
    assert not [d for d in jobs_after - jobs_before if d.startswith("job-")]


def test_merge_sinks_empty_batch_commits_nothing(
    spark, clips_table, monkeypatch
):
    """An empty micro-batch into the upsert (copy-on-write MERGE) and
    the replicate (merge-on-read MERGE) sink is told from the merge's
    own stats pass: no ``isEmpty()`` job, no snapshot (not even the
    copy-on-write fold-in of a pending merge-on-read delete), no job
    directory."""
    import os

    from pyspark.sql import types as T
    from pyspark.sql.classic import dataframe as classic_dataframe

    from lakehouse.streaming import replicate_batch, upsert_batch

    clips_table.append(synth_clips_df(spark, 12, seed=7, n_days=2))
    gone = clips_table.scan().select("clip_id").first()[0]
    clips_table.delete([("clip_id", "=", gone)], mode="mor")
    head = clips_table.current_snapshot_id()
    data = os.path.join(clips_table.root, "data")
    dirs_before = set(os.listdir(data))

    def no_is_empty(self):
        raise AssertionError("a merge sink ran an isEmpty() job")

    monkeypatch.setattr(classic_dataframe.DataFrame, "isEmpty", no_is_empty)
    upsert_batch(clips_table)(spark.createDataFrame([], CLIPS_SCHEMA), 0)
    changes = T.StructType(
        CLIPS_SCHEMA.fields
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_snapshot_id", T.LongType()),
        ]
    )
    replicate_batch(clips_table)(spark.createDataFrame([], changes), 1)
    assert clips_table.current_snapshot_id() == head
    assert clips_table.scan().count() == 11
    assert set(os.listdir(data)) == dirs_before


def test_append_if_absent_oversized_batch_bounds_driver_collect(
    spark, clips_table, monkeypatch
):
    """A micro-batch LARGER than max_probe_keys must take the full-scan
    fallback without ever collecting the whole batch key set to the
    driver — the size probe is limit(max_probe_keys+1), so the driver
    sees at most cap+1 rows regardless of batch size. Results are
    identical to the point-lookup path."""
    from pyspark.sql.classic import dataframe as classic_dataframe

    from lakehouse.streaming import append_if_absent_batch

    cap = 8
    max_seen = 0
    orig = classic_dataframe.DataFrame.collect

    def counting_collect(self):
        nonlocal max_seen
        rows = orig(self)
        if self.columns == ["clip_id"]:  # the key-probe collects only
            max_seen = max(max_seen, len(rows))
        return rows

    monkeypatch.setattr(
        classic_dataframe.DataFrame, "collect", counting_collect
    )
    cb = append_if_absent_batch(clips_table, key="clip_id", max_probe_keys=cap)
    cb(synth_clips_df(spark, 30, seed=7, n_days=2), 0)  # 30 > cap → fallback
    assert clips_table.scan().count() == 30
    # overlap (keys [20,30)) + 25 fresh, still oversized → fallback again
    cb(synth_clips_df(spark, 35, start=20, seed=7, n_days=2), 1)
    assert clips_table.scan().count() == 55
    assert max_seen <= cap + 1, (
        f"driver collected {max_seen} rows; the probe must bound every "
        f"collect at max_probe_keys+1={cap + 1}"
    )


def test_stream_maintained_feature_transform(spark, clips_table, tmp_path):
    """Streaming feature pipeline: the foreachBatch sink appends AND
    refreshes a derived feature table; each batch takes the append-only
    fast path, replays change nothing, and the features equal the full
    recompute after every batch."""
    from lakehouse.streaming import append_with_transform_batch
    from lakehouse.transform import MaterializedTransform

    mt = MaterializedTransform.create(
        spark,
        str(tmp_path / "feat"),
        clips_table,
        key="clip_id",
        columns=["clip_id", "bytes"],
        transform="audio_stats",
    )
    cb = append_with_transform_batch(clips_table, mt)

    def check():
        got, exp = mt.scan(), mt.expected()
        assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()

    b0 = synth_clips_df(spark, 24, seed=7, n_days=2)
    cb(b0, 0)
    check()
    assert mt.scan().count() == 24
    cb(b0, 0)  # replay: append skipped, refresh no-ops
    assert len(committed_batch_ids(clips_table)) == 1
    check()
    cb(synth_clips_df(spark, 16, start=24, seed=7, n_days=3), 1)
    check()
    assert mt.scan().count() == 40
    assert mt.scan().filter("NOT ok").count() == 0


def test_kafka_envelope_decode_batch_and_stream(spark, tmp_path):
    """The Kafka-shaped adapter decodes the EXACT format('kafka')
    source schema into typed rows with bus lineage; corrupt values
    surface decode_error instead of vanishing. The streaming twin runs
    the same transform over a file-source stand-in carrying the same
    envelope schema through a checkpointed restart into an idempotent
    table sink (swap the stand-in for readStream.format('kafka') on a
    real broker — one line)."""
    import json

    from pyspark.sql import types as T

    from lakehouse import Table
    from lakehouse.streaming import (
        KAFKA_SOURCE_SCHEMA,
        append_batch,
        kafka_envelope_decode,
    )

    def envelope(i, payload_bytes):
        return (
            str(i).encode(), payload_bytes, "clicks", i % 3, i,
            __import__("datetime").datetime(2024, 1, 1, 0, 0, i % 60), 0,
        )

    rows = [
        envelope(i, json.dumps({"event_id": i, "kind": "click"}).encode())
        for i in range(20)
    ] + [envelope(99, b"{not json")]
    src = spark.createDataFrame(rows, KAFKA_SOURCE_SCHEMA)
    out = kafka_envelope_decode(src, "event_id BIGINT, kind STRING")
    assert out.filter("decode_error IS NOT NULL").count() == 1
    good = out.filter("decode_error IS NULL")
    assert good.count() == 20
    r = good.filter("event_id = 7").collect()[0]
    assert (r.kind, r.kafka_topic, r.kafka_partition, r.kafka_offset) == (
        "click", "clicks", 1, 7,
    )

    # streaming twin: same envelope schema via the file source stand-in
    src_dir, ckpt = str(tmp_path / "bus"), str(tmp_path / "ckpt")
    src.write.parquet(src_dir)
    schema = T.StructType.fromDDL(
        "event_id BIGINT, kind STRING, decode_error STRING, "
        "kafka_topic STRING, kafka_partition INT, kafka_offset BIGINT, "
        "arrival_ts TIMESTAMP"
    )
    t = Table.create(spark, str(tmp_path / "t"), schema)
    sdf = kafka_envelope_decode(
        spark.readStream.schema(
            T.StructType.fromDDL(KAFKA_SOURCE_SCHEMA)
        ).parquet(src_dir),
        "event_id BIGINT, kind STRING",
    )

    def drain():
        q = (
            sdf.writeStream.foreachBatch(append_batch(t))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert t.scan().count() == 21  # corrupt row lands WITH decode_error
    drain()  # restart with nothing new: idempotent
    assert t.scan().count() == 21
    assert t.scan().filter("decode_error IS NOT NULL").count() == 1


def test_progress_sink_records_micro_batches(spark, tmp_path):
    """attach_progress_sink: every non-empty micro-batch lands one row
    in the monitoring table (the reference's CloudWatch-alarms surface
    as a queryable lakehouse table)."""
    import time as _time

    from lakehouse import Table
    from lakehouse.schema import CLIPS_SCHEMA
    from lakehouse.streaming import (
        PROGRESS_SCHEMA,
        append_batch,
        attach_progress_sink,
    )
    from lakehouse.synth import synth_clips_df

    mon = Table.create(spark, str(tmp_path / "mon"), PROGRESS_SCHEMA)
    dst = Table.create(spark, str(tmp_path / "dst"), CLIPS_SCHEMA)
    listener = attach_progress_sink(spark, mon)
    try:
        src_dir = str(tmp_path / "src")
        synth_clips_df(spark, 30, seed=5, n_days=1).write.parquet(src_dir)
        sdf = spark.readStream.schema(dst.schema).parquet(src_dir)
        q = (
            sdf.writeStream.foreachBatch(append_batch(dst))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events are async: poll briefly
        for _ in range(40):
            if mon.scan().count() > 0:
                break
            _time.sleep(0.5)
        rows = mon.scan().collect()
        assert rows, "no progress rows recorded"
        # numInputRows counts SOURCE reads: foreachBatch re-evaluates
        # the batch per action (isEmpty probe + append), so the source
        # row figure is a multiple of the logical batch — what matters
        # for alarms is that batches are visible and non-zero
        assert sum(r["num_input_rows"] for r in rows) >= 30
        assert all(r["batch_duration_ms"] >= 0 for r in rows)
        ids = [(r["run_id"], r["batch_id"]) for r in rows]
        assert len(ids) == len(set(ids)), "one row per (run, batch)"
        assert dst.scan().count() == 30
    finally:
        spark.streams.removeListener(listener)


def test_enrich_with_table_batch_sees_dim_updates(spark, tmp_path):
    """Stream-static enrichment: each micro-batch joins a FRESH scan of
    the dimension table, so a dim commit between batches is visible to
    the next batch (Delta stream-static semantics; a parquet static
    side would pin its file list at stream start)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from lakehouse.streaming import enrich_with_table_batch

    dim_schema = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("seg", T.StringType()),
        ]
    )
    dim = Table.create(spark, str(tmp_path / "dim"), dim_schema)
    dim.append(
        spark.range(5).select(
            F.col("id").alias("uid"), F.lit("old").alias("seg")
        ),
        target_file_count=1,
    )
    out_schema = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("seg", T.StringType()),
        ]
    )
    dst = Table.create(spark, str(tmp_path / "dst"), out_schema)
    cb = enrich_with_table_batch(
        dim, append_batch(dst), on="uid", columns=["seg"]
    )

    batch = spark.range(5).select(
        F.col("id").alias("uid"), (F.col("id") * 2).alias("v")
    )
    cb(batch, 0)
    assert dst.scan().filter("seg = 'old'").count() == 5

    # dim updated between micro-batches: MERGE flips seg for uid >= 3
    dim.merge(
        spark.range(3, 5).select(
            F.col("id").alias("uid"), F.lit("new").alias("seg")
        ),
        key="uid",
    )
    cb(batch, 1)
    assert dst.scan().count() == 10
    assert dst.scan().filter("seg = 'new'").count() == 2
    # unmatched keys survive a left enrich with null seg
    cb(
        spark.range(90, 92).select(
            F.col("id").alias("uid"), F.lit(0).alias("v")
        ),
        2,
    )
    assert dst.scan().filter("seg IS NULL").count() == 2
    # replay idempotency stays the sink's contract
    cb(batch, 1)
    assert dst.scan().count() == 12


def test_replay_guard_survives_snapshot_expiry(spark, clips_table):
    """A batch whose snapshot was expired must still be skipped on
    replay: expiry records the highest dropped batch id as a mark."""
    cb = append_batch(clips_table)
    b0 = synth_clips_df(spark, 12, seed=7, n_days=2)
    cb(b0, 0)
    clips_table.append(synth_clips_df(spark, 8, start=12, seed=7, n_days=2))
    clips_table.expire_snapshots(keep_last=1)
    assert committed_batch_ids(clips_table) == set()  # retained only
    cb(b0, 0)  # replay after restart, its snapshot long expired
    assert clips_table.scan().count() == 20
    # a later expiry that drops no stream snapshot keeps the mark
    clips_table.append(synth_clips_df(spark, 4, start=20, seed=7, n_days=2))
    clips_table.expire_snapshots(keep_last=1)
    cb(b0, 0)
    assert clips_table.scan().count() == 24
    cb(synth_clips_df(spark, 6, start=24, seed=7, n_days=2), 1)
    assert clips_table.scan().count() == 30
    assert committed_batch_ids(clips_table) == {1}
