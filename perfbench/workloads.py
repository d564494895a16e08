"""The workloads. Each one builds its inputs from the seed before timing
starts, sets its table up several times (reporting the median),
then issues a fixed number of ops, sized from ``seconds``, serially from
this one process (a closed loop with one client), checking every op's
output. See README.md for why each workload exists and what it bypasses.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

from .common import (
    KINDS, OpRecord, Ops, check, check_eq, iq_mean, p50, space_amp, tree_cpu,
)

# the first set-ups of a run pay class loading and JIT: 2-4 CPU-s, then
# 1.2 falling to 0.8 over the next few
SETUP_WARMUP = 3
SETUP_REPEATS = 5
DAY_SPEC = [{"name": "event_date", "transform": "identity", "source": "event_date"}]
PAYLOAD_MB = 1e6


# --- inputs -----------------------------------------------------------------------


BLOCK = 48  # clips per balanced block; ingests and the base are whole blocks


def gen_clips(n: int, *, seed: int, n_days: int):
    """``n`` clips (pcm16 WAV) as a pandas frame in the clips schema, from
    ``seed`` alone. Built on the engine's synth helpers for ids,
    transcripts and the WAV container, with a noise signal in place of
    synth's sinusoids, so making the inputs costs well under a second.

    Every block of ``BLOCK`` consecutive clips holds the same multiset of
    (sample rate, duration, day): 8/16/44.1 kHz crossed with durations
    spread evenly over 0.2-3 s, days round-robin. The seed permutes each
    block and draws the signal, transcript and time of day. So any
    block-aligned slice has the same payload bytes and partition sizes
    under every seed, and a seed changes which clip lands where but not
    how much work a run does."""
    import pandas as pd

    from lakehouse.schema import CLIPS_SCHEMA
    from lakehouse.synth import (
        EPOCH_DAY0, SAMPLE_RATES, clip_id_for, transcript_for, wrap_wav,
    )

    rng = np.random.default_rng(seed)
    k = np.arange(BLOCK)
    block_sr = np.asarray(SAMPLE_RATES)[k % len(SAMPLE_RATES)]
    block_dur = 200 + k * 2800 // (BLOCK - 1)
    block_day = k % n_days
    rows = []
    for i in range(n):
        if i % BLOCK == 0:
            perm = rng.permutation(BLOCK)
        j = perm[i % BLOCK]
        sr, dur = int(block_sr[j]), int(block_dur[j])
        x = rng.random(sr * dur // 1000, dtype=np.float32) * 0.6 - 0.3
        day = EPOCH_DAY0 + int(block_day[j])
        rows.append((
            clip_id_for(i), wrap_wav(x, sr), sr, dur, "pcm16",
            transcript_for(seed, i),
            pd.Timestamp(day.astype("datetime64[s]")
                         + int(rng.integers(0, 86400))),
            pd.Timestamp(day).date(),
        ))
    return pd.DataFrame(rows, columns=CLIPS_SCHEMA.fieldNames())


def to_df(spark, pdf):
    from lakehouse.schema import CLIPS_SCHEMA

    return spark.createDataFrame(pdf, CLIPS_SCHEMA)


def stage_parquet(spark, pdf, path: str):
    """Materialize ``pdf`` once as Parquet outside the table and return a
    DataFrame over it, so repeated set-ups re-read the same bytes."""
    to_df(spark, pdf).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def mulaw_len(wav_len: int) -> int:
    """Length of the mu-law WAV that transcoding a pcm16 WAV yields: the
    same 44-byte header and one byte per 16-bit sample."""
    return 44 + (wav_len - 44) // 2


def expected_transcode_bytes(lengths) -> int:
    return int(sum(mulaw_len(int(n)) for n in lengths))


# --- timed read ops shared by the workloads ----------------------------------------


def lookup(ops: Ops, table, clip_id: str, transcript: str, nbytes: int,
           warmup=None):
    """Point lookup by clip_id through ``Table.scan(filter=...)``; it must
    return exactly the expected row."""
    with ops.op("lookup", warmup=warmup) as rec:
        rows = table.scan(filter=[("clip_id", "=", clip_id)]).collect()
        rec.stop()
        check_eq(len(rows), 1, f"rows for {clip_id}")
        check_eq(rows[0]["transcript"], transcript, f"transcript of {clip_id}")
        check_eq(len(rows[0]["bytes"]), nbytes, f"payload of {clip_id}")


def datasource_pass(ops: Ops, spark, root: str, rows: int, payload: int,
                    warmup=None):
    """One full-table pass through the ``lakehouse`` Python data source
    (the Arrow read path), forced through every payload byte."""
    from pyspark.sql import functions as F

    with ops.op("scan", warmup=warmup, bytes=payload) as rec:
        df = spark.read.format("lakehouse").load(root)
        got = df.agg(F.count(F.lit(1)), F.sum(F.length("bytes"))).first()
        rec.stop()
        rec.info["partitions"] = df.rdd.getNumPartitions() if ops.tracer else 0
        check_eq((got[0], got[1]), (rows, payload), "datasource rows/bytes")


TRANSCODE_COLS = ["clip_id", "sr_hz", "dur_ms", "codec", "bytes"]


def transcode_pass(ops: Ops, table, lens, warmup=None) -> None:
    """One full-table mu-law transcode through ``audio.transcode_clips``
    (the Arrow pandas-UDF boundary and the numpy G.711 kernel), forced
    through every output byte. A traced run follows it with the same read
    without the UDF, so that the difference is the UDF's share."""
    from pyspark.sql import functions as F

    from lakehouse.audio import transcode_clips

    payload = int(lens.sum())
    with ops.op("transcode", warmup=warmup, bytes=payload) as rec:
        got = transcode_clips(table.scan(columns=TRANSCODE_COLS), "mulaw").agg(
            F.sum(F.length("bytes"))).first()[0]
        rec.stop()
        check_eq(got, expected_transcode_bytes(lens), "transcoded bytes")
    if ops.tracer:
        with ops.op("native_scan", warmup=warmup, bytes=payload) as rec:
            got = table.scan(columns=TRANSCODE_COLS).agg(
                F.sum(F.length("bytes"))).first()[0]
            rec.stop()
            check_eq(got, payload, "native scan bytes")


def end_check(ops: Ops, table, rows: int):
    """``Table.verify()`` plus the live row count, as a final op."""
    with ops.op("verify") as rec:
        report = table.verify()
        live = sum(e.record_count for e in table.live_files())
        rec.stop()
        check(report["consistent"], f"verify: {report}")
        check_eq(live, rows, "live rows at end")


def median_setup(build) -> tuple[float, object]:
    """Run ``build(i)`` SETUP_WARMUP + SETUP_REPEATS times on fresh tables;
    return the median process-tree CPU seconds of one set-up over the last
    SETUP_REPEATS (JIT threads excluded, as in ``op_cpu_ms``) and the last
    result (the table the workload then uses). Every set-up's wall and
    CPU go to stderr; the walls do not repeat from run to run (see
    README.md)."""
    walls, cpus, out = [], [], None
    for i in range(SETUP_WARMUP + SETUP_REPEATS):
        c0 = tree_cpu()
        t0 = time.perf_counter()
        out = build(i)
        walls.append(time.perf_counter() - t0)
        c1 = tree_cpu()
        cpus.append(sum(c1[k] - c0[k] for k in KINDS if k != "jit"))
    print("set-up walls " + " ".join(f"{w:.3f}" for w in walls)
          + " cpu " + " ".join(f"{c:.2f}" for c in cpus), file=sys.stderr)
    return p50(cpus[SETUP_WARMUP:]), out


# What a user of the engine sees, computed by every workload in every run.
# END_TO_END is the subset an untraced run reports. The wall times do not
# repeat within a tenth run to run on a shared host, so traced runs report
# them as ``wall.<name>``.
USER_METRICS = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "space_amp": "ratio",
    "op_p50_ms": "ms",
    "lookup_p50_ms": "ms",
    "scan_mb_per_s": "MB/s",
}
END_TO_END = {k: USER_METRICS[k] for k in ("setup_s", "op_cpu_ms", "space_amp")}


def common_metrics(ops: Ops, unit, setup_s: float, table):
    """The end-to-end metrics every workload reports; ``unit`` holds the
    records of the workload's own unit op (warm-up already dropped).
    Failed ops keep their timings here; they count in ``failed``."""
    looks = ops.of("lookup")
    scans = ops.of("scan")  # 0 where a workload runs no datasource pass
    return {
        "setup_s": setup_s,
        "op_cpu_ms": iq_mean([r.cpu_s * 1e3 for r in unit]),
        "space_amp": space_amp(table),
        "op_p50_ms": p50(r.wall_s * 1e3 for r in unit),
        "lookup_p50_ms": p50(r.wall_s * 1e3 for r in looks),
        "scan_mb_per_s": p50(
            r.info["bytes"] / PAYLOAD_MB / r.wall_s for r in scans
        ) if scans else 0.0,
    }


# --- stream_ingest ----------------------------------------------------------------


STREAM_BATCHES_PER_S = 3.5  # fixed work: seconds x this many batches
STREAM_BATCH_CLIPS = (2, 3, 4, 5, 6)  # each run of 5 batches, permuted
STREAM_DAYS = 8
STREAM_WARMUP = 5  # first appends: cold codegen and JIT
STREAM_LOOKUP_EVERY = 5
STREAM_REPLAY_EVERY = 10


def stream_ingest(spark, work: str, seed: int, seconds: float, ops: Ops,
                  tiny: bool = False):
    """Tiny micro-batch appends through the foreachBatch sink onto a
    date-partitioned table that already holds a backlog, with
    read-your-writes lookups and a redelivered batch every few batches
    (spread over the run, so that a burst of host contention hits few of
    them)."""
    from lakehouse import Table
    from lakehouse.meta.snapshots import load_metadata
    from lakehouse.schema import CLIPS_SCHEMA
    from lakehouse.streaming import append_batch, committed_batch_ids

    rng = np.random.default_rng(seed)
    n_batches = max(STREAM_WARMUP + 1, round(seconds * STREAM_BATCHES_PER_S))
    counts = np.concatenate([
        rng.permutation(STREAM_BATCH_CLIPS)
        for _ in range(-(-n_batches // len(STREAM_BATCH_CLIPS)))
    ])[:n_batches]
    n_backlog = BLOCK // 6 if tiny else BLOCK
    pool = gen_clips(n_backlog + int(counts.sum()), seed=seed,
                     n_days=STREAM_DAYS)
    bounds = n_backlog + np.concatenate([[0], np.cumsum(counts)])

    backlog = stage_parquet(spark, pool.iloc[:n_backlog],
                            os.path.join(work, "stream_backlog"))

    def build(i):
        root = os.path.join(work, f"stream_{i}")
        t = Table.create(spark, root, CLIPS_SCHEMA, partition_spec=DAY_SPEC)
        t.append(backlog)
        return t

    ops.mark("inputs")
    setup_s, table = median_setup(build)
    ops.mark("setup")
    sink = append_batch(table)

    for b in range(n_batches):
        batch = pool.iloc[bounds[b]:bounds[b + 1]]
        df = to_df(spark, batch)
        with ops.op("append", warmup=b < STREAM_WARMUP,
                    bytes=int(batch["bytes"].map(len).sum())) as rec:
            sink(df, b)
            rec.stop()
            snap = load_metadata(table.root).snapshots[-1]
            check_eq(snap.summary.get("stream_batch_id"), b, "batch id committed")
            check_eq(snap.summary.get("added_records"), len(batch), "batch rows")
            rec.info["summary"] = snap.summary
        if b % STREAM_REPLAY_EVERY == STREAM_REPLAY_EVERY - 1:
            # a redelivered batch after restart: the guard must skip it
            with ops.op("replay") as rec:
                before = table.current_snapshot_id()
                sink(df, b)
                rec.stop()
                check_eq(table.current_snapshot_id(), before, "replay skipped")
        if b % STREAM_LOOKUP_EVERY == STREAM_LOOKUP_EVERY - 1:
            # read-your-writes: a clip this batch wrote, picked by the seed
            load_metadata(table.root)  # untimed: the reader refreshes
            row = pool.iloc[int(rng.integers(bounds[b], bounds[b + 1]))]
            lookup(ops, table, row["clip_id"], row["transcript"],
                   len(row["bytes"]))

    ops.mark("window")
    rows = int(bounds[n_batches])
    end_check(ops, table, rows)
    with ops.op("verify") as rec:
        ids = [s.summary["stream_batch_id"] for s in table.snapshots()
               if "stream_batch_id" in s.summary]
        rec.stop()
        check_eq(len(ids), len(set(ids)), "duplicate stream_batch_id")
        check_eq(len(committed_batch_ids(table)), n_batches,
                 "batch ids committed")

    unit = ops.of("append")
    return common_metrics(ops, unit, setup_s, table), table, unit


# --- maintenance ------------------------------------------------------------------


MAINT_CYCLE_S = 7.5  # fixed work: seconds / this many cycles
MAINT_DAYS = 4
MAINT_FILES_PER_DAY = 3  # per ingest: small files for compaction
MAINT_TARGET_BYTES = 2 * 1024 * 1024
MAINT_MERGE_FRACTION = 0.10


MAINT_LOOKUPS = 6  # point lookups of merged keys after every cycle


MAINT_STEPS = ("ingest", "compact", "cluster", "merge", "mor", "expire")


class Maintained:
    """A maintained table and the model of what it must hold: the live
    clip indexes of ``pool`` and each one's transcript suffix."""

    def __init__(self, spark, table, pool, base: int, ingest: int, rng):
        self.spark, self.table, self.pool = spark, table, pool
        self.ingest, self.rng = ingest, rng
        self.ids = pool["clip_id"].tolist()
        self.texts = pool["transcript"].tolist()
        self.lens = pool["bytes"].map(len).to_numpy()
        self.live = list(range(base))
        self.suffix: dict[int, str] = {}
        self.next_idx = base

    def rows_now(self) -> int:
        return sum(e.record_count for e in self.table.live_files())

    def cycle(self, ops: Ops, c: int) -> None:
        """One cycle; every step is its own timed op, checked after.
        Cycle 0 is the warm-up."""
        from pyspark.sql import functions as F

        spark, table, ids = self.spark, self.table, self.ids
        warm = c == 0
        n_live = len(self.live)
        # 1. bulk ingest: many small files in every partition
        new = list(range(self.next_idx, self.next_idx + self.ingest))
        src = to_df(spark, self.pool.iloc[new[0]: new[-1] + 1])
        with ops.op("ingest", warmup=warm, cycle=c) as rec:
            snap = table.append(src, files_per_partition=MAINT_FILES_PER_DAY)
            rec.stop()
            rec.info.update(files_out=snap.summary["added_files"],
                            bytes_rewritten=snap.summary["added_bytes"],
                            summary=snap.summary)
            check_eq(snap.summary["added_records"], len(new), "ingest rows")
        self.next_idx += len(new)
        self.live += new
        # 2. compact, 3. cluster: row count preserved
        with ops.op("compact", warmup=warm, cycle=c) as rec:
            res = table.compact(target_file_size=MAINT_TARGET_BYTES)
            rec.stop()
            rec.info.update(files_in=res.files_rewritten,
                            files_out=res.files_created,
                            bytes_rewritten=res.bytes_rewritten)
            check(res.files_rewritten > 0, "compact had no input")
            check_eq(self.rows_now(), len(self.live), "rows after compact")
        with ops.op("cluster", warmup=warm, cycle=c) as rec:
            res = table.cluster(["clip_id", "ingest_ts"], curve="zorder",
                                target_file_size=MAINT_TARGET_BYTES)
            rec.stop()
            rec.info.update(files_in=res.files_rewritten,
                            files_out=res.files_created,
                            bytes_rewritten=res.bytes_rewritten)
            check_eq(self.rows_now(), len(self.live), "rows after cluster")
        # 4. COW merge of 10% of the live keys
        k = max(1, int(len(self.live) * MAINT_MERGE_FRACTION))
        pick = self.rng.choice(len(self.live), 2 * k, replace=False)
        cow_keys = sorted(self.live[i] for i in pick[:k])
        mor_keys = sorted(self.live[i] for i in pick[k:])
        cow_tag, mor_tag = f" [c{c}]", f" [m{c}]"
        with ops.op("merge", warmup=warm, cycle=c) as rec:
            src = table.scan().filter(
                F.col("clip_id").isin([ids[i] for i in cow_keys])
            ).withColumn("transcript",
                         F.concat(F.col("transcript"), F.lit(cow_tag)))
            res = table.merge(src, key="clip_id")
            rec.stop()
            rec.info.update(files_in=res.files_touched,
                            files_out=res.files_written,
                            bytes_rewritten=_snap_bytes(table))
            for i in cow_keys:
                self.suffix[i] = self.suffix.get(i, "") + cow_tag
            check_eq(_tagged(table, cow_tag), {ids[i] for i in cow_keys},
                     "keys carrying the COW transcript")
        # 5. MoR merge: 10% updates plus deletes of the oldest ingest's
        # worth of clips (retention), which keeps the table size constant
        drop = set(self.live[: self.ingest])
        keep_mor = [i for i in mor_keys if i not in drop]
        with ops.op("mor", warmup=warm, cycle=c, step="merge") as rec:
            upd = table.scan().filter(
                F.col("clip_id").isin([ids[i] for i in keep_mor])
            ).withColumn("transcript",
                         F.concat(F.col("transcript"), F.lit(mor_tag)))
            dels = spark.createDataFrame(
                [(ids[i], "delete") for i in sorted(drop)],
                "clip_id string, op string",
            )
            src = upd.unionByName(dels, allowMissingColumns=True)
            table.merge(src, key="clip_id", mode="mor")
            rec.stop()
            rec.info.update(files_out=_snap_files(table),
                            bytes_rewritten=_snap_bytes(table))
            # the MoR read path: updates and deletes applied at scan time
            check_eq(_tagged(table, mor_tag), {ids[i] for i in keep_mor},
                     "keys carrying the MoR transcript before fold-in")
            check_eq(table.scan(columns=["clip_id"]).count(),
                     len(self.live) - len(drop), "rows read after MoR merge")
        self.live = [i for i in self.live if i not in drop]
        for i in drop:
            self.suffix.pop(i, None)
        for i in keep_mor:
            self.suffix[i] = self.suffix.get(i, "") + mor_tag
        with ops.op("mor", warmup=warm, cycle=c, step="materialize") as rec:
            res = table.materialize_deletes()
            rec.stop()
            rec.info.update(files_in=res.data_files_rewritten,
                            files_out=res.files_written,
                            bytes_rewritten=_snap_bytes(table))
            check_eq(_tagged(table, mor_tag), {ids[i] for i in keep_mor},
                     "keys carrying the MoR transcript")
            check_eq(self.rows_now(), len(self.live), "rows after MoR merge")
        # 6. expire + orphan GC
        with ops.op("expire", warmup=warm, cycle=c) as rec:
            table.expire_snapshots(keep_last=1)
            gc = table.remove_orphan_files(
                older_than_ms=int(time.time() * 1000) + 60_000
            )
            rec.stop()
            rec.info.update(files_in=len(gc.deleted_files))
            check_eq(len(table.snapshots()), 1, "snapshots after expire")
            check_eq(len(self.live), n_live, "table size after a cycle")

    def read_back(self, ops: Ops, c: int) -> None:
        """Reads of the layout cycle ``c`` left: merged keys by point
        lookup, then full-table passes through the datasource and through
        the audio transcode."""
        warm = c == 0
        for i in self.rng.choice(sorted(self.suffix), MAINT_LOOKUPS):
            lookup(ops, self.table, self.ids[i],
                   self.texts[i] + self.suffix[i], int(self.lens[i]), warm)
        lens = self.lens[self.live]
        datasource_pass(ops, self.spark, self.table.root, len(self.live),
                        int(lens.sum()), warm)
        transcode_pass(ops, self.table, lens, warm)


def maintenance(spark, work: str, seed: int, seconds: float, ops: Ops,
                tiny: bool = False):
    """The north-rule cycle, repeated: a bulk ingest of many small files,
    compact, Z-order cluster, a 10% copy-on-write merge, a 10%
    merge-on-read merge (carrying the retention deletes that keep the
    table size constant) with its fold-in, then expire + orphan GC; then
    reads of the layout the cycle left. Cycle 0 is a warm-up and is not
    reported. ``tiny`` shrinks the table, for the smoke test."""
    from lakehouse import Table
    from lakehouse.schema import CLIPS_SCHEMA

    rng = np.random.default_rng(seed)
    n_cycles = max(1, round(seconds / MAINT_CYCLE_S))
    n_base, n_ingest = (BLOCK // 2, BLOCK // 4) if tiny else (4 * BLOCK, BLOCK)
    pool = gen_clips(n_base + n_ingest * (1 + n_cycles), seed=seed,
                     n_days=MAINT_DAYS)
    base = stage_parquet(spark, pool.iloc[:n_base],
                         os.path.join(work, "maint_base"))

    def build(i):
        root = os.path.join(work, f"maint_{i}")
        t = Table.create(spark, root, CLIPS_SCHEMA, partition_spec=DAY_SPEC)
        t.append(base, files_per_partition=2)
        return t

    ops.mark("inputs")
    setup_s, table = median_setup(build)
    ops.mark("setup")

    state = Maintained(spark, table, pool, n_base, n_ingest, rng)
    for c in range(n_cycles + 1):
        state.cycle(ops, c)
        state.read_back(ops, c)
        if c == 0:
            ops.mark("warm-up")
    ops.mark("window")
    end_check(ops, table, len(state.live))
    unit = cycles(ops)
    return common_metrics(ops, unit, setup_s, table), table, unit


def cycles(ops: Ops) -> list[OpRecord]:
    """The maintenance unit op is a whole cycle: the sum of its steps'
    timed regions (checks excluded), warm-up cycle 0 dropped."""
    by_cycle: dict[int, list[OpRecord]] = {}
    for r in ops.records:
        if r.kind in MAINT_STEPS and not r.warmup:
            by_cycle.setdefault(r.info["cycle"], []).append(r)
    return [
        OpRecord(
            "cycle", wall_s=sum(r.wall_s for r in recs),
            cpu={k: sum(r.cpu[k] for r in recs) for k in KINDS},
            ok=all(r.ok for r in recs), info={"cycle": c, "members": recs},
        )
        for c, recs in sorted(by_cycle.items())
    ]


def _snap_bytes(table) -> int:
    s = table.snapshots()[-1].summary
    return int(s.get("added_bytes", 0))


def _snap_files(table) -> int:
    return int(table.snapshots()[-1].summary.get("added_files", 0))


def _tagged(table, tag: str) -> set[str]:
    from pyspark.sql import functions as F

    rows = (
        table.scan(columns=["clip_id", "transcript"])
        .filter(F.col("transcript").endswith(tag))
        .select("clip_id").collect()
    )
    return {r[0] for r in rows}


WORKLOADS = {
    "stream_ingest": stream_ingest,
    "maintenance": maintenance,
}
