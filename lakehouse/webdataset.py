"""WebDataset-style tar-shard export/import — the training-loader handoff.

The reference pipeline ends at an analyst table (Athena over Delta,
/root/reference/README.md:104-114); an AUDIO training pipeline ends at
a GPU dataloader, and the lingua franca there is the WebDataset layout
(Aizman et al., "High Performance I/O For Large Scale Deep Learning",
IEEE Big Data 2019; github.com/webdataset/webdataset): sequential
``.tar`` shards in which one sample is a run of adjacently-stored
members sharing a key — ``<key>.wav``, ``<key>.txt``, ``<key>.json`` —
so loaders stream shards with zero seeks and shuffle at shard
granularity.

Scale shape:

- **Export is one shuffle + a map.** Rows hash-assign to shards
  (``pmod(xxhash64(key), n_shards)`` — deterministic under retries and
  repartitioning, balanced in expectation), one exchange co-locates
  each shard's rows, and each task serializes ITS shards with the
  stdlib ``tarfile`` writer streaming row-by-row (payloads never
  accumulate beyond one row; tar member headers carry zeroed
  mtime/uid/gid so a shard's bytes are a pure function of its
  contents — re-exports are byte-identical, asserted in tests).
- **Tasks write, the driver renames.** Each task writes
  ``.tmp-<uuid>`` files and reports (shard, tmp, sha256, stats)
  manifest rows; the driver commits by renaming winners into place —
  a zombie task attempt can never clobber a committed shard. The
  returned manifest is the loader's index (path, samples, bytes,
  sha256, key range).
- **Import is shard-parallel.** ``read_webdataset`` lists ``*.tar``
  with Spark's binaryFile source (one whole shard per row — exactly
  the unit WebDataset shuffles by) and unpacks members in a mapInArrow
  pass; adjacently-stored members regroup into samples by key.

Round-trip parity (export → read back → byte-equal payloads and
transcripts, every key exactly once) is gated in
tests/test_webdataset.py and self-verified in the driver query
``lh_webdataset_roundtrip``.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import tarfile
import uuid
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import LakehouseError
from .meta.snapshots import _atomic_write_json

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("tmp_path", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("tar_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("min_key", T.StringType()),
        T.StructField("max_key", T.StringType()),
    ]
)

SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("shard", T.StringType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("data_ext", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("meta_json", T.StringType()),
    ]
)


def _tar_add(tf: tarfile.TarFile, name: str, payload: bytes) -> None:
    """Add one member with zeroed metadata (deterministic bytes)."""
    info = tarfile.TarInfo(name=name)
    info.size = len(payload)
    info.mtime = 0
    info.uid = info.gid = 0
    info.uname = info.gname = ""
    tf.addfile(info, io.BytesIO(payload))


def export_webdataset(
    df: DataFrame,
    out_dir: str,
    *,
    n_shards: int,
    key_col: str = "clip_id",
    bytes_col: Optional[str] = "bytes",
    bytes_ext: str = "wav",
    text_col: Optional[str] = "transcript",
    meta_cols: Optional[list[str]] = None,
    shard_prefix: str = "shard",
    only_shards: Optional[set] = None,
    write_index: bool = False,
) -> DataFrame:
    """Export ``df`` as ``<out_dir>/<prefix>-%06d.tar`` WebDataset
    shards; returns the committed manifest (one row per shard).

    ``write_index=True`` additionally writes a wids-style per-member
    byte index (``<out_dir>/_index/<shard>.idx.parquet``: key, member,
    ext, offset, size) so loaders can range-read single samples without
    streaming the shard; committed by the same driver rename protocol,
    readable via :func:`read_webdataset_index`.

    ``n_shards`` is explicit — at corpus scale the caller sizes shards
    from manifest byte totals (e.g. live_bytes / 1 GiB), never from a
    count pass this function would have to run. Keys must be non-null
    and unique (loader keys); hash assignment makes shard membership a
    pure function of the key, so retries and re-exports land every
    sample in the same shard and shard bytes are reproducible.
    """
    if n_shards < 1:
        raise LakehouseError("n_shards must be >= 1")
    cols = [F.col(key_col).cast("string").alias("_key")]
    if bytes_col is not None:
        cols.append(F.col(bytes_col).alias("_data"))
    if text_col is not None:
        cols.append(F.col(text_col).cast("string").alias("_text"))
    meta_cols = list(meta_cols or [])
    for c in meta_cols:
        cols.append(F.col(c).cast("string").alias(f"_m_{c}"))
    slim = df.select(*cols).withColumn(
        "_shard", F.pmod(F.xxhash64("_key"), F.lit(n_shards))
    )
    if only_shards is not None:
        # incremental sync (sync_webdataset): rewrite only dirty shards
        slim = slim.filter(
            F.col("_shard").isin([int(s) for s in only_shards])
        )
    os.makedirs(out_dir, exist_ok=True)
    width = max(6, len(str(n_shards - 1)))

    def write_shards(iterator: Iterator) -> Iterator:
        import pandas as pd

        # rows arrive partitioned by _shard and sorted by (_shard, _key)
        # — a task's shards are CONTIGUOUS runs, so each row streams
        # straight into its tar: the task holds one row's payload at a
        # time, never a shard's
        out: list[dict] = []
        st: Optional[dict] = None

        def _open(sid: int) -> dict:
            name = f"{shard_prefix}-{sid:0{width}d}.tar"
            tmp = os.path.join(out_dir, f".{name}.tmp-{uuid.uuid4().hex}")
            fh = open(tmp, "wb")
            return {
                "sid": sid,
                "name": name,
                "tmp": tmp,
                "fh": fh,
                "tar": tarfile.open(fileobj=fh, mode="w"),
                "n": 0,
                "min_key": None,
                "max_key": None,
            }

        def _close(st: dict) -> None:
            st["tar"].close()
            st["fh"].close()
            if write_index:
                import pyarrow as pa
                import pyarrow.parquet as pq

                rows = {"key": [], "member": [], "ext": [],
                        "offset": [], "size": []}
                with tarfile.open(st["tmp"]) as tf:
                    for m in tf:
                        if not m.isfile():
                            continue
                        k, _, ext = m.name.rpartition(".")
                        rows["key"].append(k or m.name)
                        rows["member"].append(m.name)
                        rows["ext"].append(ext)
                        rows["offset"].append(m.offset_data)
                        rows["size"].append(m.size)
                idx_dir = os.path.join(out_dir, "_index")
                os.makedirs(idx_dir, exist_ok=True)
                pq.write_table(
                    pa.table(
                        {
                            "shard": pa.array(
                                [st["name"]] * len(rows["key"])
                            ),
                            **{k: pa.array(v) for k, v in rows.items()},
                        }
                    ),
                    os.path.join(
                        idx_dir, f".{os.path.basename(st['tmp'])}.idx"
                    ),
                )
            h = hashlib.sha256()
            with open(st["tmp"], "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
            out.append(
                {
                    "shard": st["name"],
                    "path": os.path.join(out_dir, st["name"]),
                    "tmp_path": st["tmp"],
                    "n_samples": st["n"],
                    "tar_bytes": os.path.getsize(st["tmp"]),
                    "sha256": h.hexdigest(),
                    "min_key": st["min_key"],
                    "max_key": st["max_key"],
                }
            )

        for pdf in iterator:
            colnames = list(pdf.columns)
            # NOT itertuples: it mangles underscore-prefixed names
            for vals in zip(*(pdf[c].values for c in colnames)):
                d = dict(zip(colnames, vals))
                sid = int(d["_shard"])
                if st is None or st["sid"] != sid:
                    if st is not None:
                        _close(st)
                    st = _open(sid)
                def _val(x):  # pandas nulls arrive as None OR NaN
                    return None if x is None or (
                        isinstance(x, float) and x != x
                    ) else x

                key = _val(d["_key"])
                if key is None:
                    raise LakehouseError("webdataset key is null")
                if _val(d.get("_data")) is not None:
                    _tar_add(
                        st["tar"], f"{key}.{bytes_ext}", bytes(d["_data"])
                    )
                if _val(d.get("_text")) is not None:
                    _tar_add(
                        st["tar"], f"{key}.txt", d["_text"].encode("utf-8")
                    )
                meta = {
                    c: d[f"_m_{c}"]
                    for c in meta_cols
                    if _val(d.get(f"_m_{c}")) is not None
                }
                if meta:
                    _tar_add(
                        st["tar"],
                        f"{key}.json",
                        json.dumps(meta, sort_keys=True).encode("utf-8"),
                    )
                st["n"] += 1
                if st["min_key"] is None:
                    st["min_key"] = key  # rows arrive key-sorted
                st["max_key"] = key
        if st is not None:
            _close(st)
        if out:
            yield pd.DataFrame(out, columns=MANIFEST_SCHEMA.names)

    staged = (
        slim.repartition(n_shards, "_shard")
        .sortWithinPartitions("_shard", "_key")
        .mapInPandas(write_shards, schema=MANIFEST_SCHEMA)
        .collect()  # manifest only: one row per SHARD, never per sample
    )
    # driver-side commit: rename each winner into place (a retried task
    # leaves extra tmps; only the reported ones win, the rest are swept)
    committed = {}
    idx_dir = os.path.join(out_dir, "_index")

    def _idx_tmp(r):
        return os.path.join(
            idx_dir, f".{os.path.basename(r['tmp_path'])}.idx"
        )

    for r in staged:
        if r["shard"] in committed:  # task retry double-report: keep one
            os.unlink(r["tmp_path"])
            if write_index:
                try:
                    os.unlink(_idx_tmp(r))
                except OSError:
                    pass
            continue
        os.replace(r["tmp_path"], r["path"])
        if write_index:
            os.replace(
                _idx_tmp(r),
                os.path.join(idx_dir, f"{r['shard']}.idx.parquet"),
            )
        committed[r["shard"]] = r
    for d in (out_dir, idx_dir):  # sweep orphaned attempt tmps
        if not os.path.isdir(d):
            continue
        for fn in os.listdir(d):
            if fn.startswith(".") and ".tmp-" in fn:
                try:
                    os.unlink(os.path.join(d, fn))
                except OSError:
                    pass
    spark = df.sparkSession
    rows = [
        {k: r[k] for k in MANIFEST_SCHEMA.names if k != "tmp_path"}
        for r in committed.values()
    ]
    manifest_schema = T.StructType(
        [f for f in MANIFEST_SCHEMA.fields if f.name != "tmp_path"]
    )
    return spark.createDataFrame(rows, schema=manifest_schema).orderBy(
        "shard"
    )


def read_webdataset(
    spark: SparkSession, path: str, *, bytes_ext: str = "wav"
) -> DataFrame:
    """Read WebDataset shards back as one row per sample (shard-parallel:
    Spark's binaryFile source hands each task whole tars — the exact
    parallel unit loaders use). Members regroup by key; unknown
    extensions land in ``meta_json`` under their extension name."""
    bins = spark.read.format("binaryFile").load(
        os.path.join(path, "*.tar")
    ).select("path", "content")

    def unpack(iterator: Iterator) -> Iterator:
        import pyarrow as pa

        arrow_schema = pa.schema(
            [
                ("key", pa.string()),
                ("shard", pa.string()),
                ("data", pa.binary()),
                ("data_ext", pa.string()),
                ("text", pa.string()),
                ("meta_json", pa.string()),
            ]
        )
        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            for i in range(tbl.num_rows):
                shard = os.path.basename(tbl.column("path")[i].as_py())
                content = tbl.column("content")[i].as_py()
                samples: dict[str, dict] = {}
                with tarfile.open(fileobj=io.BytesIO(content)) as tf:
                    for m in tf:
                        if not m.isfile():
                            continue
                        key, dot, ext = m.name.rpartition(".")
                        if not dot:
                            key, ext = m.name, ""
                        payload = tf.extractfile(m).read()
                        s = samples.setdefault(
                            key,
                            {"key": key, "shard": shard, "data": None,
                             "data_ext": None, "text": None, "extra": {}},
                        )
                        if ext == bytes_ext:
                            s["data"] = payload
                            s["data_ext"] = ext
                        elif ext == "txt":
                            s["text"] = payload.decode("utf-8")
                        elif ext == "json":
                            s["extra"].update(json.loads(payload))
                        else:
                            s["extra"][ext] = payload.decode(
                                "utf-8", "replace"
                            )
                rows = [
                    {
                        "key": s["key"],
                        "shard": s["shard"],
                        "data": s["data"],
                        "data_ext": s["data_ext"],
                        "text": s["text"],
                        "meta_json": (
                            json.dumps(s["extra"], sort_keys=True)
                            if s["extra"]
                            else None
                        ),
                    }
                    for s in samples.values()
                ]
                if rows:
                    yield pa.RecordBatch.from_pylist(
                        rows, schema=arrow_schema
                    )

    return bins.mapInArrow(unpack, schema=SAMPLE_SCHEMA)


# --- incremental sync ----------------------------------------------------------


STATE_FILE = "_export_state.json"


class WdsSyncResult:
    def __init__(self, mode, synced_snapshot_id, dirty_shards, removed,
                 manifest):
        self.mode = mode
        self.synced_snapshot_id = synced_snapshot_id
        self.dirty_shards = dirty_shards
        self.removed_shards = removed
        self.manifest = manifest  # DataFrame over the FULL shard set

    def __repr__(self):
        return (
            f"WdsSyncResult(mode={self.mode!r}, "
            f"synced={self.synced_snapshot_id}, "
            f"dirty={sorted(self.dirty_shards)}, "
            f"removed={sorted(self.removed_shards)})"
        )


def _dirty_shard_ids(table, meta, from_sid: int, key_col: str,
                     n_shards: int) -> set:
    """Shard ids whose keys MAY have changed in (from_sid, head of
    ``meta``] — a conservative superset read from O(churn) narrow
    column data, per row-changing snapshot (``ops/changes.plan_changes``;
    data-NEUTRAL rewrites — compaction, clustering, delete conversion —
    move bytes, not keys, and never dirty a shard):

    - keys of the data files it added or removed (both row versions
      read, union of keys);
    - for its NEW equality-delete files on the export key: the deleted
      keys themselves (the delete file IS a key column);
    - for its other new delete files (positional, or eq on another
      column): every key of the parent's data files they can touch.

    Deterministic hash shard assignment is what makes this sound: a
    key's shard is a pure function of the key, so dirty keys map to
    dirty shards with no state. Conservative is safe — re-serializing
    a clean shard reproduces it byte-identically.
    """
    from .ops.changes import _read, plan_changes
    from .ops.mor import touched_by

    key_frames = []

    def keys_of(entries):
        if entries:
            key_frames.append(
                _read(table, meta, entries).select(
                    F.col(key_col).alias("_key")
                )
            )

    for step in plan_changes(
        table.root, meta, from_sid, meta.current_snapshot_id,
        allow_replays=True,
    ):
        keys_of(step.removed + step.added)
        eq_on_key = [d for d in step.new_deletes
                     if not d.is_pos_delete and d.delete_key == key_col]
        other = [d for d in step.new_deletes
                 if d.is_pos_delete or d.delete_key != key_col]
        if eq_on_key:
            key_frames.append(
                table.spark.read.parquet(
                    *[os.path.join(table.root, d.file_path)
                      for d in eq_on_key]
                ).select(F.col(key_col).alias("_key"))
            )
        if other and step.parent:
            keys_of(touched_by(step.parent.files, other))
    if not key_frames:
        return set()
    keys = key_frames[0]
    for f in key_frames[1:]:
        keys = keys.unionByName(f)
    rows = (
        keys.select(
            F.pmod(F.xxhash64(F.col("_key").cast("string")),
                   F.lit(n_shards)).alias("s")
        )
        .distinct()
        .collect()  # bounded by n_shards, never by keys
    )
    return {r["s"] for r in rows}


def sync_webdataset(
    table,
    out_dir: str,
    *,
    n_shards: int,
    key_col: str = "clip_id",
    **export_kw,
) -> WdsSyncResult:
    """Keep a WebDataset export in sync with a lakehouse table by
    re-serializing ONLY the shards whose keys changed since the last
    sync — O(churn), not O(corpus): at 10^12 clips with 0.1% daily
    churn, the nightly training-data publish rewrites ~0.1% of shards
    (hash assignment spreads churn, so worst case is min(n_shards,
    changed_keys) shard rewrites) while every untouched shard keeps its
    byte-identical tar.

    State (synced snapshot id + per-shard manifest) lives in
    ``<out_dir>/_export_state.json``, committed by atomic replace AFTER
    the shards land — a crash mid-sync re-runs the same dirty set onto
    the same deterministic bytes (idempotent). First call = full
    export. Shards left empty by deletes are removed from disk and
    state. Parity with a fresh full export is gated in
    tests/test_webdataset.py.
    """
    state_path = os.path.join(out_dir, STATE_FILE)
    meta = table.meta
    head = meta.current_snapshot_id
    state = None
    if os.path.exists(state_path):
        with open(state_path) as f:
            state = json.load(f)
        if state.get("n_shards") != n_shards or state.get(
            "key_col"
        ) != key_col:
            raise LakehouseError(
                "sync_webdataset: n_shards/key_col differ from the "
                "existing export state; re-export to a fresh directory"
            )
    spark = table.spark

    def _manifest_df(shards: dict) -> DataFrame:
        rows = [
            {"shard": name, **{k: v for k, v in info.items()}}
            for name, info in sorted(shards.items())
        ]
        schema = T.StructType(
            [f for f in MANIFEST_SCHEMA.fields if f.name != "tmp_path"]
        )
        return spark.createDataFrame(rows, schema=schema)

    def _commit_state(shards: dict) -> None:
        _atomic_write_json(state_path, {
            "synced_snapshot_id": head,
            "n_shards": n_shards,
            "key_col": key_col,
            "shards": shards,
        })

    def _rows_to_state(man_rows) -> dict:
        return {
            r["shard"]: {
                "path": r["path"],
                "n_samples": r["n_samples"],
                "tar_bytes": r["tar_bytes"],
                "sha256": r["sha256"],
                "min_key": r["min_key"],
                "max_key": r["max_key"],
            }
            for r in man_rows
        }

    if state is None:
        man = export_webdataset(
            table._scan(meta), out_dir, n_shards=n_shards, key_col=key_col,
            **export_kw,
        )
        shards = _rows_to_state(man.collect())
        _commit_state(shards)
        return WdsSyncResult("full", head, set(range(n_shards)), set(),
                             _manifest_df(shards))

    synced = state["synced_snapshot_id"]
    if synced == head:
        return WdsSyncResult("noop", head, set(), set(),
                             _manifest_df(state["shards"]))
    try:
        dirty = _dirty_shard_ids(table, meta, synced, key_col, n_shards)
    except LakehouseError:
        # synced snapshot expired from the log: one full re-export
        man = export_webdataset(
            table._scan(meta), out_dir, n_shards=n_shards, key_col=key_col,
            **export_kw,
        )
        shards = _rows_to_state(man.collect())
        for name in set(state["shards"]) - set(shards):
            try:
                os.unlink(os.path.join(out_dir, name))
            except OSError:
                pass
        _commit_state(shards)
        return WdsSyncResult("full", head, set(range(n_shards)), set(),
                             _manifest_df(shards))
    if not dirty:
        _commit_state(state["shards"])  # data-neutral chain: advance
        return WdsSyncResult("noop", head, set(), set(),
                             _manifest_df(state["shards"]))
    man = export_webdataset(
        table._scan(meta), out_dir, n_shards=n_shards, key_col=key_col,
        only_shards=dirty, **export_kw,
    )
    shards = dict(state["shards"])
    rewritten = _rows_to_state(man.collect())
    width = max(6, len(str(n_shards - 1)))
    prefix = export_kw.get("shard_prefix", "shard")
    removed = set()
    for sid in dirty:
        name = f"{prefix}-{sid:0{width}d}.tar"
        if name in rewritten:
            shards[name] = rewritten[name]
        elif name in shards:  # every key of the shard was deleted
            for victim in (
                os.path.join(out_dir, name),
                os.path.join(out_dir, "_index", f"{name}.idx.parquet"),
            ):
                try:
                    os.unlink(victim)
                except OSError:
                    pass
            del shards[name]
            removed.add(sid)
    _commit_state(shards)
    return WdsSyncResult("incremental", head, dirty, removed,
                         _manifest_df(shards))


def ingest_webdataset(
    spark: SparkSession,
    path: str,
    *,
    bytes_ext: str = "wav",
    ingest_ts=None,
) -> DataFrame:
    """Ingest WebDataset shards back into the clips schema — the
    inverse handoff (a corpus published for loaders re-onboards as a
    table; composes with ``Table.append`` or ``validate_split``).
    Header fields (sr/dur/codec) harvest from the WAV chunk headers in
    one Arrow pass (no sample decode), exactly like ``ingest_wav_dir``;
    transcripts come from the ``.txt`` members. Samples without a
    payload, or with a malformed one, keep their bytes with
    ``ingest_error`` set for quarantine routing. ``ingest_ts`` pins a
    literal timestamp for deterministic re-ingest (default: now)."""
    from .audio import wav_header

    s = read_webdataset(spark, path, bytes_ext=bytes_ext)
    ts = (
        F.lit(ingest_ts).cast("timestamp")
        if ingest_ts is not None
        else F.current_timestamp()
    )
    h = s.select(
        F.col("key").alias("clip_id"),
        F.col("data").alias("bytes"),
        F.col("text").alias("transcript"),
        ts.alias("ingest_ts"),
    ).withColumn("__h", wav_header(F.col("bytes")))
    return h.select(
        "clip_id",
        "bytes",
        F.col("__h.sr_hz").alias("sr_hz"),
        F.when(
            F.col("__h.sr_hz") > 0,
            F.round(
                F.col("__h.n_samples") * 1000 / F.col("__h.sr_hz")
            ).cast("int"),
        ).alias("dur_ms"),
        F.col("__h.codec").alias("codec"),
        "transcript",
        "ingest_ts",
        F.to_date("ingest_ts").alias("event_date"),
        F.when(F.col("bytes").isNull(), F.lit("missing payload"))
        .otherwise(F.col("__h.error"))
        .alias("ingest_error"),
    )


def read_webdataset_index(spark: SparkSession, path: str) -> DataFrame:
    """The wids-style per-member byte index written by
    ``export_webdataset(write_index=True)`` / ``sync_webdataset``:
    (shard, key, member, ext, offset, size). A loader reads one sample
    with a single ranged GET per member — no shard streaming."""
    return spark.read.parquet(os.path.join(path, "_index"))
