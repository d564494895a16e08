"""Materialized transforms: row-level derived tables maintained by CDC.

The feature-pipeline sibling of :class:`lakehouse.rollup.
MaterializedRollup`. A derived table holds one row per base-table key
with computed feature columns (spectral embeddings, token statistics,
quality scores, …). At 10^12 clips the maintenance rule is the whole
point: a refresh must read only the CDC delta since the last sync —
recomputing features for an unchanged corpus is the classic 100 TB
pipeline failure.

Refresh algebra (base keys are unique, enforced by MERGE's duplicate
probe): the projected CDC multiset diff between the synced and current
base snapshots yields insert/delete rows. Inserted rows run through the
transform and MERGE in as upserts; keys that were deleted and NOT
re-inserted become ``op='delete'`` MERGE rows (an updated row shows up
on both sides of the diff and is simply upserted). One MERGE commit per
refresh; read cost is bounded by the changed files, write cost by the
changed keys.

Failure modes mirror the rollup: refresh is a no-op on a synced base;
the first refresh is a full compute; a synced snapshot lost to
``expire_snapshots`` triggers ONE atomic full resync (overwrite commit)
instead of an error — the derived table lags expiry, never breaks on
it.

Transforms come in two kinds:

- ``exprs`` — ``{out_col: sql_expr}`` pure-SQL projections (stay in
  whole-stage codegen; portable to the DuckDB oracle verbatim).
- ``transform`` — a registered named function ``df -> df`` for feature
  extractors that need an Arrow boundary (audio decode + FFT). The
  NAME is persisted in table properties, never the code object, so a
  fresh session resumes maintenance as long as the name is registered
  (built-ins below register at import).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .table import Table

_TRANSFORMS: dict[str, Callable[[DataFrame], DataFrame]] = {}


def register_transform(name: str, fn=None):
    """Register a named transform (also usable as a decorator)."""

    def _reg(f):
        _TRANSFORMS[name] = f
        return f

    return _reg(fn) if fn is not None else _reg


def _builtin_transforms():
    if "spectral_embedding" not in _TRANSFORMS:

        @register_transform("spectral_embedding")
        def _spectral(df: DataFrame) -> DataFrame:
            from .audio import with_spectral_embedding

            return with_spectral_embedding(df).select(
                "clip_id", "embedding"
            )

    if "spectrogram" not in _TRANSFORMS:

        @register_transform("spectrogram")
        def _spectro(df: DataFrame) -> DataFrame:
            from .audio import with_spectrogram

            return with_spectrogram(df).select(
                "clip_id",
                F.col("spectrogram.n_frames").alias("n_frames"),
                F.col("spectrogram.n_mels").alias("n_mels"),
                F.col("spectrogram.logmel").alias("logmel"),
            )

    if "mfcc_embedding" not in _TRANSFORMS:

        @register_transform("mfcc_embedding")
        def _mfcc(df: DataFrame) -> DataFrame:
            from .audio import with_mfcc_embedding

            return with_mfcc_embedding(df).select("clip_id", "embedding")

    if "pq_code" not in _TRANSFORMS:

        @register_transform("pq_code")
        def _pq(df: DataFrame) -> DataFrame:
            # ANN index as a derived table: PQ codes (similarity.py)
            # maintained incrementally from the base table's CDC delta —
            # appends encode only the new vectors, deletes drop only
            # their codes; the 10^12-row alternative to rebuilding the
            # index. Seeded default codebooks keep the transform a pure
            # function of the row (restart-safe across sessions);
            # deployments with trained codebooks register their own
            # closure under a distinct name.
            from .similarity import pq_encode

            return pq_encode(df)

    if "audio_stats" not in _TRANSFORMS:

        @register_transform("audio_stats")
        def _astats(df: DataFrame) -> DataFrame:
            from .audio import audio_info

            s = audio_info(F.col("bytes")).alias("__s")
            return df.select("clip_id", s).select(
                "clip_id",
                F.col("__s.ok").alias("ok"),
                F.col("__s.n_samples").alias("n_samples"),
                F.col("__s.rms").alias("rms"),
            )


@dataclass
class TransformRefreshResult:
    mode: str  # "noop" | "full" | "incremental" | "full-resync"
    from_snapshot_id: Optional[int]
    to_snapshot_id: Optional[int]
    rows_upserted: int
    rows_deleted: int


class MaterializedTransform:
    """A derived feature Table plus the metadata to maintain it
    incrementally. The derived table is an ordinary lakehouse table —
    time travel, SQL views, compaction, Z-order all apply to it."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.table = Table(spark, root)

    # -- lifecycle ----------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        base: Table,
        *,
        key: str = "clip_id",
        columns: Sequence[str],
        exprs: Optional[dict] = None,
        transform: Optional[str] = None,
        partition_spec=None,
    ) -> "MaterializedTransform":
        """``columns``: the base columns the transform reads (the CDC
        projection — payload columns not listed here never enter the
        diff). Exactly one of ``exprs`` / ``transform`` must be set."""
        if (exprs is None) == (transform is None):
            raise ValueError("set exactly one of exprs= / transform=")
        if key not in columns:
            raise ValueError(f"columns must include the key {key!r}")
        missing = [
            c for c in columns if c not in [f.name for f in base.schema]
        ]
        if missing:
            raise ValueError(f"columns not in base schema: {missing}")
        if transform is not None:
            _builtin_transforms()
            if transform not in _TRANSFORMS:
                raise ValueError(f"unknown transform {transform!r}")
        # derive the output schema by planning on an empty slice
        probe = _apply_spec(
            base.scan().limit(0).select(*columns), key, exprs, transform
        )
        if key not in probe.columns:
            raise ValueError(f"transform output must retain key {key!r}")
        t = Table.create(
            spark,
            root,
            probe.schema,
            partition_spec=partition_spec,
            properties={
                "transform_base_root": base.root,
                "transform_key": key,
                "transform_columns": json.dumps(list(columns)),
                "transform_exprs": json.dumps(exprs) if exprs else None,
                "transform_name": transform,
                "transform_synced_snapshot": None,
            },
        )
        return MaterializedTransform(spark, t.root)

    # -- config accessors ---------------------------------------------------

    @property
    def _props(self) -> dict:
        return self.table.meta.properties

    @property
    def base(self) -> Table:
        return Table(self.spark, self._props["transform_base_root"])

    @property
    def key(self) -> str:
        return self._props["transform_key"]

    @property
    def columns(self) -> list[str]:
        return json.loads(self._props["transform_columns"])

    def scan(self) -> DataFrame:
        return self.table.scan()

    def expected(self) -> DataFrame:
        """Full recompute over the current base snapshot — the oracle
        the incremental path must equal row-for-row."""
        return _apply_props(
            self.base.scan(columns=self.columns), self._props
        )

    # -- maintenance --------------------------------------------------------

    def refresh(self, **merge_kw) -> TransformRefreshResult:
        """Fold the base's change since the synced snapshot in. Reads
        the derived table's and the base's metadata once each, and
        commits on the derived version it read."""
        from pyspark import StorageLevel

        from .ops.changes import (
            full_resync,
            incremental_scan,
            refresh_path,
            row_changes,
        )

        meta = self.table.meta
        props = meta.properties
        base = Table(self.spark, props["transform_base_root"])
        bmeta = base.meta
        to_id = bmeta.current_snapshot_id
        synced = props.get("transform_synced_snapshot")
        if synced == to_id or to_id is None:
            return TransformRefreshResult("noop", synced, to_id, 0, 0)
        cols = json.loads(props["transform_columns"])
        key = props["transform_key"]
        marker = {"transform_synced_snapshot": to_id}

        def full() -> DataFrame:
            return _apply_props(
                base._scan(bmeta, snapshot_id=to_id, columns=cols), props
            )

        if synced is None:
            # marker rides the SAME commit: plain appends are not
            # replay-idempotent, so a crash between data and marker
            # would duplicate every feature row on the next refresh
            self.table._append(meta, full(), set_props=marker)
            return TransformRefreshResult("full", None, to_id, -1, 0)

        # the rollup's four paths (ops/changes.refresh_path): neutral
        # advances the marker with zero reads; append reads the added
        # files only — no multiset diff, no payload shuffle, no delete
        # handling (base keys are unique, so an appended base row is a
        # new key by invariant): the path a 100 TB feature pipeline
        # lives in, refresh cost ∝ new data; changes reads the CDC
        # diff; resync recomputes (synced snapshot expired, or the diff
        # would read >= transform_resync_cost_ratio x the table).
        path = refresh_path(
            base, bmeta, synced, to_id,
            props.get("transform_resync_cost_ratio", "1.0"),
        )
        if path == "resync":
            full_resync(self.table, meta, full(), "transform", to_id)
            return TransformRefreshResult("full-resync", synced, to_id, -1, 0)
        if path == "neutral":
            self.table._set_properties(meta, marker)
            return TransformRefreshResult("incremental", synced, to_id, 0, 0)
        if path == "append":
            ins = incremental_scan(
                base, bmeta, from_snapshot_id=synced, to_snapshot_id=to_id
            ).select(*cols)
            ups = _apply_props(ins, props).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            try:
                n_up = ups.count()
                if n_up:
                    self.table._append(meta, ups, set_props=marker)
                else:
                    self.table._set_properties(meta, marker)
            finally:
                ups.unpersist()
            return TransformRefreshResult(
                "incremental", synced, to_id, n_up, 0
            )

        delta = row_changes(
            base, bmeta, from_snapshot_id=synced, to_snapshot_id=to_id,
            columns=cols,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            ins = delta.filter(F.col("_change_type") == "insert").drop(
                "_change_type"
            )
            del_keys = (
                delta.filter(F.col("_change_type") == "delete")
                .select(key)
                .subtract(ins.select(key))
            )
            ups = _apply_props(ins, props).withColumn(
                "op", F.lit(None).cast("string")
            )
            dels = del_keys.withColumn("op", F.lit("delete"))
            src = ups.unionByName(dels, allowMissingColumns=True)
            src = src.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                n_up = ups.count()
                n_del = src.filter(F.col("op") == "delete").count()
                if n_up + n_del:
                    self.table._merge(
                        meta, src, key=key, set_props=marker, **merge_kw
                    )
                else:
                    self.table._set_properties(meta, marker)
            finally:
                src.unpersist()
        finally:
            delta.unpersist()
        return TransformRefreshResult(
            "incremental", synced, to_id, n_up, n_del
        )


def _apply_props(df: DataFrame, props: dict) -> DataFrame:
    """Run the transform a derived table's properties declare."""
    exprs = props.get("transform_exprs")
    return _apply_spec(
        df,
        props["transform_key"],
        json.loads(exprs) if exprs else None,
        props.get("transform_name"),
    )


def _apply_spec(
    df: DataFrame,
    key: str,
    exprs: Optional[dict],
    transform: Optional[str],
) -> DataFrame:
    if exprs is not None:
        return df.select(
            F.col(key), *[F.expr(e).alias(n) for n, e in exprs.items()]
        )
    _builtin_transforms()
    return _TRANSFORMS[transform](df)
