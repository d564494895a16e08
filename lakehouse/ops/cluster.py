"""Z-order / Hilbert clustering rewrite (the OPTIMIZE ZORDER counterpart).

Exactly TWO Spark jobs for the whole table, regardless of partition
count — parallelism comes from Spark tasks, never from driver threads
(an earlier per-partition mini-job design serialized on the Python
driver and got SLOWER with more cores):

1. normalization bounds for each cluster column come from **manifest
   stats aggregation** — zero data passes over the table;
2. **narrow job**: read ONLY the cluster + partition-source columns
   (Parquet column pruning skips the audio payload), compute the 64-bit
   curve key entirely JVM-side — Z-order as one Catalyst expression,
   Hilbert as staged Catalyst bit-ops (zexpr.py; no Python worker in
   either curve since round 2) — and take per-partition
   ``percentile_approx`` quantiles of the key in a single groupBy;
3. **wide job**: read everything once, recompute the key, broadcast-join
   each row to its partition's quantile cuts, assign a range bucket with
   a codegen'd fold, hash-repartition on (partition, bucket), sort
   within partitions by (partition, bucket, zkey), and write with
   ``partitionBy(partition_cols, __bucket)`` — the writer splits one
   file per bucket, so every output file covers one tight zkey range
   regardless of task placement;
4. the ``zkey`` column is persisted as a *hidden physical* column:
   scans project the declared table schema only, while stats harvest
   picks up per-file zkey ranges for free (lineage metrics +
   curve-range pruning);
5. one REPLACE commit; per-file min/max of the cluster columns are now
   tight, so range scans on them prune files (the effectiveness gate).
   Lineage records one task per partition value (files-in/out, bytes,
   zkey range) reconstructed from the output layout.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..curves import bits_per_dim
from ..lineage import LineageLog
from ..meta.manifests import DataFileEntry
from ..ops.append import write_files

ZKEY_COL = "zkey"


def schema_with_zkey(schema):
    """Table schema + the hidden physical curve-key column — the ONE
    place the hidden-column contract is encoded (compaction and MoR
    materialization read clustered files through this)."""
    from pyspark.sql import types as T

    return T.StructType(
        list(schema.fields) + [T.StructField(ZKEY_COL, T.LongType(), True)]
    )


@dataclass
class ClusterResult:
    job_id: str
    snapshot_id: Optional[int]
    partitions: int
    files_rewritten: int
    files_created: int
    bytes_rewritten: int
    zkey_ranges: dict[str, list] = field(default_factory=dict)


def _column_bounds(
    files: Sequence[DataFileEntry], columns: Sequence[str]
) -> dict[str, tuple]:
    """Global [min, max] per cluster column from manifest stats."""
    bounds: dict[str, tuple] = {}
    for col in columns:
        lo = hi = None
        for e in files:
            st = e.stats.get(col) or {}
            if "min" not in st:
                continue
            lo = st["min"] if lo is None else min(lo, st["min"])
            hi = st["max"] if hi is None else max(hi, st["max"])
        bounds[col] = (lo, hi)
    return bounds


def cluster(
    table,
    meta,
    columns: Sequence[str],
    *,
    curve: str = "zorder",
    target_file_size: int = 128 * 1024 * 1024,
    partition_filter=None,
    job_id: Optional[str] = None,
    fault_injector=None,
    quantile_sample_rows: Optional[int] = 4_000_000,
) -> ClusterResult:
    """See module docstring. ``quantile_sample_rows`` bounds the rows the
    narrow cut-estimation pass aggregates: when the manifest row count
    exceeds it, the pass samples ``quantile_sample_rows/total_rows`` of
    the table (seeded) and scales the per-partition counts back up —
    at 10^12 rows the quantile state would otherwise be fed by every
    row (this is how ``repartitionByRange`` itself picks bounds:
    reservoir sample, not a full pass). Cuts only steer FILE LAYOUT,
    never row content, so scan results are byte-identical under any
    sample; ``None`` disables sampling."""
    if curve not in ("zorder", "hilbert"):
        raise ValueError("curve must be 'zorder' or 'hilbert'")
    spark = table.spark
    schema = T.StructType.fromJson(meta.schema_json)
    col_types = {f.name: f.dataType for f in schema.fields}
    for c in columns:
        if c not in col_types:
            raise ValueError(f"unknown cluster column: {c}")

    log = LineageLog(table.root, job_id)
    log.start_job(
        "cluster", {"columns": list(columns), "curve": curve}
    )
    live = table._plan(meta, filter=partition_filter).files
    if not live:
        log.finish_job({"partitions": 0})
        return ClusterResult(log.job_id, None, 0, 0, 0, 0)

    spec = meta.partition_spec
    bounds = _column_bounds(live, columns)
    bits = bits_per_dim(len(columns))
    if curve == "zorder":
        # pure-Catalyst key: whole-stage codegen, no Python workers in
        # either pass (measured 2.8x on the wide job at 32 threads —
        # module docstring of zexpr.py)
        from ..zexpr import zorder_key_expr

        zkey_col = zorder_key_expr(columns, col_types, bounds, bits)
        with_zkey = lambda df: df.withColumn(ZKEY_COL, zkey_col)  # noqa: E731
    else:
        # also pure-Catalyst since round 2: Skilling's transform
        # unrolled as staged bit-op projections (zexpr.with_hilbert_key)
        from ..zexpr import with_hilbert_key

        with_zkey = lambda df: with_hilbert_key(  # noqa: E731
            df, columns, col_types, bounds, bits, ZKEY_COL
        )

    def pk_of(partition: dict) -> str:
        return "\x01".join(str(partition.get(f["name"])) for f in spec)

    # input grouping is bookkeeping ONLY (lineage pairing, removal set):
    # under partition-spec evolution old entries lack current-spec keys,
    # so input pk strings may match nothing the rewrite produces —
    # output sizing and the commit NEVER key on these (round-2 review)
    by_partition: dict[str, list[DataFileEntry]] = {}
    for e in live:
        by_partition.setdefault(pk_of(e.partition), []).append(e)
    total_bytes = sum(e.file_size_bytes for e in live)
    total_rows = sum(e.record_count for e in live)
    avg_row = total_bytes / max(1, total_rows)
    # per-input-partition row width: exact whenever the input pk equals
    # the recomputed one (every non-migration run); heterogeneous
    # partitions (short 8 kHz days vs long 44.1 kHz days) would be
    # mis-sized by the table-wide average alone. Migrated pks fall back
    # to the global average — best available without a data pass.
    avg_row_by_pk = {
        pk: sum(e.file_size_bytes for e in members)
        / max(1, sum(e.record_count for e in members))
        for pk, members in by_partition.items()
    }

    import hashlib

    def task_key(pk: str) -> str:
        return "part-" + hashlib.sha1(pk.encode()).hexdigest()[:16]

    sort_order = f"{curve}({','.join(columns)})"
    existing = log.done_tasks()
    job_data_rel = f"data/{log.job_id}"

    if "rewrite-complete" in existing:
        # coarse resume: the whole rewrite finished (sentinel task), only
        # the commit is missing — reuse every DONE task's recorded outputs
        entries_by_pk = {}
        for key, rec in existing.items():
            if key == "rewrite-complete":
                continue
            for e in rec.out_entries():
                entries_by_pk.setdefault(pk_of(e.partition), []).append(e)
    else:
        from ..partitioning import with_partition_columns

        GRID = 64
        from ..meta.scan import read_entries

        base = read_entries(spark, meta, table.root, live, schema)

        def with_pk(df):
            df, part_cols = with_partition_columns(df, spec)
            if part_cols:
                pk = F.concat_ws(
                    "\x01", *[F.col(c).cast("string") for c in part_cols]
                )
            else:
                pk = F.lit("")
            return df.withColumn("__pk", pk), part_cols

        # --- narrow job: per-partition quantile grid of the curve key ----
        narrow_cols = list(
            dict.fromkeys(list(columns) + [f["source"] for f in spec])
        )
        narrow, _ = with_pk(base.select(*narrow_cols))
        narrow = with_zkey(narrow)
        # bounded cut estimation: fraction chosen from MANIFEST counts
        # (zero extra I/O); counts are scaled back so output sizing
        # still targets the true per-partition row volume
        sample_scale = 1.0
        if quantile_sample_rows and total_rows > quantile_sample_rows:
            frac = quantile_sample_rows / total_rows
            narrow = narrow.sample(False, frac, seed=8421)
            sample_scale = 1.0 / frac
        probs = [j / GRID for j in range(1, GRID)]
        # per-__pk quantiles AND row counts in one pass: output sizing
        # derives from the RECOMPUTED partition values (row count ×
        # manifest-average row bytes), never from old partition dicts —
        # under spec evolution the input dicts don't match the rewrite's
        # __pk strings, and keying n_out on them collapsed migrated
        # partitions to a single bucket (round-2 review)
        qrows = (
            narrow.groupBy("__pk")
            .agg(
                F.percentile_approx(ZKEY_COL, probs, 10000).alias("__qs"),
                F.count(F.lit(1)).alias("__n"),
            )
            .collect()
        )
        grid_by_pk = {r["__pk"]: [int(q) for q in (r["__qs"] or [])] for r in qrows}
        n_out_by_pk = {
            r["__pk"]: max(
                1,
                round(
                    r["__n"]
                    * sample_scale
                    * avg_row_by_pk.get(r["__pk"], avg_row)
                    / target_file_size
                ),
            )
            for r in qrows
        }
        cuts_by_pk = {}
        for pk, n_out in n_out_by_pk.items():
            grid = grid_by_pk.get(pk) or []
            cuts = set()
            for j in range(1, n_out):
                idx = min(len(grid) - 1, max(0, j * GRID // n_out - 1))
                if grid:
                    cuts.add(grid[idx])
            cuts_by_pk[pk] = sorted(cuts)
        total_buckets = sum(len(c) + 1 for c in cuts_by_pk.values())
        cuts_df = spark.createDataFrame(
            [(pk, cuts) for pk, cuts in cuts_by_pk.items()],
            "__pk string, __cuts array<bigint>",
        )

        # --- wide job: bucket assignment + partition/bucket-split write --
        wide, part_cols = with_pk(base)
        wide = with_zkey(wide).join(F.broadcast(cuts_df), "__pk", "left")
        bucket = F.aggregate(
            F.coalesce(F.col("__cuts"), F.array().cast("array<bigint>")),
            F.lit(0),
            lambda acc, c: acc + (F.col(ZKEY_COL) > c).cast("int"),
        )
        out = (
            wide.withColumn("__bucket", bucket)
            .drop("__pk", "__cuts")
            .repartition(
                max(total_buckets, 1),
                *[F.col(c) for c in part_cols],
                F.col("__bucket"),
            )
            .sortWithinPartitions(*part_cols, "__bucket", ZKEY_COL)
        )
        all_entries = write_files(
            out, table.root, job_data_rel, spec, properties=meta.properties,
            extra_dirs=["__bucket"], sort_order=sort_order, mode="overwrite",
        )
        entries_by_pk: dict[str, list[DataFileEntry]] = {}
        for e in all_entries:
            entries_by_pk.setdefault(pk_of(e.partition), []).append(e)
        # per-partition lineage, keyed by OUTPUT partition (under spec
        # evolution the input grouping may not correspond); inputs whose
        # pk matches an output pk are paired, the rest are recorded once
        # as the migrated-input set
        for pk, outs in sorted(entries_by_pk.items()):
            members = by_partition.get(pk, [])
            files_in = [e.file_path for e in members]
            bytes_in = sum(e.file_size_bytes for e in members)
            zvals = [
                e.stats.get(ZKEY_COL, {})
                for e in outs
                if "min" in e.stats.get(ZKEY_COL, {})
            ]
            zr = (
                [min(s["min"] for s in zvals), max(s["max"] for s in zvals)]
                if zvals
                else None
            )
            key = task_key(pk)
            log.start_task(key, files_in, bytes_in)
            log.finish_task(
                key, outs, files_in=files_in, bytes_in=bytes_in, zkey_range=zr
            )
        migrated = [
            e.file_path
            for pk, members in by_partition.items()
            if pk not in entries_by_pk
            for e in members
        ]
        if migrated:
            log.start_task("migrated-inputs", migrated, 0)
            log.finish_task("migrated-inputs", [], files_in=migrated, bytes_in=0)
        # sentinel: the rewrite is fully recorded — a resumed run can
        # reuse every task's outputs and go straight to the commit
        log.start_task("rewrite-complete", [], 0)
        log.finish_task("rewrite-complete", [], files_in=[], bytes_in=0)

    if fault_injector is not None:
        fault_injector("cluster")

    # the commit adds ALL outputs and removes ALL inputs — never
    # reassembled through input partition keys (which under spec
    # evolution may not match any output pk and would silently drop
    # output files from the commit)
    removed: list[str] = [e.file_path for e in live]
    added: list[DataFileEntry] = [
        e for outs in entries_by_pk.values() for e in outs
    ]
    zranges: dict[str, list] = {}
    for pk, outs in sorted(entries_by_pk.items()):
        zvals = [
            e.stats.get(ZKEY_COL, {})
            for e in outs
            if "min" in e.stats.get(ZKEY_COL, {})
        ]
        if zvals:
            zranges[pk] = [
                min(s["min"] for s in zvals),
                max(s["max"] for s in zvals),
            ]

    bytes_rewritten = sum(e.file_size_bytes for e in added)
    snap = table._commit_files(
        "replace",
        added,
        removed,
        summary={
            "job_id": log.job_id,
            "cluster_columns": list(columns),
            "curve": curve,
            "bytes_rewritten": bytes_rewritten,
        },
        base=meta,
    )
    log.finish_job(
        {
            "partitions": len(entries_by_pk),
            "files_created": len(added),
            "snapshot_id": snap.snapshot_id,
        }
    )
    return ClusterResult(
        job_id=log.job_id,
        snapshot_id=snap.snapshot_id,
        partitions=len(entries_by_pk),
        files_rewritten=len(removed),
        files_created=len(added),
        bytes_rewritten=bytes_rewritten,
        zkey_ranges=zranges,
    )
