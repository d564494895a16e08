"""MERGE INTO: one operation, two storage modes.

Semantics (Delta/Iceberg MERGE matrix, keyed on a unique ``clip_id``):

- source row matches a target row:   UPDATE (replace payload), or DELETE
  when the source row's ``op`` column says so;
- source row matches nothing:        INSERT (DELETE-ops are ignored);
- target row matches nothing:        carried over unchanged;
- duplicate keys in the source:      MergeError (ambiguous merge — same
  contract as Delta's "multiple source rows matched");
- WHEN NOT MATCHED BY SOURCE (optional, Delta's
  whenNotMatchedBySourceDelete/-Update): target rows with no source
  match and satisfying an optional condition are deleted or mutated —
  ``not_matched_by_source="delete"`` with no condition is full-sync
  ("make target ≡ source").

:func:`merge_into` runs one body for both modes: validate the
arguments; conform the source and fill identity columns; persist it
once (always unpersisted, also when the merge fails); one stats
``collect()`` (rows, non-null keys, largest row count per key, key
bytes, key min/max) that the key rules read — duplicates are refused in
both modes, NULL keys in merge-on-read only; return early on an empty
source without an NMS clause; fold pending deletes in (copy-on-write
only); build the serializable-isolation spec and plan once; run the
mode's apply step; advance identity watermarks and make one ``merge``
commit with one lineage record. The apply step is the only place the
modes differ: which files the commit adds and which it removes.

**Copy-on-write** (``mode="cow"``, :func:`_apply_cow`): rewrite the
target files a source key can touch; untouched files are never read or
moved.

1. **File pruning.** Only target files whose manifest [min,max] range on
   the merge key contains at least one source key are rewritten — at
   10^12-row scale this is what turns MERGE from a full-table rewrite
   into a touched-files rewrite. The probe is a sorted-interval sweep,
   not a join: file ranges are broadcast once as flat numpy arrays, and
   every Arrow batch of source keys sorts itself and binary-searches
   each file's min bound (``np.searchsorted``, vectorized across all
   files at once) — a file is touched when the smallest key ≥ its min
   is ≤ its max. O(files · log batch) per batch, versus the
   O(keys · files) BroadcastNestedLoopJoin a non-equi range join
   compiles to.
2. **The join — keys only, never payloads.** Copy-on-write MERGE with a
   unique key has a closed form:

       result = (touched target  ⟕anti  source keys)  ∪  source rows
                                                         (minus deletes)

   A matched UPDATE and an unmatched INSERT both emit the source row
   verbatim, and a matched DELETE emits nothing — so the only join the
   operator needs is a **left-anti of the wide target side against the
   source KEY column**. Audio payloads (the dominant bytes) never cross
   a join build side. Two execution strategies, picked from the stats
   pass's key-volume estimate:

   - *broadcast* (key set ≤ threshold): source keys are broadcast; the
     wide target side NEVER shuffles — rows stream parquet-scan →
     anti-filter → write. This is the everyday 10^12-row MERGE shape: a
     trickle of updates against huge files, at network cost
     O(keys × executors), not O(payload × executors).
   - *shuffle* (large key set): a plain sort-merge/hash left-anti join —
     exactly ONE hash exchange per side, inserted by Spark's own
     ENSURE_REQUIREMENTS. No manual repartition: MERGE keys are unique
     on both sides (duplicates are rejected above), so join-key skew
     cannot exist by construction, and AQE handles residual partition
     imbalance (session.py turns skew-join on). An earlier design
     pre-repartitioned both sides on ``xxhash64(key, seed)``; Spark
     does not recognize that as satisfying the join's required
     distribution and re-shuffles on the raw key, so the wide side paid
     TWO exchanges for zero skew protection (confirmed by explain-plan
     probe; gated now by ``tests/test_plans.py``
     ``test_merge_shuffle_single_exchange_per_side``).
3. **NOT MATCHED BY SOURCE.** One extra filter/projection on the kept
   side; with a tuple-language condition, files whose stats prove every
   row matches are dropped METADATA-ONLY (their matched rows re-emit
   from the source union side), so a partition-scoped full sync costs
   zero reads outside the partition.

The commit REPLACEs the touched files and APPENDs the result files.
Output files are sized like appends (~128 MB targets) rather than
inheriting scan-task fragmentation.

**Merge-on-read** (``mode="mor"``, :func:`_apply_mor`): the commit
carries an equality-delete file of EVERY source key plus appended data
files for the non-delete source rows, and removes nothing. All entries
of a commit share one sequence number, and readers apply an equality
delete only to data files with *strictly smaller* seq (meta/scan.py).
So the delete retires every pre-existing row of a source key (matched
UPDATE and matched DELETE alike) while the rows appended in the same
commit — the new versions — survive it: the same closed form as
copy-on-write, verified row-for-row in tests/test_mor.py. Insert-only
keys ride in the delete file too (they match nothing — harmless), which
keeps the operator free of any target probe. Write cost is O(source
rows), with ZERO target data-file reads or rewrites; read cost until
the next ``materialize_deletes`` is one broadcast anti-join per scan.

``not_matched_by_source="delete"`` additionally retires every target
key absent from the source (optionally restricted by the condition):
one manifest-pruned KEY-column read of the plan's files, one keys-only
left-anti against the source, and the surviving keys ride in extra
equality-delete shards of the same commit — write cost O(unmatched
keys), still zero payload reads. The update-set form is copy-on-write
only (mutating unmatched rows means reading and rewriting their
payloads). Equality deletes cannot name NULL keys, hence the NULL-key
rule; a key whose duplicates are meaningful needs copy-on-write.
``branch`` commits onto a staging branch (transactions,
``lakehouse/txn.py``); the plan is then the branch head's.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import MergeError
from ..expressions import sql_column
from ..lineage import LineageLog
from ..ops.append import write_data_files

DELETE_OP = "delete"


@dataclass
class MergeResult:
    job_id: str
    snapshot_id: Optional[int]
    files_touched: int
    files_written: int
    rows_written: int


def conform_merge_source(schema, source: DataFrame, op_col: str) -> DataFrame:
    """Schema-conform a MERGE source (cast/null-fill every table column,
    cf. schema.conform) and carry the op marker as ``__op`` — a single
    projection so lineage stays one plan."""
    has_op = op_col in source.columns
    op_expr = (
        F.col(op_col).cast("string") if has_op else F.lit(None).cast("string")
    )
    present = set(source.columns)
    cols_expr = []
    for f in schema.fields:
        if f.name in present:
            cols_expr.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols_expr.append(F.lit(None).cast(f.dataType).alias(f.name))
    return source.select(*cols_expr, op_expr.alias("__op"))


def _validation_spec(
    meta, isolation, validate_from, key, key_min, key_max,
    nms_domain=None,
):
    """Serializable-isolation spec for Table._validate_serializable:
    the operation's read base + its source-key range, stat-encoded so
    it compares like manifest min/max (meta/manifests._encode_stat).
    ``validate_from`` defaults to the head of the op's read version
    ``meta`` — pass an
    older snapshot id when the source was computed against it (the
    multi-step-pipeline shape Iceberg covers with fromSnapshot).

    ``nms_domain`` extends the read set for WHEN NOT MATCHED BY SOURCE
    (r3 verdict #6 — previously refused): the clause READS the whole
    condition domain over the target, so a concurrent commit landing
    rows inside it changes the outcome. ``"all"`` = no condition / raw
    SQL condition (domain unknowable from stats) — every concurrent
    non-data-neutral commit conflicts; a tuple-predicate list = the
    scan planner's own per-entry test (``meta/scan.EntryTest``), zero
    data I/O."""
    if isolation != "serializable":
        return None
    from ..meta.manifests import _encode_stat

    base = (
        validate_from
        if validate_from is not None
        else meta.current_snapshot_id
    )
    spec = {
        "from_snapshot_id": base,
        "key": key,
        "min": _encode_stat(key_min),
        "max": _encode_stat(key_max),
    }
    if nms_domain is not None:
        if nms_domain == "all":
            spec["nms_domain"] = "all"
        else:
            from ..expressions import normalize_filter

            spec["nms_domain"] = list(normalize_filter(nms_domain))
    return spec


def _range_arrays(spark, live, key, key_type, names_of=None):
    """File [min,max] key ranges as numpy arrays for the interval sweep.

    Stats ship as strings (schema-stable manifests); they are cast back
    to the key's NATIVE type through Spark (one tiny local job over the
    #files-row range table) so ordering matches the engine's own cast
    semantics — a Python-side reparse would risk lexicographic numeric
    comparison ("9" > "10") and silently drop files that must be
    rewritten. Files missing either bound can't be pruned and are
    returned separately as always-touched.

    Returns (always_touched_paths, paths, lo_arr, hi_arr, kind) where
    ``kind`` tells the executor-side sweep how to coerce key batches to
    the same numpy dtype.
    """
    import numpy as np

    ranged, always = [], []
    for i, e in enumerate(live):
        # rename/drop safe: stats are keyed by the file's WRITE-TIME
        # column name; a file lacking the key field entirely reads as
        # all-NULL keys and stays conservatively always-touched
        phys = names_of(e, key) if names_of is not None else key
        st = (e.stats.get(phys) if phys is not None else None) or {}
        lo, hi = st.get("min"), st.get("max")
        if lo is None or hi is None:
            always.append(e.file_path)
        else:
            ranged.append((i, str(lo), str(hi)))
    if not ranged:
        return always, [], None, None, None
    cast = (
        spark.createDataFrame(ranged, "i long, lo string, hi string")
        .select(
            "i",
            F.col("lo").cast(key_type).alias("lo"),
            F.col("hi").cast(key_type).alias("hi"),
        )
        .collect()
    )
    paths, los, his = [], [], []
    by_idx = {i: e.file_path for i, e in enumerate(live)}
    for r in cast:
        if r.lo is None or r.hi is None:  # cast failure → can't prune
            always.append(by_idx[r.i])
            continue
        paths.append(by_idx[r.i])
        los.append(r.lo)
        his.append(r.hi)
    if not paths:
        return always, [], None, None, None
    if isinstance(key_type, (T.TimestampType, T.TimestampNTZType)):
        kind = "ts"
        conv = lambda vs: np.array(  # noqa: E731
            [np.datetime64(v, "us") for v in vs]
        ).astype("int64")
    elif isinstance(key_type, T.DateType):
        kind = "date"
        conv = lambda vs: np.array(  # noqa: E731
            [np.datetime64(v, "D") for v in vs]
        ).astype("int64")
    elif isinstance(key_type, T.StringType):
        kind = "str"
        conv = lambda vs: np.array(vs, dtype="U")  # noqa: E731
    elif isinstance(
        key_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        kind = "int"
        conv = lambda vs: np.array(vs, dtype="int64")  # noqa: E731
    elif isinstance(key_type, (T.FloatType, T.DoubleType)):
        kind = "float"
        conv = lambda vs: np.array(vs, dtype="float64")  # noqa: E731
    else:  # binary / decimal — object arrays, Python-compare searchsorted
        kind = "obj"
        conv = lambda vs: np.array(vs, dtype=object)  # noqa: E731
    return always, paths, conv(los), conv(his), kind


def _batch_keys_to_np(series, kind):
    """Coerce one Arrow batch of source keys to the sweep's numpy dtype."""
    import numpy as np
    import pandas as pd

    s = series.dropna()
    if kind == "ts":
        return pd.to_datetime(s).to_numpy("datetime64[us]").astype("int64")
    if kind == "date":
        return pd.to_datetime(s).to_numpy("datetime64[D]").astype("int64")
    if kind == "str":
        return s.to_numpy(dtype="U")
    if kind == "int":
        return s.to_numpy(dtype="int64")
    if kind == "float":
        return s.to_numpy(dtype="float64")
    return np.array(list(s), dtype=object)


def prune_files_by_key_bucket(spark, meta, src, key, live):
    """Partition-level pruning for bucket-partitioned tables.

    On a table partitioned by ``bucket(key, n)`` the per-file [min,max]
    key range is useless (each bucket holds a uniform sample of the key
    space, so every file's range spans everything and the interval
    sweep keeps all files). But the partition VALUE is exact: a file in
    bucket b can only contain keys with ``pmod(xxhash64(key), n) = b``.
    One tiny distinct-aggregate over the source keys per distinct n
    (≤ n rows out) bounds the touched set to the buckets the source
    actually hits — a selective upsert of k keys touches ≤ k buckets of
    n no matter how many files the table has.

    Spec-evolution safe: buckets are resolved PER spec_id, and files
    whose spec carries no bucket-on-key field are always kept."""
    bucket_fields = {}
    for sid, spec in enumerate(meta.partition_specs or [meta.partition_spec]):
        for f in spec:
            if f.get("transform") == "bucket" and f.get("source") == key:
                bucket_fields[sid] = (f["name"], int(f["n"]))
    if not bucket_fields:
        return live
    from ..partitioning import partition_field_expr

    hit_by_n: dict[int, set] = {}
    for n in sorted({n for _, n in bucket_fields.values()}):
        expr = partition_field_expr(
            {"name": "b", "source": key, "transform": "bucket", "n": n}
        )
        hit_by_n[n] = {
            r.b
            for r in src.filter(F.col(key).isNotNull())
            .select(expr.alias("b"))
            .distinct()
            .collect()
        }
    kept = []
    for e in live:
        bf = bucket_fields.get(e.spec_id)
        if bf is None:
            kept.append(e)
            continue
        name, n = bf
        v = (e.partition or {}).get(name)
        if v is None or int(v) in hit_by_n[n]:
            kept.append(e)
    return kept


def probe_touched_files(
    spark, src_keys, key, key_type, live, table_root=None, names_of=None
) -> list[str]:
    """Distributed sorted-interval sweep: which live files' [min,max]
    range on ``key`` contains ≥1 source key?

    No join in the plan at all (the previous non-equi broadcast range
    join compiled to a BroadcastNestedLoopJoin — O(keys·files)): the
    plan is scan(keys) → mapInPandas(sweep) → distinct-aggregate →
    collect, with output bounded by the file count. Each batch emits
    the file indices it touches, so the shuffle moves at most
    O(batches · files-touched) longs.

    When ``table_root`` is given and the merge key has Bloom sidecars
    (lakehouse/bloom.py, ``bloom_columns`` table property), a second
    vectorized pass re-tests the range-touched files against their
    blooms: on an UNSORTED key every file's range overlaps every key,
    so the interval sweep touches everything — the blooms are what keep
    a sparse upsert from rewriting the whole table on the COW path.
    """
    always, paths, lo_arr, hi_arr, kind = _range_arrays(
        spark, live, key, key_type, names_of
    )
    touched = set(always)
    if not paths:
        return sorted(touched)
    import numpy as np

    bc = spark.sparkContext.broadcast((lo_arr, hi_arr, kind))

    def sweep(batches):
        import pandas as pd

        lo_a, hi_a, knd = bc.value
        n_files = len(lo_a)
        for pdf in batches:
            ks = _batch_keys_to_np(pdf["__k"], knd)
            if not len(ks):
                continue
            ks = np.sort(ks)
            pos = np.searchsorted(ks, lo_a, side="left")
            inb = pos < len(ks)
            hit = np.zeros(n_files, dtype=bool)
            hit[inb] = ks[np.minimum(pos[inb], len(ks) - 1)] <= hi_a[inb]
            idx = np.nonzero(hit)[0]
            if len(idx):
                yield pd.DataFrame({"fidx": idx.astype("int64")})

    # drop null keys IN SPARK, before Arrow→pandas: a long column that
    # reaches pandas with a null becomes float64 and loses exactness
    # above 2^53, which would misplace searchsorted near file bounds
    rows = (
        src_keys.select(F.col(key).alias("__k"))
        .filter(F.col("__k").isNotNull())
        .mapInPandas(sweep, "fidx long")
        .distinct()
        .collect()
    )
    bc.unpersist()
    touched.update(paths[r.fidx] for r in rows)
    if table_root is not None:
        touched = _bloom_refine_touched(
            spark, src_keys, key, live, touched, table_root, names_of
        )
    return sorted(touched)


BLOOM_REFINE_CAP = 1024  # max candidate sidecars per task worth loading


def _bloom_refine_touched(
    spark, src_keys, key, live, touched, table_root, names_of=None
) -> set[str]:
    """Drop range-touched files whose Bloom filter proves no source key
    is present. One extra vectorized pass over the source keys; each
    task loads candidate sidecars once from shared storage (no driver
    broadcast of bitsets — they can be ~1 MB per file). Superset
    semantics: a missing/absent bloom keeps the file."""
    by_path = {e.file_path: e for e in live}

    def _phys(e):
        return names_of(e, key) if names_of is not None else key

    phys_by_path = {
        p: _phys(by_path[p]) for p in touched if p in by_path
    }
    cands = sorted(
        p
        for p in touched
        if phys_by_path.get(p) is not None
        and (by_path[p].stats.get(phys_by_path[p]) or {}).get("bloom")
    )
    if not cands or len(cands) > BLOOM_REFINE_CAP:
        return touched

    cand_abs = [
        (os.path.join(table_root, p), phys_by_path[p]) for p in cands
    ]
    bcp = spark.sparkContext.broadcast(cand_abs)

    def bloom_sweep(batches):
        import pandas as pd

        from ..bloom import probe_hashes, read_sidecar, unpack_bloom

        unpacked = []
        missing = []
        for i, (ap, pkey) in enumerate(bcp.value):
            b = (read_sidecar(ap) or {}).get(pkey)
            if b is None:
                missing.append(i)  # lost sidecar → conservative keep
            else:
                unpacked.append((i, unpack_bloom(b)))
        hit: set = set(missing)
        for pdf in batches:
            remaining = [(i, u) for i, u in unpacked if i not in hit]
            if not remaining:
                continue  # all candidates already confirmed; drain input
            hashes = probe_hashes(pdf["__k"].dropna().tolist())
            if hashes is None:
                continue
            from ..bloom import unpacked_contains_any

            for i, u in remaining:
                if unpacked_contains_any(u, hashes):
                    hit.add(i)
        if hit:
            yield pd.DataFrame({"fidx": sorted(hit)})

    rows = (
        src_keys.select(F.col(key).alias("__k"))
        .filter(F.col("__k").isNotNull())
        .mapInPandas(bloom_sweep, "fidx long")
        .distinct()
        .collect()
    )
    bcp.unpersist()
    bloom_hit = {cands[r.fidx] for r in rows}
    return (touched - set(cands)) | bloom_hit


def anti_join_kept(
    target: DataFrame,
    keys: DataFrame,
    key: str,
    *,
    strategy: str = "auto",
    key_bytes: int = 0,
    broadcast_threshold: int = 32 * 1024 * 1024,
) -> DataFrame:
    """``target ⟕anti keys`` — the only join MERGE ever runs.

    broadcast: the wide target side never shuffles. shuffle: a plain
    left-anti with one Spark-inserted exchange per side and nothing
    else — exposed as a function so the plan gate in tests/test_plans.py
    can assert the exchange count directly.
    """
    use_broadcast = strategy == "broadcast" or (
        strategy == "auto" and key_bytes <= broadcast_threshold
    )
    if use_broadcast:
        return target.join(
            F.broadcast(keys), target[key] == keys["__k"], "left_anti"
        )
    return target.join(keys, target[key] == keys["__k"], "left_anti")


def _normalize_nms(schema, nms, cond):
    """Validate the WHEN NOT MATCHED BY SOURCE clause (Delta's
    whenNotMatchedBySourceDelete / ...Update analog).

    ``nms``: None | "delete" | {col: sql_expr or Column} (update-set
    map).
    ``cond``: None (clause applies to every unmatched row) | SQL string
    or Column over target columns | tuple-filter list in the engine's
    predicate language (``expressions.normalize_filter``) — the tuple
    form is what enables manifest pruning and metadata-only whole-file
    drops.

    Returns ``(nms, cond_sql, cond_preds)``; ``cond_preds`` is None for
    raw-SQL conditions (no stats reasoning possible — every live file
    becomes a rewrite candidate).
    """
    if nms is None:
        if cond is not None:
            raise MergeError(
                "not_matched_by_source_condition without "
                "not_matched_by_source"
            )
        return None, None, None
    names = {f.name for f in schema.fields}
    if isinstance(nms, dict):
        if not nms:
            raise MergeError("empty not_matched_by_source update-set map")
        bad = sorted(set(nms) - names)
        if bad:
            raise MergeError(
                f"not_matched_by_source update targets unknown "
                f"columns: {bad}"
            )
    elif nms != "delete":
        raise MergeError(
            "not_matched_by_source must be 'delete' or an "
            "update-set {column: sql_expr} dict"
        )
    if cond is None:
        return nms, None, None
    if isinstance(cond, (str, Column)):
        if isinstance(cond, str) and not cond.strip():
            # an empty string is falsy downstream and would silently
            # become an UNCONDITIONAL full-sync delete — the templating
            # bug that loses a table
            raise MergeError("empty not_matched_by_source_condition")
        return nms, cond, None
    from ..expressions import normalize_filter, to_sql

    preds = normalize_filter(cond)
    sql = to_sql(preds)
    if sql is None:
        raise MergeError("empty not_matched_by_source_condition")
    return nms, sql, preds


def _nms_candidates(meta, cond_preds, files):
    """The files of the merge's one plan the NMS clause can reach: a
    tuple-language condition prunes them driver-side with the planner's
    own per-entry test (``meta/scan.EntryTest``, without Bloom sidecar
    IO); any other condition reaches every file."""
    if not cond_preds:
        return list(files)
    from ..meta.scan import EntryTest

    may_match = EntryTest(meta, cond_preds)
    return [e for e in files if may_match(e)]


def _nms_file_sets(meta, nms, cond_sql, cond_preds, touched, live_all):
    """Split the NMS clause's candidate files into metadata-only drops
    and rewrites, from manifest stats alone (zero data IO).

    Candidates come from ``live_all`` — the SAME entry list the key
    probe planned against (no second manifest sweep, no snapshot-
    consistency window between two plans).

    A file whose every row satisfies the condition can be DROPPED
    outright under ``nms == "delete"``: its unmatched rows are deleted
    by the clause and its matched rows are re-emitted verbatim from the
    source union side of the closed form — the file contributes nothing
    to kept_target, even when the key probe touched it. Boundary files
    (condition holds for some rows only, or a raw-SQL condition where
    stats can't decide) are rewritten with the residual filter; the
    update-set form never drops (unmatched rows survive, mutated)."""
    if nms is None:
        return [], []
    cands = _nms_candidates(meta, cond_preds, live_all)
    drops, rewrites = [], []
    if nms == "delete":
        from ..fieldids import stats_lookup
        from .agg import _file_fully_matches

        stats_of = stats_lookup(meta.schemas, meta.current_schema_id)
        for e in cands:
            # no condition at all → every row is in scope → droppable;
            # a raw-SQL condition gives stats nothing to reason with →
            # always a rewrite candidate
            if (cond_sql is None) or (
                cond_preds is not None
                and _file_fully_matches(e, cond_preds, stats_of)
            ):
                drops.append(e)
            else:
                rewrites.append(e)
    else:
        rewrites = list(cands)
    touched_set = set(touched)
    rewrites = [e for e in rewrites if e.file_path not in touched_set]
    return drops, rewrites


BROADCAST_THRESHOLD = 32 * 1024 * 1024  # key bytes the broadcast path takes
TARGET_FILE_BYTES = 128 * 1024 * 1024  # output files sized like appends


def _not_delete() -> Column:
    """Source rows that land in the table: every op but ``delete``."""
    return F.col("__op").isNull() | (F.col("__op") != DELETE_OP)


@dataclass
class _Applied:
    """What a mode's apply step hands the one commit."""

    data: list  # data files written (source rows, rewritten target rows)
    deletes: list  # equality-delete files (MoR)
    removed: list  # target paths the commit retires (COW)
    files_in: list  # target files read and rewritten (COW)
    bytes_in: int
    summary: dict  # the mode's snapshot-summary keys


def merge_into(
    table,
    meta,
    source: DataFrame,
    *,
    mode: str = "cow",
    key: str = "clip_id",
    op_col: str = "op",
    target_file_count: Optional[int] = None,
    job_id: Optional[str] = None,
    strategy: Optional[str] = None,
    broadcast_threshold: Optional[int] = None,
    branch: Optional[str] = None,
    extra_summary: Optional[dict] = None,
    set_props: Optional[dict] = None,
    isolation: str = "snapshot",
    validate_from: Optional[int] = None,
    not_matched_by_source=None,
    not_matched_by_source_condition=None,
) -> MergeResult:
    """MERGE INTO ``table`` (read version ``meta``) from ``source`` on
    ``key``, in either storage mode (module docstring): one source pass,
    one validation, one plan, one commit. ``strategy`` and
    ``broadcast_threshold`` are copy-on-write only, ``branch`` (commit
    onto a staging branch) is merge-on-read only."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown merge mode: {mode!r}")
    cow = mode == "cow"
    foreign = (
        {"branch": branch}
        if cow
        else {"strategy": strategy, "broadcast_threshold": broadcast_threshold}
    )
    bad = sorted(k for k, v in foreign.items() if v is not None)
    if bad:
        raise TypeError(f"mode={mode!r} MERGE takes no {bad[0]!r} argument")
    strategy = strategy or "auto"
    if broadcast_threshold is None:
        broadcast_threshold = BROADCAST_THRESHOLD
    if isolation not in ("snapshot", "serializable"):
        raise MergeError(f"unknown isolation level: {isolation!r}")
    if strategy not in ("auto", "broadcast", "shuffle"):
        raise MergeError(f"unknown merge strategy: {strategy!r}")
    schema = T.StructType.fromJson(meta.schema_json)
    if key not in [f.name for f in schema.fields]:
        raise MergeError(f"merge key {key!r} not in table schema")
    nms, nms_cond_sql, nms_cond_preds = nms_clause = _normalize_nms(
        schema, not_matched_by_source, not_matched_by_source_condition
    )
    if not cow and isinstance(nms, dict):
        raise MergeError(
            "not_matched_by_source update-set is copy-on-write only "
            "(mutating unmatched rows reads + rewrites payloads); "
            "use mode='cow'"
        )
    # NMS read set under serializable isolation: the condition's tuple
    # domain when stats can bound it, else the whole table ("all" —
    # raw-SQL conditions and unconditional full sync read everything
    # unmatched)
    nms_domain = (
        None
        if nms is None
        else (nms_cond_preds if nms_cond_preds is not None else "all")
    )

    src = conform_merge_source(schema, source, op_col)
    # identity columns: fill NULL ids of genuinely-new NON-DELETE source
    # rows (carried ids — the upsert shape — pass through; DELETE-op
    # rows never get a generated id, so a NULL identity merge key fails
    # a key rule instead of becoming a no-op delete of a fresh key; the
    # watermark advance + CAS guard land with the commit below, same
    # contract as Table.append). GENERATED ALWAYS: explicit ids on
    # insert-shaped rows are rejected before any write (against the
    # branch head when a transaction stages one).
    from ..identity import (
        advance_watermarks,
        assign_identity,
        identity_of,
        validate_merge_supplied_ids,
    )

    id_specs = identity_of(meta.properties)
    if id_specs:
        validate_merge_supplied_ids(
            table, meta, src, id_specs, key, branch=branch
        )
        src = assign_identity(
            src, id_specs, allow_supplied=True, generate_where=_not_delete()
        )
    # the stats pass, the key probes, the anti-join / delete-key write
    # and the append all read the source: persist it so an arbitrary
    # user plan (e.g. a filtered table scan) executes once
    from pyspark import StorageLevel

    src = src.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # --- one narrow pass: key rules + KEY-volume estimate ------------
        # (the COW join only ever moves keys, so its strategy is keyed on
        # key bytes — payload size is irrelevant to it)
        key_type = schema[key].dataType
        key_sz = (
            F.coalesce(F.length(F.col(key).cast("string")), F.lit(0)) + 16
            if isinstance(key_type, (T.StringType, T.BinaryType))
            else F.lit(24)
        )
        stats = (
            src.select(F.col(key).alias("__k"), key_sz.alias("__sz"))
            .groupBy("__k")
            .agg(F.count(F.lit(1)).alias("n"), F.max("__sz").alias("b"))
            .agg(
                F.sum("n").alias("rows"),
                F.sum(F.when(F.col("__k").isNotNull(), F.col("n"))).alias(
                    "nonnull"
                ),
                F.max("n").alias("max_n"),
                F.sum("b").alias("key_bytes"),
                F.min("__k").alias("key_min"),
                F.max("__k").alias("key_max"),
            )
            .collect()[0]
        )
        n_rows = int(stats.rows or 0)
        if not cow and int(stats.nonnull or 0) < n_rows:
            raise MergeError(
                f"merge-on-read MERGE: {n_rows - int(stats.nonnull or 0)} "
                f"source rows have a NULL {key!r} — an equality delete "
                f"cannot target them. Use the copy-on-write path."
            )
        if (stats.max_n or 0) > 1:
            dup = (
                src.groupBy(key)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .limit(1)
                .collect()
            )
            raise MergeError(
                f"duplicate source keys (e.g. {dup[0][key]!r}); MERGE "
                f"requires a unique {key} per source row"
            )
        if n_rows == 0 and nms is None:
            # nothing to match, insert or sync: no fold-in, no write
            # job, no snapshot
            return MergeResult(job_id or "merge-empty", None, 0, 0, 0)
        if cow:
            # COW rewrites raw files: pending deletes fold in first. MoR
            # needs none: its delete gets a NEW seq that the rows it
            # appends share (so they survive), and older pending deletes
            # keep applying to their older files.
            meta = table._materialize_pending_deletes(meta)
        # an empty source has no key range to miss — but an NMS clause
        # still reads its whole condition domain, so its spec survives
        validate = _validation_spec(
            meta, isolation, validate_from, key,
            stats.key_min if n_rows else None,
            stats.key_max if n_rows else None,
            nms_domain=nms_domain,
        )
        # a transaction's branch ref only exists after its first staged
        # commit; before that its parent IS the main head
        plan = table._plan(meta, ref=branch if branch in meta.refs else None)
        log = LineageLog(table.root, job_id)
        log.start_job("merge", {"mode": mode, "key": key, "src_rows": n_rows})
        if cow:
            applied = _apply_cow(
                table, meta, schema, plan.files, src, key, stats, nms_clause,
                strategy=strategy,
                broadcast_threshold=broadcast_threshold,
                target_file_count=target_file_count,
                job_dir=f"data/{log.job_id}",
            )
        else:
            applied = _apply_mor(
                table, meta, schema, plan, src, key, n_rows, nms_clause,
                target_file_count=target_file_count,
                job_dir=f"data/{log.job_id}",
            )

        rows_written = sum(e.record_count for e in applied.data)
        props_guard = None
        if id_specs:
            id_props, props_guard = advance_watermarks(id_specs, applied.data)
            set_props = {**(set_props or {}), **id_props}
        snap = table._commit_files(
            "merge",
            applied.deletes + applied.data,
            applied.removed,
            summary={
                "job_id": log.job_id,
                **applied.summary,
                "rows_written": rows_written,
                **(extra_summary or {}),
            },
            set_props=set_props,
            branch=branch,
            validate=validate,
            props_guard=props_guard,
            base=meta,
        )
        log.finish_task(
            "merge",
            applied.deletes + applied.data,
            files_in=applied.files_in,
            bytes_in=applied.bytes_in,
        )
        log.finish_job(
            {"snapshot_id": snap.snapshot_id, "rows_written": rows_written}
        )
        return MergeResult(
            job_id=log.job_id,
            snapshot_id=snap.snapshot_id,
            files_touched=len(applied.files_in),
            files_written=len(applied.data),
            rows_written=rows_written,
        )
    finally:
        src.unpersist()


def _apply_cow(
    table, meta, schema, live_all, src, key, stats, nms, *,
    strategy, broadcast_threshold, target_file_count, job_dir,
) -> _Applied:
    """Copy-on-write: prune → probe → keys-only anti-join → NMS rewrite.
    Rewrites the touched target files and returns them as removed."""
    spark = table.spark
    key_type = schema[key].dataType
    nms, nms_cond_sql, nms_cond_preds = nms
    n_rows = int(stats.rows or 0)

    # --- file-level pruning: which target files can contain source keys? -----
    live = live_all
    if n_rows == 0:
        touched = []
    else:
        live = prune_files_by_key_bucket(spark, meta, src, key, live)
        from ..fieldids import name_lookup

        names_of = name_lookup(meta.schemas, meta.current_schema_id)
        # probe cost guard (manifest arithmetic, zero I/O): the probe's
        # ONLY win is dropping candidate files holding no source key —
        # with a DENSE source the expected number of droppable files is
        # ~0 and the probe is a pure extra pass over every candidate's
        # key column. Driver-side first: range-prefilter candidates on
        # the source [min,max] (the same conservative stat compare the
        # probe's sweep starts from), then estimate, per survivor,
        # P(no source key lands in it) ≈ exp(-src_rows · rows_f/rows_T)
        # under uniform draw. If the expected droppable count is < 0.5
        # files, skip the probe and rewrite every candidate — always
        # correct (a no-match file rewrites verbatim), and the sparse
        # shapes (trickle upserts, bloom-backed point merges, where the
        # probe pays for itself thousandfold) keep it.
        cands = None
        from ..meta.manifests import _encode_stat

        kmin = _encode_stat(stats.key_min)
        kmax = _encode_stat(stats.key_max, upper=True)
        if kmin is not None and kmax is not None:
            try:
                cands = []
                for e in live:
                    phys = names_of(e, key)
                    st = (e.stats.get(phys) or {}) if phys else {}
                    lo, hi = st.get("min"), st.get("max")
                    if lo is None or hi is None or not (
                        hi < kmin or lo > kmax
                    ):
                        cands.append(e)
            except TypeError:
                cands = None  # incomparable stat/literal types
        skip_probe = False
        if cands is not None:
            import math

            rows_t = sum(e.record_count for e in live_all) or 1
            exp_droppable = sum(
                math.exp(-n_rows * e.record_count / rows_t) for e in cands
            )
            skip_probe = exp_droppable < 0.5
        if skip_probe:
            touched = sorted(e.file_path for e in cands)
        else:
            touched = probe_touched_files(
                spark, src, key, key_type, live, table_root=table.root,
                names_of=names_of,
            )

    # --- WHEN NOT MATCHED BY SOURCE: extra drops + rewrites ------------------
    nms_drops, nms_rewrites = _nms_file_sets(
        meta, nms, nms_cond_sql, nms_cond_preds, touched, live_all
    )
    if nms_drops:
        # fully-condition-matching files vanish metadata-only; a key-
        # touched one among them contributes nothing to kept_target
        # (matched rows re-emitted from source, unmatched deleted)
        drop_paths = {e.file_path for e in nms_drops}
        touched = [p for p in touched if p not in drop_paths]

    cols = [f.name for f in schema.fields]
    touched_set = set(touched)
    touched_entries = [e for e in live if e.file_path in touched_set]
    touched_entries += nms_rewrites
    touched = touched + [e.file_path for e in nms_rewrites]
    bytes_touched = sum(e.file_size_bytes for e in touched_entries)
    rows_touched = sum(e.record_count for e in touched_entries)
    if target_file_count is None:
        # without an explicit count the union branches would write
        # (scan tasks × partition values) fragment files; size the
        # output like an append instead. Source bytes are estimated
        # from the touched files' average row size.
        avg_row = bytes_touched / rows_touched if rows_touched else 1024
        src_bytes_est = int(n_rows * avg_row)
        target_file_count = max(
            1, -(-(bytes_touched + src_bytes_est) // TARGET_FILE_BYTES)
        )
    if touched:
        from ..meta.scan import read_entries

        target_sub = read_entries(
            spark, meta, table.root, touched_entries, schema
        )
    else:
        target_sub = spark.createDataFrame([], schema)

    # --- the keys-only anti-join ---------------------------------------------
    # result = (touched target ⟕anti source keys) ∪ (source minus deletes):
    # matched updates and unmatched inserts are both the source row
    # verbatim, matched deletes vanish — no payload ever enters a join.
    # broadcast: key set broadcast; the wide target side never shuffles —
    #   rows stream parquet-scan → anti-filter → write, total IO =
    #   read-touched + write-touched (the everyday 10^12-row MERGE shape:
    #   a trickle of updates against huge files).
    # shuffle: large key set → plain left-anti join; Spark inserts
    #   exactly ONE hash exchange per side (ENSURE_REQUIREMENTS). Keys
    #   are unique on both sides (duplicates rejected above) so join-key
    #   skew cannot exist; AQE balances residual partition imbalance.
    #   Gated by tests/test_plans.py::
    #   test_merge_shuffle_single_exchange_per_side.
    keys = src.select(F.col(key).alias("__k"))
    kept_target = anti_join_kept(
        target_sub,
        keys,
        key,
        strategy=strategy,
        key_bytes=int(stats.key_bytes or 0),
        broadcast_threshold=broadcast_threshold,
    )
    # NMS clause over the kept (by construction unmatched) rows: delete
    # filters them out where the condition holds; the update-set form
    # mutates them in place — one extra codegen'd projection, no join.
    # SQL three-valued logic: the clause fires only where the condition
    # is TRUE — a NULL condition must KEEP (delete) / skip (update) the
    # row, exactly like WHERE; hence the coalesce(cond, false), and the
    # same rule the metadata-drop dual already enforces via
    # _always_matches_stats' nulls==0 requirement.
    if nms == "delete":
        kept_target = (
            kept_target.filter(
                ~F.coalesce(sql_column(nms_cond_sql), F.lit(False))
            )
            if nms_cond_sql is not None
            else kept_target.filter(F.lit(False))
        )
    elif isinstance(nms, dict):
        cond_c = (
            F.coalesce(sql_column(nms_cond_sql), F.lit(False))
            if nms_cond_sql is not None
            else F.lit(True)
        )
        kept_target = kept_target.select(
            *[
                F.when(cond_c, sql_column(nms[c]).cast(schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
                if c in nms
                else F.col(c)
                for c in cols
            ],
            *[c for c in kept_target.columns if c not in cols],
        )
    from_source = src.filter(_not_delete()).select(*cols)
    result = kept_target.select(*cols).unionByName(from_source)

    entries = write_data_files(
        table.root,
        meta.schema_json,
        meta.partition_spec,
        result,
        properties=meta.properties,
        target_file_count=target_file_count,
        job_dir=job_dir,
    )
    return _Applied(
        data=entries,
        deletes=[],
        removed=touched + [e.file_path for e in nms_drops],
        files_in=touched,
        bytes_in=bytes_touched,
        summary={
            "files_touched": len(touched),
            **(
                {"nms_files_dropped": len(nms_drops)}
                if nms is not None
                else {}
            ),
        },
    )


def _apply_mor(
    table, meta, schema, plan, src, key, n_rows, nms, *,
    target_file_count, job_dir,
) -> _Applied:
    """Merge-on-read: equality-delete shards of every source key (plus
    the NMS clause's unmatched target keys) and the non-delete source
    rows appended. No target data file is rewritten."""
    from pyspark import StorageLevel

    from .mor import _write_eq_delete_file

    nms, nms_cond_sql, nms_cond_preds = nms
    if target_file_count is None:
        # size appends like the COW path from manifest stats alone — no
        # target data read
        tb = sum(e.file_size_bytes for e in plan.files)
        tr = sum(e.record_count for e in plan.files)
        avg_row = tb / tr if tr else 1024
        target_file_count = max(
            1, -(-int(n_rows * avg_row) // TARGET_FILE_BYTES)
        )
    data, deletes = [], []
    if n_rows:
        data = write_data_files(
            table.root,
            meta.schema_json,
            meta.partition_spec,
            src.filter(_not_delete()).select(*[f.name for f in schema.fields]),
            properties=meta.properties,
            target_file_count=target_file_count,
            job_dir=job_dir,
        )
        # after the data write: Spark's parquet save refuses a pre-
        # existing target path, and {job_dir}/deletes nested first
        # would make job_dir exist
        deletes = _write_eq_delete_file(
            table, src.select(F.col(key)), key, f"{job_dir}/deletes",
            n_keys=n_rows,
        )
    summary = {"mode": "merge-on-read", "key": key}
    if nms is not None:  # "delete": the update-set form is refused
        # unmatched target keys: the plan's condition-pruned files read
        # column-pruned by Catalyst to key + condition columns (pending
        # deletes applied, so dead keys aren't re-deleted), then a
        # keys-only left-anti against the source key set. Under a
        # transaction the plan is the branch head's — read-your-writes:
        # rows staged earlier in the txn are full-sync candidates too,
        # and rows the txn already deleted must not re-surface.
        from ..meta.scan import read_entries

        dead = read_entries(
            table.spark, meta, table.root,
            _nms_candidates(meta, nms_cond_preds, plan.files),
            deletes=plan.delete_files,
        )
        if nms_cond_sql is not None:
            dead = dead.filter(sql_column(nms_cond_sql))
        dead = dead.select(F.col(key))
        if n_rows:
            dead = dead.join(src.select(F.col(key)), on=key, how="left_anti")
        dead = dead.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            counts = dead.agg(
                F.count(F.lit(1)).alias("n"), F.count(key).alias("nonnull")
            ).collect()[0]
            n_dead = int(counts.n or 0)
            if n_dead > int(counts.nonnull or 0):
                # an equality delete can never retire a NULL-key row
                # (delete application is a join, NULL matches nothing)
                # — silently writing these keys would break COW/MoR
                # parity
                raise MergeError(
                    f"not_matched_by_source: "
                    f"{n_dead - int(counts.nonnull or 0)} unmatched "
                    f"row(s) have a NULL {key!r}; an equality delete "
                    "cannot target them — use mode='cow'"
                )
            if n_dead:
                deletes = deletes + _write_eq_delete_file(
                    table, dead, key, f"{job_dir}/deletes-nms",
                    n_keys=n_dead,
                )
        finally:
            dead.unpersist()
        summary["nms_keys_deleted"] = n_dead
    summary["keys_in_delete_file"] = sum(e.record_count for e in deletes)
    return _Applied(data, deletes, [], [], 0, summary)
