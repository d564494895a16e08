"""PySpark Python DataSource surface: ``spark.read.format("lakehouse")``.

The reference exposes its bronze table to analysts through the Glue
catalog so any engine can ``SELECT`` from it by name
(/root/reference/README.md:104-114,
/root/reference/infra/terraform/modules/glue/main.tf:130-182). Our
engine's native path is ``Table.scan()`` (JVM parquet scan, fastest) and
snapshot-pinned temp views; this module adds the third integration
surface — a registered Spark *data source* — so the table participates
in the standard ``spark.read.format(...)`` / ``spark.readStream``
machinery without importing the library at call sites beyond
registration.

Two readers:

- **batch** — plans against table metadata on the driver (the same
  spark-free ``plan_scan`` the native path uses: partition pruning,
  min/max file skipping, manifest summary pruning) on the one metadata
  version the reader read at construction, bin-packs surviving
  files into input partitions, and reads them as Arrow record batches in
  executors via pyarrow. Merge-on-read deletes — equality (key values)
  and positional ((file_path, row_pos) rows) — are applied in-task with
  the Iceberg sequence rule (data ``seq`` < delete ``seq``).
  ``pushFilters`` feeds Spark's own WHERE clause into file pruning but
  reports every filter as unsupported, so Spark still applies them
  row-level — file skipping is a superset optimization and can never
  change results.

Two writers (same registered format):

- **batch** — ``df.write.format("lakehouse").mode("append"|"overwrite")``:
  tasks conform Arrow batches to the table schema, split rows by the
  partition spec's derived values, and stream each group into parquet
  files inside an immutable job dir; the driver harvests footer stats
  for exactly the task-reported files and publishes one atomic snapshot
  through the same commit core as ``Table.append()`` (overwrite removes
  every previously-live file in the same commit).

- **stream** — ``df.writeStream.format("lakehouse")``: idempotent
  micro-batch appends keyed by ``stream_batch_id`` in the snapshot
  summary, so a checkpoint replay after restart drops its duplicate
  files instead of double-committing — the standard-API form of
  ``streaming.append_batch``.

Both writers share one planning/task/abort half and harvest through
``ops/append.harvest_stats``. Of the table's write contract they APPLY
the plain data work: column DEFAULTs (the readers' Arrow conform),
Bloom sidecars and ``agg_stats_columns`` sums (harvest). They REFUSE
at planning time every table whose contract needs Spark (SQL
expressions, a range-partitioned sort) or a commit-time watermark:
CHECK constraints, generated columns, identity columns and a sort
order (``ops/append.write_contract``, the list the Spark-side writer
applies), plus bucket specs (JVM xxhash64). So no row ever commits
outside the contract ``Table.append`` enforces.

- **stream** — ``spark.readStream.format("lakehouse")``: offsets are
  snapshot ids, each micro-batch reads exactly the data files appended
  in ``(start, end]``, as planned by the one change planner
  ``ops/changes.plan_changes`` that ``Table.incremental_scan`` uses too
  (data-neutral replace/rewrite snapshots are skipped; row-changing
  snapshots raise unless ``allow_replays``); ``changes=true`` streams
  its per-snapshot steps as CDC rows. The two readers differ only in
  how they read the planned files.
  Offsets live in the query checkpoint, so restart resumes exactly-once
  as long as the referenced snapshots have not been expired.
  PySpark 4.1's Python stream reader has no Trigger.AvailableNow hook,
  so ``trigger(availableNow=True)`` runs as ONE micro-batch up to
  ``latestOffset`` (Spark logs a fallback warning); with
  ``max_snapshots_per_batch`` set, that one batch still stops at the
  rate limit, and the rest is read by the next run.

Every Arrow read — batch, ``changes=true`` CDC, and the storage-
partitioned join (spj.py) — goes through ONE per-file kernel,
:func:`read_files`: physical names by field id (``fieldids.physical_
names``), fills and initial-defaults, then one select/exclude row mask
for selector and delete files under the sequence rule. It is the Arrow
counterpart of the Spark-side kernel ``meta/scan.read_entries``.

Scale note: the Arrow-in-Python read path moves data through executor
Python workers, so it deliberately targets *integration* (federated
engines, streaming tails, moderate scans), not the 100 TB maintenance
hot path — compaction/clustering/MERGE keep the JVM-native
``Table.scan()``. Planning itself is identical metadata work either way.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    WriterCommitMessage,
)

from . import fieldids
from .errors import LakehouseError
from .expressions import Predicate
from .meta.manifests import pack_by_size
from .meta.scan import plan_scan
from .meta.snapshots import TableMetadata, load_metadata

FORMAT_NAME = "lakehouse"
DEFAULT_PARTITION_BYTES = 128 * 1024 * 1024


def register(spark) -> None:
    """Register the ``lakehouse`` format on a SparkSession (idempotent).

    Degrades gracefully in host sessions that disable Python-datasource
    filter pushdown: Spark 4.1 hard-errors (``DATA_SOURCE_PUSHDOWN_DISABLED``)
    if the reader class merely *defines* ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false — so when the
    active session has it off we register a variant whose batch reader
    carries no ``pushFilters`` attribute at all. Pushdown here is a
    file-skipping optimization (every filter is reported unsupported and
    re-applied row-level by Spark), so rows are identical either way.
    Per-read override: ``.option("pushdown", "false")``.
    """
    enabled = str(
        spark.conf.get("spark.sql.python.filterPushdown.enabled", "true")
    ).lower() == "true"
    spark.dataSource.register(
        LakehouseDataSource if enabled else LakehouseNoPushdownDataSource
    )


# --- option handling ----------------------------------------------------------


def _table_root(options) -> str:
    cat = options.get("catalog")
    name = options.get("table")
    if cat and name:
        from .catalog import Catalog

        return Catalog.load(cat).resolve(name)
    if cat or name:
        raise LakehouseError(
            "catalog reads need BOTH .option('catalog', <path>) and "
            ".option('table', <name>)"
        )
    root = options.get("path")
    if not root:
        raise LakehouseError(
            "lakehouse data source needs a table root: "
            ".load('/path/to/table') or .option('path', ...), or a "
            "catalog+table option pair"
        )
    return root


def _resolve_snapshot(meta: TableMetadata, options) -> Optional[int]:
    """snapshot_id / ref options → pinned snapshot id (None = current)."""
    sid = options.get("snapshot_id")
    ref = options.get("ref")
    if sid is not None and ref is not None:
        raise LakehouseError("pass snapshot_id OR ref, not both")
    if sid is not None:
        return int(sid)
    if ref is None or ref == "main":
        return None
    info = meta.refs.get(ref)
    if info is None:
        raise LakehouseError(
            f"unknown ref {ref!r}; available: {sorted(meta.refs)}"
        )
    return info["snapshot_id"]


def _snapshot_schema(meta: TableMetadata, sid: Optional[int]) -> T.StructType:
    """Schema as of a snapshot (time travel reads old shapes)."""
    return T.StructType.fromJson(
        meta.schemas[_view_schema_id(meta, sid)]
    )


def _view_schema_id(meta: TableMetadata, sid: Optional[int]) -> int:
    if sid is None or not meta.snapshots:
        return meta.current_schema_id
    snap = meta.snapshot(sid)
    if snap.schema_id < len(meta.schemas):
        return snap.schema_id
    return meta.current_schema_id


# --- partitions ---------------------------------------------------------------


class FilesPartition(InputPartition):
    """One read task: a bin of data files (+ the delete files that may
    mask their rows). Plain dicts/ints only — shipped by pickle.

    CDC-stream partitions (``changes=true`` readers) additionally carry
    ``change`` ('insert' | 'delete'), the committing ``snapshot_id``,
    and — for delete rows — ``selectors``: the commit's NEW delete
    files, applied as a row SELECTOR (keep rows they kill; None =
    every row) while ``deletes`` stays the usual exclusion (rows
    already dead BEFORE the commit must not re-emit)."""

    def __init__(self, files, deletes, *, change=None, selectors=None,
                 snapshot_id=None):
        self.files = files  # _file_dicts: {"path", "rel", "seq", ...}
        # key=None marks a positional delete file (file_path, row_pos)
        self.deletes = deletes  # [{"path", "key", "seq"}]
        self.change = change
        self.selectors = selectors
        self.snapshot_id = snapshot_id


def _delete_dicts(root, delete_files) -> list[dict]:
    """Manifest delete entries → the picklable dicts read tasks ship."""
    return [
        {
            "path": os.path.join(root, d.file_path),
            "key": d.delete_key,
            "seq": d.seq,
        }
        for d in delete_files
    ]


def _file_dicts(root, entries, names) -> list[dict]:
    """Manifest data entries → the picklable per-file dicts the Arrow
    read kernel takes. ``names`` is ``fieldids.physical_names`` for the
    schema being read (None on never-mapped tables)."""
    from .meta.scan import entry_fills

    return [
        {
            "path": os.path.join(root, e.file_path),
            "rel": e.file_path,
            "seq": e.seq,
            # field-id mapped file: {physical name: view name}, over
            # the view's fields present in this file's write schema
            "ren": None if names is None else {
                p: c for c, p in names[e.schema_id].items() if p is not None
            },
            # adopted non-self-contained file: per-file constant column
            # fills (ops/adopt.py; see meta/scan.entry_fills)
            "fill": entry_fills(e.stats) or None,
        }
        for e in entries
    ]


def _partitions_for(
    root, files, delete_files, target_bytes, names, **tags
) -> list[FilesPartition]:
    """Bin-packed read tasks over ``files``, each masked by
    ``delete_files``; ``tags`` are the CDC fields every task carries."""
    deletes = _delete_dicts(root, delete_files)
    return [
        FilesPartition(_file_dicts(root, members, names), deletes, **tags)
        for members in pack_by_size(files, target_bytes)
    ]


# --- Arrow read path (runs in executor Python workers) ------------------------


def _conform_arrow_table(
    tbl, target, *, reject_extras: bool = False, defaults=None
):
    """Cast an Arrow table to the exact target schema: fill missing
    columns (nullable-add schema evolution — with the field's
    ``initial-default`` when ``defaults`` carries one, else null), drop
    — or reject, on the write path — extra physical columns, reorder,
    cast. The single conform shared by the read and write halves of
    this module."""
    import pyarrow as pa

    names = list(target.names)
    if reject_extras:
        extra = [c for c in tbl.column_names if c not in names]
        if extra:
            raise LakehouseError(
                f"dataframe has columns not in the table schema: "
                f"{extra}; evolve the schema via Table.append("
                f"new_schema=...) first"
            )
    for i, name in enumerate(names):
        if name not in tbl.column_names:
            typ = target.field(name).type
            dv = (defaults or {}).get(name)
            fill = (
                pa.nulls(len(tbl), typ)
                if dv is None
                else pa.array([dv] * len(tbl), type=typ)
            )
            tbl = tbl.add_column(i, target.field(name), fill)
    return tbl.select(names).cast(target)


def _read_deletes(dicts):
    """Delete-file dicts → ({key column: [(seq, keys)]}, [(seq, table)]):
    equality keys grouped per key column (deletes on different keys
    never cross-contaminate), positional files kept whole. Delete files
    are tiny relative to data; each task reads the ones it needs rather
    than shipping key sets through the driver."""
    import pyarrow.parquet as pq

    eq: dict[str, list] = {}
    pos: list = []
    for d in dicts:
        if d["key"] is None:
            pos.append((d["seq"], pq.read_table(d["path"])))
        else:
            keys = pq.read_table(d["path"], columns=[d["key"]]).column(0)
            eq.setdefault(d["key"], []).append((d["seq"], keys))
    return eq, pos


def _file_keys(groups, f_seq, have):
    """[(key column, combined key array)] of equality deletes that apply
    to a file committed at ``f_seq`` (Iceberg seq rule) — constant per
    FILE, so built once here, not per record batch."""
    import pyarrow as pa

    out = []
    for key_name, grp in groups.items():
        chunks = [c for dseq, keys in grp if f_seq < dseq for c in keys.chunks]
        if chunks and key_name in have:
            out.append((key_name, pa.chunked_array(chunks).combine_chunks()))
    return out


def _file_positions(pos_groups, f_seq, rel):
    """Sorted row positions positional deletes name for THIS file (by
    its table-relative path, seq rule applied), or None — each batch
    slices its window with searchsorted, no per-row Python."""
    import numpy as np
    import pyarrow.compute as pc

    chunks = []
    for dseq, dtbl in pos_groups:
        if f_seq >= dseq:
            continue
        m = pc.equal(dtbl.column("file_path"), rel or "")
        hit = dtbl.filter(pc.fill_null(m, False))
        if hit.num_rows:
            chunks.append(hit.column("row_pos").to_numpy())
    if not chunks:
        return None
    return np.unique(np.concatenate(chunks))


def read_files(
    files, spark_schema: T.StructType, deletes=(), selectors=None
):
    """The Arrow read kernel: yield Arrow record batches of ``files``
    (``_file_dicts``) conformed to ``spark_schema``. Batch reads, CDC
    reads and SPJ all come through this one per-file loop.

    Per file: the view's columns are read under their write-time names
    (``ren``, from ``fieldids.physical_names``) and renamed back;
    absent columns fill with the file's adopted constant (``fill``),
    else the field's ``initial-default``, else null; extra physical
    columns (the clustering ``zkey``) are dropped. Rows are then
    masked: ``selectors`` (delete-file dicts) SELECT the rows they kill
    (None = select all), ``deletes`` exclude the rows they kill — both
    under the Iceberg seq rule (data ``seq`` < delete ``seq``), eq keys
    via ``is_in`` (a null key never matches), positions on the raw
    batch offsets. A file no mask touches is a plain column-pruned read.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from .schema import field_defaults

    target = to_arrow_schema(spark_schema)
    names = list(target.names)
    # initial-defaults ride in the Spark schema's field metadata (the
    # Arrow conversion drops it, so harvest here)
    defaults = field_defaults(spark_schema)
    sel_eq, sel_pos = _read_deletes(selectors or [])
    excl_eq, excl_pos = _read_deletes(deletes)

    def _eq_mask(tbl, key_name, dead):
        m = pc.is_in(tbl.column(key_name), value_set=dead)
        return pc.fill_null(m, False).to_numpy(zero_copy_only=False)

    def _pos_mask(mask, positions, offset, n, value):
        lo, hi = np.searchsorted(positions, [offset, offset + n])
        if hi > lo:
            mask[positions[lo:hi] - offset] = value

    for f in files:
        pf = pq.ParquetFile(f["path"])
        have = set(pf.schema_arrow.names)
        # adopted non-self-contained file: its fill constants override
        # the schema-level defaults for THIS file's missing columns
        fdefaults = defaults
        if f.get("fill"):
            fdefaults = dict(defaults)
            for c, v in f["fill"].items():
                if c in names and v is not None:
                    try:
                        v = pa.array([v]).cast(target.field(c).type)[0].as_py()
                    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                        pass
                    fdefaults[c] = v
        ren = f.get("ren")
        if ren is not None:
            cols = [p for p in ren if p in have and ren[p] in names]
            have = {ren[p] for p in cols}
        else:
            cols = [c for c in names if c in have]
        f_sel_eq = _file_keys(sel_eq, f["seq"], have)
        f_sel_pos = _file_positions(sel_pos, f["seq"], f.get("rel"))
        f_excl_eq = _file_keys(excl_eq, f["seq"], have)
        f_excl_pos = _file_positions(excl_pos, f["seq"], f.get("rel"))
        masked = (
            selectors is not None or f_excl_eq or f_excl_pos is not None
        )
        offset = 0
        for batch in pf.iter_batches(columns=cols):
            tbl = pa.Table.from_batches([batch])
            if ren is not None and tbl.num_columns:
                tbl = tbl.rename_columns(
                    [ren.get(c, c) for c in tbl.column_names]
                )
            if masked:
                n = tbl.num_rows
                keep = np.full(n, selectors is None, dtype=bool)
                if f_sel_pos is not None:
                    _pos_mask(keep, f_sel_pos, offset, n, True)
                for key_name, dead in f_sel_eq:
                    keep |= _eq_mask(tbl, key_name, dead)
                if f_excl_pos is not None:
                    _pos_mask(keep, f_excl_pos, offset, n, False)
                for key_name, dead in f_excl_eq:
                    keep &= ~_eq_mask(tbl, key_name, dead)
                offset += n
                if not keep.any():
                    continue
                if not keep.all():
                    tbl = tbl.filter(pa.array(keep))
            yield from _conform_arrow_table(
                tbl, target, defaults=fdefaults
            ).to_batches()


CHANGE_TYPE_COL = "_change_type"
CHANGE_SNAPSHOT_COL = "_commit_snapshot_id"


def _tag_change(batch, change: str, snapshot_id):
    """Append the CDC metadata columns to one Arrow record batch."""
    import pyarrow as pa

    n = batch.num_rows
    arrays = list(batch.columns) + [
        pa.array([change] * n, pa.string()),
        pa.array([snapshot_id] * n, pa.int64()),
    ]
    return pa.RecordBatch.from_arrays(
        arrays, names=list(batch.schema.names) + [CHANGE_TYPE_COL,
                                                  CHANGE_SNAPSHOT_COL]
    )


def _read_changes_partition(part: FilesPartition,
                            base_schema: T.StructType):
    """CDC-stream read task (``changes=true``): the partition's rows
    through :func:`read_files`, tagged with ``_change_type`` /
    ``_commit_snapshot_id``.

    Insert partitions are a plain read of the commit's added files
    (no deletes can apply to them at commit time — their seq equals the
    commit's). Delete partitions emit exactly the rows the commit's NEW
    delete files kill: ``part.selectors`` select (eq keys under the
    Iceberg seq rule, or positions), ``part.deletes`` — the deletes
    already live BEFORE the commit — exclude, so a row only ever
    streams as deleted once. ``part.selectors is None`` selects ALL
    live rows — the copy-on-write shape, where the whole file was
    removed by the commit (exclusions still apply).
    """
    for batch in read_files(
        part.files, base_schema, part.deletes, part.selectors
    ):
        yield _tag_change(batch, part.change, part.snapshot_id)


# --- batch reader -------------------------------------------------------------

_FILTER_OPS = {
    EqualTo: "=",
    EqualNullSafe: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    In: "in",
    IsNull: "is_null",
    IsNotNull: "not_null",
}


def _to_predicate(flt) -> Optional[Predicate]:
    """Map a Spark v2 Filter onto the engine's pruning Predicate (None =
    not expressible; the filter still runs row-level in Spark)."""
    if isinstance(flt, Not) and isinstance(flt.child, EqualTo):
        attr = flt.child.attribute
        if len(attr) == 1:
            return Predicate(attr[0], "!=", flt.child.value)
        return None
    op = _FILTER_OPS.get(type(flt))
    if op is None or len(flt.attribute) != 1:
        return None
    col = flt.attribute[0]
    if op in ("is_null", "not_null"):
        return Predicate(col, op)
    value = list(flt.value) if op == "in" else flt.value
    # EqualNullSafe(col, null) is "col IS NULL", not "= null"
    if isinstance(flt, EqualNullSafe) and value is None:
        return Predicate(col, "is_null")
    return Predicate(col, op, value)


class LakehouseBatchReader(DataSourceReader):
    """Base batch reader — deliberately does NOT define ``pushFilters``:
    Spark 4.1 refuses to construct a reader that merely has the attribute
    when ``spark.sql.python.filterPushdown.enabled`` is false. File-level
    pushdown lives in the :class:`LakehousePushdownBatchReader` subclass;
    this base still does snapshot pinning, partition/stat pruning of
    explicit scan options, and MoR delete application — rows are
    identical with or without pushdown (Spark re-filters row-level)."""

    def __init__(self, root: str, options):
        self._root = root
        # one metadata read per query: partitions() plans on this same
        # version, then drops it (read tasks never need it)
        self._meta = meta = load_metadata(root)
        sid = _resolve_snapshot(meta, options)
        # pin NOW even when no snapshot was asked for: schema and plan
        # must come from the same snapshot, and partitions() runs later
        # (a concurrent commit in between must not shift the read)
        self._snapshot_id = (
            sid if sid is not None else meta.current_snapshot_id
        )
        self._schema = _snapshot_schema(meta, self._snapshot_id)
        self._target_bytes = int(
            options.get("partition_bytes", DEFAULT_PARTITION_BYTES)
        )
        self._preds: list[Predicate] = []

    def __getstate__(self):
        # Spark pickles the reader into the executor read function
        # BEFORE it calls partitions(): keep the metadata out of it
        return {k: v for k, v in self.__dict__.items() if k != "_meta"}

    def partitions(self):
        meta, self._meta = self._meta, None
        plan = plan_scan(
            self._root,
            meta,
            filter=self._preds or None,
            snapshot_id=self._snapshot_id,
        )
        parts = _partitions_for(
            self._root,
            plan.files,
            plan.delete_files,
            self._target_bytes,
            fieldids.physical_names(
                meta.schemas, _view_schema_id(meta, self._snapshot_id)
            ),
        )
        # Spark requires >= 1 partition; empty table -> one empty task
        return parts or [FilesPartition([], [])]

    def read(self, partition: FilesPartition):
        yield from read_files(
            partition.files, self._schema, partition.deletes
        )


class LakehousePushdownBatchReader(LakehouseBatchReader):
    """Batch reader + WHERE-clause file pruning (the default)."""

    def pushFilters(self, filters):
        for flt in filters:
            pred = _to_predicate(flt)
            if pred is not None:
                self._preds.append(pred)
        # report everything unsupported: our pushdown prunes FILES
        # (superset semantics); Spark keeps row-level responsibility
        return filters


# --- stream reader ------------------------------------------------------------


_UNKNOWN = object()  # sentinel: "no stream position observed yet"


class LakehouseStreamReader(DataSourceStreamReader):
    """Snapshot-id offsets over the append chain (exactly-once replay
    from the checkpoint while snapshots remain unexpired)."""

    def __init__(self, root: str, options):
        self._root = root
        self._start_mode = options.get("start", "latest")
        start_sid = options.get("starting_snapshot_id")
        self._starting_sid = None if start_sid is None else int(start_sid)
        self._allow_replays = (
            str(options.get("allow_replays", "false")).lower() == "true"
        )
        self._target_bytes = int(
            options.get("partition_bytes", DEFAULT_PARTITION_BYTES)
        )
        # rate limiting (Iceberg streaming's max-files-per-micro-batch
        # analog at our offset granularity): each micro-batch advances
        # at most this many snapshots along the append chain, so a
        # reader catching up on a long-lived table emits bounded
        # batches instead of one giant one
        mspb = options.get("max_snapshots_per_batch")
        self._max_snapshots = None if mspb is None else max(1, int(mspb))
        # CDC mode (Delta's streaming readChangeFeed analog): emit
        # insert/delete row images tagged _change_type, planned map-only
        # from per-snapshot manifest diffs — appends stream inserts,
        # MoR delete/merge commits stream the rows their NEW delete
        # files kill, and COW mutations stream Iceberg-changelog style:
        # removed files' live rows as deletes + added files as inserts
        # (carried-over rows appear as delete+insert pairs; netting is
        # changelog_view's batch job).
        self._changes = str(options.get("changes", "false")).lower() == "true"
        # stream position: the snapshot id everything up to which has
        # been handed to Spark. _UNKNOWN until either partitions()
        # observes the checkpointed offsets (restart) or the first
        # latestOffset() of a brand-new query seeds it from
        # initialOffset(). None is a VALID position ("beginning").
        self._position = _UNKNOWN
        meta = load_metadata(root)
        self._schema = T.StructType.fromJson(meta.schema_json)
        # pin the schema ID too: a rename committed mid-stream must not
        # shift the view the running query was planned with
        self._schema_id = meta.current_schema_id

    # offsets are {"snapshot_id": int|None}: "everything up to and
    # including this snapshot has been (or is considered) consumed"

    def initialOffset(self) -> dict:
        if self._starting_sid is not None:
            return {"snapshot_id": self._starting_sid}
        if self._start_mode == "beginning":
            return {"snapshot_id": None}
        meta = load_metadata(self._root)
        return {"snapshot_id": meta.current_snapshot_id}

    def latestOffset(self) -> dict:
        meta = load_metadata(self._root)
        cur = meta.current_snapshot_id
        if self._max_snapshots is None or cur is None:
            return {"snapshot_id": cur}
        from .ops.changes import _chain

        if self._position is _UNKNOWN:
            # Fresh reader with no checkpointed position observed yet.
            # On restart Spark replays/plans the WAL batch through
            # partitions(start, end) BEFORE asking for a new offset
            # (probed empirically), so partitions() has already pinned
            # the position; reaching here unpinned means a brand-new
            # query, where initialOffset is the true position.
            self._position = self.initialOffset().get("snapshot_id")
        if self._position == cur:
            return {"snapshot_id": cur}
        chain = _chain(meta, self._position, cur)
        take = min(len(chain), self._max_snapshots)
        nxt = chain[take - 1].snapshot_id if take else cur
        self._position = nxt
        return {"snapshot_id": nxt}

    def partitions(self, start: dict, end: dict):
        from .ops.changes import plan_changes
        from .ops.mor import touched_by

        from_id, to_id = start.get("snapshot_id"), end.get("snapshot_id")
        # the WAL-recorded batch end is the authoritative stream
        # position — on restart this call precedes latestOffset(), so
        # rate-limited offset production resumes from the checkpoint
        # instead of rewinding to initialOffset
        self._position = to_id
        if to_id is None or from_id == to_id:
            return [FilesPartition([], [])]
        meta = load_metadata(self._root)
        names = fieldids.physical_names(meta.schemas, self._schema_id)
        if not self._changes:
            steps = plan_changes(
                self._root, meta, from_id, to_id,
                allow_replays=self._allow_replays,
            )
            parts = _partitions_for(
                self._root, [e for step in steps for e in step.added], (),
                self._target_bytes, names,
            )
            return parts or [FilesPartition([], [])]
        # CDC planning, per row-changing snapshot in (from, to]. Added
        # data files → insert partitions (ordinary bin-packed read, NO
        # deletes — nothing can mask a file at its own commit). New
        # delete files → one partition group over the parent-live data
        # files they can touch, carrying the new deletes as SELECTORS
        # and the pre-existing ones as exclusions. Everything stays a
        # map over files — no shuffle, no driver rows.
        parts: list[FilesPartition] = []
        for step in plan_changes(
            self._root, meta, from_id, to_id, allow_replays=True
        ):
            sid = step.snapshot.snapshot_id
            prev_dels = step.parent.delete_files if step.parent else []
            # copy-on-write mutation (merge/update/delete/overwrite):
            # Iceberg-changelog semantics — every LIVE row of a removed
            # file streams as a delete (selectors=None = select-all; the
            # parent's pending deletes still exclude), added files
            # stream as inserts. A carried-over row appears as a
            # delete+insert pair (net no-op) — exactly Iceberg's raw
            # changelog without carryover removal, which keeps planning
            # map-only and the read bounded by the commit's touched
            # files (pairing/netting is changelog_view's batch job, not
            # the stream's).
            parts += _partitions_for(
                self._root, step.removed, prev_dels, self._target_bytes,
                names, change="delete", snapshot_id=sid,
            )
            parts += _partitions_for(
                self._root, step.added, (), self._target_bytes, names,
                change="insert", snapshot_id=sid,
            )
            if step.new_deletes and step.parent:
                parts += _partitions_for(
                    self._root,
                    touched_by(step.parent.files, step.new_deletes),
                    prev_dels,
                    self._target_bytes,
                    names,
                    change="delete",
                    selectors=_delete_dicts(self._root, step.new_deletes),
                    snapshot_id=sid,
                )
        return parts or [FilesPartition([], [])]

    def read(self, partition: FilesPartition):
        if self._changes:
            yield from _read_changes_partition(partition, self._schema)
            return
        yield from read_files(
            partition.files, self._schema, partition.deletes
        )

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


# --- Arrow write path (tasks write parquet; driver commits the snapshot) ------


class FilesCommitMessage(WriterCommitMessage):
    """Per-task result: (relative_path) of every file the task wrote."""

    def __init__(self, rel_paths):
        self.rel_paths = rel_paths


def _derive_partition_array(tbl, field):
    """Arrow form of partitioning.partition_field_expr (vectorized).

    ``bucket`` is deliberately unsupported here: its value is Spark's
    ``xxhash64`` and a Python reimplementation risks silently diverging
    from the JVM hash — bucket-partitioned tables keep Table.append().
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    transform = field.get("transform", "identity")
    col = tbl.column(field["source"])
    if transform == "identity":
        return col
    if transform == "day":
        return pc.cast(col, pa.date32())
    if transform == "month":
        return pc.strftime(col, format="%Y-%m")
    if transform == "hour":
        return pc.strftime(col, format="%Y-%m-%d-%H")
    if transform == "truncate":
        n = int(field["n"])
        return pc.utf8_slice_codeunits(pc.cast(col, pa.string()), 0, n)
    raise LakehouseError(
        f"partition transform {transform!r} is not supported by the "
        f"lakehouse format writer; use Table.append() for this table"
    )


def _encode_dir_value(value) -> str:
    """Hive-style directory value, inverse of partitioning.decode_dir_value."""
    import datetime as dt
    import urllib.parse

    from .partitioning import HIVE_NULL

    if value is None:
        return HIVE_NULL
    if isinstance(value, dt.datetime):
        # Arrow hands back tz-aware values (the session is UTC-pinned);
        # the native Spark partitionBy path and the planner's compare
        # keys are tz-naive — normalize to UTC and drop the offset so
        # the same logical timestamp lands in the same partition dir
        if value.tzinfo is not None:
            value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
        s = value.isoformat(sep=" ")
    elif isinstance(value, dt.date):
        s = value.isoformat()
    else:
        s = str(value)
    return urllib.parse.quote(s, safe="")


def _write_task_batches(batch_iter, root, job_rel, schema_json, spec):
    """Executor half of the write: conform Arrow batches to the table
    schema (missing columns take their DEFAULT, as in
    ``schema.conform``), split rows by derived partition value, stream
    each group into one parquet file per (task, partition). Returns the
    relative paths.

    Mirrors the no-rename discipline of ops/append.py: files land
    directly in an immutable job dir; only paths reported by successful
    tasks are committed, so zombie-task leftovers stay invisible and are
    swept by orphan GC.
    """
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from .partitioning import PART_PREFIX
    from .schema import field_defaults

    schema = T.StructType.fromJson(schema_json)
    target = to_arrow_schema(schema)
    defaults = field_defaults(schema)
    task_id = _uuid.uuid4().hex
    writers: dict[str, pq.ParquetWriter] = {}
    rel_paths: dict[str, str] = {}
    n_files = 0

    try:
        for batch in batch_iter:
            tbl = _conform_arrow_table(
                pa.Table.from_batches([batch]), target,
                reject_extras=True, defaults=defaults,
            )
            if len(tbl) == 0:
                continue

            parts = [_derive_partition_array(tbl, f) for f in spec]
            if parts:
                # group key: length-prefixed field tokens ("<len>:<str>",
                # null -> "-") concatenated — unambiguous for ANY value
                # content (an in-band separator/sentinel would collide
                # with values containing it)
                tokens = []
                for p in parts:
                    s = pc.cast(p, pa.string())
                    tok = pc.binary_join_element_wise(
                        pc.cast(pc.utf8_length(s), pa.string()), s, ":"
                    )
                    tokens.append(pc.coalesce(tok, pa.scalar("-")))
                key = (
                    tokens[0]
                    if len(tokens) == 1
                    else pc.binary_join_element_wise(*tokens, "")
                )
                enc = pc.dictionary_encode(key.combine_chunks())
                codes = set()
                for chunk in (
                    enc.chunks if isinstance(enc, pa.ChunkedArray) else [enc]
                ):
                    codes.update(pc.unique(chunk.indices).to_pylist())
                indices = (
                    pa.chunked_array([c.indices for c in enc.chunks])
                    if isinstance(enc, pa.ChunkedArray)
                    else enc.indices
                )
                groups = []
                for code in sorted(codes):
                    mask = pc.equal(indices, code)
                    sub = tbl.filter(mask)
                    row = pc.index(mask, True).as_py()
                    vals = [p[row].as_py() for p in parts]
                    groups.append((vals, sub))
            else:
                groups = [([], tbl)]

            for vals, sub in groups:
                comps = [
                    f"{PART_PREFIX}{f['name']}={_encode_dir_value(v)}"
                    for f, v in zip(spec, vals)
                ]
                dir_key = "/".join(comps)
                w = writers.get(dir_key)
                if w is None:
                    rel = "/".join(
                        [job_rel, *comps, f"part-{task_id}-{n_files}.parquet"]
                    )
                    n_files += 1
                    abs_path = os.path.join(root, rel)
                    os.makedirs(os.path.dirname(abs_path), exist_ok=True)
                    w = pq.ParquetWriter(abs_path, target, compression="lz4")
                    writers[dir_key] = w
                    rel_paths[dir_key] = rel
                w.write_table(sub)
    finally:
        for w in writers.values():
            w.close()
    return sorted(rel_paths.values())


def _collect_rel_paths(messages) -> list[str]:
    return sorted(
        p for m in messages if m is not None for p in m.rel_paths
    )


def _drop_files(root, rel_paths) -> None:
    for rel in rel_paths:
        try:
            os.remove(os.path.join(root, rel))
        except OSError:
            pass


def _refuse_unwritable(meta: TableMetadata) -> None:
    """Planning-time refusal of tables whose write contract the Arrow
    path cannot honour (see the module docstring)."""
    from .ops.append import write_contract

    why = [k for k, v in write_contract(meta.properties).items() if v]
    if any(
        f.get("transform", "identity") == "bucket"
        for f in meta.partition_spec
    ):
        why.insert(0, "a bucket partition spec")
    if why:
        raise LakehouseError(
            f"the lakehouse format writers cannot apply this table's "
            f"{', '.join(why)}; write through Table.append() (batch) or "
            f"writeStream.foreachBatch(streaming.append_batch(table)) "
            f"(streaming), which enforce the full write contract"
        )


class _FormatWriter:
    """The half the batch and stream writers share: refuse up front,
    tasks write conformed parquet into an immutable job dir, abort
    drops the task-reported files, ``_entries`` harvests them."""

    JOB_PREFIX = "ds"

    def __init__(self, root: str, overwrite: bool = False):
        import uuid as _uuid

        meta = load_metadata(root)
        _refuse_unwritable(meta)
        self._root = root
        self._overwrite = overwrite
        self._schema_json = meta.schema_json
        self._spec = meta.partition_spec
        self._job_rel = f"data/job-{self.JOB_PREFIX}-{_uuid.uuid4().hex}"

    def write(self, iterator):
        rels = _write_task_batches(
            iterator, self._root, self._job_rel, self._schema_json, self._spec
        )
        return FilesCommitMessage(rels)

    def abort(self, messages, batchId: Optional[int] = None) -> None:
        _drop_files(self._root, _collect_rel_paths(messages))

    def _entries(self, rels, properties):
        from .ops.append import _parse_partition_dirs, harvest_stats

        return harvest_stats(
            None,
            self._root,
            [(rel, _parse_partition_dirs(rel, self._spec)) for rel in rels],
            properties=properties,
        )


class LakehouseBatchWriter(_FormatWriter, DataSourceArrowWriter):
    """``df.write.format("lakehouse").mode("append"|"overwrite")``:
    publishes ONE atomic snapshot ("append", or "overwrite" removing
    every previously-live file). Uncommitted files are never visible.
    """

    def commit(self, messages):
        from .table import Table

        t = Table(None, self._root)
        meta = t.meta
        entries = self._entries(_collect_rel_paths(messages), meta.properties)
        if self._overwrite:
            t._replace_all(meta, "overwrite", entries)
        else:
            t._commit_files("append", entries, base=meta)


class LakehouseStreamWriter(_FormatWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("lakehouse")`` — idempotent micro-batch
    appends, the standard-API form of streaming.append_batch (which the
    reference expresses as ``writeStream.format("delta")``,
    /root/reference/etl/glue_stream.py:339-349). Replayed batch ids
    (restart from checkpoint) drop their files instead of re-committing.
    """

    JOB_PREFIX = "stream"

    def commit(self, messages, batchId: int) -> None:
        from .streaming import batch_replayed
        from .table import Table

        t = Table(None, self._root)
        meta = t.meta
        rels = _collect_rel_paths(messages)
        if batch_replayed(meta, batchId):
            _drop_files(self._root, rels)  # checkpoint replay
            return
        t._commit_files(
            "append", self._entries(rels, meta.properties),
            summary={"stream_batch_id": int(batchId)},
            base=meta,
        )


# --- the data source ----------------------------------------------------------


class LakehouseDataSource(DataSource):
    """``spark.read.format("lakehouse").load(root)`` — see module doc."""

    #: default reader flavor; ``register()`` swaps in the no-pushdown
    #: variant when the session disables Python-datasource pushdown, and
    #: any individual read can force it via .option("pushdown", "false")
    PUSHDOWN_DEFAULT = True

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _changes_mode(self) -> bool:
        return str(self.options.get("changes", "false")).lower() == "true"

    def schema(self) -> T.StructType:
        root = _table_root(self.options)
        meta = load_metadata(root)
        sid = _resolve_snapshot(meta, self.options)
        sch = _snapshot_schema(meta, sid)
        if self._changes_mode():
            sch = T.StructType(
                sch.fields
                + [
                    T.StructField(CHANGE_TYPE_COL, T.StringType(), True),
                    T.StructField(CHANGE_SNAPSHOT_COL, T.LongType(), True),
                ]
            )
        return sch

    def reader(self, schema: T.StructType) -> LakehouseBatchReader:
        if self._changes_mode():
            raise LakehouseError(
                "changes=true is a STREAMING read option "
                "(spark.readStream); for batch CDC use Table.row_changes "
                "or changelog_view"
            )
        opt = self.options.get("pushdown")
        pushdown = (
            self.PUSHDOWN_DEFAULT
            if opt is None
            else str(opt).lower() == "true"
        )
        cls = LakehousePushdownBatchReader if pushdown else LakehouseBatchReader
        return cls(_table_root(self.options), self.options)

    def streamReader(self, schema: T.StructType) -> LakehouseStreamReader:
        return LakehouseStreamReader(_table_root(self.options), self.options)

    def writer(self, schema: T.StructType, overwrite: bool) -> LakehouseBatchWriter:
        return LakehouseBatchWriter(_table_root(self.options), overwrite)

    def streamWriter(self, schema: T.StructType, overwrite: bool) -> LakehouseStreamWriter:
        if overwrite:
            raise LakehouseError(
                "outputMode('complete'/'update') is not supported by the "
                "lakehouse stream sink (append-only micro-batches); use "
                "outputMode('append'), or foreachBatch + "
                "streaming.upsert_batch for update semantics"
            )
        return LakehouseStreamWriter(_table_root(self.options))


class LakehouseNoPushdownDataSource(LakehouseDataSource):
    """Same ``lakehouse`` format, batch reader without a ``pushFilters``
    attribute — what ``register()`` installs when the host session runs
    with ``spark.sql.python.filterPushdown.enabled=false``."""

    PUSHDOWN_DEFAULT = False
