"""Bin-packing small-file compaction (the OPTIMIZE counterpart).

The reference's streaming append with ``shuffle.partitions=1``
(/root/reference/etl/glue_stream.py:297) is the canonical small-file
generator; README.md:68 names "Delta Lake partition optimization" as the
perf lever but ships no code for it — this module is that code.

Strategy (matches Iceberg's binpack rewrite, built from DataFrame ops):

1. **Plan** (driver, over manifest metadata only): group live files by
   partition, pick files below the small-file threshold, first-fit-
   decreasing pack them into bins of ``target_file_size`` input bytes.
2. **Execute** — two paths, auto-selected on bin count (both measured,
   see the crossover note below):

   - ``direct`` (≤ ``DIRECT_MAX_BINS`` bins): one mini-job per bin —
     read exactly its files, ``coalesce(1)`` (a concatenation: the
     payload never crosses a shuffle), write one file. Bins run
     concurrently through the shared session. Measured 3.8 s vs the
     shuffle path's 14.4 s on the 0.57 GB / 64-file bench table: for
     everyday maintenance the double IO of a shuffle is pure loss.
   - ``shuffle`` (large bin counts): exactly ONE Spark job for all
     bins — broadcast file→bin map equi-joined on
     ``input_file_name()``, hash-repartition on the bin key (all rows
     of a bin land in one task), ``partitionBy(__bin)`` write splitting
     one output file per bin. Parallelism scales with Spark tasks, not
     driver threads: at 10⁴–10⁶ bins the direct path's job-submission
     loop becomes the serial term (VERDICT.md §wrong 3) while the one
     shuffle — bounded by compaction input, a sliver of the table —
     spreads across every executor.
3. **Commit** once: REPLACE snapshot removing all inputs of DONE bins
   and adding their outputs. Scans before/after are row-set identical.

Resumability (both paths): every bin gets a lineage task record (DONE
with output manifest entries). Restarting with the same ``job_id``
reuses DONE bins' outputs and reruns only pending bins; shuffle-path
attempts write into their own ``a<N>/`` subdirectory so a rerun never
clobbers recorded outputs; a crash between execute and commit is
recovered by re-running the job (all bins DONE → commit straight
away). Partial outputs are never referenced → GC sweeps them.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lineage import LineageLog
from ..meta.manifests import DataFileEntry, pack_by_size
from ..ops.append import write_files

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024
# crossover between the no-shuffle job-per-bin path and the single-job
# shuffle path: below this the driver submits a bounded handful of
# concurrent jobs and the payload never shuffles; above it, driver
# job-submission would serialize and one task-parallel job wins
DIRECT_MAX_BINS = 64


@dataclass
class CompactionResult:
    job_id: str
    snapshot_id: Optional[int]
    bins: int
    files_rewritten: int
    files_created: int
    bytes_rewritten: int
    records_rewritten: int
    skipped_partitions: int = 0
    details: dict[str, Any] = field(default_factory=dict)


def plan_bins(
    files: list[DataFileEntry],
    *,
    target_file_size: int,
    small_file_threshold: int,
    min_input_files: int,
    schema_groups: bool = False,
) -> list[list[DataFileEntry]]:
    """FFD bin-packing per (partition, sort_order). Only bins that
    actually reduce the file count (≥2 inputs) are returned. Grouping by
    sort_order keeps clustered (zkey-carrying) files out of unsorted
    bins, so compaction can preserve — not destroy — a clustering
    rewrite's physical order (see _run_bins_direct)."""
    by_partition: dict[tuple, list[DataFileEntry]] = {}
    for e in files:
        # spec_id in the key: two spec generations can share identical
        # partition-value dicts (bucket n=4 vs n=8) yet mean different
        # things — never concatenate across them. schema_id likewise
        # once the table is field-id mapped: files written under
        # different column names must not be concatenated raw — each
        # bin reads under ONE write schema (and compaction migrates the
        # output to current names). Unmapped tables normalize to one
        # group so stamp generations never split bins.
        key = (
            str(sorted(e.partition.items())),
            e.sort_order,
            e.spec_id,
            e.schema_id if schema_groups else None,
        )
        by_partition.setdefault(key, []).append(e)

    bins: list[list[DataFileEntry]] = []
    for (_pk, sort_order, _spec_id, _sid), group in by_partition.items():
        small = [e for e in group if e.file_size_bytes < small_file_threshold]
        if len(small) < min_input_files:
            continue
        if sort_order.startswith(("zorder(", "hilbert(")):
            # clustered files: pack ADJACENT zkey ranges sequentially so
            # each output file covers one contiguous, pairwise-disjoint
            # key range — FFD by size would merge far-apart ranges and
            # produce overlapping (pruning-hostile) outputs
            open_bins: list[tuple[int, list[DataFileEntry]]] = []
            ordered = sorted(
                small,
                key=lambda e: (
                    (e.stats.get("zkey") or {}).get("min", 0),
                    e.file_path,
                ),
            )
            for e in ordered:
                if (
                    open_bins
                    and open_bins[-1][0] + e.file_size_bytes
                    <= target_file_size
                ):
                    size, members = open_bins[-1]
                    open_bins[-1] = (size + e.file_size_bytes, members + [e])
                else:
                    open_bins.append((e.file_size_bytes, [e]))
            packed = [members for _size, members in open_bins]
        else:
            packed = pack_by_size(small, target_file_size)
        bins.extend(members for members in packed if len(members) >= 2)
    return bins


def _inherit_partition(entries, members) -> None:
    """A bin's outputs concatenate its inputs, so they carry the input
    files' partition values and spec_id — stamping the current spec
    would disarm overwrite's mixed-spec guard (round-2 review)."""
    for e in entries:
        e.partition = dict(members[0].partition)
        e.spec_id = members[0].spec_id


def _run_bins_direct(
    table, meta, log, pending, job_data_rel, entries_by_key, fault_injector
) -> None:
    """Job-per-bin concatenation: read a bin's files, ``coalesce(1)``
    (no shuffle — the payload is streamed scan → write), one output
    file. Bins run concurrently through the shared session's scheduler;
    bounded driver cost because this path only runs ≤ DIRECT_MAX_BINS
    bins (the auto crossover)."""
    from concurrent.futures import ThreadPoolExecutor

    spark = table.spark

    def run_bin(item):
        k, members = item
        files_in = [e.file_path for e in members]
        bytes_in = sum(e.file_size_bytes for e in members)
        log.start_task(k, files_in, bytes_in)
        out_rel_dir = f"{job_data_rel}/{k}"
        sort_order = members[0].sort_order
        clustered = sort_order.startswith(("zorder(", "hilbert("))
        from ..meta.scan import read_entries

        if clustered:
            # clustered files carry the hidden physical zkey column;
            # read it along, re-sort the concatenation (merge of sorted
            # runs), and keep it in the output so per-file zkey/cluster
            # -column stats stay tight — compaction must not undo a
            # clustering rewrite. read_entries maps renamed columns to
            # current names per bin (bins never mix write schemas), so
            # compaction doubles as lazy column-mapping migration.
            from ..ops.cluster import schema_with_zkey

            df = (
                read_entries(
                    spark, meta, table.root, members,
                    schema_with_zkey(T.StructType.fromJson(meta.schema_json)),
                )
                .coalesce(1)
                .sortWithinPartitions("zkey")
            )
        else:
            df = (
                read_entries(spark, meta, table.root, members)
                .coalesce(1)  # concatenation, not a shuffle
            )
        entries = write_files(
            df, table.root, out_rel_dir, (),
            properties=meta.properties,
            sort_order=sort_order if clustered else "",
            mode="overwrite",  # rerun of an interrupted bin
        )
        _inherit_partition(entries, members)
        log.finish_task(k, entries, files_in=files_in, bytes_in=bytes_in)
        if fault_injector is not None:
            fault_injector(k)
        return k, entries

    with ThreadPoolExecutor(max_workers=8) as pool:
        for k, entries in pool.map(run_bin, sorted(pending)):
            entries_by_key[k] = entries


def _run_bins_shuffle(
    table, meta, log, pending, job_data_rel, entries_by_key, fault_injector
) -> None:
    """One Spark job for every pending bin: broadcast file→bin map
    joined on ``input_file_name()``, hash-repartition on the bin key,
    ``partitionBy(__bin)`` write splitting one output file per bin.
    Each resume attempt writes its own ``a<N>/`` subdir so a rerun
    never clobbers files a DONE record already points at."""
    spark = table.spark
    base_dir = os.path.join(table.root, job_data_rel)
    n_prev = (
        len([d for d in os.listdir(base_dir) if d.startswith("a")])
        if os.path.isdir(base_dir)
        else 0
    )
    attempt_rel = f"{job_data_rel}/a{n_prev + 1}"

    # field-id mapping: read_entries groups the single job's scan per
    # write schema and unions — each branch reads its physical names
    # aliased to current ones (so the rewrite migrates old files to the
    # current schema). Unmapped tables keep the one-branch plan.
    from ..meta.scan import read_entries

    file_to_bin = []
    all_members = []
    for k, members in pending:
        all_members.extend(members)
        for e in members:
            file_to_bin.append(
                (os.path.abspath(os.path.join(table.root, e.file_path)), k)
            )
    map_df = spark.createDataFrame(file_to_bin, "__file string, __bin string")
    out = (
        read_entries(spark, meta, table.root, all_members)
        .withColumn(
            "__file",
            # input_file_name() is a percent-encoded URI; decode it back
            # to the filesystem path the map was built from (a table
            # root with a space/%/non-ASCII char would otherwise match
            # nothing in the inner join). url_decode is
            # x-www-form-urlencoded and would turn a literal '+' into a
            # space, so literal '+' is protected as %2B first. The
            # per-bin row-count invariant below backstops any residual
            # mismatch loudly.
            F.expr(
                "url_decode(replace(regexp_replace(input_file_name(), "
                "'^file:/+', '/'), '+', '%2B'))"
            ),
        )
        .join(F.broadcast(map_df), "__file", "inner")
        .drop("__file")
        .repartition(max(1, 2 * len(pending)), F.col("__bin"))
    )
    # every output footer is harvested in one pass; bins are then
    # finalized in deterministic order (lineage only; no further jobs)
    all_entries = write_files(
        out, table.root, attempt_rel, (), properties=meta.properties,
        extra_dirs=["__bin"],
    )
    by_key: dict[str, list[DataFileEntry]] = {}
    for e in all_entries:
        comp = e.file_path.split("/")[-2]
        by_key.setdefault(comp.split("=", 1)[1], []).append(e)
    for k, members in sorted(pending):
        files_in = [e.file_path for e in members]
        bytes_in = sum(e.file_size_bytes for e in members)
        outs = by_key.get(k, [])
        # row-conservation invariant BEFORE any DONE record: an
        # inner-join path mismatch (or partial write) must fail the job
        # loudly, never commit a REPLACE that drops rows
        rows_in = sum(e.record_count for e in members)
        rows_out = sum(e.record_count for e in outs)
        if rows_out != rows_in:
            raise RuntimeError(
                f"compaction bin {k} lost rows: {rows_in} in, "
                f"{rows_out} out — aborting before commit"
            )
        _inherit_partition(outs, members)
        log.start_task(k, files_in, bytes_in)
        log.finish_task(k, outs, files_in=files_in, bytes_in=bytes_in)
        entries_by_key[k] = outs
        if fault_injector is not None:
            fault_injector(k)


def compact(
    table,
    meta,
    *,
    target_file_size: int = DEFAULT_TARGET_FILE_SIZE,
    small_file_threshold: Optional[int] = None,
    min_input_files: int = 2,
    partition_filter=None,
    job_id: Optional[str] = None,
    execution: str = "auto",
    fault_injector: Optional[Callable[[str], None]] = None,
) -> CompactionResult:
    """Rewrite small files into ~``target_file_size`` files per partition,
    planned, read, written and committed on the one version ``meta``.

    ``execution``: "direct" (job-per-bin concatenation, no shuffle),
    "shuffle" (one job for all bins), or "auto" (direct up to
    ``DIRECT_MAX_BINS`` bins, shuffle beyond — see module docstring).

    ``fault_injector(bin_key)`` is a test hook called as each bin is
    finalized (outputs written + DONE lineage record) but before the
    snapshot commit — raising there simulates a mid-job crash for the
    resumability gate (SURVEY.md §5.6).
    """
    if execution not in ("auto", "direct", "shuffle"):
        raise ValueError(f"unknown compaction execution: {execution!r}")
    threshold = small_file_threshold or int(target_file_size * 0.75)
    log = LineageLog(table.root, job_id)
    log.start_job(
        "compact",
        {
            "target_file_size": target_file_size,
            "small_file_threshold": threshold,
            "partition_filter": str(partition_filter) if partition_filter else None,
        },
    )

    from ..fieldids import has_mapped_schemas

    live = table._plan(meta, filter=partition_filter).files
    bins = plan_bins(
        live,
        target_file_size=target_file_size,
        small_file_threshold=threshold,
        min_input_files=min_input_files,
        schema_groups=has_mapped_schemas(meta.schemas),
    )
    if not bins:
        log.finish_job({"bins": 0})
        return CompactionResult(log.job_id, None, 0, 0, 0, 0, 0)

    job_data_rel = f"data/{log.job_id}"
    existing = log.done_tasks()

    def bin_key(members: list[DataFileEntry]) -> str:
        h = hashlib.sha1(
            "|".join(sorted(e.file_path for e in members)).encode()
        ).hexdigest()[:16]
        return f"bin-{h}"

    keyed = [(bin_key(members), members) for members in bins]
    entries_by_key: dict[str, list[DataFileEntry]] = {
        k: existing[k].out_entries() for k, _m in keyed if k in existing
    }
    pending = [(k, m) for k, m in keyed if k not in existing]
    if execution == "auto":
        execution = "direct" if len(bins) <= DIRECT_MAX_BINS else "shuffle"

    # clustered bins always take the direct path: they must re-sort on
    # the carried zkey column to preserve clustering, and they are
    # bounded in count (products of a clustering rewrite, ~table_bytes /
    # target_file_size per partition)
    clustered_pending, plain_pending = [], []
    for k, m in pending:
        if m[0].sort_order.startswith(("zorder(", "hilbert(")):
            clustered_pending.append((k, m))
        else:
            plain_pending.append((k, m))
    run_plain = _run_bins_direct if execution == "direct" else _run_bins_shuffle
    for run, todo in (
        (_run_bins_direct, clustered_pending), (run_plain, plain_pending)
    ):
        if todo:
            run(table, meta, log, todo, job_data_rel, entries_by_key,
                fault_injector)

    added: list[DataFileEntry] = []
    removed: list[str] = []
    for k, members in keyed:
        added.extend(entries_by_key[k])
        removed.extend(e.file_path for e in members)

    bytes_rewritten = sum(e.file_size_bytes for e in added)
    records = sum(e.record_count for e in added)
    snap = table._commit_files(
        "replace",
        added,
        removed,
        summary={
            "job_id": log.job_id,
            "bins": len(bins),
            "bytes_rewritten": bytes_rewritten,
        },
        base=meta,
    )
    log.finish_job(
        {
            "bins": len(bins),
            "files_rewritten": len(removed),
            "files_created": len(added),
            "bytes_rewritten": bytes_rewritten,
            "snapshot_id": snap.snapshot_id,
        }
    )
    return CompactionResult(
        job_id=log.job_id,
        snapshot_id=snap.snapshot_id,
        bins=len(bins),
        files_rewritten=len(removed),
        files_created=len(added),
        bytes_rewritten=bytes_rewritten,
        records_rewritten=records,
    )
