"""Table facade: the engine's public API.

    from lakehouse import Table
    t = Table.create(spark, root, schema, partition_spec=[...])
    t.append(df)                       # ACID append (new snapshot)
    t.scan(filter=[("event_date", "=", d)])      # pruned read
    t.scan(snapshot_id=3)                        # time travel
    t.compact(); t.cluster(["a","b"]); t.expire_snapshots(); t.merge(src)

The reference's equivalents are one ``writeStream.format("delta")`` call
plus the Delta jar (/root/reference/etl/glue_stream.py:339-349); every
capability the jar provided is a module here (SURVEY.md §2 second table).
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time
import uuid
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .errors import (
    CommitConflictError,
    LakehouseError,
    RefError,
    SchemaEvolutionError,
    SnapshotNotFoundError,
    TableAlreadyExistsError,
)
from .meta import snapshots as S
from .meta.manifests import DataFileEntry, read_manifest, write_manifest
from .meta.scan import (
    EntryTest,
    ScanPlan,
    manifest_entries_df,
    plan_scan,
    plan_scan_lazy,
    read_lazy_plan,
    read_plan,
)
from . import fieldids
from .ops.append import write_data_files
from .partitioning import spec_with_result_types
from .schema import is_additive_evolution


class Table:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)

    # --- lifecycle ------------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        *,
        partition_spec: Optional[Sequence[dict[str, Any]]] = None,
        properties: Optional[dict[str, Any]] = None,
    ) -> "Table":
        root = os.path.abspath(root)
        if S.list_versions(root):
            raise TableAlreadyExistsError(root)
        os.makedirs(S.metadata_dir(root), exist_ok=True)
        spec = spec_with_result_types(partition_spec or [], schema)
        meta = S.TableMetadata(
            table_uuid=uuid.uuid4().hex,
            location=root,
            version=0,
            schema_json=schema.jsonValue(),
            schemas=[schema.jsonValue()],
            current_schema_id=0,
            partition_spec=spec,
            properties=dict(properties or {}),
        )
        if not S._try_publish(root, 1, {**meta.to_json(), "version": 1}):
            raise TableAlreadyExistsError(root)
        return Table(spark, root)

    @staticmethod
    def load(spark: SparkSession, root: str) -> "Table":
        root = os.path.abspath(root)
        S.current_version(root)  # raises TableNotFoundError if absent
        return Table(spark, root)

    @property
    def meta(self) -> S.TableMetadata:
        """The newest metadata version, read from storage on every
        access. An op reads it once, at entry, and plans, reads, writes
        and commits (``_commit(base=meta)``) on that one version; only a
        commit that loses the CAS reads the table again."""
        return S.load_metadata(self.root)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.meta.schema_json)

    def snapshots(self) -> list[S.Snapshot]:
        return list(self.meta.snapshots)

    def current_snapshot_id(self) -> Optional[int]:
        return self.meta.current_snapshot_id

    # --- commit core ----------------------------------------------------------

    def _validate_serializable(
        self, base: S.TableMetadata, spec: dict[str, Any]
    ) -> None:
        """Serializable-isolation commit validation (Iceberg's
        ``conflictDetectionFilter`` / ``validateNoConflicting*``): fail
        the commit if any snapshot landed after the operation's read
        base whose NEW files (data OR delete) overlap the operation's
        key range — a concurrently-inserted matching row would have
        been missed by the merge's match phase, and a concurrent delete
        of a matched key would be silently undone by our re-append
        (write skew / lost delete). Data-neutral rewrites never
        conflict. Overlap tests ride manifest min/max stats only (zero
        data I/O); missing stats conservatively conflict."""
        from .expressions import Predicate
        from .ops.changes import DATA_NEUTRAL_OPS, _chain

        from_sid = spec["from_snapshot_id"]
        if base.current_snapshot_id == from_sid:
            return
        key = spec["key"]
        # key range absent (None min/max) for NMS-only merges with an
        # empty source: only the condition-domain test applies
        key_test = None
        if spec.get("min") is not None:
            key_test = EntryTest(base, [
                Predicate(key, ">=", spec["min"]),
                Predicate(key, "<=", spec["max"]),
            ])
        # WHEN NOT MATCHED BY SOURCE read set: "all" (unconditional /
        # raw-SQL condition) or the condition's tuple predicates, tested
        # with the scan planner's own per-entry test
        nms_dom = spec.get("nms_domain")
        nms_test = (
            EntryTest(base, nms_dom) if nms_dom not in (None, "all") else None
        )
        try:
            chain = _chain(base, from_sid, base.current_snapshot_id)
        except Exception:
            raise CommitConflictError(
                f"serializable validation impossible: read base "
                f"{from_sid} is not an ancestor of the current head "
                f"(rolled back or expired); replan required"
            )
        for snap in chain:
            if snap.operation in DATA_NEUTRAL_OPS:
                continue
            parent_paths: set = set()
            if snap.parent_snapshot_id is not None:
                parent = base.snapshot(snap.parent_snapshot_id)
                parent_paths = {
                    m["path"]
                    for m in S.read_manifest_list(
                        self.root, parent.manifest_list
                    )
                }
            for m in S.read_manifest_list(self.root, snap.manifest_list):
                if m["path"] in parent_paths:
                    continue
                for e in read_manifest(self.root, m["path"]):
                    if key_test is not None:
                        # positions name files of OLDER snapshots the
                        # operation read, and deletes on another key
                        # are unknown: both always potentially conflict
                        if (
                            e.is_pos_delete
                            or (e.is_delete and e.delete_key != key)
                            or key_test(e)
                        ):
                            raise CommitConflictError(
                                f"serializable conflict: snapshot "
                                f"{snap.snapshot_id} "
                                f"({snap.operation!r}) committed "
                                f"{e.file_path} overlapping "
                                f"{key} range [{spec['min']!r}, "
                                f"{spec['max']!r}] after read base "
                                f"{from_sid}; replan the operation"
                            )
                    if nms_dom is None:
                        continue
                    if e.is_pos_delete or e.is_delete:
                        # a concurrent row retirement anywhere near the
                        # sync domain could be silently undone by the
                        # clause's boundary-file rewrites — stats can't
                        # bound positional deletes at all, so conflict
                        hit = True
                    else:
                        # "all": the clause read the whole table
                        hit = nms_test is None or nms_test(e)
                    if hit:
                        raise CommitConflictError(
                            f"serializable conflict: snapshot "
                            f"{snap.snapshot_id} ({snap.operation!r}) "
                            f"committed {e.file_path} inside the NOT "
                            f"MATCHED BY SOURCE read domain "
                            f"({'whole table' if nms_dom == 'all' else nms_dom}) "
                            f"after read base {from_sid}; replan"
                        )

    def _commit_files(self, *args, **kw) -> S.Snapshot:
        """:meth:`_commit`, returning only the new snapshot."""
        return self._commit(*args, **kw)[0]

    def _commit(
        self,
        operation: str,
        added: Sequence[DataFileEntry],
        removed_paths: Sequence[str] = (),
        *,
        summary: Optional[dict[str, Any]] = None,
        new_schema: Optional[T.StructType] = None,
        branch: Optional[str] = None,
        set_props: Optional[dict[str, Any]] = None,
        validate: Optional[dict[str, Any]] = None,
        props_guard: Optional[dict[str, Any]] = None,
        base: Optional[S.TableMetadata] = None,
    ) -> tuple[S.Snapshot, S.TableMetadata]:
        """Build snapshot N+1 = parent − removed + added, with manifest
        rewrite: any parent manifest touched by a removal is rewritten
        without the removed entries; untouched manifests are reused as-is
        (cheap commits, bounded metadata churn). Parent manifests are
        opened only while some removed path is still unaccounted for: a
        commit that removes nothing reuses the parent manifest list
        unopened, and a removal stops reading at the last manifest that
        holds one of its paths, so commit cost follows the change, not
        the table's history.

        ``set_props``: property updates applied IN THE SAME commit as the
        data change (``None`` value removes a key). Derived-table refresh
        stamps its synced-snapshot marker this way so a crash can never
        separate the data write from the marker (a stale marker would
        replay the same delta and double-apply it).

        Conflict detection for rebases: every ``removed_path`` must still
        be live in the parent we end up committing against — if a
        concurrent commit already replaced one, raise CommitConflictError
        so the maintenance job can replan (classic Iceberg validation).

        ``branch``: commit onto a named branch ref instead of main — the
        parent is the branch head and only the ref advances, leaving
        ``current_snapshot_id`` (what plain scans see) untouched. The
        write-audit-publish staging surface. A missing branch is created
        at the current main head first.

        ``base``: the one metadata version the op read at entry. The
        first CAS attempt commits on it (see ``snapshots.commit``), and
        added files without spec or schema ids get its ids, the ones
        they were written under, also when the commit rebases.

        Returns the new snapshot and the version this commit published.
        """
        read_base = base
        removed = set(removed_paths)
        result_holder: dict[str, S.Snapshot] = {}
        commit_t0 = time.monotonic()

        def apply(base: S.TableMetadata) -> S.TableMetadata:
            if validate is not None:
                # serializable isolation (Iceberg's conflict-detection
                # filter): re-checked on EVERY CAS retry against the
                # base we actually commit on, so no concurrent commit
                # can slip between validation and publish
                self._validate_serializable(base, validate)
            if props_guard:
                # optimistic property CAS (identity watermarks): the
                # guarded keys must still hold the values read at plan
                # time on the base we actually commit against — a
                # concurrent mover means our derived state (e.g.
                # assigned identity ids) is stale, so conflict out
                # rather than clobber
                for gk, gv in props_guard.items():
                    cur = (base.properties or {}).get(gk)
                    if cur != gv:
                        raise CommitConflictError(
                            f"{operation}: guarded property {gk!r} moved "
                            f"concurrently (expected {gv!r}, found "
                            f"{cur!r}); re-run the operation"
                        )
            sid = S.next_snapshot_id(base)
            removed_records = removed_bytes = 0
            refs = dict(base.refs)
            if branch is None:
                head_id = base.current_snapshot_id
            elif branch in refs:
                if refs[branch].get("type") != "branch":
                    raise RefError(f"ref {branch!r} is a tag, not a branch")
                head_id = refs[branch]["snapshot_id"]
            else:
                head_id = base.current_snapshot_id  # implicit branch-create
            manifests_out: list[dict[str, Any]] = []
            still_to_remove = set(removed)
            if head_id is not None:
                parent_list = S.read_manifest_list(
                    self.root, base.snapshot(head_id).manifest_list
                )
                for m in parent_list:
                    if not still_to_remove:
                        # every removed path is accounted for: the rest
                        # of the parent list is reused unopened
                        manifests_out.append(m)
                        continue
                    entries = read_manifest(self.root, m["path"])
                    hit = [e for e in entries if e.file_path in still_to_remove]
                    if not hit:
                        manifests_out.append(m)
                        continue
                    still_to_remove.difference_update(
                        e.file_path for e in hit
                    )
                    removed_records += sum(e.record_count for e in hit)
                    removed_bytes += sum(e.file_size_bytes for e in hit)
                    survivors = [
                        e for e in entries if e.file_path not in removed
                    ]
                    if survivors:
                        rel, summ = write_manifest(self.root, survivors)
                        manifests_out.append({"path": rel, "summary": summ})
            if still_to_remove:
                raise CommitConflictError(
                    f"{operation}: {len(still_to_remove)} source files no "
                    f"longer live (concurrently rewritten); replan needed: "
                    f"{sorted(still_to_remove)[:3]}..."
                )
            schema_id = base.current_schema_id
            schemas = list(base.schemas)
            schema_json = base.schema_json
            if new_schema is not None:
                old = T.StructType.fromJson(base.schema_json)
                if not is_additive_evolution(old, new_schema):
                    raise SchemaEvolutionError(
                        "only additive (nullable add) or type-widening "
                        "(int->long, float->double, decimal precision) "
                        "schema evolution is allowed"
                    )
                schema_json = new_schema.jsonValue()
                if fieldids.has_mapped_schemas(schemas):
                    # mapped tables keep explicitness monotone: carry
                    # current ids by name, mint fresh ids for new names
                    # (a re-added dropped name gets a NEW id, so old
                    # values can never resurrect under it)
                    cur_ids = fieldids.schema_field_ids(schemas)[
                        base.current_schema_id
                    ]
                    nxt = fieldids.next_field_id(schemas)
                    ids = {}
                    for f in schema_json["fields"]:
                        if f["name"] in cur_ids:
                            ids[f["name"]] = cur_ids[f["name"]]
                        else:
                            ids[f["name"]] = nxt
                            nxt += 1
                    schema_json = fieldids.embed_field_ids(schema_json, ids)
                schemas.append(schema_json)
                schema_id = len(schemas) - 1

            if added:
                # commit sequence: newly added files (data or deletes)
                # carry this snapshot's id; equality deletes later apply
                # only to data files with strictly smaller seq. Files
                # also record the partition spec their partition VALUES
                # were derived under (overwrite's mixed-spec guard keys
                # on it) — ops that carry old-spec values forward
                # (compaction) pre-set spec_id and must keep it; None =
                # the op's read version. The write schema id follows the
                # same rule (or this commit's evolution); rewriting ops
                # that DON'T re-project must pre-set the input's id.
                written = read_base or base
                for e in added:
                    e.seq = sid
                    if e.spec_id is None:
                        e.spec_id = written.default_spec_id
                    if e.schema_id is None:
                        e.schema_id = (
                            schema_id
                            if new_schema is not None
                            else written.current_schema_id
                        )
                rel, summ = write_manifest(self.root, added)
                manifests_out.append({"path": rel, "summary": summ})

            manifest_list = S.write_manifest_list(self.root, sid, manifests_out)

            snap = S.Snapshot(
                snapshot_id=sid,
                parent_snapshot_id=head_id,
                timestamp_ms=S.now_ms(),
                operation=operation,
                manifest_list=manifest_list,
                schema_id=schema_id,
                summary={
                    "added_files": len(added),
                    "removed_files": len(removed),
                    "added_records": sum(e.record_count for e in added),
                    "added_bytes": sum(e.file_size_bytes for e in added),
                    "removed_records": removed_records,
                    "removed_bytes": removed_bytes,
                    # manifest rewrite + commit wall so far; CAS retries
                    # re-enter apply() and fold the lost attempts in
                    "commit_ms": int((time.monotonic() - commit_t0) * 1000),
                    **(summary or {}),
                },
            )
            result_holder["snap"] = snap
            if branch is not None:
                refs[branch] = {"snapshot_id": sid, "type": "branch"}
            props = base.properties
            if set_props:
                props = dict(props)
                for k, v in set_props.items():
                    if v is None:
                        props.pop(k, None)
                    else:
                        props[k] = v
            return dataclasses.replace(
                base,
                schema_json=schema_json,
                schemas=schemas,
                current_schema_id=schema_id,
                current_snapshot_id=(
                    sid if branch is None else base.current_snapshot_id
                ),
                snapshots=base.snapshots + [snap],
                properties=props,
                refs=refs,
            )

        published = S.commit(self.root, apply, base=read_base)
        return result_holder["snap"], published

    # --- refs: branches, tags, rollback, write-audit-publish ------------------

    def refs(self) -> dict[str, dict[str, Any]]:
        """Named refs, with the implicit ``main`` branch materialized."""
        meta = self.meta
        out = dict(meta.refs)
        if meta.current_snapshot_id is not None:
            out["main"] = {
                "snapshot_id": meta.current_snapshot_id,
                "type": "branch",
            }
        return out

    def _resolve_ref(self, meta: S.TableMetadata, name: str) -> int:
        if name == "main":
            if meta.current_snapshot_id is None:
                raise RefError("table has no snapshots yet")
            return meta.current_snapshot_id
        if name not in meta.refs:
            raise RefError(f"unknown ref: {name!r}")
        return meta.refs[name]["snapshot_id"]

    def _set_ref(
        self,
        name: str,
        ref_type: str,
        snapshot_id: Optional[int],
        max_ref_age_ms: Optional[int] = None,
    ):
        if name == "main":
            raise RefError("'main' is implicit; use rollback/fast_forward")

        def apply(base: S.TableMetadata) -> S.TableMetadata:
            sid = (
                snapshot_id
                if snapshot_id is not None
                else base.current_snapshot_id
            )
            if sid is None:
                raise RefError("cannot create a ref on an empty table")
            base.snapshot(sid)  # must exist (raises SnapshotNotFoundError)
            refs = dict(base.refs)
            ref: dict[str, Any] = {"snapshot_id": sid, "type": ref_type}
            if max_ref_age_ms is not None:
                # Iceberg's max-ref-age-ms: the ref auto-drops (and its
                # pin with it) once this old, at the next expire pass
                ref["max_ref_age_ms"] = int(max_ref_age_ms)
                ref["created_ms"] = int(time.time() * 1000)
            refs[name] = ref
            base.refs = refs
            return base

        S.commit(self.root, apply)

    def create_branch(
        self,
        name: str,
        snapshot_id: Optional[int] = None,
        *,
        max_ref_age_ms: Optional[int] = None,
    ):
        self._set_ref(name, "branch", snapshot_id, max_ref_age_ms)

    def create_tag(
        self,
        name: str,
        snapshot_id: Optional[int] = None,
        *,
        max_ref_age_ms: Optional[int] = None,
    ):
        self._set_ref(name, "tag", snapshot_id, max_ref_age_ms)

    def drop_ref(self, name: str) -> None:
        def apply(base: S.TableMetadata) -> S.TableMetadata:
            if name not in base.refs:
                raise RefError(f"unknown ref: {name!r}")
            refs = dict(base.refs)
            del refs[name]
            base.refs = refs
            return base

        S.commit(self.root, apply)

    def fast_forward(self, branch: str, *, drop: bool = False) -> int:
        """Publish a branch: move main to the branch head (WAP publish).

        Requires main's head to be an ancestor of the branch head —
        otherwise the branch has diverged and a merge, not a
        fast-forward, is needed (same contract as Iceberg's
        ``fast_forward`` procedure). ``drop=True`` removes the branch
        ref after publishing.
        """
        published: dict[str, int] = {}

        def apply(base: S.TableMetadata) -> S.TableMetadata:
            head = self._resolve_ref(base, branch)
            by_id = {s.snapshot_id: s for s in base.snapshots}
            cur: Optional[int] = head
            ancestors = set()
            while cur is not None:
                ancestors.add(cur)
                cur = by_id[cur].parent_snapshot_id if cur in by_id else None
            if (
                base.current_snapshot_id is not None
                and base.current_snapshot_id not in ancestors
            ):
                raise RefError(
                    f"cannot fast-forward: main ({base.current_snapshot_id}) "
                    f"is not an ancestor of {branch!r} head ({head})"
                )
            refs = dict(base.refs)
            if drop and branch in refs:
                del refs[branch]
            base.current_snapshot_id = head
            base.refs = refs
            published["sid"] = head
            return base

        S.commit(self.root, apply)
        return published["sid"]

    def cherry_pick(self, snapshot_id: int) -> S.Snapshot:
        """Apply an append-type snapshot's NET additions onto the
        current main head (Iceberg's ``cherrypick_snapshot``) — the WAP
        publish path when main has MOVED since staging, where
        ``fast_forward`` correctly refuses.

        Metadata-only: the picked snapshot's added manifests (diff vs
        its parent's manifest list) are re-sequenced to the new
        snapshot id and appended to main's manifest list — re-sequencing
        matters for MoR correctness, since an equality delete committed
        on main between staging and publish applies only to strictly
        OLDER sequence numbers and must never claim the picked rows.
        Data files are shared, nothing is rewritten.

        Picking a direct child of the current head degenerates to a
        fast-forward (main moves, no new snapshot — same as Iceberg).
        Guards: append-shape only (no removals), source parent not
        expired, not already applied to main.
        """
        holder: dict[str, S.Snapshot] = {}

        def apply(base: S.TableMetadata) -> S.TableMetadata:
            pick = base.snapshot(snapshot_id)
            if base.current_snapshot_id == snapshot_id:
                raise RefError(f"snapshot {snapshot_id} is already current")
            if pick.parent_snapshot_id == base.current_snapshot_id:
                base.current_snapshot_id = snapshot_id
                holder["snap"] = pick
                return base
            if pick.summary.get("removed_files", 0):
                raise RefError(
                    "only append-type snapshots (no removals) can be "
                    f"cherry-picked; {snapshot_id} removed "
                    f"{pick.summary['removed_files']} files"
                )
            # picked manifests are rewritten (re-sequenced), so the
            # already-applied check keys on the recorded source id, not
            # on manifest paths (Iceberg's published-wap-id discipline)
            for s in base.snapshots:
                if (
                    s.operation == "cherry-pick"
                    and s.summary.get("source_snapshot") == snapshot_id
                ):
                    raise RefError(
                        f"snapshot {snapshot_id} was already cherry-picked "
                        f"as {s.snapshot_id}"
                    )
            parent_paths: set = set()
            if pick.parent_snapshot_id is not None:
                try:
                    parent = base.snapshot(pick.parent_snapshot_id)
                except SnapshotNotFoundError:
                    raise RefError(
                        f"cherry-pick source parent "
                        f"{pick.parent_snapshot_id} has expired; the net "
                        f"additions of {snapshot_id} are unrecoverable"
                    )
                parent_paths = {
                    m["path"]
                    for m in S.read_manifest_list(
                        self.root, parent.manifest_list
                    )
                }
            added = [
                m
                for m in S.read_manifest_list(self.root, pick.manifest_list)
                if m["path"] not in parent_paths
            ]
            if not added:
                raise RefError(f"snapshot {snapshot_id} added nothing")
            head_id = base.current_snapshot_id
            head_list = (
                []
                if head_id is None
                else S.read_manifest_list(
                    self.root, base.snapshot(head_id).manifest_list
                )
            )
            head_paths = {m["path"] for m in head_list}
            if any(m["path"] in head_paths for m in added):
                raise RefError(
                    f"snapshot {snapshot_id} was already applied to main"
                )
            sid = S.next_snapshot_id(base)
            picked_manifests = []
            n_files = n_records = n_bytes = 0
            for m in added:
                entries = read_manifest(self.root, m["path"])
                for e in entries:
                    e.seq = sid
                n_files += len(entries)
                n_records += sum(e.record_count for e in entries)
                n_bytes += sum(e.file_size_bytes for e in entries)
                rel, summ = write_manifest(self.root, entries)
                picked_manifests.append({"path": rel, "summary": summ})
            manifest_list = S.write_manifest_list(
                self.root, sid, head_list + picked_manifests
            )
            snap = S.Snapshot(
                snapshot_id=sid,
                parent_snapshot_id=head_id,
                timestamp_ms=S.now_ms(),
                operation="cherry-pick",
                manifest_list=manifest_list,
                schema_id=base.current_schema_id,
                summary={
                    "source_snapshot": snapshot_id,
                    "added_files": n_files,
                    "removed_files": 0,
                    "added_records": n_records,
                    "added_bytes": n_bytes,
                    "removed_records": 0,
                    "removed_bytes": 0,
                },
            )
            base.current_snapshot_id = sid
            base.snapshots = base.snapshots + [snap]
            holder["snap"] = snap
            return base

        S.commit(self.root, apply)
        return holder["snap"]

    def rollback(
        self, snapshot_id: Optional[int] = None, *, as_of=None
    ) -> None:
        """Point main back at an earlier live snapshot (metadata-only —
        the engine-side form of the reference's 'point-in-time recovery
        via Delta Lake time travel', /root/reference/README.md:176).
        ``as_of`` (Delta's RESTORE ... TO TIMESTAMP): restore to the
        latest snapshot committed at or before the given datetime/date/
        epoch-millis instead of naming an id."""
        if (snapshot_id is None) == (as_of is None):
            raise ValueError("rollback: pass exactly one of snapshot_id / as_of")
        if as_of is not None:
            snapshot_id = self.snapshot_as_of(as_of)

        def apply(base: S.TableMetadata) -> S.TableMetadata:
            base.snapshot(snapshot_id)  # raises if expired/unknown
            base.current_snapshot_id = snapshot_id
            return base

        S.commit(self.root, apply)

    # --- write path -----------------------------------------------------------

    def append(
        self,
        df: DataFrame,
        *,
        target_file_count: Optional[int] = None,
        files_per_partition: Optional[int] = None,
        new_schema: Optional[T.StructType] = None,
        extra_summary: Optional[dict[str, Any]] = None,
        branch: Optional[str] = None,
        set_props: Optional[dict[str, Any]] = None,
    ) -> S.Snapshot:
        """ACID append: write partitioned Parquet + commit a new snapshot.

        Engine counterpart of the reference's streaming Delta append sink.
        For streams, use ``writeStream.foreachBatch(
        streaming.append_batch(table))``: it skips replayed micro-batches,
        which a bare ``table.append`` in ``foreachBatch`` would commit
        twice, and commits nothing for an empty micro-batch (an empty
        ``df`` here still commits a snapshot).

        The op reads one metadata version, once: it supplies the schema
        the rows are conformed to, the write contract, the properties
        the stats harvest reads, and the base of the first commit
        attempt. Only a commit that loses the CAS to a concurrent writer
        reads the table again.
        """
        return self._append(
            self.meta,
            df,
            target_file_count=target_file_count,
            files_per_partition=files_per_partition,
            new_schema=new_schema,
            extra_summary=extra_summary,
            branch=branch,
            set_props=set_props,
        )

    def _append(
        self,
        meta: S.TableMetadata,
        df: DataFrame,
        *,
        commit_empty: bool = True,
        target_file_count: Optional[int] = None,
        files_per_partition: Optional[int] = None,
        new_schema: Optional[T.StructType] = None,
        extra_summary: Optional[dict[str, Any]] = None,
        branch: Optional[str] = None,
        set_props: Optional[dict[str, Any]] = None,
    ) -> Optional[S.Snapshot]:
        """``append`` on the already-loaded ``meta``. With
        ``commit_empty=False`` a write that produced no rows (no files,
        or only the zero-row file Spark leaves for an empty unpartitioned
        write) commits nothing, removes its job directory and returns
        None."""
        if new_schema is not None and not is_additive_evolution(
            T.StructType.fromJson(meta.schema_json), new_schema
        ):
            raise SchemaEvolutionError(
                "only additive (nullable add) or type-widening (int->long, "
                "float->double, decimal precision) schema evolution is "
                "allowed"
            )
        schema_json = (
            new_schema.jsonValue() if new_schema is not None else meta.schema_json
        )
        # identity columns (lakehouse/identity.py): NULLs fill map-side
        # from the watermark in ``meta``; the advanced watermark commits
        # in the same snapshot below, CAS-guarded against a concurrent
        # append having moved it (CommitConflictError → re-run)
        from .identity import advance_watermarks, identity_of

        id_specs = identity_of(meta.properties)
        job_dir = f"data/job-{uuid.uuid4().hex}"
        entries = write_data_files(
            self.root,
            schema_json,
            meta.partition_spec,
            df,
            target_file_count=target_file_count,
            files_per_partition=files_per_partition,
            job_dir=job_dir,
            properties=meta.properties,
            identity=id_specs,
        )
        if not commit_empty and not any(e.record_count for e in entries):
            shutil.rmtree(os.path.join(self.root, job_dir), ignore_errors=True)
            return None
        props_guard = None
        if id_specs:
            id_props, props_guard = advance_watermarks(id_specs, entries)
            set_props = {**(set_props or {}), **id_props}
        return self._commit_files(
            "append", entries, (), new_schema=new_schema,
            summary=extra_summary, branch=branch, set_props=set_props,
            props_guard=props_guard, base=meta,
        )

    # --- read path ------------------------------------------------------------

    def plan(
        self,
        *,
        filter=None,  # noqa: A002
        snapshot_id: Optional[int] = None,
        ref: Optional[str] = None,
        distributed: bool = False,
    ) -> ScanPlan:
        return self._plan(
            self.meta, filter=filter, snapshot_id=snapshot_id, ref=ref,
            distributed=distributed,
        )

    def _plan(self, meta: S.TableMetadata, *, filter=None,  # noqa: A002
              snapshot_id=None, ref=None, distributed=False) -> ScanPlan:
        """``plan`` on the op's already-read ``meta``."""
        snapshot_id = self._read_target(meta, snapshot_id, ref)
        if distributed:
            return plan_scan_lazy(
                self.spark, self.root, meta, filter=filter, snapshot_id=snapshot_id
            ).collect()
        return plan_scan(
            self.root, meta, filter=filter, snapshot_id=snapshot_id
        )

    def _read_target(self, meta, snapshot_id, ref, as_of=None) -> Optional[int]:
        """The snapshot id a read names — directly, through a ref's
        head, or as of a timestamp; None = the current head."""
        if sum(x is not None for x in (snapshot_id, ref, as_of)) > 1:
            raise RefError("pass only one of snapshot_id / ref / as_of")
        if ref is not None:
            return self._resolve_ref(meta, ref)
        if as_of is not None:
            return _snapshot_as_of(meta, as_of)
        return snapshot_id

    def snapshot_as_of(self, ts) -> int:
        """Latest snapshot whose commit time is <= ``ts`` (datetime,
        date, or epoch millis) — Iceberg's timestamp time travel."""
        return _snapshot_as_of(self.meta, ts)

    def scan(
        self,
        *,
        filter=None,  # noqa: A002
        snapshot_id: Optional[int] = None,
        ref: Optional[str] = None,
        as_of=None,
        columns: Optional[Sequence[str]] = None,
        distributed_planning: Optional[bool] = None,
    ) -> DataFrame:
        """Pruned snapshot read; ``snapshot_id`` = time travel,
        ``ref`` = read a named branch/tag head, ``as_of`` = timestamp
        time travel (latest snapshot committed at or before it).

        ``distributed_planning=True`` takes the scale path end-to-end:
        pruning runs as a Spark job over the manifests AND the kept-file
        set stays a DataFrame — the driver only ever sees bounded chunks
        of bare paths, never the full entry list (VERDICT.md §wrong 2).
        The default (``None``) AUTO-selects it when the snapshot tracks
        more entries than ``scan_lazy_threshold`` (table property,
        default 100k) — the count comes from manifest-list summaries
        already in memory, so the decision is free and the default path
        never driver-materializes a huge file list. ``False`` forces the
        driver planner.
        """
        return self._scan(
            self.meta, filter=filter, snapshot_id=snapshot_id, ref=ref,
            as_of=as_of, columns=columns,
            distributed_planning=distributed_planning,
        )

    def _scan(self, meta: S.TableMetadata, *, filter=None,  # noqa: A002
              snapshot_id=None, ref=None, as_of=None, columns=None,
              distributed_planning=None) -> DataFrame:
        """``scan`` on the op's already-read ``meta``."""
        snapshot_id = self._read_target(meta, snapshot_id, ref, as_of)
        if distributed_planning is None:
            threshold = int(
                meta.properties.get("scan_lazy_threshold", 100_000)
            )
            distributed_planning = (
                self._tracked_entry_count(meta, snapshot_id) >= threshold
            )
        if distributed_planning:
            lplan = plan_scan_lazy(
                self.spark, self.root, meta,
                filter=filter, snapshot_id=snapshot_id,
            )
            return read_lazy_plan(
                self.spark, self.root, meta, lplan, columns=columns
            )
        plan = plan_scan(
            self.root, meta, filter=filter, snapshot_id=snapshot_id
        )
        return read_plan(
            self.spark, self.root, meta, plan, columns=columns
        )

    def _manifest_list(
        self, meta: S.TableMetadata, snapshot_id: Optional[int]
    ) -> list[dict[str, Any]]:
        """The manifest list of ``snapshot_id`` (None: the head); empty
        for a table with no snapshot."""
        sid = (
            snapshot_id if snapshot_id is not None
            else meta.current_snapshot_id
        )
        if sid is None:
            return []
        return S.read_manifest_list(self.root, meta.snapshot(sid).manifest_list)

    def _tracked_entry_count(
        self, meta: S.TableMetadata, snapshot_id: Optional[int]
    ) -> int:
        """Pre-pruning manifest entry count of the target snapshot, from
        manifest-list summaries alone (one small JSON read, no manifest
        opened) — drives the auto lazy-planning decision."""
        return sum(
            m.get("summary", {}).get("entry_count", 0)
            for m in self._manifest_list(meta, snapshot_id)
        )

    def scan_with_lineage(
        self,
        *,
        filter=None,  # noqa: A002
        snapshot_id: Optional[int] = None,
    ) -> DataFrame:
        """Scan with Iceberg-style metadata columns: every row carries
        ``_file`` (root-relative data file path), ``_pos`` (row index
        within the file) and ``_snapshot_id`` (the commit that ADDED
        the file — entries are stamped with the committing snapshot id
        at commit time). The root-cause surface 10^12-row debugging
        needs: which commit produced a bad row, which file to rewrite,
        what to ``rollback`` to. ``_file``/``_pos`` come from the
        Parquet reader's ``_metadata`` column — no join; ``_snapshot_
        id`` is a per-file-group literal (bounded by commit count).

        Pending merge-on-read deletes are refused (run
        ``materialize_deletes()`` first): lineage rows for logically
        deleted data would be ambiguous.
        """
        from pyspark.sql import functions as F

        from .errors import LakehouseError
        from .meta.scan import read_entries

        meta = self.meta
        plan = self._plan(meta, filter=filter, snapshot_id=snapshot_id)
        if plan.delete_files:
            raise LakehouseError(
                "scan_with_lineage: table has pending merge-on-read "
                "deletes; run materialize_deletes() first"
            )
        df = read_entries(
            self.spark, meta, self.root, plan.files, lineage=True
        )
        if plan.residual_sql:
            df = df.filter(plan.residual_sql)
        return df.select(
            *T.StructType.fromJson(meta.schema_json).names,
            F.col("__path").alias("_file"),
            F.col("__pos").alias("_pos"),
            F.col("__seq").cast("long").alias("_snapshot_id"),
        )

    def live_files(self, snapshot_id: Optional[int] = None) -> list[DataFileEntry]:
        return self.plan(snapshot_id=snapshot_id).files

    def create_or_replace_view(
        self,
        name: str,
        *,
        filter=None,  # noqa: A002
        snapshot_id: Optional[int] = None,
        ref: Optional[str] = None,
        columns: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Register a snapshot-pinned temp view so ``spark.sql`` works
        over the table — the engine-side analog of the reference's
        Glue-catalog/Athena analyst path (/root/reference/README.md:
        104-114, infra/terraform/modules/glue/main.tf:130-182), without
        an external catalog service.

        Planning happens NOW (scan() prunes against the current — or
        given — snapshot eagerly), so SQL readers get the same snapshot
        isolation ``scan()`` has: later appends/maintenance do not leak
        into the view. Re-register to advance to the new table head.
        ``snapshot_id``/``ref`` pin time-travel or branch views.
        """
        df = self.scan(
            filter=filter, snapshot_id=snapshot_id, ref=ref, columns=columns
        )
        df.createOrReplaceTempView(name)
        return df

    # --- maintenance (delegated to ops modules) -------------------------------

    def update_partition_spec(
        self, new_spec: Sequence[dict[str, Any]]
    ) -> int:
        """Partition-spec evolution (Iceberg-style): future writes use
        the new spec; files written under old specs stay as they are —
        their partition values are self-describing, and planning prunes
        each file against whatever keys it has (conservative on
        missing keys). Rewriting ops (cluster, COW DML, MERGE) migrate
        files to the current spec as a side effect, since partition
        values are derived from source columns at write time.
        Returns the new spec id.
        """
        annotated = spec_with_result_types(new_spec or [], self.schema)
        holder: dict[str, int] = {}

        def apply(base: S.TableMetadata) -> S.TableMetadata:
            specs = [list(s) for s in base.partition_specs] + [annotated]
            holder["spec_id"] = len(specs) - 1
            return dataclasses.replace(
                base,
                partition_spec=annotated,
                partition_specs=specs,
                default_spec_id=len(specs) - 1,
            )

        S.commit(self.root, apply)
        return holder["spec_id"]

    def _materialize_pending_deletes(self, meta: S.TableMetadata):
        """Ops that rewrite raw data files must not run with pending
        merge-on-read deletes: a rewritten row gets a fresh seq, so an
        older equality delete would silently stop applying to it.
        Materializing first keeps every rewrite path (compact, cluster,
        MERGE, COW DML, overwrite) oblivious to MoR state. Returns the
        version the op continues on (the fold-in's, if it committed)."""
        from .ops.mor import materialize_deletes as _mat

        return _mat(self, meta)[1]

    def compact(self, **kw):
        from .ops.compact import compact as _compact

        return _compact(self, self._materialize_pending_deletes(self.meta), **kw)

    def cluster(self, columns: Sequence[str], **kw):
        from .ops.cluster import cluster as _cluster

        meta = self._materialize_pending_deletes(self.meta)
        return _cluster(self, meta, columns, **kw)

    def expire_snapshots(self, **kw):
        from .ops.expire import expire_snapshots as _expire

        return _expire(self, self.meta, **kw)

    def remove_orphan_files(self, **kw):
        from .ops.expire import remove_orphan_files as _gc

        return _gc(self, self.meta, **kw)

    def add_files(self, src, **kw):
        """Metadata-only adoption of EXISTING parquet (Iceberg
        ``add_files``): hardlink external files into the table and
        commit one footer-harvested append snapshot — zero data bytes
        read or rewritten (lakehouse/ops/adopt.py)."""
        from .ops.adopt import add_files as _adopt

        return _adopt(self, self.meta, src, **kw)

    def maintain(self, **kw):
        """One-call maintenance autopilot: metadata-only decisions
        (small-file counts, pending-delete volume, layout staleness,
        snapshot age) drive the existing gated ops — fold-in/convert,
        compact, cluster, expire+GC. ``dry_run=True`` reports without
        acting (lakehouse/ops/maintain.py)."""
        from .ops.maintain import maintain as _maintain

        return _maintain(self, **kw)

    def merge(
        self,
        source: DataFrame,
        *,
        mode: str = "cow",
        schema_evolution: bool = False,
        **kw,
    ):
        """MERGE INTO. ``mode="cow"`` rewrites touched target files
        (pruned, keys-only anti-join); ``mode="mor"`` writes one commit
        of equality-delete file + appended source rows — O(source) write
        cost, zero target reads, deferred rewrite via
        ``materialize_deletes``/maintenance.

        ``schema_evolution=True`` (Delta's withSchemaEvolution): source
        columns the target lacks are first ADDED to the table schema
        (nullable, metadata-only commit), and same-named columns whose
        source type safely widens the target's (schema.is_widening:
        int→long, float→double, decimal precision) widen it — then the
        merge runs under the evolved schema. Existing files are never
        rewritten for the evolution itself (old rows scan as null /
        up-cast); without the flag, unknown source columns are silently
        dropped by the conform projection, Delta's default too."""
        return self._merge(
            self.meta, source, mode=mode, schema_evolution=schema_evolution,
            **kw,
        )

    def _merge(self, meta: S.TableMetadata, source: DataFrame, *,
               mode: str = "cow", schema_evolution: bool = False, **kw):
        """``merge`` on the op's already-read ``meta``."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge mode: {mode!r}")
        if schema_evolution:
            meta = self._evolve_for_merge_source(
                meta, source, op_col=kw.get("op_col", "op")
            )
        if mode == "mor":
            from .ops.mor import merge_into_mor as _merge_mor

            # no materialization needed: the new delete gets a NEW seq,
            # and rows appended in this commit share it (so survive);
            # pending older deletes keep applying to their older files
            return _merge_mor(self, meta, source, **kw)
        from .ops.merge import merge_into as _merge

        return _merge(self, meta, source, **kw)

    def _evolve_for_merge_source(
        self, meta: S.TableMetadata, source: DataFrame, *, op_col: str
    ) -> S.TableMetadata:
        """Compute the union schema of table × merge source (new source
        columns appended nullable, safely-widened types adopted) and
        commit it as a schema evolution — a no-op commit-free pass when
        the source brings nothing new. The op marker column never
        evolves into the table. Returns the version the merge runs on."""
        from .schema import is_widening

        cur = T.StructType.fromJson(meta.schema_json)
        cur_names = {f.name for f in cur.fields}
        src_by_name = {f.name: f for f in source.schema.fields}
        changed = False
        fields = []
        for f in cur.fields:
            s = src_by_name.get(f.name)
            if (
                s is not None
                and s.dataType != f.dataType
                and is_widening(f.dataType, s.dataType)
            ):
                fields.append(
                    T.StructField(f.name, s.dataType, f.nullable, f.metadata)
                )
                changed = True
            else:
                fields.append(f)
        for f in source.schema.fields:
            if f.name not in cur_names and f.name != op_col:
                fields.append(T.StructField(f.name, f.dataType, True))
                changed = True
        if not changed:
            return meta
        return self._commit(
            "evolve-schema", [], (), new_schema=T.StructType(fields),
            summary={"schema_fields": len(fields)}, base=meta,
        )[1]

    def sql(self, statement: str, **kw):
        """Run one DML (``INSERT`` / ``MERGE INTO`` / ``UPDATE`` /
        ``DELETE``) or DDL (``ALTER`` / ``TRUNCATE TABLE``) statement
        against THIS table (the table name in the statement must match
        the root basename) — Spark's parser reads it and
        lakehouse/sql.py dispatches to the native ops."""
        from .sql import execute

        return execute(statement, table=self, **kw)

    def delete(self, predicate, *, mode: str = "cow", **kw):
        """Row-level DELETE. ``mode="cow"`` rewrites touched files;
        ``mode="mor"`` writes an equality delete file (merge-on-read)
        and defers the rewrite to ``materialize_deletes``/maintenance;
        ``mode="mor-pos"`` writes a positional (file_path, row_pos)
        delete file — no key column or uniqueness requirement."""
        if mode == "mor":
            from .ops.mor import delete_mor as _delete_mor

            return _delete_mor(self, self.meta, predicate, **kw)
        if mode == "mor-pos":
            from .ops.mor import delete_mor_positional as _delete_pos

            return _delete_pos(self, self.meta, predicate, **kw)
        if mode != "cow":
            raise ValueError(f"unknown delete mode: {mode!r}")
        from .ops.row_filter import delete as _delete

        meta = self._materialize_pending_deletes(self.meta)
        return _delete(self, meta, predicate, **kw)

    def materialize_deletes(self, **kw):
        from .ops.mor import materialize_deletes as _mat

        return _mat(self, self.meta, **kw)[0]

    def truncate(self) -> S.Snapshot:
        """TRUNCATE TABLE: one commit removing EVERY live data file and
        every pending MoR delete file — metadata-only, zero data I/O
        at any table size (the Iceberg metadata-delete fast path
        applied to the whole table; a COW ``delete("true")`` would
        first pay a narrow whole-table probe pass). Prior snapshots
        stay time-travelable; ``expire_snapshots`` GCs the file bytes
        later. Schema, partition spec, properties, identity watermarks
        and sort orders all survive."""
        return self._replace_all(self.meta, "delete", [], truncate=True)

    def _replace_all(
        self, meta: S.TableMetadata, operation: str, entries, *,
        plan: Optional[ScanPlan] = None,
        set_props: Optional[dict[str, Any]] = None, **summary,
    ) -> S.Snapshot:
        """One commit on ``meta`` that swaps every live data and MoR
        delete file for ``entries``: truncate, the static full-table
        ``INSERT OVERWRITE``, the format writer's overwrite and a
        derived table's full resync. Pending deletes need no fold-in:
        every file they apply to goes too. ``plan``: the caller's plan
        of ``meta``'s head, when it has one."""
        plan = plan or self._plan(meta)
        return self._commit_files(
            operation,
            entries,
            [e.file_path for e in plan.files + plan.delete_files],
            summary={
                **summary,
                "removed_files": len(plan.files),
                "removed_delete_files": len(plan.delete_files),
                "removed_records": sum(e.record_count for e in plan.files),
            },
            set_props=set_props,
            base=meta,
        )

    def evolve_schema(self, new_schema: T.StructType) -> S.Snapshot:
        """Metadata-only schema evolution commit (no data written):
        additive adds and Iceberg-safe type widening, validated by the
        same gate as append(new_schema=...). Existing files stay live;
        subsequent scans read them up-cast under the new schema."""
        return self._commit_files(
            "evolve-schema", [], (), new_schema=new_schema,
            summary={"schema_fields": len(new_schema.fields)},
        )

    # --- field-id column mapping: rename / drop without rewrites --------------

    def _alter_mapped_schema(self, operation: str, build):
        """Commit a NON-additive schema change (rename/drop) through
        field-id mapping (lakehouse/fieldids.py).

        ``build(base) -> (new_schema_json_with_ids, summary, new_props)``
        runs inside the optimistic-commit loop. The commit also stamps
        every live manifest entry still carrying the LEGACY write-schema
        sentinel with the base's current schema id — a one-time,
        metadata-only manifest rewrite that is exact because pre-mapping
        history is additive-only (names never changed), after which every
        reader knows each file's physical column names."""
        holder: dict[str, Any] = {}

        def apply(base: S.TableMetadata) -> S.TableMetadata:
            sid = S.next_snapshot_id(base)
            schema_json, summary, props = build(base)
            schemas = list(base.schemas) + [schema_json]
            new_schema_id = len(schemas) - 1
            head_id = base.current_snapshot_id
            manifests_out: list[dict[str, Any]] = []
            if head_id is not None:
                parent_list = S.read_manifest_list(
                    self.root, base.snapshot(head_id).manifest_list
                )
                for m in parent_list:
                    entries = read_manifest(self.root, m["path"])
                    legacy = [
                        e
                        for e in entries
                        if e.schema_id is None or e.schema_id < 0
                    ]
                    if not legacy:
                        manifests_out.append(m)
                        continue
                    for e in legacy:
                        e.schema_id = base.current_schema_id
                    rel, summ = write_manifest(self.root, entries)
                    manifests_out.append({"path": rel, "summary": summ})
            manifest_list = S.write_manifest_list(
                self.root, sid, manifests_out
            )
            snap = S.Snapshot(
                snapshot_id=sid,
                parent_snapshot_id=head_id,
                timestamp_ms=S.now_ms(),
                operation=operation,
                manifest_list=manifest_list,
                schema_id=new_schema_id,
                summary={"added_files": 0, "removed_files": 0, **summary},
            )
            holder["snap"] = snap
            return dataclasses.replace(
                base,
                schema_json=schema_json,
                schemas=schemas,
                current_schema_id=new_schema_id,
                current_snapshot_id=sid,
                snapshots=base.snapshots + [snap],
                properties=props,
            )

        S.commit(self.root, apply)
        return holder["snap"]

    def _guard_mapped_change(self, base: S.TableMetadata, col: str) -> None:
        for spec in [base.partition_spec, *base.partition_specs]:
            for f in spec or []:
                if f.get("source") == col:
                    raise SchemaEvolutionError(
                        f"column {col!r} is a partition source "
                        f"({f.get('name')}); partition sources cannot "
                        "be renamed or dropped"
                    )
        if base.current_snapshot_id is not None:
            snap = base.snapshot(base.current_snapshot_id)
            for m in S.read_manifest_list(self.root, snap.manifest_list):
                for e in read_manifest(self.root, m["path"]):
                    if e.is_delete and e.delete_key == col:
                        raise SchemaEvolutionError(
                            f"pending equality deletes key on {col!r}; "
                            "run materialize_deletes() or "
                            "convert_deletes() first"
                        )

    def rename_column(self, old: str, new: str) -> S.Snapshot:
        """Metadata-only column rename (Iceberg-style, field-id mapped):
        old data files stay live under their write-time names; scans
        resolve the current name to each file's physical name by field
        id. Partition-source columns and pending equality-delete keys
        are rejected (spec values / delete files embed the name)."""
        def build(base: S.TableMetadata):
            cur = T.StructType.fromJson(base.schema_json)
            names = [f.name for f in cur.fields]
            if old not in names:
                raise SchemaEvolutionError(f"unknown column: {old!r}")
            if new in names:
                raise SchemaEvolutionError(f"column exists: {new!r}")
            self._guard_mapped_change(base, old)
            from .constraints import (
                guard_column_change,
                guard_generated_change,
            )

            guard_column_change(base.properties, old, "rename")
            guard_generated_change(base.properties, old, "rename")
            ids = fieldids.schema_field_ids(base.schemas)[
                base.current_schema_id
            ]
            new_ids = {
                (new if n == old else n): i for n, i in ids.items()
            }
            sj = dict(base.schema_json)
            sj["fields"] = [
                {**f, "name": new} if f["name"] == old else f
                for f in base.schema_json["fields"]
            ]
            props = dict(base.properties)
            from .bloom import bloom_columns_property

            bc = bloom_columns_property(props)
            if old in bc:
                props["bloom_columns"] = [
                    new if c == old else c for c in bc
                ]
            return (
                fieldids.embed_field_ids(sj, new_ids),
                {"renamed": f"{old}->{new}"},
                props,
            )

        return self._alter_mapped_schema("rename-column", build)

    def add_column(
        self, name: str, dtype, *, default=None, doc: Optional[str] = None
    ) -> S.Snapshot:
        """Metadata-only ADD COLUMN with an optional DEFAULT (the
        Iceberg-v3 ``initial-default``): files written before the column
        existed scan as ``default`` (not null) — zero rewrites; every
        writer missing the column fills it too (write-default =
        initial-default: ``schema.conform`` on the Spark side, the
        Arrow conform in the ``lakehouse`` format writers). Routed
        through field-id mapping so a drop-then-re-add can never
        resurrect old values under the new default."""
        from pyspark.sql import functions as F

        from .schema import DEFAULT_KEY

        dt = (
            dtype
            if isinstance(dtype, T.DataType)
            else T._parse_datatype_string(dtype)
        )
        if default is not None:
            # reject defaults the type can't hold, eagerly and exactly
            # (a silent null-producing cast would corrupt every old row;
            # under ANSI mode the malformed cast throws instead)
            try:
                probe = self.spark.range(1).select(
                    F.lit(default).cast(dt).alias("v")
                ).first()
                bad = probe.v is None
            except Exception:
                bad = True
            if bad:
                raise SchemaEvolutionError(
                    f"default {default!r} is not castable to {dt.simpleString()}"
                )

        def build(base: S.TableMetadata):
            cur = T.StructType.fromJson(base.schema_json)
            if name in [f.name for f in cur.fields]:
                raise SchemaEvolutionError(f"column exists: {name!r}")
            ids = fieldids.schema_field_ids(base.schemas)[
                base.current_schema_id
            ]
            new_ids = {**ids, name: fieldids.next_field_id(base.schemas)}
            md: dict[str, Any] = {}
            if default is not None:
                md[DEFAULT_KEY] = default
            if doc:
                md["doc"] = doc
            sj = dict(base.schema_json)
            sj["fields"] = [
                *base.schema_json["fields"],
                {
                    "name": name,
                    "type": dt.jsonValue(),
                    "nullable": True,
                    "metadata": md,
                },
            ]
            return (
                fieldids.embed_field_ids(sj, new_ids),
                {"added": name, "default": default},
                dict(base.properties),
            )

        return self._alter_mapped_schema("add-column", build)

    def drop_column(self, name: str) -> S.Snapshot:
        """Metadata-only column drop: no file is rewritten; the field id
        retires with the name, so a later re-add of the same name gets a
        FRESH id and old values can never resurrect. Compaction migrates
        old files to the current schema as it rewrites them."""
        def build(base: S.TableMetadata):
            cur = T.StructType.fromJson(base.schema_json)
            names = [f.name for f in cur.fields]
            if name not in names:
                raise SchemaEvolutionError(f"unknown column: {name!r}")
            if len(names) == 1:
                raise SchemaEvolutionError("cannot drop the only column")
            self._guard_mapped_change(base, name)
            from .constraints import (
                guard_column_change,
                guard_generated_change,
            )

            guard_column_change(base.properties, name, "drop")
            guard_generated_change(base.properties, name, "drop")
            ids = fieldids.schema_field_ids(base.schemas)[
                base.current_schema_id
            ]
            new_ids = {n: i for n, i in ids.items() if n != name}
            sj = dict(base.schema_json)
            sj["fields"] = [
                f for f in base.schema_json["fields"] if f["name"] != name
            ]
            props = dict(base.properties)
            from .bloom import bloom_columns_property

            bc = bloom_columns_property(props)
            if name in bc:
                props["bloom_columns"] = [c for c in bc if c != name]
            return (
                fieldids.embed_field_ids(sj, new_ids),
                {"dropped": name},
                props,
            )

        return self._alter_mapped_schema("drop-column", build)

    def set_properties(self, **props) -> None:
        """CAS-update table properties (merge semantics; ``None``
        removes a key). Rides the same optimistic commit loop as data
        commits — safe under concurrent writers."""
        self._set_properties(None, props)

    def _set_properties(
        self, meta: Optional[S.TableMetadata], props: dict[str, Any], *,
        checked_rows: bool = False,
    ) -> S.TableMetadata:
        """``set_properties`` committed on ``meta`` (None: the newest
        version); returns the published version. ``checked_rows``: the
        caller validated the new properties against ``meta``'s rows, so
        a row-changing snapshot committed since then is a conflict."""
        from .ops.changes import DATA_NEUTRAL_OPS, _chain

        def rows_changed(base: S.TableMetadata) -> bool:
            try:
                since = _chain(
                    base, meta.current_snapshot_id, base.current_snapshot_id
                )
            except LakehouseError:  # expired or rolled back
                return True
            return any(s.operation not in DATA_NEUTRAL_OPS for s in since)

        def apply(base: S.TableMetadata) -> S.TableMetadata:
            if checked_rows and rows_changed(base):
                raise CommitConflictError(
                    f"rows changed after the check on snapshot "
                    f"{meta.current_snapshot_id}; re-run it"
                )
            p = dict(base.properties)
            for k, v in props.items():
                if v is None:
                    p.pop(k, None)
                else:
                    p[k] = v
            return dataclasses.replace(base, properties=p)

        return S.commit(self.root, apply, base=meta)

    # --- write-time sort order (lakehouse/sortorder.py) --------------------

    def set_sort_order(self, columns) -> None:
        """Set (or clear with ``[]``/``None``) the table's write-time
        sort order — future appends/rewrites range-partition and sort
        on these columns so min/max file stats prune like an index.
        Metadata-only commit; existing files are untouched (compact/
        cluster rewrites migrate them as a side effect of rewriting)."""
        from .sortorder import sort_order_property

        cols = list(columns or [])
        names = [f.name for f in self.schema.fields]
        missing = [c for c in cols if c not in names]
        if missing:
            raise ValueError(f"sort-order columns not in schema: {missing}")
        self.set_properties(**sort_order_property(cols))

    def sort_order(self) -> list:
        from .sortorder import sort_order_of

        return sort_order_of(self.meta.properties)

    # --- CHECK constraints (lakehouse/constraints.py) ---------------------

    def check_constraints(self) -> dict[str, str]:
        """Current ``{name: sql_expr}`` CHECK constraints."""
        from .constraints import constraints_of

        return constraints_of(self.meta.properties)

    def add_check_constraint(self, name: str, expr: str) -> None:
        """ADD CONSTRAINT: validate every EXISTING row satisfies
        ``expr`` (one column-pruned scan; NULL passes, SQL rule), then
        commit the constraint as a table property. Subsequent writes
        through ``ops/append.write_data_files`` (append, streaming
        sinks, MERGE, UPDATE/DELETE, overwrite, derived-table refresh)
        enforce it map-side and fail pre-commit on violation; the
        ``lakehouse`` format writers refuse the table at planning time.
        Rewrites of committed rows (compact, cluster) do not re-check.
        """
        from pyspark.sql import functions as F

        from .constraints import (
            CONSTRAINT_PREFIX,
            constraints_of,
            validate_name,
        )
        from .errors import ConstraintViolationError

        validate_name(name)
        meta = self.meta
        if name in constraints_of(meta.properties):
            raise ValueError(f"CHECK constraint {name!r} already exists")
        bad = (
            self._scan(meta)
            .where(~F.coalesce(F.expr(expr), F.lit(True)))
            .limit(1_000_001)
            .count()
        )
        if bad:
            raise ConstraintViolationError(
                f"cannot add CHECK constraint {name!r} ({expr}): "
                f"{bad} existing row(s) violate it"
            )
        self._set_properties(
            meta, {CONSTRAINT_PREFIX + name: expr}, checked_rows=True
        )

    def drop_check_constraint(self, name: str) -> None:
        from .constraints import CONSTRAINT_PREFIX, constraints_of

        if name not in constraints_of(self.meta.properties):
            raise ValueError(f"no CHECK constraint named {name!r}")
        self.set_properties(**{CONSTRAINT_PREFIX + name: None})

    def set_generated_column(self, column: str, expr: str) -> None:
        """GENERATED ALWAYS AS: declare ``column`` computed from
        ``expr`` (Delta generated columns — the declarative form of the
        reference's hand-coded date derivation, glue_stream.py:239).
        From now on every write through ``ops/append.write_data_files``
        computes the column when the writer omits it (or supplies NULL)
        and fails pre-commit on a supplied value that contradicts the
        expression; the ``lakehouse`` format writers refuse the table
        at planning time.

        ADD validation: every existing NON-NULL value must already
        equal the expression (one pruned scan); existing NULLs are
        allowed but stay NULL on read (only writes compute) — rewrite
        them with ``update`` first if that matters."""
        from pyspark.sql import functions as F

        from .constraints import GENERATED_PREFIX, generated_of
        from .errors import ConstraintViolationError

        meta = self.meta
        if column not in T.StructType.fromJson(meta.schema_json).names:
            raise ValueError(f"no column {column!r} in the table schema")
        if column in generated_of(meta.properties):
            raise ValueError(f"{column!r} already has a generation rule")
        bad = (
            self._scan(meta)
            .where(
                F.col(column).isNotNull()
                & ~F.expr(f"`{column}` <=> ({expr})")
            )
            .limit(1_000_001)
            .count()
        )
        if bad:
            raise ConstraintViolationError(
                f"cannot declare {column!r} GENERATED AS ({expr}): "
                f"{bad} existing row(s) contradict it"
            )
        self._set_properties(
            meta, {GENERATED_PREFIX + column: expr}, checked_rows=True
        )

    def drop_generated_column_rule(self, column: str) -> None:
        from .constraints import GENERATED_PREFIX, generated_of

        if column not in generated_of(self.meta.properties):
            raise ValueError(f"{column!r} has no generation rule")
        self.set_properties(**{GENERATED_PREFIX + column: None})

    def set_identity_column(
        self, column: str, *, start: int = 1, step: int = 1,
        mode: str = "default",
    ) -> None:
        """GENERATED BY DEFAULT AS IDENTITY (lakehouse/identity.py):
        appends fill NULLs of ``column`` with unique ascending ids
        (gaps allowed — Delta's exact contract), supplied values are
        kept and the watermark auto-advances past them at commit.
        ``mode="always"`` (GENERATED ALWAYS AS IDENTITY) instead
        REJECTS supplied values pre-commit, Delta's strict flavor.
        The initial watermark clears every EXISTING value too (one
        metadata-only max over manifest stats), so generated ids never
        collide with history."""
        from .identity import (
            identity_of,
            identity_prop,
            validate_identity_column,
        )

        meta = self.meta
        if column in identity_of(meta.properties):
            raise ValueError(f"{column!r} is already an identity column")
        validate_identity_column(
            T.StructType.fromJson(meta.schema_json), meta.properties,
            column, step,
        )
        high = int(start)
        if meta.current_snapshot_id is not None:
            # metadata-first MAX with its own boundary-file fallback, so
            # stat-less (e.g. adopted) files can't hide a high value
            from .ops.agg import min_max

            cur_max = min_max(self, meta, [column]).per_column[column][1]
            if cur_max is not None:
                high = max(high, int(cur_max) + int(step))
        if mode not in ("default", "always"):
            raise ValueError(f"identity mode {mode!r} (default | always)")
        self._set_properties(
            meta, identity_prop(column, start, step, high, mode),
            checked_rows=True,
        )

    def drop_identity_column_rule(self, column: str) -> None:
        from .identity import IDENTITY_PREFIX, identity_of

        if column not in identity_of(self.meta.properties):
            raise ValueError(f"{column!r} is not an identity column")
        self.set_properties(**{IDENTITY_PREFIX + column: None})

    def analyze(self, columns, **kw):
        """ANALYZE: persist per-column NDV sketches (KMV top-k job per
        column, column-pruned; lakehouse/ops/analyze.py)."""
        from .ops.analyze import analyze as _analyze

        return _analyze(self, columns, **kw)

    def approx_ndv(self, column: str, **kw) -> float:
        """Distinct-count estimate from persisted sketches (zero data
        read when fresh), else a fresh single-column analyze."""
        from .ops.analyze import approx_ndv as _approx

        return _approx(self, column, **kw)

    def analyze_histograms(self, columns, **kw):
        """ANALYZE histograms: persist per-column equi-depth bucket
        bounds (one percentile_approx pass per column, or rank-exact
        via quantiles.exact_quantiles with ``exact=True``) — the CBO
        half NDV sketches lack (lakehouse/ops/analyze.py)."""
        from .ops.analyze import analyze_histograms as _ah

        return _ah(self, columns, **kw)

    def estimate_selectivity(self, column: str, op: str, value):
        """Predicate selectivity from persisted histogram (+NDV for
        ``=``) — zero data read; the cost-model hook for choosing scan
        vs. index vs. metadata plans."""
        from .ops.analyze import estimate_selectivity as _sel

        return _sel(self, column, op, value)

    def count_rows(self, *, filter=None):  # noqa: A002
        """COUNT(*) answered metadata-first: fully-matching files from
        manifest record counts, boundary files read column-pruned —
        zero data bytes for partition/range-aligned filters. Falls back
        to the real scan when MoR deletes are pending."""
        from .ops.agg import count_rows as _count

        return _count(self, self.meta, filter=filter)

    def min_max(self, columns, *, filter=None):  # noqa: A002
        """MIN/MAX per column, metadata-first (manifest min/max for
        fully-matching files with exact stats, reads for the rest)."""
        from .ops.agg import min_max as _min_max

        return _min_max(self, self.meta, columns, filter=filter)

    def sum_agg(self, columns, *, filter=None):  # noqa: A002
        """SUM + non-null COUNT per column, metadata-first: tables
        opted in via the ``agg_stats_columns`` property carry exact
        per-file sums in their manifests, so a partition/range-aligned
        SUM/AVG/COUNT(col) touches zero data bytes. ``per_column`` is
        ``{col: (sum, nonnull_count)}``."""
        from .ops.agg import sum_agg as _sum_agg

        return _sum_agg(self, self.meta, columns, filter=filter)

    def convert_deletes(self, **kw):
        """Minor delete compaction: fold every pending equality delete
        (and all existing positional delete files) into ONE positional
        delete file — O(hidden rows) write, zero data rewrites. The
        cheap midpoint between trickle MoR commits and the full
        ``materialize_deletes`` rewrite."""
        from .ops.mor import convert_deletes as _conv

        return _conv(self, self.meta, **kw)

    def update(
        self, set_exprs: dict[str, str], predicate, *, mode: str = "cow", **kw
    ):
        """Row-level UPDATE. ``mode="cow"`` rewrites touched files;
        ``mode="mor"`` routes through the merge-on-read MERGE (one
        commit: equality delete of matched keys + appended updated
        rows, zero rewrites)."""
        if mode == "mor":
            from .ops.mor import update_mor as _update_mor

            return _update_mor(self, self.meta, set_exprs, predicate, **kw)
        if mode != "cow":
            raise ValueError(f"unknown update mode: {mode!r}")
        from .ops.row_filter import update as _update

        meta = self._materialize_pending_deletes(self.meta)
        return _update(self, meta, set_exprs, predicate, **kw)

    def overwrite_partitions(self, df: DataFrame, **kw):
        from .ops.overwrite import overwrite_partitions as _ow

        return _ow(self, self._materialize_pending_deletes(self.meta), df, **kw)

    def incremental_scan(self, **kw) -> DataFrame:
        # MoR-safe as-is: a pending equality delete only applies to data
        # files with smaller seq, never to files appended in the scanned
        # range, and a MoR delete commit inside the range is op="delete"
        # which the append-scan contract already rejects.
        from .ops.changes import incremental_scan as _inc

        return _inc(self, self.meta, **kw)

    def row_changes(self, **kw) -> DataFrame:
        from .ops.changes import row_changes as _cdc

        return _cdc(self, self.meta, **kw)

    def changelog_view(self, **kw) -> DataFrame:
        """CDC with update PAIRING: delete+insert sharing the
        identifier columns become update_before/update_after
        (Iceberg's create_changelog_view counterpart)."""
        from .ops.changes import changelog_view as _clv

        return _clv(self, self.meta, **kw)

    def rewrite_manifests(self, **kw):
        from .ops.rewrite_manifests import rewrite_manifests as _rw

        return _rw(self, self.meta, **kw)

    def clone_to(self, dest_root: str, **kw) -> "Table":
        """Zero-copy clone into ``dest_root`` (lakehouse/ops/clone.py):
        hardlinked files, verbatim manifests, fresh table identity.
        Returns the new independent Table."""
        from .ops.clone import clone_table

        clone_table(self, dest_root, **kw)
        return Table.load(self.spark, dest_root)

    # --- metadata tables (Iceberg files/snapshots/history counterpart) --------

    def files_df(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """Live data files as a DataFrame (one row per file, with stats;
        merge-on-read delete files are not listed — ``manifests_df``
        counts them).

        Built from the manifest Parquet files with a distributed read, so
        it works at millions-of-files scale without driver memory."""
        data, _deletes = manifest_entries_df(
            self.spark, self.root, self._manifest_list(self.meta, snapshot_id)
        )
        return data.select(
            "file_path",
            "partition_json",
            "record_count",
            "file_size_bytes",
            "stats_json",
            "sort_order",
        )

    def manifests_df(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """Manifest-layer metadata table (Iceberg ``.manifests``): one
        row per manifest in the pinned snapshot's list, straight from
        the list summaries already in memory — zero file I/O. The
        operator view for manifest-health decisions (rewrite_manifests
        thresholds, pruning selectivity)."""
        schema = (
            "path string, entry_count bigint, record_count bigint, "
            "total_bytes bigint, delete_count bigint, partition_count bigint"
        )
        rows = [
            (
                m["path"],
                int(m["summary"].get("entry_count", 0)),
                int(m["summary"].get("record_count", 0)),
                int(m["summary"].get("total_bytes", 0)),
                int(m["summary"].get("delete_count", 0)),
                len(m["summary"].get("partitions", [])),
            )
            for m in self._manifest_list(self.meta, snapshot_id)
        ]
        return self.spark.createDataFrame(rows, schema)

    def refs_df(self) -> DataFrame:
        """Refs metadata table (Iceberg ``.refs``): every named
        branch/tag plus the implicit main branch."""
        rows = [
            (name, r["type"], r["snapshot_id"])
            for name, r in sorted(self.refs().items())
        ]
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id bigint"
        )

    def snapshots_df(self) -> DataFrame:
        rows = [
            (
                s.snapshot_id,
                s.parent_snapshot_id,
                s.timestamp_ms,
                s.operation,
                int(s.summary.get("added_files", 0)),
                int(s.summary.get("removed_files", 0)),
                int(s.summary.get("added_records", 0)),
                int(s.summary.get("added_bytes", 0)),
            )
            for s in self.meta.snapshots
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id bigint, parent_snapshot_id bigint, "
            "timestamp_ms bigint, operation string, added_files bigint, "
            "removed_files bigint, added_records bigint, added_bytes bigint",
        )

    def metrics(self) -> DataFrame:
        """Queryable ops-metrics view — one row per commit, built purely
        from snapshot summaries already on disk (zero data I/O). The
        engine-side form of the reference's monitoring chapter
        (/root/reference/README.md:319-329: CloudWatch metrics + alarms
        over the Glue stream): per-commit operation, rows/bytes/files
        added and removed, commit wall time, and the lineage job link
        (``metadata/lineage/<job_id>/``) for maintenance commits.

        ``commit_seq`` is the 1-based commit ordinal (ordered by
        snapshot id) — the deterministic key tests and oracles use;
        snapshot ids and timestamps vary run to run. ``removed_records``
        / ``removed_bytes`` / ``commit_ms`` are recorded from this
        version on; commits written by older versions surface NULL.
        """
        rows = [
            (
                i + 1,
                s.snapshot_id,
                s.parent_snapshot_id,
                s.timestamp_ms,
                s.operation,
                int(s.summary.get("added_files", 0)),
                int(s.summary.get("removed_files", 0)),
                int(s.summary.get("added_records", 0)),
                int(s.summary.get("added_bytes", 0)),
                (
                    int(s.summary["removed_records"])
                    if "removed_records" in s.summary
                    else None
                ),
                (
                    int(s.summary["removed_bytes"])
                    if "removed_bytes" in s.summary
                    else None
                ),
                (
                    int(s.summary["commit_ms"])
                    if "commit_ms" in s.summary
                    else None
                ),
                s.summary.get("job_id"),
                s.summary.get("mode"),
            )
            for i, s in enumerate(
                sorted(self.meta.snapshots, key=lambda s: s.snapshot_id)
            )
        ]
        return self.spark.createDataFrame(
            rows,
            "commit_seq int, snapshot_id bigint, parent_snapshot_id bigint, "
            "timestamp_ms bigint, operation string, added_files bigint, "
            "removed_files bigint, added_records bigint, added_bytes bigint, "
            "removed_records bigint, removed_bytes bigint, commit_ms bigint, "
            "job_id string, mode string",
        )

    def history(self) -> list[dict[str, Any]]:
        """Commit history, oldest first (snapshot id, op, summary)."""
        return [
            {
                "snapshot_id": s.snapshot_id,
                "parent_snapshot_id": s.parent_snapshot_id,
                "timestamp_ms": s.timestamp_ms,
                "operation": s.operation,
                "summary": dict(s.summary),
            }
            for s in sorted(self.meta.snapshots, key=lambda s: s.snapshot_id)
        ]

    def partitions_df(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """Per-partition rollup: files, records, bytes."""
        f = self.files_df(snapshot_id)
        from pyspark.sql import functions as F

        return f.groupBy(F.col("partition_json").alias("partition")).agg(
            F.count(F.lit(1)).alias("file_count"),
            F.sum("record_count").alias("record_count"),
            F.sum("file_size_bytes").alias("total_bytes"),
        )

    def verify(self, snapshot_id: Optional[int] = None) -> dict[str, Any]:
        """Manifest-vs-filesystem consistency check (the engine-side
        form of the reference's post-write S3 output verification,
        /root/reference/etl/glue_stream.py:357-372): every live data
        file must exist with the byte size its manifest recorded.
        Returns a report; raises nothing — callers decide severity."""
        missing: list[str] = []
        size_drift: list[dict[str, Any]] = []
        files = self.live_files(snapshot_id)
        for e in files:
            p = os.path.join(self.root, e.file_path)
            if not os.path.exists(p):
                missing.append(e.file_path)
                continue
            actual = os.path.getsize(p)
            if actual != e.file_size_bytes:
                size_drift.append(
                    {
                        "file": e.file_path,
                        "manifest_bytes": e.file_size_bytes,
                        "actual_bytes": actual,
                    }
                )
        return {
            "files_checked": len(files),
            "missing": missing,
            "size_drift": size_drift,
            "consistent": not missing and not size_drift,
        }


def _snapshot_as_of(meta: S.TableMetadata, ts) -> int:
    """Latest snapshot of ``meta`` committed at or before ``ts``
    (datetime, date, or epoch millis)."""
    import datetime as _dt

    if isinstance(ts, _dt.datetime):
        ms = int(ts.timestamp() * 1000)
    elif isinstance(ts, _dt.date):
        ms = int(_dt.datetime.combine(ts, _dt.time.max).timestamp() * 1000)
    else:
        ms = int(ts)
    best = None
    for s in meta.snapshots:
        if s.timestamp_ms <= ms and (
            best is None or s.timestamp_ms > best.timestamp_ms
            or (s.timestamp_ms == best.timestamp_ms
                and s.snapshot_id > best.snapshot_id)
        ):
            best = s
    if best is None:
        raise SnapshotNotFoundError(f"no snapshot at or before {ts!r}")
    return best.snapshot_id
