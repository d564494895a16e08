"""Multi-table ACID transactions over catalog tables.

The reference pipeline lands clicks in ONE Delta table and has no
cross-table story (/root/reference/etl/glue_stream.py:339-349 — a single
date-partitioned sink); real warehouses built on it immediately grow
side tables (quarantine, rollups, per-day indexes) that must move in
lockstep with the main table. Iceberg solves this with catalog-level
multi-table commits (the REST catalog's ``commitTransaction``); Delta
never did. This module is the engine's equivalent, built from two
primitives the table layer already has: write-audit-publish staging
branches and ``cherry_pick``.

Protocol (intent-log two-phase publish):

1. **Stage.** Every ``Transaction.append`` lands on a per-transaction
   branch ``txn-<id>`` of its table (implicit branch-create, parent =
   main head at first touch). Plain readers never see staged rows;
   ``Transaction.scan`` reads your own writes through the branch ref.
2. **Intent (the atomic commit point).** ``commit()`` validates every
   staged snapshot is append-shaped (``removed_files == 0`` — which
   ``append`` guarantees — so publishing can never hit a conflict),
   then CAS-creates ``<catalog>/_catalog/txns/<id>.json`` listing each
   table's root, branch, and staged snapshot chain. The instant this
   single ``os.link`` lands, the transaction is durably committed:
   every staged snapshot WILL become visible, on every table, even
   across crashes.
3. **Publish.** Each table's branch is fast-forwarded into main
   (branch dropped); if main moved since staging — a concurrent writer
   — each staged snapshot is ``cherry_pick``-ed instead (append-shaped
   commits never conflict, Iceberg's append-vs-append rule). A marker
   ``<id>.done`` retires the ledger entry.
4. **Recovery.** ``recover_txns`` replays step 3 for any intent file
   without a marker. Publishing is idempotent end-to-end: a
   fast-forward that already happened degrades to the cherry-pick
   loop, whose "already cherry-picked as …" / "already applied to
   main" guards (table.py cherry_pick) skip work a crashed publisher
   finished. ``Catalog.pin`` runs recovery first, so a pinned
   multi-table read set is all-or-nothing with respect to every
   committed transaction.

Visibility semantics, stated honestly: the commit point makes the
transaction atomically DURABLE, not atomically VISIBLE — between step
2 and the end of step 3 a direct reader can see table A's rows before
table B's (seconds, one metadata commit per table). Readers that need
cross-table atomicity go through ``Catalog.pin`` /
``register_views(pins=...)``, which recover first. This is the same
contract as Iceberg's REST-catalog transactions outside a single
catalog snapshot.

An ``abort()`` (or ``with``-exit before commit) drops the staging
branches; the staged snapshots become unreachable and the ordinary
``expire_snapshots`` + ``remove_orphan_files`` GC reclaims their data.
Nothing about an aborted transaction ever reaches the ledger.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Optional

from .errors import LakehouseError, RefError
from .meta.snapshots import publish_json


class TransactionError(LakehouseError):
    pass


def _txns_dir(catalog_path: str) -> str:
    return os.path.join(catalog_path, "_catalog", "txns")


def _cas_create(path: str, payload: dict[str, Any]) -> None:
    """Atomically create ``path`` through the table commits' CAS
    primitive (``snapshots.publish_json``); raises if it exists."""
    if not publish_json(path, payload):
        raise TransactionError(f"transaction ledger entry exists: {path}")


def _main_ancestry(meta) -> set[int]:
    by_id = {s.snapshot_id: s for s in meta.snapshots}
    out: set[int] = set()
    cur = meta.current_snapshot_id
    while cur is not None and cur in by_id:
        out.add(cur)
        cur = by_id[cur].parent_snapshot_id
    return out


def _publish_table(spark, entry: dict[str, Any]) -> str:
    """Idempotently make one table's staged chain visible on main.

    Fast path: WAP fast-forward (main unmoved since staging). Fallback
    (concurrent writer advanced main, or a crashed publisher already
    consumed the branch): cherry-pick each staged snapshot in chain
    order, skipping ones a previous attempt already landed.
    """
    from .table import Table

    t = Table.load(spark, entry["root"])
    branch = entry["branch"]
    try:
        t.fast_forward(branch, drop=True)
        return "fast-forward"
    except RefError:
        pass  # diverged, already published, or branch already dropped

    picked = 0
    for sid in entry["staged"]:
        if sid in _main_ancestry(t.meta):
            continue  # landed by a fast-forward before a crash
        try:
            t.cherry_pick(sid)
            picked += 1
        except RefError as e:
            msg = str(e)
            if "already" in msg or "added nothing" in msg:
                continue  # idempotent re-publish, or an empty append
            raise
    try:
        t.drop_ref(branch)
    except RefError:
        pass  # consumed by the earlier fast-forward attempt
    return f"cherry-pick:{picked}"


@dataclass
class _Staged:
    name: str
    root: str
    table: Any
    staged: list[int] = field(default_factory=list)


class Transaction:
    """Stage writes to several catalog tables; publish all-or-nothing.

    Usage::

        with catalog.transaction(spark) as txn:
            txn.append("clips", new_clips)
            txn.append("quarantine", rejects)
            txn.commit()

    Exiting the ``with`` block without ``commit()`` aborts (staging
    branches dropped, main never touched). Only append writes are
    accepted — that restriction is what makes publish conflict-free
    and recovery always able to finish (see module docstring).
    """

    def __init__(self, catalog, spark):
        self.catalog = catalog
        self.spark = spark
        self.txn_id = uuid.uuid4().hex[:16]
        self.branch = f"txn-{self.txn_id}"
        self._touched: dict[str, _Staged] = {}
        self._state = "open"

    # --- staging ---------------------------------------------------------

    def _entry(self, name: str) -> _Staged:
        if self._state != "open":
            raise TransactionError(f"transaction is {self._state}")
        if name not in self._touched:
            t = self.catalog.load_table(self.spark, name)
            self._touched[name] = _Staged(name, t.root, t)
        return self._touched[name]

    def append(self, name: str, df, **append_kw):
        """Stage an append to catalog table ``name`` on the txn branch."""
        if "branch" in append_kw:
            raise TransactionError("the transaction owns the branch")
        e = self._entry(name)
        snap = e.table.append(df, branch=self.branch, **append_kw)
        e.staged.append(snap.snapshot_id)
        return snap

    def merge(self, name: str, source, **merge_kw):
        """Stage a merge-on-read UPSERT to catalog table ``name`` on
        the txn branch. MoR merge is append-shaped (one commit of
        equality-delete + appended rows, zero removals), so it stages
        and publishes exactly like an append — fast-forward, or
        cherry-pick under concurrent writers. Publish-time semantics
        are last-publisher-wins per key: the re-sequenced delete
        retires every older version of a source key on main, including
        rows a concurrent writer appended after staging (the ordinary
        upsert contract). COW merges rewrite files and are NOT
        transactional — pass ``mode="mor"`` only (the default here)."""
        if merge_kw.pop("mode", "mor") != "mor":
            raise TransactionError(
                "only merge-on-read merges are transactional "
                "(append-shaped commits; COW rewrites cannot be "
                "staged conflict-free)"
            )
        if "branch" in merge_kw:
            raise TransactionError("the transaction owns the branch")
        e = self._entry(name)
        res = e.table.merge(
            source, mode="mor", branch=self.branch, **merge_kw
        )
        if res.snapshot_id is not None:
            e.staged.append(res.snapshot_id)
        return res

    def scan(self, name: str, **scan_kw):
        """Read-your-writes: the table AS IF the txn were published."""
        e = self._entry(name)
        if e.staged:
            return e.table.scan(ref=self.branch, **scan_kw)
        return e.table.scan(**scan_kw)

    # --- terminal states ---------------------------------------------------

    def commit(self) -> dict[str, str]:
        """Durably commit (one CAS ledger write), then publish every
        table. Returns {table: publish mode}. After the ledger write
        succeeds, the transaction survives any crash — ``recover_txns``
        finishes the publish."""
        if self._state != "open":
            raise TransactionError(f"transaction is {self._state}")
        tables = []
        for e in self._touched.values():
            staged = [
                sid
                for sid in e.staged
                # empty appends carry no manifests; publishing skips
                # them anyway, so keep the ledger minimal
                if e.table.meta.snapshot(sid).summary.get("added_files", 0)
            ]
            for sid in staged:
                if e.table.meta.snapshot(sid).summary.get("removed_files", 0):
                    raise TransactionError(
                        f"staged snapshot {sid} on {e.name!r} removes "
                        "files; only append-shaped commits are "
                        "transactional"
                    )
            if staged:
                tables.append(
                    {
                        "name": e.name,
                        "root": e.root,
                        "branch": self.branch,
                        "staged": staged,
                    }
                )
        if not tables:
            self.abort()
            return {}
        os.makedirs(_txns_dir(self.catalog.path), exist_ok=True)
        _cas_create(
            os.path.join(_txns_dir(self.catalog.path), f"{self.txn_id}.json"),
            {
                "txn_id": self.txn_id,
                "ts_ms": int(time.time() * 1000),
                "tables": tables,
            },
        )
        self._state = "committed"
        modes = {t["name"]: _publish_table(self.spark, t) for t in tables}
        _mark_done(self.catalog.path, self.txn_id, modes)
        self._state = "published"
        return modes

    def abort(self) -> None:
        if self._state in ("aborted", "published"):
            return
        if self._state == "committed":
            raise TransactionError(
                "already durably committed; run recover_txns, not abort"
            )
        for e in self._touched.values():
            try:
                e.table.drop_ref(self.branch)
            except RefError:
                pass  # never staged (scan-only touch)
        self._state = "aborted"

    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if self._state == "open":
            self.abort()
        elif self._state == "committed":  # crash window hit in-process
            recover_txns(self.catalog, self.spark)


def _mark_done(catalog_path: str, txn_id: str, modes: dict[str, str]) -> None:
    done = os.path.join(_txns_dir(catalog_path), f"{txn_id}.done")
    if not os.path.exists(done):
        try:
            _cas_create(done, {"txn_id": txn_id, "published": modes})
        except TransactionError:
            pass  # concurrent recovery won the marker; same outcome


def recover_txns(catalog, spark) -> dict[str, dict[str, str]]:
    """Finish publishing every durably-committed transaction whose
    publisher died (intent file without a ``.done`` marker). Idempotent
    and safe to run concurrently with live publishers — every step is
    CAS-guarded at the table layer. Returns {txn_id: {table: mode}}."""
    tdir = _txns_dir(catalog.path)
    if not os.path.isdir(tdir):
        return {}
    out: dict[str, dict[str, str]] = {}
    for fn in sorted(os.listdir(tdir)):
        if not fn.endswith(".json"):
            continue
        txn_id = fn[: -len(".json")]
        if os.path.exists(os.path.join(tdir, f"{txn_id}.done")):
            continue
        with open(os.path.join(tdir, fn)) as f:
            rec = json.load(f)
        modes = {
            t["name"]: _publish_table(spark, t) for t in rec["tables"]
        }
        _mark_done(catalog.path, txn_id, modes)
        out[txn_id] = modes
    return out


def purge_stale_branches(
    catalog, spark, *, older_than_ms: int = 72 * 3600 * 1000
) -> dict[str, list[str]]:
    """Drop ``txn-*`` staging branches whose transaction never reached
    the ledger (writer crashed BEFORE the commit point) and whose head
    snapshot is older than the grace period — the txn analog of
    orphan-file GC. Branches of committed txns are never touched (the
    ledger entry exists; recovery owns them)."""
    tdir = _txns_dir(catalog.path)
    committed = set()
    if os.path.isdir(tdir):
        committed = {
            fn[: -len(".json")]
            for fn in os.listdir(tdir)
            if fn.endswith(".json")
        }
    now = int(time.time() * 1000)
    from .table import Table

    dropped: dict[str, list[str]] = {}
    for name, root in sorted(catalog.tables().items()):
        t = Table.load(spark, root)
        for ref, info in t.refs().items():
            if not ref.startswith("txn-") or info.get("type") != "branch":
                continue
            if ref[len("txn-"):] in committed:
                continue
            head = t.meta.snapshot(info["snapshot_id"])
            if now - head.timestamp_ms < older_than_ms:
                continue
            try:
                t.drop_ref(ref)
                dropped.setdefault(name, []).append(ref)
            except RefError:
                pass
    return dropped


def txns_df(catalog, spark):
    """Transaction ledger as a DataFrame (one row per txn): id, commit
    time, per-table staged snapshot counts, and publish status
    ('published' = done marker present; 'committed' = durably committed,
    publish pending — recover_txns owns it). The observability twin of
    Table.metrics() for the multi-table layer; driver cost is one
    listdir + one small json per txn (ledger-bounded, no data I/O)."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("txn_id", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("tables", T.ArrayType(T.StringType())),
            T.StructField("staged_snapshots", T.IntegerType()),
        ]
    )
    tdir = _txns_dir(catalog.path)
    rows = []
    if os.path.isdir(tdir):
        for fn in sorted(os.listdir(tdir)):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(tdir, fn)) as f:
                rec = json.load(f)
            done = os.path.exists(
                os.path.join(tdir, f"{rec['txn_id']}.done")
            )
            rows.append(
                {
                    "txn_id": rec["txn_id"],
                    "ts_ms": int(rec.get("ts_ms", 0)),
                    "status": "published" if done else "committed",
                    "tables": [t["name"] for t in rec["tables"]],
                    "staged_snapshots": sum(
                        len(t["staged"]) for t in rec["tables"]
                    ),
                }
            )
    return spark.createDataFrame(rows, schema=schema)
