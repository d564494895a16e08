"""Named multi-table catalog: the engine-side Glue-catalog analog.

The reference's analyst path is catalog-first: tables are REGISTERED
under names (Glue database "clickstream", table "clicks" —
/root/reference/infra/terraform/modules/glue/main.tf:130-182) and every
engine resolves the physical location through the catalog
(/root/reference/README.md:104-114). Round 2 added snapshot-pinned temp
views (table.py:create_or_replace_view); this module adds the missing
naming layer so a user manages MANY tables by name:

    cat = Catalog.create("/warehouse")
    t = cat.create_table(spark, "clicks", schema, partition_spec=[...])
    cat.load_table(spark, "clicks").scan()
    cat.register_views(spark)           # spark.sql("SELECT .. FROM clicks")
    spark.read.format("lakehouse").option("catalog", "/warehouse")
         .option("table", "clicks").load()

State is a versioned JSON name→root mapping committed with the same
``os.link`` compare-and-swap the table metadata layer uses
(meta/snapshots.py:publish_json): concurrent registrations race on the
next version file and the loser rebases — no lock service, works on any
POSIX-complete store. The catalog holds only POINTERS; dropping a name
never deletes table data (mirroring Glue's external-table semantics).
"""

from __future__ import annotations

import json
import os
import re
import time
from typing import Any, Optional

from .errors import LakehouseError
from .meta.snapshots import publish_json

_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_.-]*$")
_VERSION_RE = re.compile(r"^cat-v(\d+)\.json$")


class CatalogError(LakehouseError):
    pass


def _catalog_dir(path: str) -> str:
    return os.path.join(path, "_catalog")


def _version_path(path: str, version: int) -> str:
    return os.path.join(_catalog_dir(path), f"cat-v{version}.json")


def _list_versions(path: str) -> list[int]:
    cdir = _catalog_dir(path)
    if not os.path.isdir(cdir):
        return []
    out = []
    for name in os.listdir(cdir):
        m = _VERSION_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


class Catalog:
    def __init__(self, path: str):
        self.path = os.path.abspath(path)

    # --- lifecycle ------------------------------------------------------------

    @staticmethod
    def create(path: str) -> "Catalog":
        path = os.path.abspath(path)
        if _list_versions(path):
            raise CatalogError(f"catalog already exists at {path}")
        os.makedirs(_catalog_dir(path), exist_ok=True)
        if not publish_json(_version_path(path, 1), {"tables": {}}):
            raise CatalogError(f"catalog already exists at {path}")
        return Catalog(path)

    @staticmethod
    def load(path: str) -> "Catalog":
        path = os.path.abspath(path)
        if not _list_versions(path):
            raise CatalogError(f"no catalog at {path}")
        return Catalog(path)

    @staticmethod
    def create_or_load(path: str) -> "Catalog":
        try:
            return Catalog.create(path)
        except CatalogError:
            return Catalog.load(path)

    # --- state ----------------------------------------------------------------

    def _state(self) -> tuple[int, dict[str, str]]:
        versions = _list_versions(self.path)
        if not versions:
            raise CatalogError(f"no catalog at {self.path}")
        v = versions[-1]
        with open(_version_path(self.path, v)) as f:
            return v, json.load(f)["tables"]

    def tables(self) -> dict[str, str]:
        """name → absolute table root."""
        return self._state()[1]

    def _commit(self, apply, *, max_retries: int = 10) -> dict[str, str]:
        for attempt in range(max_retries):
            version, tables = self._state()
            new_tables = apply(dict(tables))
            if publish_json(
                _version_path(self.path, version + 1),
                {"tables": new_tables},
            ):
                return new_tables
            time.sleep(0.05 * (attempt + 1))
        raise CatalogError(
            f"catalog commit failed after {max_retries} CAS attempts"
        )

    # --- table management -----------------------------------------------------

    def resolve(self, name: str) -> str:
        tables = self.tables()
        if name not in tables:
            raise CatalogError(
                f"unknown table {name!r}; available: {sorted(tables)}"
            )
        return tables[name]

    def register(
        self, name: str, table_root: str, *, replace: bool = False
    ) -> None:
        """Point ``name`` at an EXISTING table's root."""
        from .meta.snapshots import current_version

        if not _NAME_RE.match(name):
            raise CatalogError(f"invalid table name: {name!r}")
        table_root = os.path.abspath(table_root)
        current_version(table_root)  # raises TableNotFoundError if absent

        def apply(tables):
            if name in tables and not replace:
                raise CatalogError(
                    f"table {name!r} already registered "
                    f"(at {tables[name]}); pass replace=True"
                )
            tables[name] = table_root
            return tables

        self._commit(apply)

    def unregister(self, name: str) -> None:
        """Drop the NAME only — table data stays (external-table
        semantics; remove data via the table's own expiry/GC)."""

        def apply(tables):
            if name not in tables:
                raise CatalogError(f"unknown table {name!r}")
            del tables[name]
            return tables

        self._commit(apply)

    def create_table(
        self,
        spark,
        name: str,
        schema,
        *,
        partition_spec=None,
        properties: Optional[dict[str, Any]] = None,
    ):
        """Create a managed table under ``<catalog>/tables/<name>`` and
        register it in one step."""
        from .table import Table

        if not _NAME_RE.match(name):
            raise CatalogError(f"invalid table name: {name!r}")
        root = os.path.join(self.path, "tables", name)
        t = Table.create(
            spark,
            root,
            schema,
            partition_spec=partition_spec,
            properties=properties,
        )
        self.register(name, root)
        return t

    def load_table(self, spark, name: str):
        from .table import Table

        return Table.load(spark, self.resolve(name))

    # --- warehouse-wide maintenance --------------------------------------------

    def maintain_all(self, spark, *, dry_run: bool = False, **maintain_kw):
        """One call keeps the whole warehouse healthy: run the
        maintenance autopilot on every registered table, and refresh
        every registered DERIVED table (rollup / feature transform —
        detected by the base-root marker in its own properties) from
        its base's CDC delta, THEN maintain the derived table itself
        (it is an ordinary lakehouse table: streaming-refreshed feature
        and rollup tables accumulate small files and snapshots exactly
        like bases do). Derived tables refresh FIRST, then everything
        is maintained: the refresh reads the CDC chain that a
        subsequent aggressive expiry might truncate (a truncated chain
        still self-heals via full resync — this ordering just keeps
        the cheap incremental path the common case).

        Returns per-name results; a derived table's entry is
        ``{"refresh": RefreshResult, "maintain": report}``.

        Returns {name: report-or-refresh-result}. Failures propagate:
        warehouse maintenance is a batch job, and a half-silent sweep
        is worse than a loud one.
        """
        from .rollup import MaterializedRollup
        from .table import Table
        from .transform import MaterializedTransform

        out: dict[str, Any] = {}
        tables = self.tables()
        derived, plain = {}, {}
        for name, root in sorted(tables.items()):
            props = Table(spark, root).meta.properties
            if props.get("rollup_base_root"):
                derived[name] = MaterializedRollup(spark, root)
            elif props.get("transform_base_root"):
                derived[name] = MaterializedTransform(spark, root)
            else:
                plain[name] = root
        for name, d in derived.items():
            if dry_run:
                out[name] = {
                    "refresh": {"action": "refresh", "dry_run": True},
                    "maintain": d.table.maintain(dry_run=True, **maintain_kw),
                }
            else:
                out[name] = {
                    "refresh": d.refresh(),
                    # derived tables are ordinary tables: compact the
                    # small files their per-batch refreshes accumulate
                    "maintain": d.table.maintain(**maintain_kw),
                }
        for name, root in plain.items():
            out[name] = Table.load(spark, root).maintain(
                dry_run=dry_run, **maintain_kw
            )
        return out

    # --- SQL surface ----------------------------------------------------------

    def register_views(
        self,
        spark,
        names: Optional[list[str]] = None,
        prefix: str = "",
        pins: Optional[dict[str, int]] = None,
    ) -> list[str]:
        """Snapshot-pinned temp view per catalog table, so
        ``spark.sql("SELECT ... FROM <name>")`` works across the whole
        catalog (re-run to advance views to each table's new head).

        ``pins`` (from :meth:`pin`) pins each view at a RECORDED
        snapshot id instead of the current head — the reproducible
        cross-table analyst session: the same pin dict re-creates the
        identical warehouse view set tomorrow, regardless of writes in
        between (per-table time travel; snapshot expiry is the only
        thing that can invalidate a pin, and it raises loudly)."""
        out = []
        for name in sorted(names or self.tables()):
            self.load_table(spark, name).create_or_replace_view(
                prefix + name,
                snapshot_id=(pins or {}).get(name),
            )
            out.append(prefix + name)
        return out

    def metrics_all(self, spark, names: Optional[list[str]] = None):
        """Warehouse-wide ops-metrics view: every registered table's
        per-commit ledger (``Table.metrics()`` — built from snapshot
        summaries alone, zero data I/O) unioned under a leading
        ``table_name`` column. The one frame an operator dashboards:
        rows/bytes/files added-removed and commit wall across the whole
        warehouse, straight from metadata."""
        from functools import reduce

        import pyspark.sql.functions as F

        frames = [
            self.load_table(spark, name)
            .metrics()
            .select(F.lit(name).alias("table_name"), "*")
            for name in sorted(names or self.tables())
        ]
        if not frames:
            raise CatalogError("no tables registered")
        return reduce(lambda a, b: a.unionByName(b), frames)

    # --- multi-table transactions ----------------------------------------

    def alerts(self, spark, rules, *, now_ms=None, names=None):
        """Warehouse-wide ops alarm sweep (lakehouse/alerts.py):
        evaluate declarative threshold rules — stale table / stale
        maintenance / slow commit / snapshot backlog / small files /
        MoR delete backlog / stalled stream — over every registered
        table's metadata. Zero data I/O; returns the fired-alert
        frame (empty = all clear)."""
        from .alerts import catalog_alerts

        return catalog_alerts(
            self, spark, rules, now_ms=now_ms, names=names
        )

    def sql(self, spark, statement: str, **kw):
        """Run one DML (``INSERT`` / ``MERGE INTO`` / ``UPDATE`` /
        ``DELETE``) or DDL (``CREATE TABLE … AS`` / ``ALTER TABLE``)
        statement against a catalog table through the engine's native
        ops (Spark's parser + lakehouse/sql.py — the SQL-tooling
        on-ramp; reads go through ``register_views`` + ``spark.sql``).
        ``kw`` forwards to the op (``mode="mor"``, ``isolation=...``,
        or CREATE's ``properties=...``)."""
        from .sql import execute

        return execute(statement, catalog=self, spark=spark, **kw)

    def transaction(self, spark):
        """Open a multi-table transaction: stage appends to several
        catalog tables, publish all-or-nothing (see lakehouse/txn.py).
        Pending committed-but-unpublished transactions are recovered
        first, so a new txn always stages on fully-published heads."""
        from .txn import Transaction, recover_txns

        recover_txns(self, spark)
        return Transaction(self, spark)

    def recover_txns(self, spark) -> dict[str, dict[str, str]]:
        """Finish publishing any transaction whose publisher crashed
        after the durable commit point (intent file, no done marker)."""
        from .txn import recover_txns

        return recover_txns(self, spark)

    def txns_df(self, spark):
        """Transaction ledger view: one row per multi-table txn with
        its publish status (see lakehouse/txn.py txns_df)."""
        from .txn import txns_df

        return txns_df(self, spark)

    def pin(self, spark, names: Optional[list[str]] = None) -> dict[str, int]:
        """Capture {table: current snapshot id} for a reproducible
        multi-table read set (feed to ``register_views(pins=...)``).
        Each id is that table's committed head at capture time; tables
        without snapshots are omitted (nothing to pin).

        Runs transaction recovery first, so the pinned set is
        all-or-nothing with respect to every durably-committed
        multi-table transaction (lakehouse/txn.py visibility note)."""
        self.recover_txns(spark)
        out: dict[str, int] = {}
        for name in sorted(names or self.tables()):
            sid = self.load_table(spark, name).current_snapshot_id()
            if sid is not None:
                out[name] = sid
        return out
