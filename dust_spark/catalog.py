"""Versioned table catalog — the storage half of the engine.

The reference holds one mutable SQLite store (db/src/db.rs:71-101);
Spark storage is immutable, so every write produces a new table
*version* and transactions become a staged-swap protocol (SURVEY.md
§7.3 hard part #1):

- ``Catalog`` maps table name → ``TableState`` (definition + current
  DataFrame + id high-water mark).
- A write batch runs against an ``Overlay`` (copy-on-write dict of
  staged states). Non-transactional batches publish after every
  statement; transactional batches publish once at COMMIT, or drop the
  overlay wholesale on first error — voiding the batch exactly like
  the reference's ROLLBACK (db/src/db.rs:733-791).
- Disk mode persists each version as parquet under
  ``{warehouse}/{table}/v{n}`` plus an atomically-replaced
  ``catalog.json`` manifest and an append-only statement journal —
  the deterministic-replay residue of the reference's Raft log
  (DOC/DESIGN.md:47-49).

Single-writer semantics are inherited from the reference (its whole
store sits behind a global mutex, http/src/service.rs:140), so version
publication needs no distributed locking; readers always see the last
published catalog snapshot.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dust_spark.dialect import HIDDEN_ROWID, TableDef


@dataclass
class TableState:
    tdef: TableDef
    df: DataFrame
    high_water: int = 0  # rowid high-water mark for last_insert_id
    version: int = 0

    def visible_df(self) -> DataFrame:
        """The queryable projection: implicit-rowid tables store their
        hidden rowid column in ``df`` but never expose it through the
        registered view (SQLite's ``SELECT *`` excludes rowid)."""
        if self.tdef.implicit_rowid and HIDDEN_ROWID in self.df.columns:
            return self.df.drop(HIDDEN_ROWID)
        return self.df


class Catalog:
    """Published (committed) engine state."""

    def __init__(self, spark: SparkSession, warehouse: str | None = None, view_prefix: str = ""):
        self.spark = spark
        self.warehouse = warehouse
        # attached databases register their tables under a prefixed view
        # name (Spark temp views have a flat namespace); '' for main
        self.view_prefix = view_prefix
        self.tables: dict[str, TableState] = {}
        self.views: dict[str, str] = {}  # view name -> SELECT sql
        # trigger name (lower) -> serialized TriggerDef dict (creation
        # order preserved by dict insertion; SQLite fires in that order)
        self.triggers: dict[str, dict] = {}
        # journal high-water mark: seq of the last statement reflected in
        # this manifest — replay() skips entries at or below it, so
        # "load manifest + replay journal tail" never double-applies
        self.journal_seq: int = 0
        if warehouse:
            os.makedirs(warehouse, exist_ok=True)
            self._load_manifest()

    # -- persistence -------------------------------------------------------

    def view_name(self, name: str) -> str:
        # attached-catalog table keys already carry the prefix (see
        # _load_manifest); main-catalog keys don't and prefix is ''
        return name if name.startswith(self.view_prefix) else f"{self.view_prefix}{name}"

    def storage_name(self, name: str) -> str:
        """Local (on-disk / manifest) name: the prefix is a session-level
        namespace only — a standalone session must open the same
        warehouse with plain names."""
        if self.view_prefix and name.startswith(self.view_prefix):
            return name[len(self.view_prefix):]
        return name

    def _manifest_path(self) -> str:
        return os.path.join(self.warehouse, "catalog.json")

    def _load_manifest(self) -> None:
        path = self._manifest_path()
        if not os.path.exists(path):
            return
        with open(path) as f:
            man = json.load(f)
        for name, meta in man.get("tables", {}).items():
            tdef = _tdef_from_json(meta["tdef"])
            df = self.spark.read.schema(tdef.schema).parquet(meta["path"])
            key = self.view_name(name)
            if self.view_prefix:
                # in-session FK references resolve within this catalog
                tdef.name = key
                for fk in tdef.foreign_keys:
                    fk.ref_table = self.view_name(fk.ref_table)
            self.tables[key] = TableState(
                tdef=tdef, df=df, high_water=meta["high_water"], version=meta["version"]
            )
            self.tables[key].visible_df().createOrReplaceTempView(key)
        self.views = man.get("views", {})
        self.triggers = man.get("triggers", {})
        self.journal_seq = man.get("journal_seq", 0)
        for vname, vsql in self.views.items():
            self.spark.sql(f"CREATE OR REPLACE TEMP VIEW {vname} AS {vsql}")

    def _save_manifest(self) -> None:
        def tdef_json_local(st):
            doc = _tdef_to_json(st.tdef)
            if self.view_prefix:
                doc["name"] = self.storage_name(doc["name"])
                doc["foreign_keys"] = [
                    [row[0], self.storage_name(row[1]), *row[2:]]
                    for row in doc.get("foreign_keys", [])
                ]
            return doc

        man = {
            "tables": {
                self.storage_name(name): {
                    "tdef": tdef_json_local(st),
                    "path": os.path.join(
                        self.warehouse, self.storage_name(name), f"v{st.version}"
                    ),
                    "high_water": st.high_water,
                    "version": st.version,
                }
                for name, st in self.tables.items()
            },
            "views": self.views,
            "triggers": self.triggers,
            "journal_seq": self.journal_seq,
        }
        fd, tmp = tempfile.mkstemp(dir=self.warehouse, suffix=".json")
        with os.fdopen(fd, "w") as f:
            json.dump(man, f, indent=1)
        os.replace(tmp, self._manifest_path())  # atomic publish

    # -- materialization ---------------------------------------------------

    def materialize(self, name: str, st: TableState) -> TableState:
        """Pin a new table version: parquet write (disk mode) or eager
        localCheckpoint (memory mode). Either way the lineage is
        truncated so repeated DML doesn't grow an unbounded plan."""
        if self.warehouse:
            path = os.path.join(self.warehouse, self.storage_name(name), f"v{st.version}")
            st.df.write.mode("overwrite").parquet(path)
            df = self.spark.read.schema(st.tdef.schema).parquet(path)
            return replace(st, df=df)
        return replace(st, df=st.df.localCheckpoint(eager=True))

    # -- publication -------------------------------------------------------

    def publish(self, staged: dict[str, TableState | None]) -> None:
        """Atomically adopt staged table states (None = dropped) and
        refresh the session views."""
        for name, st in staged.items():
            if st is None:
                self.tables.pop(name, None)
                self.spark.catalog.dropTempView(self.view_name(name))
            else:
                self.tables[name] = st
                st.visible_df().createOrReplaceTempView(self.view_name(name))
        if self.warehouse:
            self._save_manifest()
        # re-resolve dependent views against the new table versions. A
        # view whose base table was dropped/renamed goes DANGLING rather
        # than failing the commit (SQLite keeps the view defined and
        # errors only when it is queried): drop the stale temp view so a
        # later SELECT surfaces a missing-relation error instead of
        # silently reading the pre-rename snapshot.
        for vname, vsql in self.views.items():
            try:
                self.spark.sql(f"CREATE OR REPLACE TEMP VIEW {vname} AS {vsql}")
            except Exception:
                self.spark.catalog.dropTempView(vname)


class Overlay:
    """Copy-on-write staging layer for one write batch. One overlay per
    catalog; a batch touching attached databases routes through
    ``sibling()`` and the whole family commits or rolls back together —
    SQLite's cross-database transaction atomicity."""

    def __init__(self, catalog: Catalog, root: "Overlay | None" = None):
        self.catalog = catalog
        self.staged: dict[str, TableState | None] = {}
        self._root: Overlay = root or self
        self._siblings: dict[int, Overlay] | None = {} if root is None else None

    def sibling(self, catalog: Catalog) -> "Overlay":
        root = self._root
        if catalog is root.catalog:
            return root
        assert root._siblings is not None
        key = id(catalog)
        if key not in root._siblings:
            root._siblings[key] = Overlay(catalog, root=root)
        return root._siblings[key]

    def _family(self) -> list["Overlay"]:
        root = self._root
        return [root, *(root._siblings or {}).values()]

    def get(self, name: str) -> TableState | None:
        if name in self.staged:
            return self.staged[name]
        return self.catalog.tables.get(name)

    def exists(self, name: str) -> bool:
        return self.get(name) is not None

    def put(self, name: str, st: TableState) -> None:
        self.staged[name] = st
        # staged state must be visible to later statements in the batch
        st.visible_df().createOrReplaceTempView(self.catalog.view_name(name))

    def drop(self, name: str) -> None:
        self.staged[name] = None
        self.catalog.spark.catalog.dropTempView(self.catalog.view_name(name))

    def snapshot(self) -> dict[int, dict[str, "TableState | None"]]:
        """Statement-journal checkpoint: the staged maps of the whole
        family, keyed by overlay identity (SQLite per-statement
        atomicity — a statement that fails AFTER applying multi-table
        side effects like FK CASCADE must undo only its own work)."""
        return {id(ov): dict(ov.staged) for ov in self._family()}

    def restore_snapshot(self, snap: dict[int, dict[str, "TableState | None"]]) -> None:
        """Roll the family back to ``snap``: re-register the views of
        every table whose staged entry changed since, then restore the
        staged maps. Siblings created after the snapshot restore to
        empty."""
        _MISSING = object()
        for ov in self._family():
            before = snap.get(id(ov), {})
            for name in set(ov.staged) | set(before):
                cur = ov.staged.get(name, _MISSING)
                prev = before.get(name, _MISSING)
                if cur is prev:
                    continue
                st = before[name] if name in before else ov.catalog.tables.get(name)
                view = ov.catalog.view_name(name)
                if st is None:
                    ov.catalog.spark.catalog.dropTempView(view)
                else:
                    st.visible_df().createOrReplaceTempView(view)
            ov.staged = dict(before)

    def commit(self) -> None:
        for ov in self._family():
            ov.catalog.publish(ov.staged)
            ov.staged = {}

    def rollback(self) -> None:
        """Void the batch: restore the published views for every table
        the batch touched (reference rollback semantics,
        db/src/db.rs:200-206,733-791)."""
        for ov in self._family():
            for name in ov.staged:
                cur = ov.catalog.tables.get(name)
                if cur is not None:
                    cur.visible_df().createOrReplaceTempView(ov.catalog.view_name(name))
                else:
                    ov.catalog.spark.catalog.dropTempView(ov.catalog.view_name(name))
            ov.staged = {}


# -- TableDef JSON round-trip (manifest) ------------------------------------


def _tdef_to_json(tdef: TableDef) -> dict:
    # EVERY constraint-bearing field must round-trip: a reopened
    # warehouse that silently dropped checks/generated/defaults would
    # stop enforcing CHECK and stop computing generated columns on the
    # write path — a correctness divergence a user only hits after a
    # restart
    return {
        "name": tdef.name,
        "schema": tdef.schema.json(),
        "declared_types": tdef.declared_types,
        "primary_key": tdef.primary_key,
        "not_null": sorted(tdef.not_null),
        "unique": tdef.unique,
        "foreign_keys": [
            [list(fk.columns), fk.ref_table, list(fk.ref_columns), fk.on_update, fk.on_delete]
            for fk in tdef.foreign_keys
        ],
        "rowid_column": tdef.rowid_column,
        "autoincrement": tdef.autoincrement,
        "strict": tdef.strict,
        "checks": [list(c) for c in tdef.checks],
        "check_origins": list(tdef.check_origins),
        "generated": tdef.generated,
        "generated_stored": sorted(tdef.generated_stored),
        "defaults": tdef.defaults,
        "source_sql": tdef.source_sql,
    }


def _tdef_from_json(d: dict) -> TableDef:
    from dust_spark.dialect import ForeignKey

    return TableDef(
        name=d["name"],
        schema=T.StructType.fromJson(json.loads(d["schema"])),
        declared_types=d.get("declared_types", {}),
        primary_key=d.get("primary_key", []),
        not_null=set(d.get("not_null", [])),
        unique=d.get("unique", []),
        foreign_keys=[ForeignKey(*fk) for fk in d.get("foreign_keys", [])],
        rowid_column=d.get("rowid_column"),
        autoincrement=d.get("autoincrement", False),
        strict=d.get("strict", False),
        checks=[tuple(c) for c in d.get("checks", [])],
        check_origins=d.get("check_origins", [None] * len(d.get("checks", []))),
        generated=d.get("generated", {}),
        generated_stored=set(d.get("generated_stored", [])),
        defaults=d.get("defaults", {}),
        source_sql=d.get("source_sql"),
    )
