"""Engine catalog: one warehouse directory, one parquet directory per table,
one JSON schema sidecar carrying declared constraints.

Mirrors the reference's data model (§1.1): DuckDB file per node
(db/db.go:17) → warehouse dir per engine; EXPORT/IMPORT DATABASE
(store/store.go:263,314) → per-table parquet snapshot/restore, which is
trivial here because tables already ARE parquet.

Constraint metadata (NOT NULL / PRIMARY KEY from CREATE TABLE, the exact DDL
the reference smoke client uses, cmd/cli/client.go:101-103) is recorded here
and enforced by dml.py — Spark/Parquet doesn't enforce either (SURVEY §7.5).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_WORD_RE = re.compile(r"\w+")

_DUCK_TO_SPARK = {
    "BOOLEAN": T.BooleanType(),
    "BOOL": T.BooleanType(),
    "TINYINT": T.ByteType(),
    "SMALLINT": T.ShortType(),
    "INTEGER": T.IntegerType(),
    "INT": T.IntegerType(),
    "INT4": T.IntegerType(),
    "BIGINT": T.LongType(),
    "INT8": T.LongType(),
    "HUGEINT": T.DecimalType(38, 0),
    # unsigned ints: Spark has none — next-wider signed type (SURVEY §1.3)
    "UTINYINT": T.ShortType(),
    "USMALLINT": T.IntegerType(),
    "UINTEGER": T.LongType(),
    "UBIGINT": T.DecimalType(20, 0),
    "FLOAT": T.FloatType(),
    "REAL": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "VARCHAR": T.StringType(),
    "TEXT": T.StringType(),
    "STRING": T.StringType(),
    "BLOB": T.BinaryType(),
    "DATE": T.DateType(),
    "TIME": T.TimeType(),
    "TIMESTAMP": T.TimestampNTZType(),
    # sub-/super-precision timestamp aliases (SURVEY §1.3): all stored at
    # Spark's µs precision. TIMESTAMP_NS is a DECLARED DIVERGENCE — ns
    # fractions truncate to µs (documented in COVERAGE.md; the serializer
    # reports the declared DuckDB name via column metadata). _S/_MS values
    # are rounded to their precision at INSERT/cast time by the dialect,
    # so µs storage is lossless for them.
    "TIMESTAMP_S": T.TimestampNTZType(),
    "TIMESTAMP_MS": T.TimestampNTZType(),
    "TIMESTAMP_NS": T.TimestampNTZType(),
    # tz-aware lane (r12): Spark LTZ under the pinned-UTC session; the
    # serializer reports TIMESTAMP WITH TIME ZONE + '+00' values natively
    "TIMESTAMPTZ": T.TimestampType(),
    "TIMESTAMP WITH TIME ZONE": T.TimestampType(),
    "UUID": T.StringType(),
    # BIT (bitstring): Spark has no bitstring type — stored as a '0'/'1'
    # STRING; the serializer reports BIT via per-column metadata (SURVEY
    # §1.3 last deferred edge)
    "BIT": T.StringType(),
    "BITSTRING": T.StringType(),
}


def parse_type(name: str) -> T.DataType:
    up = name.strip().upper()
    m = re.match(r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", up)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    m = re.match(r"(\w+)\s*\[\]", up)
    if m and m.group(1) in _DUCK_TO_SPARK:
        return T.ArrayType(_DUCK_TO_SPARK[m.group(1)])
    m = re.match(r"MAP\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)", up)
    if m and m.group(1) in _DUCK_TO_SPARK and m.group(2) in _DUCK_TO_SPARK:
        return T.MapType(_DUCK_TO_SPARK[m.group(1)], _DUCK_TO_SPARK[m.group(2)])
    if up in _DUCK_TO_SPARK:
        return _DUCK_TO_SPARK[up]
    raise ValueError(f"unsupported column type: {name}")


@dataclass
class TableMeta:
    name: str
    columns: list[dict]  # {name, type, not_null, primary_key}
    path: str
    created_at: float = field(default_factory=time.time)
    # hive-style partition columns (engine extension `PARTITION BY (...)` on
    # CREATE TABLE): unlocks partition-pruned scans AND partition-scoped
    # copy-on-write DML — at 100 TB an UPDATE touching one day must not
    # rewrite three years
    partition_cols: list[str] = field(default_factory=list)
    # table-level constraints (r06): CHECK expressions and UNIQUE column
    # sets declared in the CREATE body; column-level check/unique/fk live
    # in the column dicts
    table_checks: list[str] = field(default_factory=list)
    unique_sets: list = field(default_factory=list)

    def spark_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(
                    c["name"],
                    parse_type(c["type"]),
                    not c["not_null"],
                    metadata={"duckdb_type": c["type"].upper()}
                    if c["type"].upper()
                    in (
                        "BIT",
                        "BITSTRING",
                        "TIMESTAMP_S",
                        "TIMESTAMP_MS",
                        "TIMESTAMP_NS",
                    )
                    else {},
                )
                for c in self.columns
            ]
        )

    @property
    def pk_cols(self) -> list[str]:
        return [c["name"] for c in self.columns if c["primary_key"]]

    @property
    def not_null_cols(self) -> list[str]:
        return [c["name"] for c in self.columns if c["not_null"] or c["primary_key"]]


class Catalog:
    """Warehouse of parquet tables + sidecar metadata + temp views."""

    def __init__(
        self, spark: SparkSession, warehouse_dir: str, query_df: Callable[[str], DataFrame]
    ):
        self.spark = spark
        self.dir = warehouse_dir
        # binds view bodies: Engine.query_df, the one SQL front end
        self._query_df = query_df
        os.makedirs(warehouse_dir, exist_ok=True)
        self.tables: dict[str, TableMeta] = {}
        self.views: dict[str, str] = {}  # name -> DuckDB query text
        self.sequences: dict[str, int] = {}
        self.macros: dict = {}  # name -> macros.MacroDef
        self.attached: dict[str, str] = {}  # alias -> warehouse path
        self.indexes: dict[str, dict] = {}  # name -> {table, columns, unique}
        self.types: dict[str, list[str]] = {}  # ENUM name -> allowed values
        self.schemas: set[str] = set()  # user schemas (tables keyed schema__name)
        self._frames: dict[str, DataFrame] = {}  # table -> its registered scan
        self._rows: dict[str, int] = {}  # cached table -> rows its fill counted
        self._load_existing()

    # -- persistence -------------------------------------------------------

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.meta.json")

    def _save_meta(self, meta: TableMeta) -> None:
        with open(self._meta_path(meta.name), "w") as f:
            json.dump(
                {
                    "name": meta.name,
                    "columns": meta.columns,
                    "created_at": meta.created_at,
                    "partition_cols": meta.partition_cols,
                },
                f,
            )

    def _load_existing(self) -> None:
        self._recover_txn()
        if os.path.exists(self._seq_path()):
            with open(self._seq_path()) as f:
                self.sequences.update(json.load(f))
        if os.path.exists(self._indexes_path()):
            with open(self._indexes_path()) as f:
                self.indexes.update(json.load(f))
        if os.path.exists(self._schemas_path()):
            with open(self._schemas_path()) as f:
                self.schemas.update(json.load(f))
        if os.path.exists(self._types_path()):
            with open(self._types_path()) as f:
                self.types.update(json.load(f))
        if os.path.exists(self._macros_path()):
            from .macros import MacroDef

            with open(self._macros_path()) as f:
                for d in json.load(f).values():
                    m = MacroDef.from_json(d)
                    self.macros[m.name] = m
        for fn in os.listdir(self.dir):
            if fn.endswith(".meta.json"):
                with open(os.path.join(self.dir, fn)) as f:
                    d = json.load(f)
                meta = TableMeta(
                    name=d["name"],
                    columns=d["columns"],
                    path=os.path.join(self.dir, d["name"]),
                    created_at=d.get("created_at", 0),
                    partition_cols=d.get("partition_cols", []),
                    table_checks=d.get("table_checks", []),
                    unique_sets=d.get("unique_sets", []),
                )
                self.tables[meta.name] = meta
        self._register(*[m for m in self.tables.values() if os.path.exists(m.path)])

    def _register(self, *metas: TableMeta, every_view: bool = False) -> None:
        """Scan each table once and make that frame the one ``read``
        returns and its temp view holds. A table within one scan split is
        cached here, built before this returns: under AQE a cache not yet
        built runs as a job of its own inside the first read. Every write
        ends here, so the cache lives exactly as long as the file listing
        it was read from. Then the views that name these tables are
        rebuilt (every view with ``every_view``)."""
        for meta in metas:
            self._uncache(meta.name)
            frame, single_split = self._scan(meta)
            if single_split:
                # Spark's cache is shared by every session in the JVM and
                # matched by plan (path and schema), so another engine's
                # entry for this table, or our own from before the write,
                # would answer instead of the files: drop it first
                frame.unpersist()
                frame.cache()
                if self._data_bytes(meta.path):
                    # one job fills the cache and counts its rows; a
                    # DataFrame count() would run the fill and the count
                    # as two
                    self._rows[meta.name] = frame._jdf.queryExecution().toRdd().count()
                else:
                    # no data files: a cache of no partitions counts as
                    # built once its RDD exists, so no job runs
                    manager = self.spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001
                    entry = manager.lookupCachedData(frame._jdf).get()
                    entry.cachedRepresentation().cacheBuilder().cachedColumnBuffers()
                    self._rows[meta.name] = 0
            self._frames[meta.name] = frame
            frame.createOrReplaceTempView(meta.name)
        self._register_views(None if every_view else {m.name for m in metas})

    def _uncache(self, name: str) -> None:
        """Forget a table's registered frame and free its cached blocks."""
        frame = self._frames.pop(name, None)
        self._rows.pop(name, None)
        if frame is not None and frame.is_cached:
            frame.unpersist()

    def _release(self, name: str) -> None:
        """Drop a table's temp view and its cached frame."""
        self._uncache(name)
        self.spark.catalog.dropTempView(name)

    def _register_views(self, changed: set[str] | None = None) -> None:
        """Register, in creation order, every view whose body names a table
        or view in ``changed`` (every view when None), and every view that
        names one rebuilt in this pass. A temp view holds its plan, file
        listing included, so a table write rebuilds the views over it to
        see the new files. Names are matched loosely, bare or
        schema-qualified, after macro expansion and outside string
        literals: a false match costs one rebuild, a missed one a stale
        view. A body that no longer binds leaves its view unregistered:
        reading the view raises, the write that broke it does not."""
        stale = None
        if changed is not None:
            stale = {n.lower() for n in changed} | {n.lower().rsplit("__", 1)[-1] for n in changed}
        for name, body in self.views.items():
            if stale is not None:
                if stale.isdisjoint(self._names_in(body)):
                    continue
                stale.add(name.lower())
            try:
                self._query_df(body).createOrReplaceTempView(name)
            except Exception:  # noqa: BLE001 — see the docstring
                self.spark.catalog.dropTempView(name)

    def _names_in(self, body: str) -> set[str]:
        """Lower-cased words of a view body, macros expanded, outside
        string literals."""
        from .macros import expand_macros
        from .sqltext import STRING_RE

        try:
            body = expand_macros(body, self.macros)
        except Exception:  # noqa: BLE001 — match the unexpanded text
            pass
        return {w.lower() for w in _WORD_RE.findall(STRING_RE.sub(" ", body))}

    def refresh(self) -> None:
        """Re-read the warehouse sidecars written by ANOTHER engine
        instance on the same directory and re-register this session's
        temp views — the reference's read-scaling surface (any node
        serves reads once the log applies, store/store.go:196-199;
        README.md:13-15 "scales the cluster to enhance read
        performance"). Spark's JVM-wide shared file-status cache can
        serve a stale parquet listing for a path this session already
        read, so each table path is invalidated first; fresh relations
        then see files committed by the writer after this replica
        opened."""
        for name in list(self._frames):
            self._uncache(name)
        for meta in self.tables.values():
            try:
                self.spark.catalog.refreshByPath(meta.path)
            except Exception:
                pass
        self.tables.clear()
        self.views.clear()
        self.sequences.clear()
        self.macros.clear()
        self.indexes.clear()
        self.types.clear()
        self.schemas.clear()
        # _load_existing re-registers every table with a freshly-listed
        # relation (the paths above were just invalidated)
        self._load_existing()

    # -- DDL ---------------------------------------------------------------

    def create_table(
        self,
        name: str,
        columns: list[dict],
        if_not_exists: bool = False,
        partition_cols: list[str] | None = None,
        table_checks: list[str] | None = None,
        unique_sets: list | None = None,
        rows: DataFrame | None = None,
    ) -> None:
        """Create a table, empty or holding ``rows`` (CREATE TABLE AS). The
        rows are written before the table is recorded, so a failed write
        leaves no directory and no sidecar behind, and the table is
        registered once."""
        if name in self.tables:
            if if_not_exists:
                return
            raise ValueError(f"table {name} already exists")
        partition_cols = partition_cols or []
        declared = {c["name"] for c in columns}
        for p in partition_cols:
            if p not in declared:
                raise ValueError(f"PARTITION BY column {p} is not a table column")
        meta = TableMeta(
            name=name,
            columns=columns,
            path=os.path.join(self.dir, name),
            partition_cols=partition_cols,
            table_checks=table_checks or [],
            unique_sets=unique_sets or [],
        )
        # a directory left by an earlier engine is not this table's data
        shutil.rmtree(meta.path, ignore_errors=True)
        # without rows no data file is written: the table reads its empty
        # directory with the declared schema, so CREATE TABLE runs no job
        os.makedirs(meta.path)
        if rows is not None:
            w = self._apply_generated(meta, rows).write.mode("overwrite")
            if partition_cols:
                w = w.partitionBy(*partition_cols)
            try:
                w.parquet(meta.path)
            except Exception:
                shutil.rmtree(meta.path, ignore_errors=True)
                raise
        self.tables[name] = meta
        self._save_meta(meta)
        self._register(meta)

    def drop_table(self, name: str, if_exists: bool = False) -> None:
        if name not in self.tables:
            if if_exists or name in self.views:
                self.spark.catalog.dropTempView(name)
                if self.views.pop(name, None) is not None:
                    self._register_views({name})
                return
            raise ValueError(f"table {name} does not exist")
        meta = self.tables.pop(name)
        # dependent indexes go with the table (DuckDB behavior)
        doomed_idx = [n for n, d in self.indexes.items() if d["table"] == name]
        for n in doomed_idx:
            del self.indexes[n]
        if doomed_idx:
            self._save_indexes()
        shutil.rmtree(meta.path, ignore_errors=True)
        try:
            os.remove(self._meta_path(name))
        except FileNotFoundError:
            pass
        self._release(name)

    def alter_table(self, name: str, action: str, **kw) -> None:
        """Schema evolution. ADD/RENAME are metadata-only: parquet is
        schema-on-read, so reading old files with the widened schema
        null-fills the new column (no rewrite — the property that makes
        ALTER free at 100 TB). DROP is metadata-only too (projection hides
        the column; bytes are reclaimed at the next copy-on-write rewrite)."""
        if name not in self.tables:
            raise ValueError(f"table {name} does not exist")
        meta = self.tables[name]
        if action == "add":
            if any(c["name"] == kw["column"] for c in meta.columns):
                raise ValueError(f"column {kw['column']} already exists")
            parse_type(kw["type"])  # validate
            col = {"name": kw["column"], "type": kw["type"], "not_null": False, "primary_key": False}
            if kw.get("default"):
                col["default"] = kw["default"]
            meta.columns.append(col)
            if kw.get("default"):
                # DuckDB fills EXISTING rows with the default too — a
                # metadata-only add would null-fill them (divergence), so
                # this one case materializes (one rewrite; plain ADD stays
                # metadata-only/free)
                from pyspark.sql import functions as F

                from .dialect import translate

                df = self.read(name).withColumn(
                    kw["column"],
                    F.expr(translate(kw["default"])).cast(parse_type(kw["type"])),
                )
                self.overwrite(name, df)
            else:
                self._register(meta)
        elif action == "drop":
            if all(c["name"] != kw["column"] for c in meta.columns):
                raise ValueError(f"column {kw['column']} does not exist")
            if kw["column"] in meta.pk_cols:
                raise ValueError(f"cannot drop PRIMARY KEY column {kw['column']}")
            # materialize the narrowed schema so stale bytes don't resurface
            df = self.read(name).drop(kw["column"])
            meta.columns = [c for c in meta.columns if c["name"] != kw["column"]]
            self.overwrite(name, df)
        elif action == "rename":
            for c in meta.columns:
                if c["name"] == kw["column"]:
                    df = self.read(name).withColumnRenamed(kw["column"], kw["to"])
                    c["name"] = kw["to"]
                    self.overwrite(name, df)
                    break
            else:
                raise ValueError(f"column {kw['column']} does not exist")
        else:
            raise ValueError(f"unsupported ALTER TABLE action: {action}")
        self._save_meta(meta)

    def create_view(self, name: str, body: str) -> None:
        # a body that does not bind fails the CREATE
        self._query_df(body).createOrReplaceTempView(name)
        self.views[name] = body
        self._register_views({name})

    def _seq_path(self) -> str:
        return os.path.join(self.dir, "_sequences.json")

    def _save_sequences(self) -> None:
        with open(self._seq_path(), "w") as f:
            json.dump(self.sequences, f)

    def create_sequence(self, name: str, start: int = 1) -> None:
        self.sequences[name] = start - 1
        self._save_sequences()

    def _schemas_path(self) -> str:
        return os.path.join(self.dir, "_schemas.json")

    def _save_schemas(self) -> None:
        with open(self._schemas_path(), "w") as f:
            json.dump(sorted(self.schemas), f)

    def create_schema(self, name: str, if_not_exists: bool = False) -> None:
        if name in self.schemas:
            if if_not_exists:
                return
            raise ValueError(f"schema {name!r} already exists")
        self.schemas.add(name)
        self._save_schemas()

    def drop_schema(self, name: str, if_exists: bool = False, cascade: bool = False) -> None:
        if name not in self.schemas:
            if if_exists:
                return
            raise ValueError(f"schema {name!r} does not exist")
        contained = [t for t in self.tables if t.startswith(f"{name}__")]
        if contained and not cascade:
            raise ValueError(
                f"cannot drop schema {name!r}: contains table(s) "
                f"{', '.join(t.split('__', 1)[1] for t in contained)} (use CASCADE)"
            )
        for t in contained:
            self.drop_table(t)
        self.schemas.discard(name)
        self._save_schemas()

    def _types_path(self) -> str:
        return os.path.join(self.dir, "_types.json")

    def _save_types(self) -> None:
        with open(self._types_path(), "w") as f:
            json.dump(self.types, f)

    def create_type(self, name: str, values: list[str]) -> None:
        if name in self.types:
            raise ValueError(f"type {name!r} already exists")
        self.types[name] = values
        self._save_types()

    def drop_type(self, name: str, if_exists: bool = False) -> None:
        if name not in self.types:
            if if_exists:
                return
            raise ValueError(f"type {name!r} does not exist")
        used_by = [
            t.name
            for t in self.tables.values()
            if any(c.get("enum_type") == name for c in t.columns)
        ]
        if used_by:
            raise ValueError(
                f"cannot drop type {name!r}: used by table(s) {', '.join(used_by)}"
            )
        del self.types[name]
        self._save_types()

    def _macros_path(self) -> str:
        return os.path.join(self.dir, "_macros.json")

    def _save_macros(self) -> None:
        with open(self._macros_path(), "w") as f:
            json.dump({n: m.to_json() for n, m in self.macros.items()}, f)

    def create_macro(self, macro, or_replace: bool = False) -> None:
        """Persist a macro definition (DuckDB macros live in the database
        file; ours live in the warehouse sidecar)."""
        if macro.name in self.macros and not or_replace:
            raise ValueError(f"macro {macro.name} already exists")
        self.macros[macro.name] = macro
        self._save_macros()

    def drop_macro(self, name: str, if_exists: bool = False) -> None:
        if name not in self.macros:
            if if_exists:
                return
            raise ValueError(f"macro {name} does not exist")
        del self.macros[name]
        self._save_macros()

    # -- indexes -----------------------------------------------------------
    #
    # DuckDB ART indexes are a single-file-engine storage concept
    # (passthrough-reachable DDL, db/db.go:52); the Spark analogues of their
    # job — scan skipping and point lookups — come from hive partitioning,
    # parquet min/max row-group stats, and file pruning, which this engine
    # already drives through PARTITION BY. CREATE INDEX is therefore
    # accepted and recorded as catalog metadata (like CHECKPOINT's no-op)
    # so reference DDL scripts run end-to-end, and surfaced in /status.

    def _indexes_path(self) -> str:
        return os.path.join(self.dir, "_indexes.json")

    def _save_indexes(self) -> None:
        with open(self._indexes_path(), "w") as f:
            json.dump(self.indexes, f)

    def create_index(
        self,
        name: str,
        table: str,
        columns: list[str],
        unique: bool = False,
        if_not_exists: bool = False,
    ) -> None:
        if name in self.indexes:
            if if_not_exists:
                return
            raise ValueError(f"index {name} already exists")
        if table not in self.tables:
            raise ValueError(f"table {table} does not exist")
        declared = {c["name"] for c in self.tables[table].columns}
        missing = [c for c in columns if c not in declared]
        if missing:
            raise ValueError(f"index column(s) {missing} not in table {table}")
        self.indexes[name] = {"table": table, "columns": columns, "unique": unique}
        self._save_indexes()

    def drop_index(self, name: str, if_exists: bool = False) -> None:
        if name not in self.indexes:
            if if_exists:
                return
            raise ValueError(f"index {name} does not exist")
        del self.indexes[name]
        self._save_indexes()

    # -- ATTACH / DETACH ---------------------------------------------------

    def attach(self, path: str, alias: str | None = None) -> None:
        """DuckDB `ATTACH 'dir' AS alias`: expose another warehouse's tables
        as `alias.table`. Spark mapping: a database in the session catalog
        holding one VIEW per attached table over its parquet directory —
        views need no partition recovery (partition dirs are inferred by the
        parquet source) and are read-only, matching the single-writer
        discipline (writes still only target the primary warehouse).
        Session-scoped, like DuckDB ATTACH (not persisted in the db)."""
        if not os.path.isdir(path):
            raise ValueError(f"cannot attach {path!r}: not a directory")
        alias = (alias or re.sub(r"\W+", "_", os.path.basename(path.rstrip("/")))).lower()
        if alias in ("default", "global_temp"):
            raise ValueError(f"cannot attach as reserved database name {alias!r}")
        if alias in self.attached:
            raise ValueError(f"database {alias} already attached")
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {alias}")
        try:
            for fn in sorted(os.listdir(path)):
                if not fn.endswith(".meta.json"):
                    continue
                with open(os.path.join(path, fn)) as f:
                    d = json.load(f)
                name, tpath = d["name"], os.path.join(path, d["name"])
                if self._has_data_files(tpath):
                    self.spark.sql(
                        f"CREATE OR REPLACE VIEW {alias}.{name} AS "
                        f"SELECT * FROM parquet.`{tpath}`"
                    )
                else:
                    # empty table: no files to infer from — typed empty view
                    # off the sidecar schema
                    cols = ", ".join(
                        f"CAST(NULL AS {parse_type(c['type']).simpleString()}) AS {c['name']}"
                        for c in d["columns"]
                    )
                    self.spark.sql(
                        f"CREATE OR REPLACE VIEW {alias}.{name} AS SELECT {cols} WHERE 1=0"
                    )
        except Exception:
            self.spark.sql(f"DROP DATABASE IF EXISTS {alias} CASCADE")
            raise
        self.attached[alias] = path

    def detach(self, alias: str) -> None:
        alias = alias.lower()
        if alias not in self.attached:
            raise ValueError(f"database {alias} is not attached")
        self.spark.sql(f"DROP DATABASE {alias} CASCADE")
        del self.attached[alias]

    def nextval(self, name: str) -> int:
        if name not in self.sequences:
            raise ValueError(f"sequence {name} does not exist")
        self.sequences[name] += 1
        # persisted per call: sequences survive engine restarts (the
        # reference gets this from Raft-log replay; we get it from the
        # warehouse sidecar under single-writer discipline)
        self._save_sequences()
        return self.sequences[name]

    def reserve(self, name: str, n: int) -> int:
        """Reserve a contiguous block of n sequence values; returns the first.
        One driver-side reservation per statement — the distributed tasks
        then assign start..start+n-1 without coordination (how INSERT…SELECT
        gets per-row nextval at scale)."""
        if name not in self.sequences:
            raise ValueError(f"sequence {name} does not exist")
        start = self.sequences[name] + 1
        self.sequences[name] += n
        self._save_sequences()
        return start

    # -- IO ----------------------------------------------------------------

    def _has_data_files(self, path: str) -> bool:
        for root, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    @staticmethod
    def _data_bytes(path: str) -> int:
        """Total size of a non-partitioned table's parquet data files."""
        with os.scandir(path) as it:
            return sum(
                e.stat().st_size
                for e in it
                if e.name.endswith(".parquet") and e.name[0] not in "._"
            )

    def read(self, name: str) -> DataFrame:
        """The table's registered frame: the cached single-split scan, or
        the scan a larger or partitioned table plans."""
        frame = self._frames.get(name)
        return frame if frame is not None else self._scan(self.tables[name])[0]

    def is_empty(self, name: str) -> bool:
        """Whether the table is cached and its cache holds no rows."""
        return self._rows.get(name) == 0

    def row_count(self, name: str) -> int:
        """Rows in a table: the count its cache fill took, or a count of
        its scan when it is not cached."""
        n = self._rows.get(name)
        return n if n is not None else self.read(name).count()

    def _scan(self, meta: TableMeta) -> tuple[DataFrame, bool]:
        """(a fresh read of the table's files, whether it fits one scan
        split). A table without data files reads its empty directory with
        the declared schema: an empty parquet relation, which starts no
        Python worker."""
        from pyspark.sql import functions as F

        schema = meta.spark_schema()
        if not meta.partition_cols:
            df = self.spark.read.schema(schema).parquet(meta.path)
            # A table within one scan split already plans at most one scan
            # task (several small files get one task each only through the
            # per-file open cost), so reading it as one partition costs no
            # parallelism. It also tells the planner the rows are
            # SinglePartition, so a sort, aggregate or window over them
            # needs no exchange. Larger tables keep the split-parallel scan.
            # A table with no files keeps its scan of no partitions.
            conf = self.spark._jsparkSession.sessionState().conf()  # noqa: SLF001
            size = self._data_bytes(meta.path)
            if size <= conf.filesMaxPartitionBytes():
                return (df.coalesce(1) if size else df), True
            return df, False
        if not self._has_data_files(meta.path):
            return self.spark.read.schema(schema).parquet(meta.path), False
        # hive-partition discovery infers partition-column types from the
        # directory names; re-select in declared order with declared types
        df = self.spark.read.parquet(meta.path)
        cols = [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        return df.select(*cols), False

    def _apply_generated(self, meta: "TableMeta", df: DataFrame) -> DataFrame:
        """Recompute GENERATED ALWAYS AS columns — the ONE chokepoint every
        write path (insert, upsert, merge, update, restore) flows through,
        so a generated value can never go stale regardless of which DML
        constructed the frame."""
        gen = [(c["name"], c["generated"], c["type"]) for c in meta.columns if c.get("generated")]
        if not gen:
            return df
        from pyspark.sql import functions as F

        from .dialect import translate

        for name_, expr, typ in gen:
            df = df.withColumn(name_, F.expr(translate(expr)).cast(parse_type(typ)))
        return df.select(*[c["name"] for c in meta.columns])

    def overwrite(self, name: str, df: DataFrame) -> None:
        """Atomic-ish copy-on-write: write to temp dir, swap, re-register.
        (On a real deployment this is a commit-log/rename on object storage;
        single-writer discipline is assumed, SURVEY §1.4.)"""
        meta = self.tables[name]
        df = self._apply_generated(meta, df)
        tmp = meta.path + ".tmp"
        w = df.write.mode("overwrite")
        if meta.partition_cols:
            w = w.partitionBy(*meta.partition_cols)
        w.parquet(tmp)
        old = meta.path + ".old"
        os.rename(meta.path, old)
        os.rename(tmp, meta.path)
        shutil.rmtree(old, ignore_errors=True)
        self._register(meta)

    def overwrite_partitions(self, name: str, df: DataFrame, parts: list[tuple]) -> None:
        """Partition-scoped copy-on-write. Each partition in ``parts``
        (partition values as Spark's string casts name them, None for NULL)
        gets exactly the rows ``df`` holds for it, and its directory goes
        when ``df`` holds none; a partition outside ``parts`` keeps its files
        and gains ``df``'s rows for it. Every other partition's files are
        never read or written. (Dir-level rename stands in for the
        object-store commit protocol.)"""
        meta = self.tables[name]
        df = self._apply_generated(meta, df)
        assert meta.partition_cols, "overwrite_partitions needs a partitioned table"
        tmp = meta.path + ".ptmp"
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.partitionBy(*meta.partition_cols).mode("overwrite").parquet(tmp)
        jvm = self.spark._jvm  # noqa: SLF001
        utils = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        for values in parts:
            rel = os.path.join(*[utils.getPartitionPathString(c, v)
                                 for c, v in zip(meta.partition_cols, values)])
            shutil.rmtree(os.path.join(meta.path, rel), ignore_errors=True)
        for root, _dirs, files in os.walk(tmp):
            data = [f for f in files if f.endswith(".parquet")]
            if data:
                dest = os.path.join(meta.path, os.path.relpath(root, tmp))
                os.makedirs(dest, exist_ok=True)
                for f in data:
                    os.rename(os.path.join(root, f), os.path.join(dest, f))
        shutil.rmtree(tmp, ignore_errors=True)
        self._register(meta)

    def append(self, name: str, df: DataFrame) -> None:
        meta = self.tables[name]
        df = self._apply_generated(meta, df)
        w = df.write.mode("append")
        if meta.partition_cols:
            w = w.partitionBy(*meta.partition_cols)
        w.parquet(meta.path)
        self._register(meta)

    # -- snapshot / restore (EXPORT/IMPORT DATABASE) ----------------------

    def export_database(self, target_dir: str) -> int:
        """EXPORT DATABASE '<dir>' (FORMAT PARQUET) ≅ store/store.go:263."""
        os.makedirs(target_dir, exist_ok=True)
        for name in self.tables:
            self.read(name).write.mode("overwrite").parquet(os.path.join(target_dir, name))
            shutil.copy(self._meta_path(name), os.path.join(target_dir, f"{name}.meta.json"))
        return len(self.tables)

    def import_database(self, source_dir: str) -> int:
        """IMPORT DATABASE '<dir>' ≅ store/store.go:314."""
        n = 0
        for fn in os.listdir(source_dir):
            if not fn.endswith(".meta.json"):
                continue
            with open(os.path.join(source_dir, fn)) as f:
                d = json.load(f)
            name = d["name"]
            if name in self.tables:
                self.drop_table(name)
            schema = TableMeta(name, d["columns"], "").spark_schema()
            self.create_table(
                name,
                d["columns"],
                partition_cols=d.get("partition_cols"),
                rows=self.spark.read.schema(schema).parquet(os.path.join(source_dir, name)),
            )
            n += 1
        return n

    # -- introspection -----------------------------------------------------

    def status(self) -> dict:
        size = 0
        for root, _, files in os.walk(self.dir):
            size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return {
            "warehouse_dir": self.dir,
            "warehouse_bytes": size,
            "tables": sorted(self.tables),
            "views": sorted(self.views),
            "indexes": {n: dict(d) for n, d in sorted(self.indexes.items())},
            "schemas": sorted(self.schemas),
            "types": {n: list(v) for n, v in sorted(self.types.items())},
            "transaction_active": self.in_txn,
            "spark_app_id": self.spark.sparkContext.applicationId,
            "spark_version": self.spark.version,
        }

    # -- comments (COMMENT ON ... IS '...', DuckDB >= 0.10) ----------------
    #
    # Pure catalog metadata (DuckDB stores them in duckdb_comments());
    # persisted beside the index metadata and surfaced through /status.

    def _comments_path(self) -> str:
        return os.path.join(self.dir, "_comments.json")

    def set_comment(self, kind: str, target: str, comment: str | None) -> None:
        if not hasattr(self, "comments"):
            self.comments = {}
        key = f"{kind.lower()}:{target.lower()}"
        if comment is None:
            self.comments.pop(key, None)
        else:
            self.comments[key] = comment
        with open(self._comments_path(), "w") as f:
            import json as _json

            _json.dump(self.comments, f)

    def load_comments(self) -> dict:
        if not hasattr(self, "comments"):
            self.comments = {}
            if os.path.exists(self._comments_path()):
                import json as _json

                with open(self._comments_path()) as f:
                    self.comments.update(_json.load(f))
        return self.comments

    # -- transactions (BEGIN / COMMIT / ROLLBACK) --------------------------
    #
    # Single-writer snapshot transactions. BEGIN captures the warehouse
    # state; ROLLBACK restores it; COMMIT discards the snapshot. Data dirs
    # are captured as HARDLINK trees: parquet files are immutable here
    # (copy-on-write DML writes new files and swaps directories), so a link
    # tree pins the old inodes at file-count cost, not byte cost — the
    # local-FS stand-in for snapshot isolation via manifest re-pointing
    # (Iceberg/Delta style) that a 100 TB object-store deployment would use.
    #
    # Scope/parity: the reference shares one DuckDB connection across HTTP
    # clients (db/db.go:32), so a BEGIN there is service-global too; like
    # DuckDB's own auto-commit connection, concurrent readers see writes as
    # they land (no cross-client isolation — single-writer discipline,
    # SURVEY §1.4). ATTACHed databases and PREPAREd statements are not
    # transactional in DuckDB and are not snapshotted.

    def _txn_dir(self) -> str:
        return os.path.join(self.dir, "_txn_snapshot")

    @property
    def in_txn(self) -> bool:
        return getattr(self, "_txn_state", None) is not None

    @staticmethod
    def _link_tree(src: str, dst: str) -> None:
        """Copy a directory tree using hardlinks for regular files."""
        os.makedirs(dst, exist_ok=True)
        for root, dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            troot = os.path.join(dst, rel) if rel != "." else dst
            for d in dirs:
                os.makedirs(os.path.join(troot, d), exist_ok=True)
            for f in files:
                s = os.path.join(root, f)
                t = os.path.join(troot, f)
                try:
                    os.link(s, t)
                except OSError:
                    shutil.copy2(s, t)  # cross-device fallback

    _SIDECARS = ("_sequences.json", "_macros.json", "_indexes.json", "_comments.json", "_types.json", "_schemas.json")

    def begin_txn(self) -> None:
        import copy

        if self.in_txn:
            raise ValueError("cannot start a transaction within a transaction")
        snap = self._txn_dir()
        shutil.rmtree(snap, ignore_errors=True)
        data = os.path.join(snap, "data")
        os.makedirs(data, exist_ok=True)
        for name, meta in self.tables.items():
            if os.path.exists(meta.path):
                self._link_tree(meta.path, os.path.join(data, name))
            shutil.copy2(self._meta_path(name), os.path.join(snap, f"{name}.meta.json"))
        for fn in self._SIDECARS:
            p = os.path.join(self.dir, fn)
            if os.path.exists(p):
                shutil.copy2(p, os.path.join(snap, fn))
        self.load_comments()
        self._txn_state = {
            "tables": copy.deepcopy(self.tables),
            "views": dict(self.views),
            "sequences": dict(self.sequences),
            "macros": dict(self.macros),
            "indexes": copy.deepcopy(self.indexes),
            "comments": dict(self.comments),
            "types": copy.deepcopy(self.types),
            "schemas": set(self.schemas),
        }

    def commit_txn(self) -> None:
        if not self.in_txn:
            raise ValueError("cannot commit - no transaction is active")
        self._txn_state = None
        shutil.rmtree(self._txn_dir(), ignore_errors=True)

    def rollback_txn(self) -> None:
        if not self.in_txn:
            raise ValueError("cannot rollback - no transaction is active")
        snap, state = self._txn_dir(), self._txn_state

        # drop everything the transaction created (views + tables), then
        # clear live table data/meta so the snapshot restore is a clean swap
        for name in set(self.views) - set(state["views"]):
            self.spark.catalog.dropTempView(name)
        for name, meta in list(self.tables.items()):
            shutil.rmtree(meta.path, ignore_errors=True)
            try:
                os.remove(self._meta_path(name))
            except FileNotFoundError:
                pass
            if name not in state["tables"]:
                self._release(name)

        data = os.path.join(snap, "data")
        for name, meta in state["tables"].items():
            src = os.path.join(data, name)
            if os.path.exists(src):
                os.rename(src, meta.path)
            shutil.copy2(os.path.join(snap, f"{name}.meta.json"), self._meta_path(name))
        for fn in self._SIDECARS:
            live = os.path.join(self.dir, fn)
            saved = os.path.join(snap, fn)
            if os.path.exists(saved):
                shutil.copy2(saved, live)
            elif os.path.exists(live):
                os.remove(live)

        self.tables = state["tables"]
        self.views = state["views"]
        self.sequences = state["sequences"]
        self.macros = state["macros"]
        self.indexes = state["indexes"]
        self.comments = state["comments"]
        self.types = state.get("types", {})
        self.schemas = state.get("schemas", set())
        self._register(*self.tables.values(), every_view=True)
        self._txn_state = None
        shutil.rmtree(snap, ignore_errors=True)

    def _recover_txn(self) -> None:
        """Crash recovery: a leftover ``_txn_snapshot`` means the process
        died mid-transaction — the live tree holds uncommitted writes. Roll
        them back from the snapshot before loading (DuckDB's WAL-replay
        equivalent for our dir-swap commit protocol)."""
        snap = self._txn_dir()
        if not os.path.isdir(snap):
            return
        data = os.path.join(snap, "data")
        suffix = ".meta.json"
        snap_tables = {fn[: -len(suffix)] for fn in os.listdir(snap) if fn.endswith(suffix)}
        for fn in list(os.listdir(self.dir)):
            if fn.endswith(suffix) and fn[: -len(suffix)] not in snap_tables:
                shutil.rmtree(os.path.join(self.dir, fn[: -len(suffix)]), ignore_errors=True)
                os.remove(os.path.join(self.dir, fn))
        for nm in snap_tables:
            live = os.path.join(self.dir, nm)
            shutil.rmtree(live, ignore_errors=True)
            src = os.path.join(data, nm)
            if os.path.exists(src):
                os.rename(src, live)
            shutil.copy2(os.path.join(snap, nm + suffix), os.path.join(self.dir, nm + suffix))
        for fn in self._SIDECARS:
            saved, live = os.path.join(snap, fn), os.path.join(self.dir, fn)
            if os.path.exists(saved):
                shutil.copy2(saved, live)
            elif os.path.exists(live):
                os.remove(live)
        shutil.rmtree(snap, ignore_errors=True)
