"""Engine catalog: one warehouse directory; per table, a directory of
parquet files and a manifest (``<name>.meta.json``) naming its schema,
declared constraints and live files.

Mirrors the reference's data model (§1.1): DuckDB file per node
(db/db.go:17) → warehouse dir per engine; EXPORT/IMPORT DATABASE
(store/store.go:263,314) → per-table parquet snapshot/restore, which is
trivial here because tables already ARE parquet.

Constraint metadata (NOT NULL / PRIMARY KEY from CREATE TABLE, the exact DDL
the reference smoke client uses, cmd/cli/client.go:101-103) is recorded here
and enforced by dml.py — Spark/Parquet doesn't enforce either (SURVEY §7.5).

Every change to a table, DDL included, is one commit (``Catalog._commit``):

1. Spark writes the new rows as new files into ``<name>/_stage``;
2. the commit moves them into the table's directory (file names are unique
   per write, so nothing live is overwritten);
3. one ``os.replace`` of the manifest makes the new file list the table;
4. files the manifest no longer names are deleted, except those an open
   transaction pins.

A crash before step 3 leaves the old version and after it the new one; the
sweep at startup deletes whatever files the crash left unreferenced. The
reference gets the same atomicity from DuckDB's WAL (store/store.go:242-250).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time
from collections.abc import Callable, Iterable
from dataclasses import asdict, dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_WORD_RE = re.compile(r"\w+")
_META = ".meta.json"
_STAGE = "_stage"  # where Spark writes a commit's new files
# the warehouse-wide JSON files beside the manifests: ``_<kind>.json``
_SIDECARS = ("sequences", "schemas", "types", "macros", "indexes", "comments")

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
    # the live data files, relative to ``path``
    files: list[str] = field(default_factory=list)

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


def _write_json(path: str, value) -> None:
    """The one writer of the warehouse's JSON files (manifests, sidecars,
    the transaction record): ``value`` goes to a file beside ``path``,
    which one ``os.replace`` then puts in its place, so a write that dies
    leaves the old content or the new, never a torn file. None removes
    ``path``."""
    if value is None:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)
        return
    part = path + ".part"
    with open(part, "w") as f:
        json.dump(value, f)
    os.replace(part, path)


def _read_json(path: str):
    """A JSON file's content, None when there is no file."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _data_files(root: str) -> list[str]:
    """The parquet data files under ``root``, relative to it: the files a
    write staged, or the files of a table whose manifest has no file list
    (a warehouse written before manifests named their files)."""
    found = []
    for r, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d[0] not in "._"]
        found += [os.path.relpath(os.path.join(r, f), root)
                  for f in files if f.endswith(".parquet") and f[0] not in "._"]
    return sorted(found)


class Catalog:
    """Warehouse of parquet tables + manifests + sidecar metadata + temp views."""

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
        self.comments: dict[str, str] = {}  # "kind:target" -> COMMENT ON text
        self._frames: dict[str, DataFrame] = {}  # table -> its registered scan
        self._rows: dict[str, int] = {}  # cached table -> rows its fill counted
        # open transaction: the views at BEGIN, and per table the files
        # BEGIN's manifests name, which no commit may delete
        self._txn_views: dict[str, str] | None = None
        self._pins: dict[str, set[str]] = {}
        self._open()

    # -- persistence -------------------------------------------------------

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.dir, name + _META)

    def _sidecar_path(self, kind: str) -> str:
        return os.path.join(self.dir, f"_{kind}.json")

    def _txn_path(self) -> str:
        return os.path.join(self.dir, "_txn.json")

    @staticmethod
    def _manifest(meta: TableMeta) -> dict:
        return {k: v for k, v in asdict(meta).items() if k != "path"}

    def _sidecar(self, kind: str):
        """One sidecar's content as JSON."""
        if kind == "schemas":
            return sorted(self.schemas)
        if kind == "macros":
            return {n: m.to_json() for n, m in self.macros.items()}
        return getattr(self, kind)

    def _save(self, kind: str) -> None:
        _write_json(self._sidecar_path(kind), self._sidecar(kind))

    def _load(self) -> None:
        """Read every sidecar and every manifest."""
        from .macros import MacroDef

        saved = {kind: _read_json(self._sidecar_path(kind)) or {} for kind in _SIDECARS}
        self.sequences = saved["sequences"]
        self.schemas = set(saved["schemas"])
        self.types = saved["types"]
        self.macros = {m.name: m for m in map(MacroDef.from_json, saved["macros"].values())}
        self.indexes = saved["indexes"]
        self.comments = saved["comments"]
        self.tables = {}
        for fn in sorted(os.listdir(self.dir)):
            if fn.endswith(_META):
                d = _read_json(os.path.join(self.dir, fn))
                path = os.path.join(self.dir, d["name"])
                if "files" not in d:
                    d["files"] = _data_files(path)
                # the scan's basePath: it exists even with no file
                os.makedirs(path, exist_ok=True)
                self.tables[d["name"]] = TableMeta(path=path, **d)

    def _open(self) -> None:
        """Bring the warehouse to its last commit and register it: undo the
        transaction a crash (or ROLLBACK) left open, read the sidecars and
        manifests, sweep every table directory, register every table and
        view."""
        if os.path.exists(self._txn_path()):
            self._restore()
        self._load()
        for fn in os.listdir(self.dir):
            if _WORD_RE.fullmatch(fn) and os.path.isdir(os.path.join(self.dir, fn)):
                self._sweep(fn)
        self._register(*self.tables.values(), every_view=True)

    def _stage(self, meta: TableMeta, rows: DataFrame) -> list[str]:
        """Step 1 of a commit: Spark writes ``rows``, generated columns
        computed, as new files into the table's staging directory. Returns
        their paths relative to it, which are their paths in the table once
        committed."""
        stage = os.path.join(meta.path, _STAGE)
        w = self._apply_generated(meta, rows).write.mode("overwrite")
        if meta.partition_cols:
            w = w.partitionBy(*meta.partition_cols)
        try:
            w.parquet(stage)
        except Exception:
            self._sweep(meta.name)
            raise
        return _data_files(stage)

    def _commit(
        self,
        name: str,
        meta: TableMeta | None,
        rows: DataFrame | None = None,
        keep: Iterable[str] = (),
    ) -> None:
        """The one way a table changes on disk. The new version is ``meta``
        (None drops the table) holding the files in ``keep`` plus new files
        of ``rows``: they are staged, moved into place, and named in the
        manifest that one atomic replace commits. The version is registered
        and the files it no longer names are swept."""
        root = os.path.join(self.dir, name)
        if meta is not None:
            os.makedirs(root, exist_ok=True)
        staged = [] if rows is None else self._stage(meta, rows)
        for f in staged:
            os.makedirs(os.path.dirname(os.path.join(root, f)), exist_ok=True)
            os.rename(os.path.join(root, _STAGE, f), os.path.join(root, f))
        if meta is not None:
            meta = replace(meta, files=[*keep, *staged])
        _write_json(self._meta_path(name), None if meta is None else self._manifest(meta))
        if meta is None:
            self.tables.pop(name, None)
            self._release(name)
        else:
            self.tables[name] = meta
            self._register(meta)
        self._sweep(name)

    def _sweep(self, name: str) -> None:
        """Delete what under a table's directory neither its manifest nor an
        open transaction names: the staging directory, superseded files,
        and directories left empty. The directory of a table without a
        manifest and without pinned files goes whole."""
        root = os.path.join(self.dir, name)
        meta = self.tables.get(name)
        live = set(meta.files if meta else ()) | self._pins.get(name, set())
        if meta is None and not live:
            shutil.rmtree(root, ignore_errors=True)
            return
        shutil.rmtree(os.path.join(root, _STAGE), ignore_errors=True)
        for r, _dirs, files in os.walk(root, topdown=False):
            for f in files:
                if os.path.relpath(os.path.join(r, f), root) not in live:
                    os.remove(os.path.join(r, f))
            if r != root and not os.listdir(r):
                os.rmdir(r)

    def _register(self, *metas: TableMeta, every_view: bool = False) -> None:
        """Scan each table once and make that frame the one ``read``
        returns and its temp view holds. A table within one scan split is
        cached here, built before this returns: under AQE a cache not yet
        built runs as a job of its own inside the first read. Every commit
        ends here, so the cache lives exactly as long as the file list it
        was read from. Spark matches cache entries by plan, and the plan
        names the files, so an entry another engine made for the same
        files holds the same rows. Then the views that name these tables
        are rebuilt (every view with ``every_view``)."""
        for meta in metas:
            self._uncache(meta.name)
            frame, single_split = self._scan(meta)
            if single_split:
                frame.cache()
                if meta.files:
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
        """Re-read the sidecars and manifests written by ANOTHER engine
        instance on the same directory and re-register this session's
        temp views — the reference's read-scaling surface (any node
        serves reads once the log applies, store/store.go:196-199;
        README.md:13-15 "scales the cluster to enhance read
        performance"). Each manifest names its files, so the fresh
        relations read exactly the writer's last commits. A replica
        neither sweeps nor undoes the writer's open transaction."""
        for name in list(self._frames):
            self._uncache(name)
        self.views.clear()
        self._load()
        self._register(*self.tables.values())

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
        """Create a table, empty or holding ``rows`` (CREATE TABLE AS), in
        one commit: a failed write leaves no directory and no manifest
        behind. Without rows no data file is written, so CREATE TABLE runs
        no job."""
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
        self._commit(name, meta, rows)

    def drop_table(self, name: str, if_exists: bool = False) -> None:
        if name not in self.tables:
            if if_exists or name in self.views:
                self.spark.catalog.dropTempView(name)
                if self.views.pop(name, None) is not None:
                    self._register_views({name})
                return
            raise ValueError(f"table {name} does not exist")
        # dependent indexes go with the table (DuckDB behavior)
        doomed_idx = [n for n, d in self.indexes.items() if d["table"] == name]
        for n in doomed_idx:
            del self.indexes[n]
        if doomed_idx:
            self._save("indexes")
        self._commit(name, None)

    def alter_table(self, name: str, action: str, **kw) -> None:
        """Schema evolution. ADD/RENAME are metadata-only: parquet is
        schema-on-read, so reading old files with the widened schema
        null-fills the new column (no rewrite — the property that makes
        ALTER free at 100 TB). DROP is metadata-only too (projection hides
        the column; bytes are reclaimed at the next copy-on-write rewrite)."""
        if name not in self.tables:
            raise ValueError(f"table {name} does not exist")
        meta = self.tables[name]
        columns = [dict(c) for c in meta.columns]
        rows = None  # the rewritten table; None keeps its files
        if action == "add":
            if any(c["name"] == kw["column"] for c in columns):
                raise ValueError(f"column {kw['column']} already exists")
            parse_type(kw["type"])  # validate
            col = {"name": kw["column"], "type": kw["type"], "not_null": False, "primary_key": False}
            if kw.get("default"):
                col["default"] = kw["default"]
                # DuckDB fills EXISTING rows with the default too — a
                # metadata-only add would null-fill them (divergence), so
                # this one case materializes (one rewrite; plain ADD stays
                # metadata-only/free)
                from pyspark.sql import functions as F

                from .dialect import translate

                rows = self.read(name).withColumn(
                    kw["column"],
                    F.expr(translate(kw["default"])).cast(parse_type(kw["type"])),
                )
            columns.append(col)
        elif action == "drop":
            if all(c["name"] != kw["column"] for c in columns):
                raise ValueError(f"column {kw['column']} does not exist")
            if kw["column"] in meta.pk_cols:
                raise ValueError(f"cannot drop PRIMARY KEY column {kw['column']}")
            # materialize the narrowed schema so stale bytes don't resurface
            rows = self.read(name).drop(kw["column"])
            columns = [c for c in columns if c["name"] != kw["column"]]
        elif action == "rename":
            for c in columns:
                if c["name"] == kw["column"]:
                    rows = self.read(name).withColumnRenamed(kw["column"], kw["to"])
                    c["name"] = kw["to"]
                    break
            else:
                raise ValueError(f"column {kw['column']} does not exist")
        else:
            raise ValueError(f"unsupported ALTER TABLE action: {action}")
        self._commit(name, replace(meta, columns=columns), rows,
                     keep=meta.files if rows is None else ())

    def create_view(self, name: str, body: str) -> None:
        # a body that does not bind fails the CREATE
        self._query_df(body).createOrReplaceTempView(name)
        self.views[name] = body
        self._register_views({name})

    def create_sequence(self, name: str, start: int = 1) -> None:
        self.sequences[name] = start - 1
        self._save("sequences")

    def create_schema(self, name: str, if_not_exists: bool = False) -> None:
        if name in self.schemas:
            if if_not_exists:
                return
            raise ValueError(f"schema {name!r} already exists")
        self.schemas.add(name)
        self._save("schemas")

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
        self._save("schemas")

    def create_type(self, name: str, values: list[str]) -> None:
        if name in self.types:
            raise ValueError(f"type {name!r} already exists")
        self.types[name] = values
        self._save("types")

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
        self._save("types")

    def create_macro(self, macro, or_replace: bool = False) -> None:
        """Persist a macro definition (DuckDB macros live in the database
        file; ours live in the warehouse sidecar)."""
        if macro.name in self.macros and not or_replace:
            raise ValueError(f"macro {macro.name} already exists")
        self.macros[macro.name] = macro
        self._save("macros")

    def drop_macro(self, name: str, if_exists: bool = False) -> None:
        if name not in self.macros:
            if if_exists:
                return
            raise ValueError(f"macro {name} does not exist")
        del self.macros[name]
        self._save("macros")

    # -- indexes -----------------------------------------------------------
    #
    # DuckDB ART indexes are a single-file-engine storage concept
    # (passthrough-reachable DDL, db/db.go:52); the Spark analogues of their
    # job — scan skipping and point lookups — come from hive partitioning,
    # parquet min/max row-group stats, and file pruning, which this engine
    # already drives through PARTITION BY. CREATE INDEX is therefore
    # accepted and recorded as catalog metadata (like CHECKPOINT's no-op)
    # so reference DDL scripts run end-to-end, and surfaced in /status.

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
        self._save("indexes")

    def drop_index(self, name: str, if_exists: bool = False) -> None:
        if name not in self.indexes:
            if if_exists:
                return
            raise ValueError(f"index {name} does not exist")
        del self.indexes[name]
        self._save("indexes")
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
                if not fn.endswith(_META):
                    continue
                d = _read_json(os.path.join(path, fn))
                name, tpath = d["name"], os.path.join(path, d["name"])
                if _data_files(tpath):
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
        self._save("sequences")
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
        self._save("sequences")
        return start

    # -- IO ----------------------------------------------------------------

    def _data_bytes(self, path: str) -> int:
        """Total size of the live data files of the table stored at ``path``."""
        meta = self.tables[os.path.basename(path)]
        return sum(os.path.getsize(os.path.join(path, f)) for f in meta.files)

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
        """(a fresh read of the files the table's manifest names, whether
        they fit one scan split). Only those files are read, never the
        directory, which may also hold files an open transaction pins; a
        table without files reads no path at all, an empty relation that
        starts no Python worker. ``basePath`` resolves partition columns
        from the file paths and gives every table, empty ones included, a
        plan, and so a cache entry, of its own."""
        schema = meta.spark_schema()
        df = (
            self.spark.read.schema(schema)
            .option("basePath", meta.path)
            .parquet(*[os.path.join(meta.path, f) for f in meta.files])
        )
        if meta.partition_cols:
            # the scan puts partition columns last: declared order
            return df.select(*schema.fieldNames()), False
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

    def _apply_generated(self, meta: "TableMeta", df: DataFrame, *extra: str) -> DataFrame:
        """Recompute GENERATED ALWAYS AS columns — the ONE chokepoint every
        write path (insert, upsert, merge, update, restore) flows through,
        so a generated value can never go stale regardless of which DML
        constructed the frame. RETURNING takes its rows through here too,
        keeping the ``extra`` columns after the table's."""
        gen = [(c["name"], c["generated"], c["type"]) for c in meta.columns if c.get("generated")]
        if not gen:
            return df
        from pyspark.sql import functions as F

        from .dialect import translate

        for name_, expr, typ in gen:
            df = df.withColumn(name_, F.expr(translate(expr)).cast(parse_type(typ)))
        return df.select(*[c["name"] for c in meta.columns], *extra)

    def overwrite(self, name: str, df: DataFrame) -> None:
        """Copy-on-write: ``df`` becomes the table's rows in one commit."""
        self._commit(name, self.tables[name], df)

    def overwrite_partitions(self, name: str, df: DataFrame, parts: list[tuple]) -> None:
        """Partition-scoped copy-on-write. Each partition in ``parts``
        (partition values as Spark's string casts name them, None for NULL)
        gets exactly the rows ``df`` holds for it, and its directory goes
        when ``df`` holds none; a partition outside ``parts`` keeps its files
        and gains ``df``'s rows for it. Every other partition's files are
        never read or written."""
        meta = self.tables[name]
        assert meta.partition_cols, "overwrite_partitions needs a partitioned table"
        utils = self.spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils  # noqa: SLF001
        doomed = {
            os.path.join(*[utils.getPartitionPathString(c, v)
                           for c, v in zip(meta.partition_cols, values)])
            for values in parts
        }
        keep = [f for f in meta.files if os.path.dirname(f) not in doomed]
        self._commit(name, meta, df, keep)

    def append(self, name: str, df: DataFrame) -> None:
        meta = self.tables[name]
        self._commit(name, meta, df, meta.files)

    # -- snapshot / restore (EXPORT/IMPORT DATABASE) ----------------------

    def export_database(self, target_dir: str) -> int:
        """EXPORT DATABASE '<dir>' (FORMAT PARQUET) ≅ store/store.go:263.
        The exported manifests carry no file list, so the directory also
        opens as a warehouse of its own."""
        os.makedirs(target_dir, exist_ok=True)
        for name, meta in self.tables.items():
            self.read(name).write.mode("overwrite").parquet(os.path.join(target_dir, name))
            manifest = self._manifest(meta)
            del manifest["files"]
            _write_json(os.path.join(target_dir, name + _META), manifest)
        return len(self.tables)

    def import_database(self, source_dir: str) -> int:
        """IMPORT DATABASE '<dir>' ≅ store/store.go:314."""
        n = 0
        for fn in os.listdir(source_dir):
            if not fn.endswith(_META):
                continue
            d = _read_json(os.path.join(source_dir, fn))
            name = d["name"]
            if name in self.tables:
                self.drop_table(name)
            schema = TableMeta(name, d["columns"], "").spark_schema()
            self.create_table(
                name,
                d["columns"],
                partition_cols=d.get("partition_cols"),
                table_checks=d.get("table_checks"),
                unique_sets=d.get("unique_sets"),
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
    # persisted in their own sidecar and surfaced through /status.

    def set_comment(self, kind: str, target: str, comment: str | None) -> None:
        key = f"{kind.lower()}:{target.lower()}"
        if comment is None:
            self.comments.pop(key, None)
        else:
            self.comments[key] = comment
        self._save("comments")

    def load_comments(self) -> dict:
        return self.comments

    # -- transactions (BEGIN / COMMIT / ROLLBACK) --------------------------
    #
    # Single-writer snapshot transactions. BEGIN records every manifest and
    # sidecar in ``_txn.json`` and pins the files those manifests name:
    # commits inside the transaction write new files and leave the pinned
    # ones in place. COMMIT drops the record and sweeps what only it named;
    # ROLLBACK puts the recorded manifests and sidecars back and sweeps
    # what they do not name — the same code that undoes a transaction a
    # crash left open at startup (DuckDB's WAL-replay equivalent).
    #
    # Scope/parity: the reference shares one DuckDB connection across HTTP
    # clients (db/db.go:32), so a BEGIN there is service-global too; like
    # DuckDB's own auto-commit connection, concurrent readers see writes as
    # they land (no cross-client isolation — single-writer discipline,
    # SURVEY §1.4). ATTACHed databases and PREPAREd statements are not
    # transactional in DuckDB and are not recorded.

    @property
    def in_txn(self) -> bool:
        return self._txn_views is not None

    def begin_txn(self) -> None:
        if self.in_txn:
            raise ValueError("cannot start a transaction within a transaction")
        _write_json(self._txn_path(), {
            "tables": {n: self._manifest(m) for n, m in self.tables.items()},
            "sidecars": {kind: self._sidecar(kind) for kind in _SIDECARS},
        })
        self._pins = {n: set(m.files) for n, m in self.tables.items()}
        self._txn_views = dict(self.views)

    def commit_txn(self) -> None:
        if not self.in_txn:
            raise ValueError("cannot commit - no transaction is active")
        _write_json(self._txn_path(), None)
        pinned, self._pins, self._txn_views = self._pins, {}, None
        for name in pinned:
            self._sweep(name)

    def rollback_txn(self) -> None:
        if not self.in_txn:
            raise ValueError("cannot rollback - no transaction is active")
        for name in set(self.views) - set(self._txn_views):
            self.spark.catalog.dropTempView(name)
        written, self.views = set(self.tables), self._txn_views
        # the transaction stays open until the restore is done: ROLLBACK
        # can be retried, and no write lands that a later restore undoes
        self._open()
        self._pins, self._txn_views = {}, None
        for name in written - set(self.tables):
            self._release(name)

    def _restore(self) -> None:
        """Put back what BEGIN recorded in ``_txn.json`` — every table's
        manifest and every sidecar; a table created since loses its
        manifest — then drop the record. A crash inside leaves the record,
        and the next start runs this again."""
        saved = _read_json(self._txn_path())
        for fn in os.listdir(self.dir):
            if fn.endswith(_META) and fn[: -len(_META)] not in saved["tables"]:
                _write_json(os.path.join(self.dir, fn), None)
        paths = {self._meta_path(n): m for n, m in saved["tables"].items()}
        paths.update({self._sidecar_path(k): v for k, v in saved["sidecars"].items()})
        for path, value in paths.items():
            if _read_json(path) != value:
                _write_json(path, value)
        _write_json(self._txn_path(), None)
