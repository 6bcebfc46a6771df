"""Every table write is one manifest commit.

A table is the list of files its manifest (``<name>.meta.json``) names.
``Catalog._commit`` stages new files, moves them into place, replaces the
manifest in one ``os.replace`` and then deletes what no manifest names;
every JSON file of the warehouse goes through one atomic writer; BEGIN
records the manifests, and ROLLBACK and crash recovery restore them the same
way.

The cases here make the k-th filesystem call of each write kind fail and
check that a new engine reads the old rows or the new ones and that no
unreferenced data file is left; check that a JSON write that dies midway
leaves the previous content; that table-level CHECK and UNIQUE constraints
survive a second engine, ``refresh()`` and crash recovery as DuckDB 1.0.0
enforces them; that a table of many files registers without a listing job;
that a warehouse whose manifests name no files still opens; and lint that
only the commit, the JSON writer and the sweep touch files in
``service/catalog.py``.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import shutil

import duckdb
import pytest
from conftest import job_group

from duckdb_service_spark.service import catalog as catalog_module
from duckdb_service_spark.service.dml import ConstraintViolation

CATALOG = pathlib.Path(catalog_module.__file__)


def _engine(spark, warehouse):
    from duckdb_service_spark.service.executor import Engine

    return Engine(spark, str(warehouse))


def _close(eng) -> None:
    """Free the cache entries an engine holds: each case opens several."""
    for name in list(eng.catalog._frames):
        eng.catalog._uncache(name)


def _state(eng) -> dict:
    """Every table's columns and sorted rows."""
    out = {}
    for name in sorted(eng.catalog.tables):
        df = eng.query_df(f"SELECT * FROM {name}")
        out[name] = (tuple(df.columns), sorted(tuple(r) for r in df.collect()))
    return out


def _unreferenced(warehouse) -> set[str]:
    """Data files under the warehouse that no manifest names."""
    named = set()
    for fn in os.listdir(warehouse):
        if fn.endswith(".meta.json"):
            with open(os.path.join(warehouse, fn)) as f:
                d = json.load(f)
            named |= {os.path.join(warehouse, d["name"], f) for f in d["files"]}
    return {os.path.join(r, f) for r, _d, fs in os.walk(warehouse)
            for f in fs if f.endswith(".parquet")} - named


# ---- fault injection ----------------------------------------------------------


class _Faults:
    """Counts the watched filesystem calls ``service/catalog.py`` makes and
    makes the ``fail_at``-th one raise before it acts."""

    WATCHED = {"os": {"replace", "rename", "remove"}, "shutil": {"rmtree"}, "json": {"dump"}}

    def __init__(self, fail_at: int | None = None):
        self.calls, self.fail_at, self.fired = 0, fail_at, False

    def install(self, monkeypatch) -> None:
        for module, names in self.WATCHED.items():
            monkeypatch.setattr(catalog_module, module,
                                _Watched(getattr(catalog_module, module), names, self))

    def hit(self, name: str) -> None:
        self.calls += 1
        if self.calls == self.fail_at:
            self.fired = True
            raise OSError(f"injected failure of {name}, call {self.calls}")


class _Watched:
    """A module whose watched functions report to ``_Faults`` first."""

    def __init__(self, module, names, faults):
        self._module, self._names, self._faults = module, names, faults

    def __getattr__(self, attr):
        fn = getattr(self._module, attr)
        if attr not in self._names:
            return fn

        def watched(*a, **kw):
            self._faults.hit(attr)
            return fn(*a, **kw)

        return watched


SETUP = [
    "CREATE TABLE t (k INTEGER PRIMARY KEY, v VARCHAR)",
    "INSERT INTO t VALUES (1, 'a')",
    "INSERT INTO t VALUES (2, 'b')",
    "CREATE TABLE p (k INTEGER, d INTEGER, v VARCHAR) PARTITION BY (d)",
    "INSERT INTO p VALUES (1, 1, 'a'), (2, 2, 'b'), (3, 2, 'c')",
]

WRITES = {
    "append": ["INSERT INTO t VALUES (3, 'c')"],
    "overwrite": ["UPDATE t SET v = 'z' WHERE k = 1"],
    "overwrite_partitions": ["UPDATE p SET v = 'z' WHERE d = 2"],
    "ctas": ["CREATE TABLE c AS SELECT k, v FROM t"],
    "alter_add_default": ["ALTER TABLE t ADD COLUMN w INTEGER DEFAULT 7"],
    "alter_drop": ["ALTER TABLE t DROP COLUMN v"],
    "alter_rename": ["ALTER TABLE t RENAME COLUMN v TO u"],
    "drop_table": ["DROP TABLE t"],
    "commit": ["BEGIN", "INSERT INTO t VALUES (3, 'c')", "DELETE FROM p WHERE d = 1", "COMMIT"],
    "rollback": ["BEGIN", "UPDATE t SET v = 'y'", "DROP TABLE p",
                 "CREATE TABLE n AS SELECT 1 AS x", "ROLLBACK"],
}


@pytest.fixture(scope="module")
def template(spark, tmp_path_factory):
    """A warehouse holding ``SETUP``, and the state it reads."""
    wh = tmp_path_factory.mktemp("commit_template") / "warehouse"
    eng = _engine(spark, wh)
    for s in SETUP:
        eng.execute(s)
    state = _state(eng)
    _close(eng)
    return wh, state


def _run(spark, monkeypatch, template, dest, statements, fail_at=None) -> _Faults:
    """Copy the template to ``dest``, run ``statements`` there with the
    ``fail_at``-th watched call failing; stop at the first statement that
    raises, as a process that died there would."""
    shutil.copytree(template, dest)
    eng = _engine(spark, dest)
    faults = _Faults(fail_at)
    with monkeypatch.context() as m:
        faults.install(m)
        try:
            for s in statements:
                eng.execute(s)
        except Exception:
            if not faults.fired:
                raise
    _close(eng)
    return faults


@pytest.mark.parametrize("kind", list(WRITES))
def test_every_failed_step_leaves_the_old_rows_or_the_new(spark, monkeypatch, tmp_path,
                                                          template, kind):
    wh, old = template
    full = _run(spark, monkeypatch, wh, tmp_path / "full", WRITES[kind])
    eng = _engine(spark, tmp_path / "full")
    new = _state(eng)
    _close(eng)
    assert (new == old) == (kind == "rollback")
    assert full.calls > 0
    for k in range(1, full.calls + 1):
        dest = tmp_path / f"fail{k}"
        assert _run(spark, monkeypatch, wh, dest, WRITES[kind], fail_at=k).fired
        eng = _engine(spark, dest)
        got = _state(eng)
        _close(eng)
        assert got in (old, new), f"{kind}: failure at call {k} of {full.calls}"
    for k in range(1, full.calls + 1):
        assert _unreferenced(tmp_path / f"fail{k}") == set(), f"{kind}: failure at call {k}"


def test_a_json_write_that_dies_midway_leaves_the_previous_content(spark, monkeypatch, tmp_path):
    wh = tmp_path / "warehouse"
    eng = _engine(spark, wh)
    for s in ("CREATE SEQUENCE s1", "CREATE TABLE t (a INTEGER)", "INSERT INTO t VALUES (1)",
              "CREATE SCHEMA sc", "CREATE TYPE mood AS ENUM ('ok')", "CREATE MACRO one() AS 1",
              "CREATE INDEX ti ON t (a)", "COMMENT ON TABLE t IS 'first'"):
        eng.execute(s)

    def torn(value, f, **kw):
        text = json.dumps(value)
        f.write(text[: len(text) // 2])
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(catalog_module, "json", _Torn(torn))
        for s in ("CREATE SEQUENCE s2", "ALTER TABLE t ADD COLUMN b INTEGER",
                  "CREATE SCHEMA sd", "CREATE TYPE tone AS ENUM ('x')", "CREATE MACRO two() AS 2",
                  "CREATE INDEX tj ON t (a)", "COMMENT ON TABLE t IS 'second'",
                  "INSERT INTO t VALUES (2)"):
            with pytest.raises(OSError, match="disk full"):
                eng.execute(s)
    _close(eng)
    other = _engine(spark, wh)
    assert other.catalog.sequences == {"s1": 0}
    assert [c["name"] for c in other.catalog.tables["t"].columns] == ["a"]
    assert other.catalog.schemas == {"sc"}
    assert other.catalog.types == {"mood": ["ok"]}
    assert set(other.catalog.macros) == {"one"}
    assert set(other.catalog.indexes) == {"ti"}
    assert other.catalog.comments == {"table:t": "first"}
    assert [tuple(r) for r in other.query_df("SELECT * FROM t").collect()] == [(1,)]
    assert _unreferenced(wh) == set()
    _close(other)


class _Torn:
    """The json module with ``dump`` replaced."""

    def __init__(self, dump):
        self.dump = dump

    def __getattr__(self, attr):
        return getattr(json, attr)


# ---- table-level constraints persist --------------------------------------


CONSTRAINED = "CREATE TABLE c (a INTEGER, b INTEGER, CHECK (a > 0), UNIQUE (a, b))"


@pytest.mark.parametrize("reopen", ["second_engine", "refresh", "crash_recovery"])
def test_table_constraints_survive_reopening(spark, tmp_path, reopen):
    wh = tmp_path / "warehouse"
    eng, con = _engine(spark, wh), duckdb.connect()
    for s in (CONSTRAINED, "INSERT INTO c VALUES (1, 1)"):
        eng.execute(s)
        con.execute(s)
    if reopen == "refresh":
        eng.refresh()
    else:
        if reopen == "crash_recovery":
            eng.execute("BEGIN")
            eng.execute("INSERT INTO c VALUES (2, 2)")
        _close(eng)
        eng = _engine(spark, wh)
    for sql in ("INSERT INTO c VALUES (-5, 2)", "INSERT INTO c VALUES (1, 1)"):
        with pytest.raises(duckdb.ConstraintException):
            con.execute(sql)
        with pytest.raises(ConstraintViolation):
            eng.execute(sql)
    sql = "INSERT INTO c VALUES (3, 1)"
    con.execute(sql)
    eng.execute(sql)
    read = "SELECT * FROM c ORDER BY a"
    assert [tuple(r) for r in eng.query_df(read).collect()] == con.execute(read).fetchall()
    _close(eng)
    con.close()


# ---- reads name their files -------------------------------------------------


def test_a_table_of_many_files_registers_without_a_listing_job(spark, tmp_path):
    eng, con = _engine(spark, tmp_path / "warehouse"), duckdb.connect()
    ddl = "CREATE TABLE m (id INTEGER PRIMARY KEY, v VARCHAR)"
    eng.execute(ddl)
    con.execute(ddl)
    for i in range(40):
        sql = f"INSERT INTO m VALUES ({i}, 'v{i}')"
        eng.execute(sql)
        con.execute(sql)
    assert len(eng.catalog.tables["m"].files) == 40
    with job_group(spark) as jobs:
        eng.catalog.refresh()
    assert jobs() == 1  # the cache fill
    with job_group(spark) as jobs:
        sql = "INSERT INTO m VALUES (40, 'v40')"
        eng.execute(sql)
        con.execute(sql)
    assert jobs() <= 3
    for read in ("SELECT * FROM m ORDER BY id", "SELECT count(*), max(id), min(v) FROM m"):
        assert [tuple(r) for r in eng.query_df(read).collect()] == con.execute(read).fetchall()
    _close(eng)
    con.close()


def test_a_warehouse_whose_manifests_name_no_files_opens(spark, tmp_path):
    wh = tmp_path / "warehouse"
    eng = _engine(spark, wh)
    for s in ("CREATE TABLE t (a INTEGER, d INTEGER) PARTITION BY (d)",
              "INSERT INTO t VALUES (1, 1), (2, 2)", "CREATE TABLE e (a INTEGER)"):
        eng.execute(s)
    _close(eng)
    for name in ("t", "e"):
        path = wh / f"{name}.meta.json"
        d = json.loads(path.read_text())
        del d["files"]
        path.write_text(json.dumps(d))
    other = _engine(spark, wh)
    assert _state(other) == {"e": (("a",), []), "t": (("a", "d"), [(1, 1), (2, 2)])}
    other.execute("INSERT INTO t VALUES (3, 1)")
    assert len(other.catalog.tables["t"].files) == 3
    _close(other)


# ---- lint: only the commit, the JSON writer and the sweep touch files --------

_FS_CALLS = {("os", "replace"), ("os", "rename"), ("os", "remove"), ("shutil", "rmtree")}
_OWNERS = {"_commit", "_write_json", "_sweep"}


def _opens_for_writing(call: ast.Call) -> bool:
    mode = call.args[1] if len(call.args) > 1 else next(
        (k.value for k in call.keywords if k.arg == "mode"), None)
    return isinstance(mode, ast.Constant) and any(c in str(mode.value) for c in "wax+")


def _fs_writes(node: ast.AST, fn: str = "<module>"):
    """Yield the enclosing function of each ``os.replace(``, ``os.rename(``,
    ``os.remove(``, ``shutil.rmtree(`` and ``open(…, "w")`` call."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _fs_writes(child, child.name)
            continue
        if isinstance(child, ast.Call):
            f = child.func
            if (isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)
                    and (f.value.id, f.attr) in _FS_CALLS):
                yield fn
            elif isinstance(f, ast.Name) and f.id == "open" and _opens_for_writing(child):
                yield fn
        yield from _fs_writes(child, fn)


def test_only_the_commit_the_json_writer_and_the_sweep_touch_files():
    sample = ast.parse(
        "def f(p):\n"
        "    os.replace(p, p)\n"
        "    with open(p, 'w') as h:\n        pass\n"
        "    with open(p) as h:\n        pass\n"
        "    shutil.rmtree(p)\n"
        "    os.path.join(p, p)\n"
        "def g(p):\n"
        "    open(p, mode='a')\n"
        "    os.remove(p)\n"
    )
    assert list(_fs_writes(sample)) == ["f", "f", "f", "g", "g"]
    owners = set(_fs_writes(ast.parse(CATALOG.read_text())))
    assert owners == _OWNERS
