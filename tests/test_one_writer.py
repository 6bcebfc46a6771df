"""Every row-changing statement goes through one writer (``dml._write``).

INSERT, UPDATE, DELETE, TRUNCATE and MERGE compile to the target rows, each
tagged keep, update or delete, plus the rows to insert; the writer counts,
checks, takes the RETURNING rows and calls the catalog. The cases here run
against DuckDB 1.0.0: one SET binder for UPDATE, UPDATE…FROM, ON CONFLICT
DO UPDATE and MERGE, RETURNING on UPDATE…FROM and DELETE…USING, RETURNING
rows held as a local relation rather than a pinned RDD, one catalog write
for a statement that both updates and inserts, and a lint that keeps the
catalog writes of ``service/dml.py`` inside the writer.
"""

from __future__ import annotations

import ast
import pathlib

import duckdb
import pytest

DML = pathlib.Path(__file__).resolve().parent.parent / "duckdb_service_spark" / "service" / "dml.py"

T = "CREATE TABLE t (k INTEGER PRIMARY KEY, v VARCHAR, g INTEGER DEFAULT 7)"
T_ROWS = "INSERT INTO t VALUES (1, 'a', 1), (2, 'b', 2)"
# key-less: DuckDB 1.0.0 raises a spurious "Duplicate key" for UPDATE…FROM
# on a PRIMARY KEY table whose row was updated earlier in the session
N = "CREATE TABLE n (k INTEGER, v VARCHAR, g INTEGER DEFAULT 7)"
N_ROWS = "INSERT INTO n VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 3)"
U = "CREATE TABLE u (k INTEGER, v VARCHAR)"
U_ROWS = "INSERT INTO u VALUES (2, 'x'), (5, 'y')"
G = "CREATE TABLE gt (a INTEGER PRIMARY KEY, b INTEGER GENERATED ALWAYS AS (a * 2))"


@pytest.fixture
def pair(spark, tmp_path):
    from duckdb_service_spark.service.executor import Engine

    eng, con = Engine(spark, str(tmp_path / "warehouse")), duckdb.connect()
    for s in (T, T_ROWS, N, N_ROWS, U, U_ROWS, G, "INSERT INTO gt VALUES (1)"):
        eng.execute(s)
        con.execute(s)
    yield eng, con
    con.close()


def _same_tables(pair) -> None:
    eng, con = pair
    for name in ("t", "n", "gt"):
        sql = f"SELECT * FROM {name} ORDER BY ALL"
        assert [tuple(r) for r in eng.query_df(sql).collect()] == con.execute(sql).fetchall()


# ---- one SET binder ---------------------------------------------------------


@pytest.mark.parametrize("sql", [
    "UPDATE t SET V = 'q' WHERE k = 2",
    "UPDATE n SET g = DEFAULT FROM u WHERE n.k = u.k",
    "INSERT INTO t VALUES (1, 'z', 0) ON CONFLICT DO UPDATE SET g = DEFAULT",
    "INSERT INTO t VALUES (1, 'z', 0) ON CONFLICT DO UPDATE SET V = excluded.V",
    "INSERT INTO t VALUES (1, 'z', 0) ON CONFLICT DO UPDATE SET v = 'p WHERE q'",
    "UPDATE n SET k = g + 10, g = k",
])
def test_set_lists_bind_as_duckdb_binds_them(pair, sql):
    eng, con = pair
    want = con.execute(sql).fetchall()[0][0]
    assert eng.execute(sql).rows_affected == want
    _same_tables(pair)


@pytest.mark.parametrize("sql, error", [
    ("UPDATE t SET zzz = 'q' WHERE k = 2", "Referenced update column zzz not found in table!"),
    ("UPDATE n SET zzz = u.v FROM u WHERE n.k = u.k",
     "Referenced update column zzz not found in table!"),
    ("INSERT INTO t VALUES (1, 'z', 0) ON CONFLICT DO UPDATE SET zzz = 1",
     "Referenced update column zzz not found in table!"),
    ("UPDATE gt SET b = 3", 'Cant update column "b" because it is a generated column!'),
    ("UPDATE gt SET B = 3 FROM u WHERE gt.a = u.k",
     'Cant update column "b" because it is a generated column!'),
    ("INSERT INTO gt VALUES (1) ON CONFLICT DO UPDATE SET b = 3",
     'Cant update column "b" because it is a generated column!'),
    ("INSERT INTO t VALUES (1, 'z', 0) ON CONFLICT DO UPDATE SET K = 1",
     "Can not assign to column 'K' because it has a UNIQUE/PRIMARY KEY constraint"),
    ("UPDATE t SET v = 'a', v = 'b'", 'Multiple assignments to same column "v"'),
])
def test_set_binder_errors_are_duckdbs(pair, sql, error):
    eng, con = pair
    with pytest.raises(duckdb.BinderException) as want:
        con.execute(sql)
    assert error in str(want.value)
    with pytest.raises(ValueError) as got:
        eng.execute(sql)
    assert str(got.value) == error
    _same_tables(pair)


def test_merge_set_binds_like_update(pair):
    eng, _ = pair
    merge = "MERGE INTO gt USING u ON gt.a = u.k WHEN MATCHED THEN UPDATE SET {}"
    with pytest.raises(ValueError, match="Parser Error: syntax error"):
        eng.execute(merge.format("a"))
    with pytest.raises(ValueError, match="generated column"):
        eng.execute(merge.format("b = 3"))
    with pytest.raises(ValueError, match="Referenced update column zzz"):
        eng.execute(merge.format("zzz = 3"))
    eng.execute("MERGE INTO t USING u ON t.k = u.k WHEN MATCHED THEN UPDATE SET G = DEFAULT")
    assert [tuple(r) for r in eng.query_df("SELECT * FROM t ORDER BY k").collect()] == [
        (1, "a", 1), (2, "b", 7)]


# ---- RETURNING on the join forms --------------------------------------------


@pytest.mark.parametrize("sql", [
    "UPDATE n SET v = u.v FROM u WHERE n.k = u.k RETURNING *",
    "UPDATE n SET g = n.g + 10 FROM u WHERE n.k = u.k RETURNING k, g * 2 AS twice",
    "DELETE FROM n USING u WHERE n.k = u.k RETURNING *",
    "DELETE FROM t USING u WHERE t.k = u.k RETURNING v, k",
])
def test_returning_on_join_forms(pair, sql):
    eng, con = pair
    want = con.execute(sql).fetchall()
    out = eng.execute(sql)
    assert out.rows_affected == len(want)
    assert sorted(tuple(r) for r in out.returning.collect()) == sorted(want)
    _same_tables(pair)


def test_do_update_returning_still_raises(pair):
    eng, _ = pair
    with pytest.raises(ValueError, match="RETURNING is not supported with ON CONFLICT DO UPDATE"):
        eng.execute("INSERT INTO t VALUES (2, 'B', 0) ON CONFLICT DO UPDATE SET g = 20 RETURNING *")


# ---- RETURNING rows are a local relation, not a cached RDD ------------------


def _cache_rdd_id(spark, frame) -> int:
    manager = spark._jsparkSession.sharedState().cacheManager()
    entry = manager.lookupCachedData(frame._jdf).get()
    return entry.cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()


@pytest.mark.parametrize("table, sql", [
    ("t", "INSERT INTO t VALUES (3, 'c', 3) RETURNING *"),
    ("t", "UPDATE t SET v = 'z' WHERE k = 2 RETURNING *"),
    ("t", "INSERT INTO t VALUES (2, 'B', 0), (4, 'd', 4) ON CONFLICT DO NOTHING"),
    ("t", "INSERT INTO t VALUES (2, 'B', 0), (4, 'd', 4) ON CONFLICT DO UPDATE SET v = excluded.v"),
    ("t", "MERGE INTO t USING u ON t.k = u.k WHEN MATCHED THEN UPDATE SET v = u.v "
          "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (u.k, u.v) RETURNING merge_action, k"),
])
def test_a_write_leaves_only_the_tables_own_cache(spark, pair, table, sql):
    eng, _ = pair
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = eng.execute(sql)
    after = set(jsc.getPersistentRDDs().keySet())
    assert after - before == {_cache_rdd_id(spark, eng.catalog.read(table))}
    if out.returning is not None:
        assert out.returning.collect()


# ---- one catalog write ------------------------------------------------------


@pytest.mark.parametrize("sql", [
    "INSERT INTO t VALUES (2, 'B', 0), (4, 'd', 4) ON CONFLICT DO UPDATE SET v = excluded.v",
    "MERGE INTO t USING u ON t.k = u.k WHEN MATCHED THEN UPDATE SET v = u.v "
    "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (u.k, u.v)",
])
def test_update_plus_insert_is_one_catalog_write(pair, monkeypatch, sql):
    from duckdb_service_spark.service.catalog import Catalog

    eng, _ = pair
    calls = []
    for name in ("append", "overwrite", "overwrite_partitions"):
        write = getattr(Catalog, name)
        monkeypatch.setattr(Catalog, name, lambda self, *a, _n=name, _w=write, **k:
                            calls.append(_n) or _w(self, *a, **k))
    assert eng.execute(sql).rows_affected == 2
    assert calls == ["overwrite"]
    got = [tuple(r) for r in eng.query_df("SELECT k, v FROM t ORDER BY k").collect()]
    assert got[:2] == [(1, "a"), (2, "B" if "CONFLICT" in sql else "x")] and len(got) == 3


def test_partitioned_write_drains_and_adds_partitions(pair):
    eng, con = pair
    for s in ("CREATE TABLE p (id INTEGER PRIMARY KEY, g VARCHAR, n INTEGER) PARTITION BY (g)",
              "INSERT INTO p VALUES (1, 'a', 10), (2, 'b/c', 20), (3, NULL, 30), (5, 'e', 50)"):
        eng.execute(s)
    # drains the 'b/c' and NULL partitions
    eng.execute("MERGE INTO p USING (SELECT 2 AS id UNION ALL SELECT 3) s ON p.id = s.id "
                "WHEN MATCHED THEN DELETE")
    # updates in 'a', adds to the untouched 'e' and to a new 'b/c'
    eng.execute("INSERT INTO p VALUES (1, 'a', 0), (4, 'e', 40), (6, 'b/c', 60) "
                "ON CONFLICT DO UPDATE SET n = excluded.n")
    assert [tuple(r) for r in eng.query_df("SELECT * FROM p ORDER BY id").collect()] == [
        (1, "a", 0), (4, "e", 40), (5, "e", 50), (6, "b/c", 60)]
    assert eng.execute("TRUNCATE p").rows_affected == 4
    assert eng.query_df("SELECT count(*) FROM p").collect()[0][0] == 0


# ---- lint: catalog writes only inside the writer ----------------------------

_WRITES = {"append", "overwrite", "overwrite_partitions", "drop_partition_dirs"}


def _catalog_writes(node: ast.AST, fn: str = "<module>"):
    """Yield the enclosing function of each ``<x>.catalog.<write>(`` call."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _catalog_writes(child, child.name)
            continue
        if (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                and child.func.attr in _WRITES and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "catalog"):
            yield fn
        yield from _catalog_writes(child, fn)


def test_only_the_writer_writes_tables():
    sample = ast.parse("def f(engine):\n    engine.catalog.append('t', df)\n    rows.append(1)\n")
    assert list(_catalog_writes(sample)) == ["f"]
    owners = list(_catalog_writes(ast.parse(DML.read_text())))
    assert owners and set(owners) == {"_write"}
