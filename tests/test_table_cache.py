"""Catalog tables within one scan split are served from a cache that table
registration builds and releases.

``Catalog._register`` scans a table once, caches the frame when the table
fits in one scan split and builds the cache before it returns; every write
ends there, and DROP TABLE, ROLLBACK and ``refresh()`` release it. Each
write kind below is followed by a read that must match DuckDB 1.0.0, run
one Spark job and scan the cache. Further cases count the JVM's cached
RDDs, open a second engine on the same warehouse, keep a table above the
split uncached, check that a write rebuilds only the views over the
written table, and lint the service modules so that only the catalog
caches.
"""

from __future__ import annotations

import ast
import gc
import pathlib
import time

import duckdb
import pytest
from conftest import run_counted

SERVICE = pathlib.Path(__file__).resolve().parent.parent / "duckdb_service_spark" / "service"

KV = "CREATE TABLE kv (id INTEGER PRIMARY KEY, v VARCHAR, n INTEGER)"
FILL = "INSERT INTO kv VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)"
READ = "SELECT * FROM kv ORDER BY id"


def _live(spark) -> int:
    """Cached RDDs the JVM holds. An RDD nothing references any more (an
    earlier test's localCheckpoint frame, say) leaves this count at a JVM
    garbage collection, at a time of its own: PySpark hands the releases of
    dead Python frames to a background thread, so the JVM may learn only
    mid-test that such an RDD is garbage. Collect garbage on both sides,
    wait for the releases to reach the JVM, and count once the number
    settles, so no such cleanup falls between two counts of one test."""
    sc = spark.sparkContext._jsc.sc()
    releases = getattr(spark.sparkContext._gateway._gateway_client, "finalizer_deque", ())
    count = sc.getPersistentRDDs().size()
    for round_ in range(20):
        gc.collect()
        while releases:
            time.sleep(0.1)
        time.sleep(1.2)  # the release in flight when the queue emptied
        spark._jvm.System.gc()
        time.sleep(0.5)
        count, last = sc.getPersistentRDDs().size(), count
        if count == last and round_:
            break
    return count


@pytest.fixture
def pair(spark, tmp_path):
    from duckdb_service_spark.service.executor import Engine

    eng, con = Engine(spark, str(tmp_path / "warehouse")), duckdb.connect()
    for s in (KV, FILL):
        eng.execute(s)
        con.execute(s)
    yield eng, con
    con.close()


def _merge_source(eng, con):
    for s in ("CREATE TABLE src (id INTEGER, v VARCHAR, n INTEGER)",
              "INSERT INTO src VALUES (3, 'C', 0), (9, 'i', 90)"):
        eng.execute(s)
        con.execute(s)


def _parquet(con, path: str) -> str:
    con.execute(f"COPY (SELECT 7 AS id, 'g' AS v, 70 AS n) TO '{path}' (FORMAT PARQUET)")
    return path


# (engine statements, DuckDB statements); None means the same text
WRITES = {
    "insert": (["INSERT INTO kv VALUES (4, 'd', 40)"], None),
    "update": (["UPDATE kv SET n = n + 1 WHERE id = 2"], None),
    "delete": (["DELETE FROM kv WHERE id = 1"], None),
    "upsert": (["INSERT INTO kv VALUES (2, 'B', 0), (5, 'e', 50) "
                "ON CONFLICT DO UPDATE SET v = excluded.v"], None),
    # DuckDB 1.0 has no MERGE: the same change as an upsert
    "merge": (["MERGE INTO kv USING src ON kv.id = src.id "
               "WHEN MATCHED THEN UPDATE SET v = src.v "
               "WHEN NOT MATCHED THEN INSERT VALUES (src.id, src.v, src.n)"],
              ["INSERT INTO kv SELECT id, v, n FROM src ON CONFLICT DO UPDATE SET v = excluded.v"]),
    "alter_add_default": (["ALTER TABLE kv ADD COLUMN w INTEGER DEFAULT 7"], None),
    "alter_drop": (["ALTER TABLE kv DROP COLUMN n"], None),
    "alter_rename": (["ALTER TABLE kv RENAME COLUMN v TO label"], None),
    # the new table has the old one's path and schema, so a cache entry
    # left behind would answer for it
    "drop_create": (["DROP TABLE kv", KV], None),
    "rollback": (["BEGIN", "INSERT INTO kv VALUES (6, 'f', 60)",
                  "UPDATE kv SET n = 0", "ROLLBACK"], None),
    "copy_from": (["COPY kv FROM '{parquet}' (FORMAT PARQUET)"], None),
}


@pytest.mark.parametrize("kind", list(WRITES))
def test_read_after_write_matches_duckdb_from_the_cache(spark, pair, tmp_path, kind):
    eng, con = pair
    assert run_counted(spark, eng, READ)[0] == con.execute(READ).fetchall()
    if kind == "merge":
        _merge_source(eng, con)
    parquet = _parquet(con, str(tmp_path / "rows.parquet")) if kind == "copy_from" else ""
    ours, theirs = WRITES[kind]
    for s in ours:
        eng.execute(s.format(parquet=parquet))
    for s in theirs or ours:
        con.execute(s.format(parquet=parquet))
    rows, jobs, plan = run_counted(spark, eng, READ)
    assert rows == con.execute(READ).fetchall()
    # the cache is built, so the read is one job; an empty one needs none
    assert jobs == (1 if rows else 0), plan
    assert "InMemoryRelation" in plan, plan


def test_one_cache_entry_per_table_and_none_after_drop(spark, pair):
    eng, _ = pair
    before = _live(spark)
    eng.execute("CREATE TABLE other (k INTEGER)")
    assert _live(spark) == before + 1
    for i in range(50):
        eng.execute(f"INSERT INTO kv VALUES ({100 + i}, 'x', {i})" if i % 2 else
                    f"UPDATE kv SET n = n + 1 WHERE id = {1 + i % 3}")
    assert _live(spark) == before + 1
    assert eng.query_df("SELECT count(*) FROM kv").collect()[0][0] == 28
    eng.execute("DROP TABLE other")
    eng.execute("DROP TABLE kv")
    assert _live(spark) == before - 1


def test_second_engine_never_reads_a_stale_entry(spark, tmp_path):
    from duckdb_service_spark.service.executor import Engine

    wh = str(tmp_path / "warehouse")
    first = Engine(spark, wh)
    first.execute("CREATE TABLE t (x INTEGER)")
    first.execute("INSERT INTO t VALUES (1)")
    first.execute("BEGIN")
    first.execute("INSERT INTO t VALUES (2)")
    # crash recovery: the uncommitted row is on disk and in first's cache
    second = Engine(spark.newSession(), wh)
    assert [r.x for r in second.query_df("SELECT x FROM t").collect()] == [1]

    writer = Engine(spark, wh)
    writer.execute("INSERT INTO t VALUES (3)")
    second.refresh()
    assert sorted(r.x for r in second.query_df("SELECT x FROM t").collect()) == [1, 3]
    # a table dropped and re-created with the same path and schema
    writer.execute("DROP TABLE t")
    writer.execute("CREATE TABLE t (x INTEGER)")
    writer.execute("INSERT INTO t VALUES (9)")
    second.refresh()
    assert [r.x for r in second.query_df("SELECT x FROM t").collect()] == [9]


def test_table_above_the_split_is_not_cached(spark, pair):
    eng, _ = pair
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    before = _live(spark)
    spark.conf.set(key, "1k")
    try:
        eng.execute("CREATE TABLE big AS SELECT range AS id, md5(CAST(range AS VARCHAR)) AS h "
                    "FROM range(0, 5000)")
        assert not eng.catalog.read("big").is_cached
        assert eng.catalog.read("big").rdd.getNumPartitions() > 1
        assert _live(spark) == before
        _, _, plan = run_counted(spark, eng, "SELECT count(*) FROM big")
        assert "InMemoryTableScan" not in plan, plan
    finally:
        spark.conf.set(key, old)


# ---- views: a write rebuilds only the views over what it wrote -----------


def test_write_rebuilds_only_the_views_over_the_written_table(pair):
    eng, con = pair
    for s in ("CREATE SCHEMA s", "CREATE TABLE s.kv2 (k INTEGER)",
              "CREATE TABLE other (k INTEGER)"):
        eng.execute(s)
    for i in range(5):
        eng.execute(f"CREATE VIEW o{i} AS SELECT k + {i} AS k FROM other")
    eng.execute("CREATE VIEW quoted AS SELECT 'kv' AS name FROM other")
    eng.execute("CREATE MACRO kv_rows() AS TABLE SELECT * FROM kv")
    eng.execute("CREATE VIEW over_kv AS SELECT id, v FROM kv")
    eng.execute("CREATE VIEW over_view AS SELECT id FROM over_kv")
    eng.execute("CREATE VIEW over_macro AS SELECT id FROM kv_rows()")
    eng.execute("CREATE VIEW over_schema AS SELECT k FROM s.kv2")
    calls: list[str] = []
    bind = eng.catalog._query_df
    eng.catalog._query_df = lambda body: calls.append(body) or bind(body)

    eng.execute("INSERT INTO kv VALUES (4, 'd', 40)")
    con.execute("INSERT INTO kv VALUES (4, 'd', 40)")
    assert sorted(calls) == sorted(eng.catalog.views[v] for v in ("over_kv", "over_view", "over_macro"))
    for view, cols in (("over_kv", "id, v"), ("over_view", "id"), ("over_macro", "id")):
        got = sorted(tuple(r) for r in eng.query_df(f"SELECT * FROM {view}").collect())
        assert got == sorted(con.execute(f"SELECT {cols} FROM kv").fetchall())

    calls.clear()
    eng.execute("INSERT INTO s.kv2 VALUES (5)")
    assert calls == [eng.catalog.views["over_schema"]]
    assert [tuple(r) for r in eng.query_df("SELECT * FROM over_schema").collect()] == [(5,)]

    calls.clear()
    eng.execute("INSERT INTO other VALUES (1)")
    assert len(calls) == 6
    assert [r.k for r in eng.query_df("SELECT k FROM o4").collect()] == [5]


# ---- lint: only the catalog caches ----------------------------------------

# a localCheckpoint pins its rows like a cache and nothing releases them
_CACHE_CALLS = {"cache", "persist", "unpersist", "localCheckpoint"}
# the catalog's registration and release helpers
_OWNERS = {("catalog.py", "_register"), ("catalog.py", "_uncache")}


def _cache_calls(node: ast.AST, fn: str = "<module>"):
    """Yield (line, enclosing function) of each ``.cache()``,
    ``.persist(``, ``.unpersist(`` or ``.localCheckpoint(`` call under
    ``node``."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _cache_calls(child, child.name)
            continue
        if (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                and child.func.attr in _CACHE_CALLS):
            yield child.lineno, fn
        yield from _cache_calls(child, fn)


def test_only_catalog_registration_caches():
    found = [
        f"{path.name}:{line} in {fn}"
        for path in sorted(SERVICE.glob("*.py"))
        for line, fn in _cache_calls(ast.parse(path.read_text()))
        if (path.name, fn) not in _OWNERS
    ]
    assert found == []
