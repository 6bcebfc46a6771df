"""INSERT/UPDATE/DELETE ... RETURNING (VERDICT r03 missing #1).

DuckDB returns the affected rows (post-image for UPDATE, deleted rows for
DELETE, inserted rows for INSERT) with the RETURNING select list applied;
reference reach: passthrough db/db.go:52. rows_affected still counts the
changed rows; the HTTP layer serializes the RETURNING relation as a query
result.
"""

from __future__ import annotations

import tempfile

import pytest


@pytest.fixture(scope="module")
def engine(spark):
    from duckdb_service_spark.service.executor import Engine

    return Engine(spark, tempfile.mkdtemp(prefix="warehouse_returning_"))


def test_insert_values_returning_star(engine):
    engine.execute("CREATE TABLE r1 (id INTEGER PRIMARY KEY, v TEXT)")
    out = engine.execute("INSERT INTO r1 VALUES (1, 'a'), (2, 'b') RETURNING *")
    assert out.rows_affected == 2
    rows = {(r.id, r.v) for r in out.returning.collect()}
    assert rows == {(1, "a"), (2, "b")}


def test_insert_returning_expressions(engine):
    engine.execute("CREATE TABLE r2 (id INTEGER, v TEXT)")
    out = engine.execute(
        "INSERT INTO r2 VALUES (7, 'x') RETURNING id * 2 AS twice, upper(v) AS uv"
    )
    row = out.returning.collect()[0]
    assert (row.twice, row.uv) == (14, "X")


def test_insert_select_returning_self_read(engine):
    # the classic trap: returning rows must be pinned BEFORE the append,
    # or `INSERT INTO t SELECT FROM t` re-reads the mutated table
    engine.execute("CREATE TABLE r3 (id INTEGER)")
    engine.execute("INSERT INTO r3 VALUES (1), (2)")
    out = engine.execute("INSERT INTO r3 SELECT id + 10 FROM r3 RETURNING id")
    assert out.rows_affected == 2
    assert sorted(r.id for r in out.returning.collect()) == [11, 12]
    assert engine.query_df("SELECT count(*) AS n FROM r3").collect()[0].n == 4


def test_update_returning_post_image(engine):
    engine.execute("CREATE TABLE r4 (id INTEGER, n INTEGER)")
    engine.execute("INSERT INTO r4 VALUES (1, 10), (2, 20), (3, 30)")
    out = engine.execute("UPDATE r4 SET n = n + 1 WHERE id >= 2 RETURNING id, n")
    assert out.rows_affected == 2
    rows = {(r.id, r.n) for r in out.returning.collect()}
    assert rows == {(2, 21), (3, 31)}  # post-update values


def test_delete_returning_deleted_rows(engine):
    engine.execute("CREATE TABLE r5 (id INTEGER, v TEXT)")
    engine.execute("INSERT INTO r5 VALUES (1, 'keep'), (2, 'drop'), (3, 'drop')")
    out = engine.execute("DELETE FROM r5 WHERE v = 'drop' RETURNING id")
    assert out.rows_affected == 2
    assert sorted(r.id for r in out.returning.collect()) == [2, 3]
    assert engine.query_df("SELECT count(*) AS n FROM r5").collect()[0].n == 1


def test_returning_keyword_in_string_literal(engine):
    engine.execute("CREATE TABLE r6 (v TEXT)")
    out = engine.execute("INSERT INTO r6 VALUES ('not RETURNING anything')")
    assert out.returning is None
    assert out.rows_affected == 1


def test_returning_over_http(engine):
    from duckdb_service_spark.service.http_server import EngineHTTPServer

    import json
    import urllib.request

    srv = EngineHTTPServer(engine).start()
    try:
        engine.execute("CREATE TABLE r7 (id INTEGER, v TEXT)")
        req = urllib.request.Request(
            f"http://{srv.host}:{srv.port}/db/execute",
            data=json.dumps(
                {"sql": "INSERT INTO r7 VALUES (5, 'z') RETURNING id, v"}
            ).encode(),
            method="POST",
        )
        body = json.loads(urllib.request.urlopen(req).read())
        assert body["result"]["columns"] == ["id", "v"]
        assert body["result"]["values"] == [[5, "z"]]
    finally:
        srv.stop()


def test_partitioned_delete_returning(engine):
    engine.execute(
        "CREATE TABLE r8 (id INTEGER, part TEXT) PARTITION BY (part)"
    )
    engine.execute(
        "INSERT INTO r8 VALUES (1, 'a'), (2, 'a'), (3, 'b')"
    )
    out = engine.execute("DELETE FROM r8 WHERE part = 'a' RETURNING id")
    assert out.rows_affected == 2
    assert sorted(r.id for r in out.returning.collect()) == [1, 2]


def test_returning_computes_generated_columns(spark, tmp_path):
    import duckdb

    from duckdb_service_spark.service.executor import Engine

    eng, con = Engine(spark, str(tmp_path / "warehouse")), duckdb.connect()
    for s in ("CREATE TABLE g (a INTEGER PRIMARY KEY, b INTEGER GENERATED ALWAYS AS (a * 2), "
              "v VARCHAR)", "INSERT INTO g (a, v) VALUES (1, 'x')"):
        eng.execute(s)
        con.execute(s)
    sql = "INSERT INTO g (a, v) VALUES (2, 'y') RETURNING *"
    assert [tuple(r) for r in eng.execute(sql).returning.collect()] == con.execute(sql).fetchall()
    # DuckDB 1.0.0 raises an INTERNAL error on this UPDATE: compare with
    # the row the write stores
    out = eng.execute("UPDATE g SET a = 5 WHERE a = 1 RETURNING *")
    stored = eng.query_df("SELECT * FROM g WHERE a = 5").collect()
    assert [tuple(r) for r in out.returning.collect()] == [tuple(r) for r in stored] == [(5, 10, "x")]
    con.close()
