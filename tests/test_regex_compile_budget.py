"""A warmed statement compiles no regex.

The front end runs hundreds of static patterns over every statement. The
stdlib's pattern cache (``re._MAXCACHE``, 512 entries on CPython 3.11) is
a FIFO: once the patterns a statement uses outnumber it, every statement
recompiles all of them, tens of milliseconds per ``translate`` call. This
test fails as soon as that cliff comes back. It counts calls to
``re._compiler.compile`` on the calling thread while an engine that has
already run the same statement shapes once runs them again with fresh
parameters: interactive reads, DML on a PRIMARY KEY table, two TPC-H
oracle strings and schema-qualified names.
"""

from __future__ import annotations

import re
import tempfile
import threading

import pytest

TABLES = ["region", "nation", "customer", "part", "orders", "lineitem"]
LIVE = "orders_live"
LIVE_COLS = "o_orderkey, o_custkey, o_totalprice, o_orderpriority"


def _reads(k: int) -> list[str]:
    """The interactive read shapes: key lookups, joins with GROUP BY, ``::``
    casts, QUALIFY, DISTINCT ON, list literals, date arithmetic, a wide
    range scan and two reads of the mutable table."""
    return [
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        f"o_orderpriority FROM orders WHERE o_orderkey = {k}",
        f"SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = {k}",
        f"SELECT p_partkey, p_name, p_brand, p_retailprice FROM part WHERE p_partkey = {k}",
        "SELECT n.n_name AS nation, count(*) AS customers, "
        "round(sum(c.c_acctbal), 2) AS balance FROM customer c "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        f"WHERE n.n_regionkey = {k % 5} GROUP BY n.n_name ORDER BY nation",
        "SELECT r.r_name AS region, count(*) AS n_orders FROM orders o "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        f"WHERE o.o_orderpriority = '{k % 5 + 1}-URGENT' GROUP BY r.r_name ORDER BY region",
        "SELECT o_orderkey, o_totalprice::BIGINT AS price, o_orderdate::DATE AS day "
        f"FROM orders WHERE o_custkey = {k} ORDER BY o_orderkey",
        "SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
        f"WHERE o_custkey BETWEEN {k} AND {k + 20} QUALIFY row_number() OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1 ORDER BY o_custkey",
        "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate "
        f"FROM orders WHERE o_custkey BETWEEN {k} AND {k + 20} "
        "ORDER BY o_custkey, o_orderdate DESC, o_orderkey",
        f"SELECT p_partkey, [p_size, p_size * 2, {k}] AS sizes, "
        f"list_contains([1, 5, 10, {k}], p_size) AS listed FROM part "
        f"WHERE p_partkey BETWEEN {k} AND {k + 5} ORDER BY p_partkey",
        f"SELECT o_orderkey, CAST(o_orderdate AS DATE) + {k} AS due, "
        "date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS age "
        f"FROM orders WHERE o_orderkey BETWEEN {k} AND {k + 3} ORDER BY o_orderkey",
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders "
        f"WHERE o_orderkey >= {k} AND o_orderkey < {k + 1000} ORDER BY o_orderkey",
        "SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total, "
        f"max(o_orderkey) AS max_key FROM {LIVE} WHERE o_custkey % 10 = {k % 10}",
        f"SELECT {LIVE_COLS} FROM {LIVE} WHERE o_orderkey = {k}",
    ]


def _writes(k: int) -> list[str]:
    return [
        f"INSERT INTO {LIVE} VALUES ({10_000 + k}, {k}, {k}.5, '1-URGENT'), "
        f"({20_000 + k}, {k + 1}, 12.25, '5-LOW')",
        f"UPDATE {LIVE} SET o_totalprice = o_totalprice + {k} WHERE o_orderkey = {2 * k}",
        f"DELETE FROM {LIVE} WHERE o_orderkey = {2 * k + 1}",
    ]


def _schema_reads(k: int) -> list[str]:
    return [
        "SELECT a.id, a.v, b.v AS w, n.n_name FROM s1.kv a JOIN s2.kv b ON a.id = b.id "
        f"JOIN main.nation n ON n.n_nationkey = a.id WHERE a.id < {k + 3} "
        "AND b.v <> 's1.kv' ORDER BY a.id",
    ]


def _oracles() -> list[str]:
    from duckdb_service_spark.plans.registry import ORACLES, load_all

    load_all()
    return [ORACLES["q1_pricing_summary"], ORACLES["q3_shipping_priority"]]


def _statements(k: int) -> list[str]:
    return _reads(k) + _writes(k) + _schema_reads(k) + _oracles()


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, tempfile.mkdtemp(prefix="warehouse_compiles_"))
    for t in TABLES:
        eng.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    eng.execute(
        f"CREATE TABLE {LIVE} (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, "
        "o_totalprice DOUBLE, o_orderpriority VARCHAR)"
    )
    eng.execute(f"INSERT INTO {LIVE} SELECT {LIVE_COLS} FROM orders WHERE o_orderkey < 200")
    for sch in ("s1", "s2"):
        eng.execute(f"CREATE SCHEMA {sch}")
        eng.execute(
            f"CREATE TABLE {sch}.kv AS SELECT n_nationkey AS id, n_name AS v FROM main.nation"
        )
    return eng


def _run(eng, sql: str) -> None:
    from duckdb_service_spark.service.serializer import query_result

    kind, payload = eng.run_statement(sql)
    if kind == "query":
        query_result(payload)


def test_warmed_statements_compile_no_regex(engine, monkeypatch):
    for sql in _statements(3):
        _run(engine, sql)
    compiled: list[tuple[str, str]] = []
    real = re._compiler.compile
    me = threading.get_ident()

    def counting(p, flags=0):
        if threading.get_ident() == me:
            compiled.append((current, p))
        return real(p, flags)

    monkeypatch.setattr(re._compiler, "compile", counting)
    for current in _statements(7):
        _run(engine, current)
    monkeypatch.undo()
    assert compiled == [], f"{len(compiled)} compiles, first: {compiled[:3]}"


def test_schema_names_resolve(engine):
    from duckdb_service_spark.service.serializer import query_result

    out = query_result(engine.query_df(_schema_reads(3)[0]))
    want = query_result(engine.query_df(
        "SELECT n_nationkey, n_name, n_name, n_name FROM nation "
        "WHERE n_nationkey < 6 ORDER BY n_nationkey"
    ))
    assert len(out["values"]) == 6
    assert out["values"] == want["values"]
    # a schema name inside a literal stays as written
    lit = query_result(engine.query_df("SELECT 's1.kv' AS s, 'main.x' AS m"))
    assert lit["values"] == [["s1.kv", "main.x"]]
