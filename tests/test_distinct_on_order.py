"""DISTINCT ON keeps the statement's ORDER BY, LIMIT and OFFSET.

The rewrite picks each key's first row with a ``row_number()`` window; the
ORDER BY then sorts the picked rows and LIMIT/OFFSET cut after that sort,
as in DuckDB. Every case is compared with DuckDB on the same fixture, once
over the default read and once over a read split into several partitions
with AQE partition coalescing off, so the result order cannot come from a
single-partition read by accident.
"""

from __future__ import annotations

import tempfile

import duckdb
import pytest

CASES = [
    "SELECT DISTINCT ON (o_orderpriority) o_orderpriority, o_orderkey FROM orders "
    "ORDER BY o_orderpriority DESC, o_orderkey",
    "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey FROM orders "
    "ORDER BY o_custkey, o_orderkey",
    "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey FROM orders "
    "ORDER BY o_custkey, o_orderkey LIMIT 3",
    "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice FROM orders "
    "WHERE o_custkey > 20 ORDER BY o_custkey DESC, o_totalprice LIMIT 4 OFFSET 2",
    # hidden helper columns stay out of a star select list
    "SELECT DISTINCT ON (o_orderpriority) * FROM orders "
    "ORDER BY o_orderpriority, o_orderkey DESC",
]


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    from duckdb_service_spark.service.executor import Engine

    e = Engine(spark, tempfile.mkdtemp(prefix="warehouse_distinct_on_"))
    e.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')")
    return e


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    c.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')")
    yield c
    c.close()


@pytest.fixture(params=["default_read", "multi_partition_read"])
def read_mode(request, spark, eng):
    if request.param == "default_read":
        yield
        return
    confs = {
        "spark.sql.files.maxPartitionBytes": "4096",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        eng.catalog.refresh()
        assert eng.catalog.read("orders").rdd.getNumPartitions() > 1
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        eng.catalog.refresh()


@pytest.mark.parametrize("sql", CASES)
def test_distinct_on_order_and_limit_match_duckdb(read_mode, eng, con, sql):
    got = [tuple(r) for r in eng.query_df(sql).collect()]
    assert got == con.execute(sql).fetchall()
