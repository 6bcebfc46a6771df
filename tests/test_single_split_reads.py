"""Catalog tables that fit in one scan split read as a single partition.

Such a table already plans at most one scan task, so ``Catalog.read``
returns it as one partition, and a sort, aggregate or window over it needs
no exchange. Each case checks the answer against DuckDB on the same
fixture, counts the Spark jobs of the statement in its own job group and
inspects the executed plan. Larger tables, and a table that grows past the
split, keep the split-parallel read and their exchanges.
"""

from __future__ import annotations

import itertools
import re
import tempfile

import duckdb
import pytest

TABLES = ["orders", "customer", "nation"]

SHORT_READS = [
    # sorted filter read: no range exchange, no sampling job
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "WHERE o_custkey BETWEEN 10 AND 40 ORDER BY o_totalprice DESC, o_orderkey",
    # GROUP BY: no hash-aggregate shuffle
    "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total "
    "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    # QUALIFY: no window PARTITION BY shuffle
    "SELECT o_custkey, o_orderkey, o_totalprice FROM orders WHERE o_custkey < 60 "
    "QUALIFY row_number() OVER (PARTITION BY o_custkey "
    "ORDER BY o_totalprice DESC, o_orderkey) = 1 ORDER BY o_custkey",
]

_groups = itertools.count()
# a shuffle or range exchange; BroadcastExchange is the broadcast-join side
_SHUFFLE_RE = re.compile(r"(?<!Broadcast)Exchange\b")


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    from duckdb_service_spark.service.executor import Engine

    e = Engine(spark, tempfile.mkdtemp(prefix="warehouse_single_split_"))
    for t in TABLES:
        e.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return e


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    yield c
    c.close()


def _split_bytes(spark) -> int:
    return spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()


def _run(spark, eng, sql):
    """(rows, Spark jobs, executed plan text) of one statement, planned and
    collected inside its own job group."""
    sc = spark.sparkContext
    group = f"single-split-{next(_groups)}"
    sc.setJobGroup(group, sql)
    try:
        df = eng.query_df(sql)
        rows = [tuple(r) for r in df.collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return rows, jobs, df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> list[str]:
    return [ln.strip() for ln in plan.splitlines() if _SHUFFLE_RE.search(ln)]


@pytest.mark.parametrize("sql", SHORT_READS)
def test_short_read_runs_one_job_without_exchanges(spark, eng, con, sql):
    rows, jobs, plan = _run(spark, eng, sql)
    assert rows == con.execute(sql).fetchall()
    assert jobs == 1, plan
    assert _shuffles(plan) == [], plan


def test_read_above_the_split_keeps_exchanges(spark, eng, con):
    size = eng.catalog._data_bytes(eng.catalog.tables["orders"].path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(size // 4))
    try:
        eng.catalog.refresh()
        assert eng.catalog.read("orders").rdd.getNumPartitions() > 1
        for sql in SHORT_READS:
            rows, _jobs, plan = _run(spark, eng, sql)
            assert rows == con.execute(sql).fetchall()
            assert _shuffles(plan), plan
    finally:
        spark.conf.set(key, old)
        eng.catalog.refresh()
    assert eng.catalog.read("orders").rdd.getNumPartitions() == 1


def test_table_growing_past_the_split_reads_split_parallel(spark, eng, con):
    split = _split_bytes(spark)
    if split > 8 << 20:
        pytest.skip(f"scan split {split} bytes is too large to outgrow here")
    ddl = "CREATE TABLE grow (id BIGINT PRIMARY KEY, h VARCHAR)"
    eng.execute(ddl)
    con.execute(ddl)
    group_by = "SELECT id % 7 AS g, count(*) AS n, count(DISTINCT h) AS d FROM grow GROUP BY g ORDER BY g"

    def insert(lo: int, hi: int) -> None:
        sql = (f"INSERT INTO grow SELECT range AS id, md5(CAST(range AS VARCHAR)) AS h "
               f"FROM range({lo}, {hi})")
        eng.execute(sql)
        con.execute(sql)

    insert(0, 100)
    rows, jobs, plan = _run(spark, eng, group_by)
    assert rows == con.execute(group_by).fetchall()
    assert jobs == 1 and _shuffles(plan) == [], plan

    path, lo = eng.catalog.tables["grow"].path, 100
    while eng.catalog._data_bytes(path) <= split:
        insert(lo, lo + 40_000)
        lo += 40_000
    assert eng.catalog.read("grow").rdd.getNumPartitions() > 1
    rows, _jobs, plan = _run(spark, eng, group_by)
    assert rows == con.execute(group_by).fetchall()
    assert _shuffles(plan), plan


def test_update_and_delete_on_a_small_key_table(eng, con):
    ddl = "CREATE TABLE kv (id INTEGER PRIMARY KEY, v DOUBLE, tag VARCHAR)"
    statements = [
        "INSERT INTO kv SELECT o_orderkey, o_totalprice, o_orderpriority "
        "FROM orders WHERE o_orderkey < 400",
        "UPDATE kv SET v = v + 1.5, tag = 'hot' WHERE id % 3 = 0",
        "DELETE FROM kv WHERE id % 5 = 1",
        "INSERT INTO kv VALUES (100000, 2.25, 'new'), (100001, NULL, 'new')",
        "UPDATE kv SET v = 0 WHERE tag = 'new'",
        "DELETE FROM kv WHERE id = 100001",
    ]
    eng.execute(ddl)
    con.execute(ddl)
    check = "SELECT id, v, tag FROM kv ORDER BY id"
    for sql in statements:
        eng.execute(sql)
        con.execute(sql)
        assert eng.catalog.read("kv").rdd.getNumPartitions() == 1
        got = [tuple(r) for r in eng.query_df(check).collect()]
        assert got == con.execute(check).fetchall(), sql
