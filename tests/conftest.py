from __future__ import annotations

import contextlib
import itertools
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from duckdb_service_spark.session import get_spark

    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    from duckdb_service_spark.sources import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


_job_groups = itertools.count()


@contextlib.contextmanager
def job_group(spark):
    """Run the block in a Spark job group of its own; the yielded function
    returns how many jobs the group has run (call it after the block)."""
    sc = spark.sparkContext
    group = f"counted-{next(_job_groups)}"
    sc.setJobGroup(group, group)

    def jobs() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def run_counted(spark, eng, sql):
    """(result, Spark jobs, executed plan text) of one statement run in a
    job group of its own. A query goes through ``Engine.query_df`` and is
    collected: the result is its rows. Any other statement goes through
    ``Engine.execute``: the result is its rows_affected and the plan is
    None."""
    df = None
    with job_group(spark) as jobs:
        if eng.is_query(sql):
            df = eng.query_df(sql)
            out = [tuple(r) for r in df.collect()]
        else:
            out = eng.execute(sql).rows_affected
    plan = None if df is None else df._jdf.queryExecution().executedPlan().toString()
    return out, jobs(), plan
