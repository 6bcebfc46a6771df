"""Write statements run only the Spark jobs their result needs.

Each budgeted statement runs on the engine inside a job group of its own
(``conftest.run_counted``) and on DuckDB 1.0.0: both must report the same
rows affected and leave the same table, and the engine must stay within the
statement's job budget. Further cases cover tables that have no data files
(CREATE TABLE writes none), plans of empty tables and empty RETURNING sets
without Python-RDD leaves, and DuckDB's conversion errors on INSERT where
Spark's cast would wrap a value or make it NULL.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from conftest import job_group, run_counted

from duckdb_service_spark.service.dml import ConstraintViolation
from duckdb_service_spark.service.serializer import duck_error_text

MUT = ("CREATE TABLE mut (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, "
       "o_totalprice DOUBLE, o_orderpriority VARCHAR)")
MUT_READ = "SELECT * FROM mut ORDER BY o_orderkey"
# Python-RDD leaves: a plan holding one starts Python workers when run
_RDD_LEAVES = ("LogicalRDD", "ExistingRDD")


@pytest.fixture
def pair(spark, tmp_path):
    from duckdb_service_spark.service.executor import Engine

    con = duckdb.connect()
    yield Engine(spark, str(tmp_path / "warehouse")), con
    con.close()


def _both(pair, *stmts: str) -> None:
    eng, con = pair
    for s in stmts:
        con.execute(s)
        eng.execute(s)


def _same(pair, sql: str) -> None:
    eng, con = pair
    assert [tuple(r) for r in eng.query_df(sql).collect()] == con.execute(sql).fetchall()


def _duck_rows_affected(con, sql: str) -> int:
    got = con.execute(sql).fetchall()
    return got[0][0] if got else 0


def _budgeted(spark, pair, sql: str, budget: int) -> None:
    eng, con = pair
    n, jobs, _ = run_counted(spark, eng, sql)
    assert n == _duck_rows_affected(con, sql)
    assert jobs <= budget, (sql, jobs)


def test_write_job_budgets(spark, pair, sf_dir):
    """CREATE TABLE runs no job, a CTAS from one file at most 3, the
    service benchmark's 3-row INSERT into its PRIMARY KEY table at most 6,
    and an UPDATE of a non-key column or a DELETE by key at most 3."""
    eng, con = pair
    _, jobs, _ = run_counted(spark, eng, MUT)
    con.execute(MUT)
    assert jobs == 0
    _budgeted(spark, pair,
              f"CREATE TABLE orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')", 3)
    _same(pair, "SELECT count(*), sum(o_totalprice) FROM orders")
    _both(pair, "INSERT INTO mut SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority "
                "FROM orders WHERE o_orderkey < 2000")
    _budgeted(spark, pair,
              "INSERT INTO mut VALUES (900001, 5, 1234.5, '1-URGENT'), "
              "(900002, 6, 99.25, '2-HIGH'), (900003, 7, 10.0, '3-MEDIUM')", 6)
    _same(pair, MUT_READ)
    _budgeted(spark, pair,
              "UPDATE mut SET o_totalprice = o_totalprice + 5 WHERE o_orderkey = 900001", 3)
    _same(pair, MUT_READ)
    _budgeted(spark, pair, "DELETE FROM mut WHERE o_orderkey = 900002", 3)
    _same(pair, MUT_READ)


K = "CREATE TABLE k (k INTEGER PRIMARY KEY, v VARCHAR, g INTEGER DEFAULT 7)"
K_READ = "SELECT * FROM k ORDER BY k"
SRC = ("CREATE TABLE u (k INTEGER, v VARCHAR)", "INSERT INTO u VALUES (2, 'x'), (5, 'y')")


@pytest.mark.parametrize("sql, budget", [
    ("INSERT INTO k VALUES (2, 'B', 0), (3, 'c', 0) ON CONFLICT DO UPDATE SET v = excluded.v", 4),
    ("INSERT INTO k VALUES (2, 'B', 0), (3, 'c', 0) ON CONFLICT DO NOTHING", 3),
    ("UPDATE k SET v = u.v FROM u WHERE k.k = u.k", 3),
    ("DELETE FROM k USING u WHERE k.k = u.k", 3),
])
def test_join_and_upsert_job_budgets(spark, pair, sql, budget):
    """ON CONFLICT DO UPDATE runs at most 4 jobs (the count, the check of
    the inserted rows, the rewrite and the cache fill), DO NOTHING,
    UPDATE…FROM and DELETE…USING at most 3."""
    _both(pair, K, "INSERT INTO k VALUES (1, 'a', 1), (2, 'b', 2)", *SRC)
    _budgeted(spark, pair, sql, budget)
    _same(pair, K_READ)


def test_merge_job_budget(spark, pair):
    """A MERGE that updates one row and inserts one runs at most 4 jobs.
    DuckDB 1.0 has no MERGE: it runs the same change as an upsert."""
    eng, con = pair
    _both(pair, K, "INSERT INTO k VALUES (1, 'a', 1), (2, 'b', 2)", *SRC)
    n, jobs, _ = run_counted(spark, eng, "MERGE INTO k USING u ON k.k = u.k "
                                         "WHEN MATCHED THEN UPDATE SET v = u.v "
                                         "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (u.k, u.v)")
    con.execute("INSERT INTO k (k, v) SELECT k, v FROM u ON CONFLICT DO UPDATE SET v = excluded.v")
    assert n == 2
    assert jobs <= 4, jobs
    _same(pair, K_READ)


def test_insert_violations_raise_after_one_check_query(spark, pair):
    """A rejected INSERT into a PRIMARY KEY table runs one Spark job (the
    check query) and leaves the table as it was."""
    eng, con = pair
    _both(pair, MUT, "INSERT INTO mut VALUES (1, 1, 1.0, 'a'), (2, 2, 2.0, 'b')")
    for sql, error in [
        ("INSERT INTO mut VALUES (3, 3, 3.0, 'c'), (1, 9, 9.0, 'x')",
         "PRIMARY KEY constraint failed"),
        ("INSERT INTO mut VALUES (3, 3, 3.0, 'c'), (3, 9, 9.0, 'x')",
         "duplicate key in inserted rows"),
        ("INSERT INTO mut VALUES (NULL, 3, 3.0, 'c')", "NOT NULL constraint failed"),
    ]:
        with pytest.raises(duckdb.ConstraintException):
            con.execute(sql)
        with job_group(spark) as jobs:
            with pytest.raises(ConstraintViolation, match=error):
                eng.execute(sql)
        assert jobs() == 1, sql
        _same(pair, MUT_READ)


# ---- tables without data files --------------------------------------------

EMPTY = "CREATE TABLE e (a INTEGER NOT NULL, b VARCHAR, d DATE)"


def _data_files(path: str) -> list[str]:
    return [f for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


def test_create_table_writes_no_file_and_reads_empty(spark, pair):
    eng, con = pair
    _both(pair, EMPTY)
    assert _data_files(eng.catalog.tables["e"].path) == []
    for sql in ("SELECT * FROM e", "SELECT count(*) FROM e", "SELECT count(*), max(a) FROM e"):
        rows, _, _ = run_counted(spark, eng, sql)
        assert rows == con.execute(sql).fetchall()
    _, df = eng.run_statement("DESCRIBE e")
    got = [(r.column_name, r.column_type) for r in df.collect()]
    assert got == [tuple(r[:2]) for r in con.execute("DESCRIBE e").fetchall()]
    _both(pair, "INSERT INTO e VALUES (1, 'x', DATE '2024-01-02')")
    _same(pair, "SELECT * FROM e")


def test_second_engine_and_refresh_see_a_table_without_files(spark, pair):
    from duckdb_service_spark.service.executor import Engine

    eng, con = pair
    _both(pair, EMPTY)
    other = Engine(spark, eng.catalog.dir)
    assert [tuple(r) for r in other.query_df("SELECT count(*) FROM e").collect()] == [(0,)]
    eng.catalog.refresh()
    _same(pair, "SELECT count(*) FROM e")
    _both(pair, "INSERT INTO e VALUES (2, 'y', NULL)")
    other.catalog.refresh()
    assert [tuple(r) for r in other.query_df("SELECT a, b FROM e").collect()] == [(2, "y")]


def test_rollback_of_a_create_removes_the_table(pair):
    eng, con = pair
    _both(pair, "BEGIN", EMPTY, "ROLLBACK")
    assert "e" not in eng.catalog.tables
    assert not os.path.exists(os.path.join(eng.catalog.dir, "e"))
    with pytest.raises(duckdb.CatalogException):
        con.execute("SELECT * FROM e")
    with pytest.raises(Exception, match="e"):
        eng.query_df("SELECT * FROM e").collect()
    # a table created empty before the transaction survives its rollback
    _both(pair, EMPTY, "BEGIN", "INSERT INTO e VALUES (1, 'x', NULL)", "ROLLBACK")
    _same(pair, "SELECT count(*) FROM e")


def test_export_and_import_of_a_table_without_files(spark, pair, tmp_path):
    from duckdb_service_spark.service.executor import Engine

    eng, con = pair
    _both(pair, EMPTY)
    eng.execute(f"EXPORT DATABASE '{tmp_path / 'eng_export'}'")
    con.execute(f"EXPORT DATABASE '{tmp_path / 'duck_export'}'")
    eng2 = Engine(spark, str(tmp_path / "warehouse2"))
    con2 = duckdb.connect()
    eng2.execute(f"IMPORT DATABASE '{tmp_path / 'eng_export'}'")
    con2.execute(f"IMPORT DATABASE '{tmp_path / 'duck_export'}'")
    for sql in ("SELECT count(*) FROM e", "DESCRIBE e"):
        kind, df = eng2.run_statement(sql)
        got = [tuple(r)[:2] for r in df.collect()]
        assert got == [tuple(r)[:2] for r in con2.execute(sql).fetchall()]
    con2.close()


def test_failed_ctas_leaves_no_directory_and_no_sidecar(pair):
    eng, con = pair
    sql = "CREATE TABLE bad AS SELECT CAST(s AS INTEGER) AS i FROM (VALUES ('1'), ('x')) t(s)"
    with pytest.raises(duckdb.ConversionException) as want:
        con.execute(sql)
    with pytest.raises(Exception) as got:
        eng.execute(sql)
    assert duck_error_text(got.value) == str(want.value).splitlines()[0]
    assert "bad" not in eng.catalog.tables
    assert not os.path.exists(os.path.join(eng.catalog.dir, "bad"))
    assert not os.path.exists(os.path.join(eng.catalog.dir, "bad.meta.json"))


def _plan_text(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.optimizedPlan().toString() + qe.executedPlan().toString()


def test_empty_tables_and_empty_returning_plan_no_python_rdd(pair):
    eng, _ = pair
    eng.execute(EMPTY)
    eng.execute("CREATE TABLE ep (id INTEGER, g VARCHAR) PARTITION BY (g)")
    for name in ("e", "ep"):
        plan = _plan_text(eng.catalog.read(name))
        assert not any(leaf in plan for leaf in _RDD_LEAVES), plan
        assert eng.query_df(f"SELECT count(*) FROM {name}").collect()[0][0] == 0
    eng.execute("CREATE TABLE src (id INTEGER, g VARCHAR)")
    out = eng.execute(
        "MERGE INTO e USING src ON e.a = src.id "
        "WHEN NOT MATCHED THEN INSERT VALUES (src.id, src.g, NULL) "
        "RETURNING merge_action, a"
    )
    assert out.rows_affected == 0
    plan = _plan_text(out.returning)
    assert not any(leaf in plan for leaf in _RDD_LEAVES), plan
    assert out.returning.collect() == []
    assert out.returning.columns == ["merge_action", "a"]


# ---- DuckDB's conversion errors on INSERT ----------------------------------

BASE = "CREATE TABLE base (a INTEGER, b VARCHAR)"
NARROW = "CREATE TABLE narrow (x DOUBLE, t TINYINT, d DATE)"


@pytest.mark.parametrize("sql", [
    "INSERT INTO base VALUES (300000000000, 'x')",
    "INSERT INTO base VALUES (1, 'ok'), (300000000000, 'x')",
    "INSERT INTO base SELECT 300000000000, 'y'",
    "INSERT INTO base (a) SELECT CAST(5000000000 AS BIGINT)",
    "INSERT INTO narrow VALUES ('abc', 1, DATE '2024-01-01')",
    "INSERT INTO narrow VALUES (1.5, 300, DATE '2024-01-01')",
    "INSERT INTO narrow VALUES (1.5, 3, '2024-13-01')",
    "INSERT INTO narrow (t) SELECT 1000",
    "INSERT INTO narrow (x) SELECT 'abc'",
    "SELECT * FROM (VALUES (CAST(300 AS TINYINT))) t(x)",
    "SELECT * FROM (VALUES (CAST('abc' AS DOUBLE))) t(x)",
])
def test_out_of_range_values_raise_duckdbs_conversion_error(pair, sql):
    eng, con = pair
    _both(pair, BASE, NARROW)
    with pytest.raises(duckdb.ConversionException) as want:
        con.execute(sql)
    with pytest.raises(Exception) as got:
        eng.run_statement(sql)[1].collect() if eng.is_query(sql) else eng.execute(sql)
    assert duck_error_text(got.value) == str(want.value).splitlines()[0]
    _same(pair, "SELECT * FROM base ORDER BY a")
    _same(pair, "SELECT * FROM narrow ORDER BY t")


def test_values_that_convert_are_stored_as_duckdb_stores_them(pair):
    _both(pair, BASE, NARROW,
          "INSERT INTO base VALUES ('3.5', 'z'), (2147483647, 'max')",
          "INSERT INTO base VALUES (1, 'a'), ('2.5', 'b')",
          "INSERT INTO narrow VALUES ('2.5', 127, '2024-01-02'), (1, -128, NULL)",
          "INSERT INTO narrow (t, x) SELECT 100, 7")
    _same(pair, "SELECT * FROM base ORDER BY a")
    _same(pair, "SELECT * FROM narrow ORDER BY t")
