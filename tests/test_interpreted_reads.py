"""Reads of small in-memory data run interpreted: no generated code.

``serializer.query_result`` collects a statement inside
``serializer.interpreted``, which turns off whole-stage codegen and
expression code generation when every leaf of the plan is a catalog cache,
a VALUES list or a FROM-less select, with few rows in all. Each of the 13
read shapes of perfbench's ``svc_interactive`` workload, over the same
cached fixture tables, must compile no class for a fresh literal, run as
many Spark jobs as compiled execution and match DuckDB 1.0.0. A read above
the row bound, or of files, keeps whole-stage codegen. A statement that
raises inside the scope leaves both confs as they were, and a lint keeps
the codegen confs and the serializer's collect inside the scope.
"""

from __future__ import annotations

import ast
import pathlib
import tempfile
import textwrap

import duckdb
import pytest
from conftest import job_group, run_counted

ROOT = pathlib.Path(__file__).resolve().parent.parent
SERVICE = ROOT / "duckdb_service_spark" / "service"
FIXTURE = ROOT / "perfbench" / "fixture" / "sf0.01"
TABLES = ["region", "nation", "customer", "part", "orders"]
MUTABLE = ("CREATE TABLE bench_orders (o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT, "
           "o_totalprice DOUBLE, o_orderpriority VARCHAR)",
           "INSERT INTO bench_orders SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority "
           "FROM orders WHERE o_orderkey < 2000")
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
CODEGEN_KEYS = ("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")

# the svc_interactive read templates (perfbench/run.py, Mix._read), keyed by
# one literal; each case runs a warm literal, then a fresh one
SHAPES = {
    "key_order": lambda k: (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        f"o_orderpriority FROM orders WHERE o_orderkey = {k}"),
    "key_customer": lambda k: (
        f"SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = {k}"),
    "key_part": lambda k: (
        f"SELECT p_partkey, p_name, p_brand, p_retailprice FROM part WHERE p_partkey = {k}"),
    "nation_group": lambda k: (
        "SELECT n.n_name AS nation, count(*) AS customers, "
        "round(sum(c.c_acctbal), 2) AS balance FROM customer c "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        f"WHERE n.n_regionkey = {k % 5} GROUP BY n.n_name ORDER BY nation"),
    "region_group": lambda k: (
        "SELECT r.r_name AS region, count(*) AS n_orders FROM orders o "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        f"WHERE o.o_orderpriority = '{PRIORITIES[k % 5]}' "
        "GROUP BY r.r_name ORDER BY region"),
    "cast_colons": lambda k: (
        "SELECT o_orderkey, o_totalprice::BIGINT AS price, o_orderdate::DATE AS day "
        f"FROM orders WHERE o_custkey = {k} ORDER BY o_orderkey"),
    "qualify": lambda k: (
        "SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
        f"WHERE o_custkey BETWEEN {k} AND {k + 20} QUALIFY row_number() OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1 "
        "ORDER BY o_custkey"),
    "distinct_on": lambda k: (
        "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate "
        f"FROM orders WHERE o_custkey BETWEEN {k} AND {k + 20} "
        "ORDER BY o_custkey, o_orderdate DESC, o_orderkey"),
    "list_literal": lambda k: (
        f"SELECT p_partkey, [p_size, p_size * 2, {k % 50 + 1}] AS sizes, "
        f"list_contains([1, 5, 10, {k % 50 + 1}], p_size) AS listed FROM part "
        f"WHERE p_partkey BETWEEN {k} AND {k + 5} ORDER BY p_partkey"),
    "date_arith": lambda k: (
        f"SELECT o_orderkey, CAST(o_orderdate AS DATE) + {k % 89 + 1} AS due, "
        "date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS age "
        f"FROM orders WHERE o_orderkey BETWEEN {k} AND {k + 3} ORDER BY o_orderkey"),
    "wide": lambda k: (
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders "
        f"WHERE o_orderkey >= {k} AND o_orderkey < {k + 1000} ORDER BY o_orderkey"),
    "mutable_group": lambda k: (
        "SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total, "
        f"max(o_orderkey) AS max_key FROM bench_orders WHERE o_custkey % 10 = {k % 10}"),
    "mutable_key": lambda k: (
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM bench_orders "
        f"WHERE o_orderkey = {k}"),
}
WARM, FRESH = 417, 1283


@pytest.fixture(scope="module")
def eng(spark):
    from duckdb_service_spark.service.executor import Engine

    e = Engine(spark, tempfile.mkdtemp(prefix="warehouse_interpreted_"))
    for t in TABLES:
        e.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{FIXTURE}/{t}.parquet')")
    for s in MUTABLE:
        e.execute(s)
    return e


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{FIXTURE}/{t}.parquet')")
    for s in MUTABLE:
        c.execute(s)
    yield c
    c.close()


def _compiled(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _served(spark, eng, sql):
    """(query_result of the statement, Spark jobs it ran, classes it
    compiled, its executed plan)."""
    from duckdb_service_spark.service.serializer import query_result

    df = eng.query_df(sql)
    before = _compiled(spark)
    with job_group(spark) as jobs:
        result = query_result(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return result, jobs(), _compiled(spark) - before, plan


def _live_stages(plan: str) -> list[str]:
    """Whole-stage-codegen'd operators ("*(n)") of an executed plan, outside
    the plans its InMemoryRelations were cached from."""
    stages, cached_at = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" +-:"))
        if cached_at is not None and indent > cached_at:
            continue
        cached_at = indent if "InMemoryRelation" in line else None
        if "*(" in line:
            stages.append(line.strip())
    return stages


def _duck_values(con, sql):
    from duckdb_service_spark.service.serializer import _json_value

    return [[_json_value(v) for v in row] for row in con.execute(sql).fetchall()]


@pytest.mark.parametrize("shape", list(SHAPES))
def test_read_shape_compiles_nothing(spark, eng, con, shape):
    from duckdb_service_spark.service.serializer import _small_in_memory

    _served(spark, eng, SHAPES[shape](WARM))
    sql = SHAPES[shape](FRESH)
    assert _small_in_memory(eng.query_df(sql))
    result, jobs, classes, plan = _served(spark, eng, sql)
    assert result["values"] == _duck_values(con, sql)
    assert classes == 0, plan
    assert _live_stages(plan) == [], plan
    # the same statement compiled runs as many jobs
    assert jobs == run_counted(spark, eng, sql)[1], plan


def test_read_above_the_bound_keeps_codegen(spark, eng):
    from duckdb_service_spark.service.serializer import INTERPRETED_MAX_ROWS

    eng.execute("CREATE TABLE above AS SELECT range AS id, range % 7 AS g "
                f"FROM range(0, {INTERPRETED_MAX_ROWS + 1})")
    assert eng.catalog.read("above").is_cached
    sql = f"SELECT g, count(*) AS n FROM above WHERE id > {FRESH + 7} GROUP BY g ORDER BY g"
    result, _jobs, classes, plan = _served(spark, eng, sql)
    assert result["values"] == [[g, len(range(g, INTERPRETED_MAX_ROWS + 1, 7))
                                 - len(range(g, FRESH + 8, 7))] for g in range(7)]
    assert classes > 0, plan
    assert _live_stages(plan), plan


def test_file_read_keeps_codegen(spark, eng, con):
    sql = (f"SELECT count(*) AS n FROM read_parquet('{FIXTURE}/orders.parquet') "
           f"WHERE o_custkey = {FRESH - 5}")
    result, _jobs, classes, plan = _served(spark, eng, sql)
    assert result["values"] == _duck_values(con, sql)
    assert classes > 0, plan
    assert _live_stages(plan), plan


@pytest.mark.parametrize("preset", [None, ("true", "FALLBACK")], ids=["unset", "set"])
def test_confs_restored_after_a_statement_raises(spark, eng, preset):
    from duckdb_service_spark.service.serializer import _small_in_memory, query_result

    for key, value in zip(CODEGEN_KEYS, preset or (None, None)):
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)
    try:
        before = [spark.conf.get(key, None) for key in CODEGEN_KEYS]
        df = eng.query_df("SELECT CAST(c_name AS INTEGER) AS n FROM customer")
        assert _small_in_memory(df)
        with pytest.raises(Exception, match="Could not convert string"):
            query_result(df)
        assert [spark.conf.get(key, None) for key in CODEGEN_KEYS] == before
    finally:
        for key in CODEGEN_KEYS:
            spark.conf.unset(key)


# ---- lint: the codegen confs and the serializer's collect stay in scope ----

SCOPE = "interpreted"


def _scope_violations(source: str, name: str) -> list[str]:
    """'file:line what' for each codegen conf key outside the function
    ``interpreted`` and, in serializer.py, each ``.collect()`` call outside
    a ``with interpreted(...)`` block."""
    found: list[str] = []

    def visit(node: ast.AST, fn: str, scoped: bool) -> None:
        for child in ast.iter_child_nodes(node):
            child_fn, child_scoped = fn, scoped
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                child_fn, child_scoped = child.name, False
            elif isinstance(child, ast.With) and any(
                    isinstance(item.context_expr, ast.Call)
                    and isinstance(item.context_expr.func, ast.Name)
                    and item.context_expr.func.id == SCOPE for item in child.items):
                child_scoped = True
            if (isinstance(child, ast.Constant) and isinstance(child.value, str)
                    and child.value.startswith("spark.sql.codegen.") and fn != SCOPE):
                found.append(f"{name}:{child.lineno} codegen conf")
            if (name == "serializer.py" and isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute) and child.func.attr == "collect"
                    and not scoped):
                found.append(f"{name}:{child.lineno} collect")
            visit(child, child_fn, child_scoped)

    visit(ast.parse(source), "<module>", False)
    return found


def test_lint_finds_a_sample_of_violations():
    sample = textwrap.dedent('''\
        def interpreted(df):
            conf.set("spark.sql.codegen.wholeStage", "false")
        def elsewhere(df):
            conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
            with interpreted(df):
                rows = df.collect()
            return rows + df.collect()
        ''')
    assert _scope_violations(sample, "serializer.py") == [
        "serializer.py:4 codegen conf", "serializer.py:7 collect"]
    assert _scope_violations(sample, "executor.py") == ["executor.py:4 codegen conf"]


def test_codegen_confs_and_serializer_collect_stay_in_scope():
    found = [v for path in sorted(SERVICE.glob("*.py"))
             for v in _scope_violations(path.read_text(), path.name)]
    assert found == []
