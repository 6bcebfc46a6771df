"""INSERT sources, MERGE sources and view bodies are bound by the same
front end as a /db/query read (``Engine.query_df``).

The reference hands every /db/execute string to DuckDB whole, so the
SELECT inside an INSERT or a view means what it means as a read. Each case
runs the identical statement sequence on the engine and on DuckDB and
compares what a read returns afterwards. MERGE is compared with itself:
DuckDB 1.0 has no MERGE, so a subquery source is checked against a source
table that holds the same rows. The last test walks the service modules'
syntax trees so that no second query path (``spark.sql(translate(...))``)
comes back.
"""

from __future__ import annotations

import ast
import pathlib

import duckdb
import pytest

SERVICE = pathlib.Path(__file__).resolve().parent.parent / "duckdb_service_spark" / "service"


@pytest.fixture
def pair(spark, tmp_path):
    from duckdb_service_spark.service.executor import Engine

    con = duckdb.connect()
    yield Engine(spark, str(tmp_path / "warehouse")), con
    con.close()


@pytest.fixture(scope="module")
def nation(sf_dir) -> str:
    from duckdb_service_spark.sources import table_path

    return table_path(sf_dir, "nation")


def _both(pair, *stmts: str) -> None:
    eng, con = pair
    for s in stmts:
        con.execute(s)
        eng.execute(s)


def _rows(pair, sql: str) -> tuple[list, list]:
    eng, con = pair
    got = [tuple(r) for r in eng.query_df(sql).collect()]
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    return sorted(got, key=repr), sorted(want, key=repr)


def _same(pair, sql: str) -> None:
    got, want = _rows(pair, sql)
    assert got == want


T1 = "CREATE TABLE t1 (a INTEGER, b VARCHAR)"
K = "CREATE TABLE k (id INTEGER PRIMARY KEY, v VARCHAR)"
BASE = ("CREATE TABLE base (a INTEGER, b VARCHAR)",
        "INSERT INTO base VALUES (1, 'x'), (2, 'y')")


# ---- INSERT sources -------------------------------------------------------


def test_insert_select_from_read_parquet(pair, nation):
    _both(pair, T1, f"INSERT INTO t1 SELECT n_nationkey, n_name "
                    f"FROM read_parquet('{nation}') WHERE n_nationkey < 3")
    _same(pair, "SELECT a, b FROM t1")


def test_upsert_select_from_read_parquet(pair, nation):
    _both(pair, K, "INSERT INTO k VALUES (1, 'old'), (7, 'keep')",
          f"INSERT INTO k SELECT n_nationkey, n_name FROM read_parquet('{nation}') "
          "WHERE n_nationkey < 3 ON CONFLICT DO UPDATE SET v = excluded.v")
    _same(pair, "SELECT id, v FROM k")


@pytest.mark.parametrize("ddl, stmt", [
    (K, "INSERT INTO k SELECT COLUMNS(*) FROM (SELECT 9 AS id, 'z' AS v)"),
    (T1, "INSERT INTO t1 SELECT 41, 'p' UNION ALL SELECT 42, true"),
    (T1, "INSERT INTO t1 FROM (SELECT 30 AS a, 'z' AS b)"),
    (K, "INSERT INTO k (SELECT 11, 'w')"),
    (T1, "INSERT INTO t1 SELECT * FROM (VALUES (20, 'x'), ('21', 'y'))"),
    (BASE[0], "INSERT INTO base SELECT 3, 'VALUES'"),
])
def test_insert_query_bodies(pair, ddl, stmt):
    _both(pair, ddl, stmt)
    table = stmt.split()[2]
    _same(pair, f"SELECT * FROM {table}")


@pytest.mark.parametrize("stmt", [
    "INSERT INTO t VALUES (1, 1, 1), (2, '2.5', 2.5)",
    "INSERT INTO t VALUES ('3.5', 3, true)",
])
def test_insert_values_cast_per_cell(pair, stmt):
    """DuckDB casts each VALUES cell to its target column; it does not
    unify the rows into one inline-table type first."""
    _both(pair, "CREATE TABLE t (a INTEGER, d DOUBLE, s VARCHAR)", stmt)
    _same(pair, "SELECT a, d, s FROM t")


def test_on_conflict_target_checked_for_query_bodies(pair):
    eng, con = pair
    _both(pair, K)
    stmt = "INSERT INTO k SELECT 0, 'c' ON CONFLICT (v) DO NOTHING"
    with pytest.raises(duckdb.BinderException):
        con.execute(stmt)
    with pytest.raises(ValueError, match="ON CONFLICT target"):
        eng.execute(stmt)
    _same(pair, "SELECT * FROM k")


@pytest.mark.parametrize("stmt, error", [
    ("INSERT INTO base (a, zzz) VALUES (1, 2)",
     'Table "base" does not have a column with name "zzz"'),
    ("INSERT INTO base VALUES (7)", "table base has 2 columns but 1 values were supplied"),
    ("INSERT INTO base SELECT 7", "table base has 2 columns but 1 values were supplied"),
    ("INSERT INTO base (a, a) VALUES (1, 2)", 'Duplicate column name "a" in INSERT'),
])
def test_insert_column_binding_errors(pair, stmt, error):
    """A listed column the table lacks, a repeated one, and a positional
    row narrower than the table are binder errors in DuckDB, not a
    dropped or default-filled column."""
    eng, con = pair
    _both(pair, *BASE)
    with pytest.raises(duckdb.BinderException, match=error):
        con.execute(stmt)
    with pytest.raises(ValueError, match=error):
        eng.execute(stmt)
    _same(pair, "SELECT * FROM base")


@pytest.mark.parametrize("stmt", ["INSERT INTO base (b) VALUES ('x')",
                                  "INSERT INTO base (B, A) VALUES ('y', 5)"])
def test_insert_column_list_fills_the_rest(pair, stmt):
    _both(pair, *BASE, stmt)
    _same(pair, "SELECT * FROM base")


def test_one_from_probe_per_statement(pair, monkeypatch):
    """Passes that ask for the same FROM relation share one ``LIMIT 0``
    probe within a statement."""
    eng, _ = pair
    _both(pair, "CREATE TABLE part (p_partkey INTEGER, p_size INTEGER)",
          "INSERT INTO part VALUES (1, 5), (2, 7)")
    sql = ("SELECT p_partkey, [p_size, p_size * 2, 7] AS sizes, "
           "list_contains([1, 5, 10, 7], p_size) AS listed FROM part "
           "WHERE p_partkey BETWEEN 1 AND 6 ORDER BY p_partkey")
    sent: list[str] = []
    session_sql = type(eng.spark).sql
    monkeypatch.setattr(type(eng.spark), "sql",
                        lambda self, q, *a, **k: sent.append(q) or session_sql(self, q, *a, **k))
    eng.query_df(sql)
    monkeypatch.undo()
    assert len(sent) == 3, sent
    assert len(set(sent)) == 3, sent
    _same(pair, sql)


# ---- views ----------------------------------------------------------------


@pytest.mark.parametrize("body", [
    "SELECT n_nationkey, n_name FROM read_parquet('{nation}') WHERE n_nationkey < 4",
    "SELECT COLUMNS('a') FROM base",
    "SELECT [1, '2'] AS l",
    "SELECT 1 AS x UNION ALL SELECT true",
    "SELECT * REPLACE (a + 1 AS a) FROM base",
])
def test_view_bodies(pair, nation, body):
    _both(pair, *BASE, f"CREATE VIEW v AS {body.format(nation=nation)}")
    _same(pair, "SELECT * FROM v")


def test_view_follows_writes(pair):
    """A view reads its table's current rows after INSERT, UPDATE, DELETE
    and ROLLBACK. A write that leaves the view's body unbound succeeds;
    reading the view then raises."""
    eng, _ = pair
    _both(pair, *BASE, "CREATE VIEW vv AS SELECT a, b FROM base",
          "INSERT INTO base VALUES (3, 'z')")
    _same(pair, "SELECT count(*) FROM vv")
    for stmt in ("UPDATE base SET b = 'q' WHERE a = 1", "DELETE FROM base WHERE a = 2"):
        _both(pair, stmt)
        _same(pair, "SELECT a, b FROM vv")
    _both(pair, "BEGIN", "INSERT INTO base VALUES (4, 'w')", "ROLLBACK")
    _same(pair, "SELECT a, b FROM vv")
    eng.execute("ALTER TABLE base DROP COLUMN b")
    eng.execute("INSERT INTO base VALUES (5)")
    assert eng.query_df("SELECT count(*) FROM base").collect()[0][0] == 3
    with pytest.raises(Exception):
        eng.query_df("SELECT * FROM vv").collect()


def test_describe_and_show_all_tables_on_views(pair):
    eng, con = pair
    _both(pair, *BASE, "CREATE VIEW vv AS SELECT a, b FROM base",
          "CREATE VIEW v3 AS SELECT [1, '2'] AS l")
    for view in ("vv", "v3"):
        kind, df = eng.run_statement(f"DESCRIBE {view}")
        assert kind == "query"
        got = [(r.column_name, r.column_type) for r in df.collect()]
        want = [tuple(r[:2]) for r in con.execute(f"DESCRIBE {view}").fetchall()]
        assert got == want
    _, df = eng.run_statement("SHOW ALL TABLES")
    got = sorted((r.name, list(r.column_names), list(r.column_types)) for r in df.collect())
    want = sorted((r[2], r[3], r[4]) for r in con.execute("SHOW ALL TABLES").fetchall())
    assert got == want


# ---- MERGE ----------------------------------------------------------------


def test_merge_subquery_source_matches_table_source(spark, tmp_path, nation):
    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, str(tmp_path / "warehouse"))
    src = (f"SELECT n_nationkey AS id, n_name AS name FROM read_parquet('{nation}') "
           "WHERE n_nationkey < 5")
    merge = ("MERGE INTO {t} USING {s} s ON {t}.id = s.id "
             "WHEN MATCHED THEN UPDATE SET name = s.name "
             "WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.name)")
    eng.execute(f"CREATE TABLE src AS {src}")
    for t in ("via_subq", "via_table"):
        eng.execute(f"CREATE TABLE {t} (id INTEGER PRIMARY KEY, name VARCHAR)")
        eng.execute(f"INSERT INTO {t} VALUES (1, 'old'), (9, 'other')")
    n_subq = eng.execute(merge.format(t="via_subq", s=f"({src})")).rows_affected
    n_table = eng.execute(merge.format(t="via_table", s="src")).rows_affected
    assert n_subq == n_table == 5
    read = "SELECT id, name FROM {} ORDER BY id"
    assert (eng.query_df(read.format("via_subq")).collect()
            == eng.query_df(read.format("via_table")).collect())


# ---- one path: no spark.sql(translate(...)) outside the front end ---------


def _second_paths(tree: ast.AST, exempt: set[str] = frozenset()) -> list[int]:
    """Line numbers of ``<x>.sql(...)`` calls whose argument holds a
    ``translate(...)`` result, directly or through a local name, outside
    the functions named in ``exempt``."""

    def carries(expr, tainted: set[str]) -> bool:
        return any(
            (isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
             and n.func.id == "translate")
            or (isinstance(n, ast.Name) and n.id in tainted)
            for n in ast.walk(expr)
        )

    def scopes(node):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if child.name in exempt:
                    continue
                yield child
            yield from scopes(child)

    hits = []
    for fn in scopes(tree):
        tainted: set[str] = set()
        for _ in range(3):  # names assigned from names assigned from translate
            for node in ast.walk(fn):
                if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
                    if carries(node.value, tainted):
                        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                        tainted |= {t.id for t in targets if isinstance(t, ast.Name)}
        for node in ast.walk(fn):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "sql"):
                args = [*node.args, *(k.value for k in node.keywords)]
                if any(carries(a, tainted) for a in args):
                    hits.append(node.lineno)
    return sorted(set(hits))


def test_no_second_query_path_in_service():
    # the lint itself: a direct call, one through a local name, and the
    # exempt function
    sample = ast.parse(
        "def direct(engine, body):\n"
        "    return engine.spark.sql(f'SELECT * FROM ({translate(body)})')\n"
        "def through_a_name(spark, body):\n"
        "    text = translate(body)\n"
        "    return spark.sql(text)\n"
        "class Engine:\n"
        "    def query_df(self, sql):\n"
        "        return self.spark.sql(translate(sql))\n"
    )
    assert _second_paths(sample) == [2, 5, 8]
    assert _second_paths(sample, {"query_df"}) == [2, 5]
    found = {}
    for path in sorted(SERVICE.glob("*.py")):
        if path.name == "sql_routing.py":
            continue  # query_df's own passes: they get pass-processed text
        exempt = {"query_df"} if path.name == "executor.py" else set()
        lines = _second_paths(ast.parse(path.read_text()), exempt)
        if lines:
            found[path.name] = lines
    assert found == {}
