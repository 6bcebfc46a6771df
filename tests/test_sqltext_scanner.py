"""The SQL front end's one lexical scanner, and the statements it fixes.

``service/sqltext.py`` owns the rules for string literals (with ``''``
escapes), backtick identifiers, ``()``/``[]``/``{}`` nesting and the angle
brackets of ``MAP<...>``/``STRUCT<...>``/``ARRAY<...>``. The unit cases pin
those rules; the differential cases run statements through the engine and
through DuckDB 1.0 and compare: each once failed because a private copy of
the scan forgot brackets or literals, or because ascending sort keys put
NULLs first where DuckDB puts them last.
"""

from __future__ import annotations

import re
import tempfile

import duckdb
import pytest

from duckdb_service_spark.service.sqltext import (
    close_of,
    find_top,
    iter_top,
    literal_mask,
    open_of,
    split_literals,
    split_top,
    strip_outer_parens,
)

# ---- unit cases -------------------------------------------------------------


def test_doubled_quote_stays_inside_the_literal():
    text = "'it''s, (x' , b"
    assert split_top(text) == ["'it''s, (x'", "b"]
    assert literal_mask(text)[:11] == [True] * 11
    assert split_literals("a = 'x''y' AND b") == [
        (False, "a = "), (True, "'x''y'"), (False, " AND b"),
    ]


def test_backticks_hold_commas_and_parens():
    text = "`a,(b`, f(`c)`), d"
    assert split_top(text) == ["`a,(b`", "f(`c)`)", "d"]
    assert close_of(text, text.index("f(") + 1) == text.index("), d") + 1


def test_nested_square_and_curly_brackets():
    text = "[1, [2, 3]], {'a': [4, 5], 'b': {'c': 6}}, x[1]"
    assert split_top(text) == ["[1, [2, 3]]", "{'a': [4, 5], 'b': {'c': 6}}", "x[1]"]
    assert close_of(text, 0) == text.index("]],") + 2
    brace = text.index("{")
    assert open_of(text, close_of(text, brace) - 1) == brace
    assert close_of("f([1, 2", 1) == -1


def test_type_angles_nest_but_less_than_does_not():
    assert split_top("CAST(x AS MAP<STRING, BIGINT>), y") == [
        "CAST(x AS MAP<STRING, BIGINT>)", "y",
    ]
    assert split_top("STRUCT<a: INT, b: ARRAY<INT>>, z") == [
        "STRUCT<a: INT, b: ARRAY<INT>>", "z",
    ]
    assert split_top("a < b, c > d, bitmap < 3, e") == ["a < b", "c > d", "bitmap < 3", "e"]


def test_top_level_matches_skip_literals_and_groups():
    text = "SELECT (SELECT 1 FROM t), 'FROM' FROM u WHERE x IN (SELECT 2 FROM v)"
    rx = re.compile(r"\bFROM\b", re.IGNORECASE)
    assert find_top(text, rx).start() == text.index("FROM u")
    assert [m.start() for m in iter_top(text, rx)] == [text.index("FROM u")]
    assert find_top(text, rx, 0, text.index("FROM u")) is None


def test_strip_outer_parens_is_literal_aware():
    assert strip_outer_parens(" ((a + 1)) ") == "a + 1"
    assert strip_outer_parens("(a) + (b)") == "(a) + (b)"
    text = "(SELECT 1 AS x WHERE 'a' <> '(') UNION ALL (SELECT 2)"
    assert strip_outer_parens(text) == text


# ---- differential cases -----------------------------------------------------

ORDER_SHAPES = [
    "SELECT k, v FROM n ORDER BY k",
    "SELECT k, v FROM n ORDER BY k ASC",
    "SELECT k, v FROM n ORDER BY 1",
    "SELECT k, v FROM n ORDER BY v, k",
    "SELECT k FROM n UNION ALL SELECT 5 ORDER BY k",
    "SELECT k, row_number() OVER (ORDER BY k) AS rn FROM n ORDER BY rn",
    "SELECT k, v FROM n ORDER BY k DESC",
]


@pytest.fixture(scope="module")
def pair(spark):
    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, tempfile.mkdtemp(prefix="warehouse_sqltext_"))
    con = duckdb.connect()
    for sql in (
        "CREATE TABLE n (k INTEGER, v INTEGER)",
        "INSERT INTO n VALUES (2, 10), (NULL, 20), (1, NULL), (3, 30)",
        "CREATE TABLE u (id INTEGER, tags INTEGER[], s VARCHAR)",
        "INSERT INTO u VALUES (1, [1], 'a'), (2, [2], 'b')",
        "CREATE TABLE r (id INTEGER, s VARCHAR)",
        "CREATE MACRO first_of(l, d) AS coalesce(l[1], d)",
    ):
        eng.execute(sql)
        con.execute(sql)
    yield eng, con
    con.close()


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("sql", ORDER_SHAPES)
def test_sort_keys_put_nulls_last(pair, sql):
    eng, con = pair
    assert _rows(eng.query_df(sql)) == con.execute(sql).fetchall()


def test_update_assigns_a_list_and_a_second_column(pair):
    eng, con = pair
    sql = "UPDATE u SET tags = [7, 8], s = 'z' WHERE id = 1"
    assert eng.execute(sql).rows_affected == con.execute(sql).fetchall()[0][0] == 1
    check = "SELECT id, tags, s FROM u ORDER BY id"
    assert _rows(eng.query_df(check)) == con.execute(check).fetchall()


def test_macro_call_with_a_list_argument(pair):
    eng, con = pair
    sql = "SELECT first_of([5, 6], 0) AS f"
    assert _rows(eng.query_df(sql)) == con.execute(sql).fetchall() == [(5,)]


def test_returning_a_list_expression(pair):
    eng, con = pair
    sql = "INSERT INTO r VALUES (3, 'c') RETURNING [id, 1] AS l, s"
    want = con.execute(sql).fetchall()
    assert want == [([3, 1], "c")]
    assert _rows(eng.execute(sql).returning) == want


def test_describe_parenthesized_union_with_paren_literal(pair):
    eng, con = pair
    sql = "DESCRIBE (SELECT 1 AS x WHERE 'a' <> '(') UNION ALL (SELECT 2)"
    want = [row[:2] for row in con.execute(sql).fetchall()]
    assert want == [("x", "INTEGER")]
    kind, df = eng.run_statement(sql)
    assert kind == "query"
    assert [row[:2] for row in _rows(df)] == want
