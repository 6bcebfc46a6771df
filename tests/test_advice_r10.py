"""Round-10 ADVICE regression tests — all five findings differentially
verified against DuckDB where SQL-expressible.

1. dialect window-aware suffix capture: ``\\s*OVER\\s*`` consumed an
   implicit (no-AS) alias beginning with 'over' (``product(x) overall``)
   as a named-window reference; fixed to ``\\s*OVER\\b``.
2. sql_routing.rewrite_map_subscripts rewrote identifier[...] inside
   parenthesized subqueries using the OUTER FROM schema — a leaf-name
   collision silently changed inner semantics; nested query spans are now
   excluded.
3. dialect._TYPE_ANGLE_RE lacked a leading boundary, so args ending in an
   identifier like 'bitmap' before a ``<`` comparison opened phantom
   angle depth in _split_args and swallowed the next comma.
4. _rewrite_list_concat_nulls treated a BARE untyped NULL operand as
   empty-list, but DuckDB 1.0 resolves ``NULL || [9]`` as string concat
   → NULL (measured); bare-NULL operands now keep the passthrough.
5. _MAP_SUBSCRIPT_RE's ``[^\\[\\]]+`` key truncated string keys containing
   ']' (``m['a]b']`` → corrupted SQL); the scan is now quote- and
   bracket-aware, and _in_literal understands doubled '' escapes.
"""

from __future__ import annotations

import tempfile

import duckdb
import pytest

from duckdb_service_spark.service.dialect import translate
from duckdb_service_spark.service.sqltext import split_top as _split_args


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def _differential(spark, con, sql, order_insensitive=True):
    got = [tuple(r) for r in spark.sql(translate(sql)).collect()]
    want = con.execute(sql).fetchall()
    if order_insensitive:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    assert got == want, f"{sql!r}: spark={got} duckdb={want}"


# ---- 1. implicit alias starting with 'over' after a window-aware agg ------


def test_implicit_alias_overall_not_window_ref(spark, con):
    sql = (
        "SELECT g, product(x) overall "
        "FROM (VALUES (1, 2.0), (1, 3.0), (2, 5.0)) t(g, x) GROUP BY g"
    )
    _differential(spark, con, sql)


def test_implicit_alias_overt_after_filter(spark, con):
    sql = (
        "SELECT g, product(x) FILTER (WHERE x > 2) overt "
        "FROM (VALUES (1, 2.0), (1, 3.0), (2, 5.0)) t(g, x) GROUP BY g"
    )
    _differential(spark, con, sql)


def test_real_named_window_still_captured(spark, con):
    sql = (
        "SELECT x, product(x) OVER w AS p FROM (VALUES (2.0), (3.0)) t(x) "
        "WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    _differential(spark, con, sql)


# ---- 3. _split_args: identifier ending in a type keyword before '<' -------


def test_split_args_identifier_suffix_not_type_keyword():
    assert _split_args("x, bitmap < 3, y") == ["x", "bitmap < 3", "y"]
    assert _split_args("a, my_array < b, c") == ["a", "my_array < b", "c"]
    assert _split_args("x, mystruct < 3, y") == ["x", "mystruct < 3", "y"]
    # real composite types still nest their angle brackets
    assert _split_args("CAST(x AS MAP<STRING, BIGINT>), y") == [
        "CAST(x AS MAP<STRING, BIGINT>)",
        "y",
    ]
    assert _split_args("CAST(x AS ARRAY<ARRAY<INT>>), y") == [
        "CAST(x AS ARRAY<ARRAY<INT>>)",
        "y",
    ]


def test_emitter_arg_with_map_suffixed_identifier(spark, con):
    sql = (
        "SELECT string_agg(CASE WHEN bitmap < 3 THEN s END, ',') AS r "
        "FROM (VALUES (1, 'a'), (5, 'b'), (2, 'c')) t(bitmap, s)"
    )
    _differential(spark, con, sql)


# ---- 4. bare untyped NULL in list || -----------------------------------


def test_bare_null_list_concat_is_null(spark, con):
    sql = (
        "SELECT NULL || [9] AS a, [9] || NULL AS b, [1] || [2] AS c, "
        "[1] || [NULL] AS d"
    )
    _differential(spark, con, sql)


# ---- 2 & 5. map-subscript routing: scope + literal-aware keys ------------


@pytest.fixture(scope="module")
def engines(spark):
    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, tempfile.mkdtemp(prefix="warehouse_adv10_"))
    con = duckdb.connect()
    for ex in (eng.execute, con.execute):
        ex(
            "CREATE TABLE adv_outer (id INTEGER, s VARCHAR, "
            "m MAP(VARCHAR, INTEGER))"
        )
        ex(
            "INSERT INTO adv_outer VALUES "
            "(1, 'hello', map(['a]b', 'it''s'], [7, 8])), "
            "(2, 'world', map(['k'], [9]))"
        )
        # inner relation reuses the OUTER's column name 's' with a
        # different (LIST) type — the scope-collision scenario
        ex("CREATE TABLE adv_inner (s INTEGER[])")
        ex("INSERT INTO adv_inner VALUES ([100, 200])")
    return eng, con


def _engine_differential(engines, q):
    eng, con = engines
    got = [tuple(r) for r in eng.query_df(q).collect()]
    want = [tuple(r) for r in con.execute(q).fetchall()]
    assert got == want, f"{q}: spark={got!r} duck={want!r}"


def test_subscript_in_subquery_keeps_inner_scope(engines):
    # outer 's' is VARCHAR; inner 's' is INTEGER[] — the inner subscript
    # must NOT be rewritten to the outer string-slice math
    _engine_differential(
        engines,
        "SELECT id, s[1] AS s1, "
        "(SELECT i.s[1] FROM adv_inner i) AS inner_elem "
        "FROM adv_outer ORDER BY id",
    )


def test_subscript_key_containing_bracket(engines):
    _engine_differential(
        engines,
        "SELECT id, m['a]b'] AS v FROM adv_outer ORDER BY id",
    )


def test_subscript_key_with_doubled_quote_escape(engines):
    _engine_differential(
        engines,
        "SELECT id, m['it''s'] AS v FROM adv_outer ORDER BY id",
    )


def test_outer_subscripts_still_rewritten_alongside_subquery(engines):
    # the outer map subscript keeps its LIST-shaped rewrite even when the
    # same statement contains a nested query span
    _engine_differential(
        engines,
        "SELECT id, m['k'] AS v FROM adv_outer "
        "WHERE EXISTS (SELECT 1 FROM adv_inner) ORDER BY id",
    )
