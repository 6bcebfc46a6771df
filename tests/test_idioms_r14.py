"""Round-14 regression tests — VERDICT r13 tasks 1/2/6, each
differentially verified against live DuckDB:

1. (VERDICT #1) Composite-TYPE lanes in branch/variadic folds: a
   LIST/STRUCT/MAP lane beside a string LITERAL coerces the literal
   through DuckDB's string->composite cast grammar (COALESCE([1],
   '[2]') is [1]; the NULL-lane twin returns the parsed [2]; the CASE
   ELSE form parses the ELSE literal), non-castable combinations raise
   DuckDB's verbatim Conversion/Binder errors lazily (only when the
   branch is reached — COALESCE(MAP{'k':1}, 'nope') returns the map),
   different-family operands raise Cannot-mix with the composite type
   name, and GREATEST/LEAST reject any composite argument with the
   no-function-matches binder error (no list overloads exist at all).
2. (VERDICT #2) String->composite casts: STRUCT ({'key': v}, quoted or
   bare keys, case-sensitive key match, unknown keys fail whole-value,
   missing fields NULL, duplicate keys last-wins) and MAP ({k=v})
   literal grammars fold at rewrite time; string COLUMN sources of
   list casts parse at runtime through the duck_list_split Arrow UDF
   with the same element cast contract (CAST raises DuckDB's template
   errors, TRY_CAST NULLs per element, grammar failures NULL the whole
   value).

3. (VERDICT #7 stretch) Postfix factorial over EXPRESSION terms: the
   operator binds looser than arithmetic (1 + 3! = factorial(4) = 24,
   x + 1! over x=4 is 120) and tighter than comparisons (3! = 7 is
   false while 3!=7 lexes as inequality); operands must type INTEGER
   or narrower (BIGINT/DOUBLE/DECIMAL/BOOLEAN raise the
   '!__postfix(TYPE)' binder error), values follow DuckDB's HUGEINT
   lane (negatives -> 1, 21!..33! exact via a DECIMAL(38,0) product,
   34! raises Out of Range at runtime), and an arithmetic operator
   AFTER the '!' reproduces the catalog error.
6. (VERDICT #7 stretch) Map equality: DuckDB compares maps
   entry-order-sensitively with per-value null propagation (definite
   mismatch false, otherwise-equal-with-a-null NULL); =/<>/!= lower
   onto map_keys + zip_with + exists. Also fixes a pre-existing
   map-literal-subscript bug: map_values(MAP {...})[1] subscripts the
   CALL result, not the parenthesized arg.
5. (VERDICT missing #4) Datetime literal specials: 'epoch' = the 1970
   instant, ±'infinity' clamp to the datetime range at the VALUE level,
   hour-24 rolls to next midnight (24:00:01 raises / TRY_CAST NULLs),
   and ±HH[:MM] offsets on naive TIMESTAMP literals fold to the shifted
   instant. BC years stay loud.
4. (VERDICT #7 stretch) Composite -> VARCHAR render: lists '[1, 2]',
   structs '{''key'': value}' with quoted keys, maps '{k=v}'; string
   leaves BARE, NULL leaves 'NULL', doubles via DuckDB's shortest
   round-trip repr (flat double lists through the duck_double_arr_str
   Arrow UDF — Spark rejects Python UDFs inside lambdas), NULL
   containers render as SQL NULL.

All shapes measured against DuckDB 2026-08 (the tools/probe_r14*.py
scripts, in git history at commit 72f160f);
reference reach: db/db.go:70 passthrough.
"""

from __future__ import annotations

import os
import sys
import tempfile

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def eng(spark):
    from duckdb_service_spark.service.executor import Engine

    return Engine(spark, tempfile.mkdtemp(prefix="warehouse_r14_"))


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def _canon(v):
    """Structural normalization: Spark Rows -> dicts, DuckDB map reprs
    ({'key': [...], 'value': [...]}) -> plain dicts, tuples/lists
    unified — so composite values compare by CONTENT."""
    try:
        from pyspark.sql import Row

        if isinstance(v, Row):
            return _canon(v.asDict())
    except Exception:
        pass
    if isinstance(v, dict):
        if set(v.keys()) == {"key", "value"} and isinstance(v.get("key"), list):
            return _canon(dict(zip(v["key"], v["value"])))
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _differential(eng, con, sql):
    from duckdb_service_spark.service.serializer import duck_error_text

    try:
        r = con.execute(sql)
        want = ("OK", [_canon(t) for t in r.fetchall()])
    except Exception as e:
        want = ("ERR", str(e).splitlines()[0])
    try:
        df = eng.query_df(sql)
        got = ("OK", [_canon(tuple(x)) for x in df.collect()])
    except Exception as e:
        got = ("ERR", duck_error_text(e).splitlines()[0])
    assert got == want, f"{sql!r}: spark={got} duck={want}"


# ---- 1. composite-type lanes in branch folds -------------------------------

COMPOSITE_LANES = [
    # the six VERDICT r13 "What's wrong #1" probes
    "SELECT COALESCE([1], '[2]') AS v",
    "SELECT COALESCE(CAST(NULL AS INTEGER[]), '[2]') AS v",
    "SELECT CASE WHEN 1=0 THEN [1] ELSE '[2]' END AS v",
    "SELECT COALESCE(CASE WHEN 1=0 THEN {'a':1} END, '{''a'': 2}') AS v",
    "SELECT COALESCE(CAST(NULL AS MAP(VARCHAR,INTEGER)), 'nope') AS v",
    "SELECT GREATEST([1,2],'[1,3]') AS v",
    # literal-first fold order / lazy conversion errors
    "SELECT COALESCE('[2]', [1]) AS v",
    "SELECT CASE WHEN 1=1 THEN '[2]' ELSE [1] END AS v",
    "SELECT COALESCE(NULL, [1], '[2, 3]') AS v",
    "SELECT COALESCE([1], 'zzz') AS v",
    "SELECT COALESCE(CAST(NULL AS INTEGER[]), 'zzz') AS v",
    "SELECT COALESCE(CAST(NULL AS STRUCT(a INTEGER)), 'junk') AS v",
    "SELECT COALESCE(CAST(NULL AS STRUCT(a INTEGER)), '{''a'': 2}') AS v",
    "SELECT COALESCE(CAST(NULL AS MAP(VARCHAR,INTEGER)), '{k=2}') AS v",
    "SELECT COALESCE(MAP{'k':1}, 'nope') AS v",
    "SELECT CASE WHEN 1=0 THEN MAP{'k':1} ELSE 'x' END AS v",
    "SELECT COALESCE([1.5], '[2]') AS v",
    "SELECT typeof(COALESCE([1],'[2]')) AS v",
    # GREATEST/LEAST: no composite overloads at all
    "SELECT LEAST([1,2],'[0,3]') AS v",
    "SELECT GREATEST([1,2],[1,3]) AS v",
    # different-family mixes: Cannot-mix binder errors, operand order
    "SELECT COALESCE([1], 4) AS v",
    "SELECT COALESCE({'a':1}, 4) AS v",
    "SELECT COALESCE([1], DATE '2020-01-01') AS v",
    "SELECT CASE WHEN 1=0 THEN [1] ELSE 4 END AS v",
]


@pytest.mark.parametrize("q", COMPOSITE_LANES)
def test_composite_type_lane(eng, con, q):
    _differential(eng, con, q)


# ---- 2a. string literal -> STRUCT/MAP casts --------------------------------

STRING_COMPOSITE_CASTS = [
    "SELECT CAST('{''a'': 2}' AS STRUCT(a INTEGER)) AS v",
    "SELECT CAST('{a: 2}' AS STRUCT(a INTEGER)) AS v",
    "SELECT CAST('{''b'': 3}' AS STRUCT(a INTEGER, b INTEGER)) AS v",
    "SELECT CAST('{''b'': 3, ''a'': 2}' AS STRUCT(a INTEGER, b INTEGER)) AS v",
    "SELECT CAST('{''a'': 2.9}' AS STRUCT(a INTEGER)) AS v",
    "SELECT CAST('{''a'': z}' AS STRUCT(a INTEGER)) AS v",
    "SELECT TRY_CAST('{''a'': z}' AS STRUCT(a INTEGER)) AS v",
    "SELECT CAST('{}' AS STRUCT(a INTEGER)) AS v",
    "SELECT CAST('{''a'': 2, ''b'': 3}' AS STRUCT(a INTEGER)) AS v",
    "SELECT CAST('{''A'': 1}' AS STRUCT(a INTEGER)) AS v",
    "SELECT CAST('{''a'': ''x,y''}' AS STRUCT(a VARCHAR)) AS v",
    "SELECT CAST('{''a'': {''b'': 1}}' AS STRUCT(a STRUCT(b INTEGER))) AS v",
    "SELECT CAST('{''a'': [1,2]}' AS STRUCT(a INTEGER[])) AS v",
    "SELECT CAST('{k=2}' AS MAP(VARCHAR,INTEGER)) AS v",
    "SELECT CAST('{k=2, j=3}' AS MAP(VARCHAR,INTEGER)) AS v",
    "SELECT CAST('{}' AS MAP(VARCHAR,INTEGER)) AS v",
    "SELECT CAST('{k=z}' AS MAP(VARCHAR,INTEGER)) AS v",
    "SELECT TRY_CAST('{k=z}' AS MAP(VARCHAR,INTEGER)) AS v",
    "SELECT CAST('{1=2}' AS MAP(INTEGER,INTEGER)) AS v",
    "SELECT CAST('{k=2.9}' AS MAP(VARCHAR,INTEGER)) AS v",
    "SELECT TRY_CAST('nope' AS MAP(VARCHAR,INTEGER)) AS v",
    "SELECT CAST('{''k''=2}' AS MAP(VARCHAR,INTEGER)) AS v",
    "SELECT CAST('{x=''v,w''}' AS MAP(VARCHAR,VARCHAR)) AS v",
    "SELECT CAST('{k= 2 , j =3}' AS MAP(VARCHAR,INTEGER)) AS v",
]


@pytest.mark.parametrize("q", STRING_COMPOSITE_CASTS)
def test_string_composite_cast(eng, con, q):
    _differential(eng, con, q)


# ---- 2b. string COLUMN -> list casts ---------------------------------------

@pytest.fixture(scope="module")
def list_tables(eng, con):
    ddl = [
        "CREATE TABLE strlists(id INTEGER, s VARCHAR)",
        "INSERT INTO strlists VALUES (1, '[1, 2]'), (2, '[]'), (3, NULL), "
        "(4, '[7]'), (5, '[1, 2, 3]')",
        "CREATE TABLE strbad(id INTEGER, s VARCHAR)",
        "INSERT INTO strbad VALUES (1, '[1, x]'), (2, 'zzz'), (3, '[2.9]')",
    ]
    for s in ddl:
        eng.execute(s)
        con.execute(s)
    return True


COLUMN_COMPOSITE_CASTS = [
    "SELECT id, TRY_CAST(s AS STRUCT(a INTEGER, b VARCHAR)) AS v "
    "FROM strstructs ORDER BY id",
    "SELECT CAST(s AS STRUCT(a INTEGER, b VARCHAR)) AS v "
    "FROM strstructs WHERE id = 1",
    "SELECT CAST(s AS STRUCT(a INTEGER, b VARCHAR)) AS v "
    "FROM strstructs WHERE id = 5",
    "SELECT CAST(s AS STRUCT(a INTEGER, b VARCHAR)) AS v "
    "FROM strstructs WHERE id = 7",
    "SELECT id, TRY_CAST(s AS MAP(VARCHAR, INTEGER)) AS v "
    "FROM strmaps ORDER BY id",
    "SELECT CAST(s AS MAP(VARCHAR, INTEGER)) AS v FROM strmaps WHERE id = 1",
    "SELECT CAST(s AS MAP(VARCHAR, INTEGER)) AS v FROM strmaps WHERE id = 4",
    "SELECT CAST(s AS MAP(VARCHAR, INTEGER)) AS v FROM strmaps WHERE id = 5",
    "SELECT CAST(s AS MAP(VARCHAR, INTEGER)) AS v FROM strmaps WHERE id = 6",
    "SELECT CAST(upper(s) AS MAP(VARCHAR, INTEGER)) AS v "
    "FROM strmaps WHERE id = 1",
]


@pytest.fixture(scope="module")
def composite_tables(eng, con):
    ddl = [
        "CREATE TABLE strstructs (id INTEGER, s VARCHAR)",
        "INSERT INTO strstructs VALUES (1, '{''a'': 2, ''b'': x}'), "
        "(2, '{a: 3}'), (3, NULL), (4, '{}'), (5, 'junk'), "
        "(6, '{''a'': 4, ''a'': 5}'), (7, '{''z'': 1}')",
        "CREATE TABLE strmaps (id INTEGER, s VARCHAR)",
        "INSERT INTO strmaps VALUES (1, '{k=1, j=2}'), (2, '{}'), "
        "(3, NULL), (4, 'junk'), (5, '{k=1, k=2}'), (6, '{k=z}')",
    ]
    for s in ddl:
        eng.execute(s)
        con.execute(s)
    return True


@pytest.mark.parametrize("q", COLUMN_COMPOSITE_CASTS)
def test_column_string_composite_cast(eng, con, composite_tables, q):
    _differential(eng, con, q)


COLUMN_LIST_CASTS = [
    "SELECT id, CAST(s AS INTEGER[]) AS v FROM strlists ORDER BY id",
    "SELECT id, TRY_CAST(s AS INTEGER[]) AS v FROM strlists ORDER BY id",
    "SELECT id, CAST(s AS VARCHAR[]) AS v FROM strlists ORDER BY id",
    "SELECT id, CAST(s AS DOUBLE[]) AS v FROM strlists ORDER BY id",
    "SELECT TRY_CAST(s AS INTEGER[]) AS v FROM strbad ORDER BY id",
    "SELECT CAST(s AS INTEGER[]) AS v FROM strbad WHERE id = 1",
    "SELECT CAST(s AS INTEGER[]) AS v FROM strbad WHERE id = 2",
    "SELECT CAST(s AS INTEGER[]) AS v FROM strbad WHERE id = 3",
    "SELECT CAST(upper(s) AS VARCHAR[]) AS v FROM strbad WHERE id = 1",
]


@pytest.mark.parametrize("q", COLUMN_LIST_CASTS)
def test_column_string_list_cast(eng, con, list_tables, q):
    _differential(eng, con, q)


# ---- 3. postfix factorial over expression terms ----------------------------

FACTORIAL_TERMS = [
    "SELECT 1 + 3! AS v",
    "SELECT 2 * 3! AS v",
    "SELECT 10 - 7! AS v",
    "SELECT 7 % 4! AS v",
    "SELECT -3! AS v",
    "SELECT (3)! AS v",
    "SELECT 3 ! AS v",
    "SELECT abs(-3)! AS v",
    "SELECT 5! AS v",
    "SELECT 20! AS v",
    "SELECT 21! AS v",
    "SELECT 33! AS v",
    "SELECT 34! AS v",
    "SELECT NULL! AS v",
    "SELECT '3'! AS v",
    "SELECT '3.5'! AS v",
    "SELECT 3! = 7 AS v",
    "SELECT 3!=7 AS v",
    "SELECT 3! < 7 AS v",
    "SELECT 3! IN (6) AS v",
    "SELECT 2 + 3! = 120 AS v",
    "SELECT 3! BETWEEN 5 AND 7 AS v",
    "SELECT NOT 3! = 7 AS v",
    "SELECT CASE 3! WHEN 6 THEN 'y' END AS v",
    "SELECT abs(3!) AS v",
    "SELECT [3!] AS v",
    "SELECT CASE WHEN 1=1 THEN 1+2! END AS v",
    "SELECT 3! IS NULL AS v",
    # error contracts
    "SELECT 3! + 1 AS v",
    "SELECT 5! - 3! AS v",
    "SELECT 3.0! AS v",
    "SELECT (1=1)! AS v",
    "SELECT sqrt(4)! AS v",
    "SELECT 6 / 3! AS v",
    # columns
    "SELECT x! AS v FROM (SELECT 4 AS x) t",
    "SELECT x + 1! AS v FROM (SELECT 4 AS x) t",
    "SELECT x! AS v FROM (SELECT CAST(3 AS BIGINT) AS x) t",
    # regression: inequality lexing unchanged
    "SELECT 1 AS v WHERE 3 != 4",
]


@pytest.mark.parametrize("q", FACTORIAL_TERMS)
def test_postfix_factorial_terms(eng, con, q):
    _differential(eng, con, q)


# ---- 4. composite -> VARCHAR render ----------------------------------------

COMPOSITE_VARCHAR_RENDERS = [
    "SELECT CAST([1, 2] AS VARCHAR) AS v",
    "SELECT CAST(['a', 'b c'] AS VARCHAR) AS v",
    "SELECT CAST(['a,b', NULL] AS VARCHAR) AS v",
    "SELECT CAST([1.5, NULL] AS VARCHAR) AS v",
    "SELECT CAST([CAST(1e16 AS DOUBLE)] AS VARCHAR) AS v",
    "SELECT CAST([true, false] AS VARCHAR) AS v",
    "SELECT CAST([TIMESTAMP '2020-01-01 01:02:03'] AS VARCHAR) AS v",
    "SELECT CAST([DATE '2020-01-02'] AS VARCHAR) AS v",
    "SELECT CAST({'a': 1} AS VARCHAR) AS v",
    "SELECT CAST({'a': 1, 'b': 'x'} AS VARCHAR) AS v",
    "SELECT CAST({'a': 'x y'} AS VARCHAR) AS v",
    "SELECT CAST({'a': ['p', 'q']} AS VARCHAR) AS v",
    "SELECT CAST({'a': NULL} AS VARCHAR) AS v",
    "SELECT CAST({'a': MAP {'x': 1}} AS VARCHAR) AS v",
    "SELECT CAST(MAP {'k': 1} AS VARCHAR) AS v",
    "SELECT CAST(MAP {'k 1': 'v 2'} AS VARCHAR) AS v",
    "SELECT CAST(MAP {'k': NULL} AS VARCHAR) AS v",
    "SELECT CAST(MAP {1: 2.5} AS VARCHAR) AS v",
    "SELECT CAST(CAST(NULL AS STRUCT(a INTEGER)) AS VARCHAR) AS v",
    "SELECT CAST(CAST(NULL AS INTEGER[]) AS VARCHAR) AS v",
    "SELECT CAST([''] AS VARCHAR) AS v",
    "SELECT CAST(['it''s'] AS VARCHAR) AS v",
    "SELECT CAST({'a': ''} AS VARCHAR) AS v",
    "SELECT CAST([[1], [2, 3]] AS VARCHAR) AS v",
    "SELECT TRY_CAST([1, 2] AS VARCHAR) AS v",
    "SELECT CAST(li AS VARCHAR) AS v FROM (SELECT [1, 2] AS li) t",
    "SELECT CAST(st AS VARCHAR) AS v FROM (SELECT {'a': 5, 'b': 'x'} AS st) t",
    "SELECT CAST(mp AS VARCHAR) AS v FROM (SELECT MAP {'k': 7} AS mp) t",
    # scalar casts stay untouched
    "SELECT CAST(1.5 AS VARCHAR) AS v",
    "SELECT CAST('x' AS VARCHAR) AS v",
]


@pytest.mark.parametrize("q", COMPOSITE_VARCHAR_RENDERS)
def test_composite_varchar_render(eng, con, q):
    _differential(eng, con, q)


# ---- 5. datetime literal specials ------------------------------------------

DATETIME_SPECIALS = [
    "SELECT TIMESTAMP 'epoch' AS v",
    "SELECT CAST('epoch' AS TIMESTAMP) AS v",
    "SELECT CAST('epoch' AS DATE) AS v",
    "SELECT CAST('Epoch' AS TIMESTAMP) AS v",
    "SELECT CAST(' epoch ' AS TIMESTAMP) AS v",
    "SELECT DATE 'epoch' AS v",
    "SELECT CAST('epoch' AS TIME) AS v",
    "SELECT TIMESTAMP 'infinity' AS v",
    "SELECT CAST('infinity' AS DATE) AS v",
    "SELECT CAST('-infinity' AS TIMESTAMP) AS v",
    "SELECT CAST('-infinity' AS DATE) AS v",
    "SELECT TIMESTAMP '2020-01-01 24:00:00' AS v",
    "SELECT CAST('2020-01-31 24:00:00' AS TIMESTAMP) AS v",
    "SELECT CAST('2020-12-31 24:00:00' AS TIMESTAMP) AS v",
    "SELECT CAST('2020-01-01 24:00:00.000' AS TIMESTAMP) AS v",
    "SELECT CAST('2020-01-01 24:00:01' AS TIMESTAMP) AS v",
    "SELECT TRY_CAST('2020-01-01 24:00:01' AS TIMESTAMP) AS v",
    "SELECT CAST('2020-01-01 01:02:03+05:30' AS TIMESTAMP) AS v",
    "SELECT CAST('2020-01-01 01:02:03+05' AS TIMESTAMP) AS v",
    "SELECT CAST('2020-01-01 01:02:03-08:00' AS TIMESTAMP) AS v",
    "SELECT CAST('2020-01-01 01:02:03.5+05:30' AS TIMESTAMP) AS v",
    "SELECT CAST('2020-01-01 24:00:00+01:00' AS TIMESTAMP) AS v",
    "SELECT '2020-01-01 01:02:03+05:30'::TIMESTAMP AS v",
    # r13 grammar regressions
    "SELECT TIMESTAMP '2020-01-01 01:02:03' AS v",
    "SELECT CAST('2020-01-01' AS DATE) AS v",
    "SELECT TIMESTAMP '2020-01-01 01:00' AS v",
    "SELECT TRY_CAST('2020-01-01 01:00' AS TIMESTAMP) AS v",
    "SELECT DATE '2020-01-01 junk' AS v",
]


@pytest.mark.parametrize("q", DATETIME_SPECIALS)
def test_datetime_literal_specials(eng, con, q):
    _differential(eng, con, q)


# ---- 6. map equality -------------------------------------------------------

MAP_EQUALITY = [
    "SELECT MAP{'k':1} = MAP{'k':1} AS v",
    "SELECT MAP{'a':1,'b':2} = MAP{'b':2,'a':1} AS v",
    "SELECT MAP{'k':1} <> MAP{'k':2} AS v",
    "SELECT CAST(NULL AS MAP(VARCHAR,INTEGER)) = MAP{'k':1} AS v",
    "SELECT MAP{'k':1} = MAP{'k':NULL} AS v",
    "SELECT MAP{'k':NULL} = MAP{'k':NULL} AS v",
    "SELECT MAP{'a':1,'b':2} = MAP{'a':9,'b':NULL} AS v",
    "SELECT MAP{'a':1} = MAP{'b':NULL} AS v",
    "SELECT MAP{'a':1,'b':NULL} = MAP{'a':1,'b':NULL} AS v",
    "SELECT MAP{'a':1} = MAP{'a':1,'b':2} AS v",
    "SELECT MAP{'a':NULL} = MAP{'a':1} AS v",
    "SELECT m = MAP{'k':1} AS v FROM (SELECT MAP{'k':1} AS m) t",
    "SELECT CASE WHEN MAP{'k':1} = MAP{'k':1} THEN 'y' END AS v",
    "SELECT map_from_entries([('a', 1)]) = MAP{'a':1} AS v",
    # scalar comparisons in map-bearing statements stay untouched
    "SELECT u = 1 AS v FROM (SELECT 1 AS u, MAP{'k':1} AS m) t",
    # the r14 subscript fix: a call's arg list is not a subscript base
    "SELECT map_values(MAP{'k':5})[1] = 5 AS v",
    "SELECT (MAP {'x': 5})['x'] AS v",
]


@pytest.mark.parametrize("q", MAP_EQUALITY)
def test_map_equality(eng, con, q):
    _differential(eng, con, q)


# ---- 7. cross-feature compositions -----------------------------------------

COMPOSITIONS = [
    "SELECT COALESCE(3!, '7') AS v",
    "SELECT GREATEST(3!, '7') AS v",
    "SELECT COALESCE(CAST(NULL AS TIMESTAMP), 'epoch') AS v",
    "SELECT (COALESCE([1], '[2]'))[1] AS v",
    "SELECT CAST(COALESCE([1], '[2]') AS VARCHAR) AS v",
    "SELECT CAST(CAST({'a': 2} AS VARCHAR) AS STRUCT(a INTEGER)) AS v",
    "SELECT CAST(CAST('[1.5]' AS DOUBLE[]) AS VARCHAR) AS v",
    "SELECT (CAST('[3]' AS INTEGER[]))[1]! AS v",
    "SELECT 3! = 6 AND MAP{'a':1} = MAP{'a':1} AS v",
    "SELECT CASE WHEN MAP{'a':1} = MAP{'a':1} THEN 5! END AS v",
    "SELECT typeof(CAST('{k=2}' AS MAP(VARCHAR,INTEGER))) AS v",
    "SELECT CAST(CAST(MAP{'k':7} AS VARCHAR) AS MAP(VARCHAR,INTEGER)) AS v",
    "SELECT 1 AS v WHERE MAP{'k':1} = MAP{'k':1}",
    "SELECT CAST('epoch' AS TIMESTAMP) = TIMESTAMP 'epoch' AS v",
    # factorial term chaining (subscripts / field access)
    "SELECT [1]! AS v",
    "SELECT [1,2][1]! AS v",
    "SELECT {'a':3}.a! AS v",
    "SELECT t.x! AS v FROM (SELECT 4 AS x) t",
]


@pytest.mark.parametrize("q", COMPOSITIONS)
def test_cross_feature_composition(eng, con, q):
    _differential(eng, con, q)


# ---- 8. fuzz-found grammar refinements (tools/fuzz_composite_casts.py) -----

FUZZ_REGRESSIONS = [
    # quotes protect commas only at ELEMENT START; mid-element quotes
    # are plain characters
    "SELECT CAST('[it''s,it''s,NULL]' AS VARCHAR[]) AS v",
    "SELECT CAST('[ab''cd, x]' AS VARCHAR[]) AS v",
    "SELECT CAST('[''a''x, y]' AS VARCHAR[]) AS v",
    "SELECT CAST('[''a'',''b,c'']' AS VARCHAR[]) AS v",
    # parenthesized scalar bases in literal list casts
    "SELECT CAST('[99.99, -7.5]' AS DECIMAL(5,2)[]) AS v",
    # struct/map elements inside list strings keep their inner commas
    "SELECT TRY_CAST('[{k0=1, k1=2}, {k0=3}]' AS MAP(VARCHAR,INTEGER)[]) AS v",
    "SELECT CAST('[{''f0'': false, ''f1'': 1e16, ''f2'': 0}, {}]' "
    "AS STRUCT(f0 BOOLEAN, f1 DOUBLE, f2 BOOLEAN)[]) AS v",
    # map entries without '=' merge into the FOLLOWING key; trailing fails
    "SELECT CAST('{k0=x,y, k1=abc}' AS MAP(VARCHAR,VARCHAR)) AS v",
    "SELECT CAST('{k=1, z}' AS MAP(VARCHAR,INTEGER)) AS v",
    # mid-token quotes in struct/map entries fail the whole value
    "SELECT CAST('{a: it''s}' AS STRUCT(a VARCHAR)) AS v",
    "SELECT CAST('{k0=it''s, k1=x}' AS MAP(VARCHAR,VARCHAR)) AS v",
    "SELECT CAST('{a: ''x, y'', b: z}' AS STRUCT(a VARCHAR, b VARCHAR)) AS v",
    # nested composite TYPE texts convert recursively
    "SELECT TRY_CAST('{}' AS MAP(INTEGER, MAP(VARCHAR, DATE))) AS v",
    "SELECT TRY_CAST('{''f1'': {''f0'': 1.25}}' AS STRUCT("
    "f0 DECIMAL(5,2)[], f1 STRUCT(f0 DECIMAL(5,2), f1 INTEGER, f2 DATE), "
    "f2 STRUCT(f0 DECIMAL(5,2), f1 VARCHAR))) AS v",
    "SELECT CAST(NULL AS STRUCT(a STRUCT(b DOUBLE))) AS v",
    "SELECT CAST('{a: [1,2], b: 3}' AS STRUCT(a INTEGER[], b INTEGER)) AS v",
    # bad date/timestamp strings raise the field-value-out-of-range form
    "SELECT CAST('[junk]' AS DATE[]) AS v",
    "SELECT CAST('{a: junk}' AS STRUCT(a DATE)) AS v",
]


@pytest.mark.parametrize("q", FUZZ_REGRESSIONS)
def test_fuzz_grammar_regressions(eng, con, q):
    _differential(eng, con, q)
