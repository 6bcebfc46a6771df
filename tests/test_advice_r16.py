"""Round-16 ADVICE/VERDICT correctness regressions, differentially verified
against live DuckDB:

- VERDICT r15 task 8 / ADVICE r14 #3: duplicate-map-key VALUE-literal folds
  must raise DuckDB's 'Invalid Input Error: Map keys must be unique.' —
  including value-level duplicates the text comparison can't see ('1' vs
  '01' under INTEGER keys), so the fold emits the same runtime guard the
  string-COLUMN path uses. TRY_CAST raises too (measured).
- ADVICE r15 #1: unspaced '3!||2' lexes '!||' as one operator token —
  DuckDB's catalog error names '!||', not '!'.
- ADVICE r15 #2: spaced '3! / 2', '3! % 2', '3! ^ 2' EVALUATE in DuckDB
  (factorial binds first; '/' returns DOUBLE per HUGEINT/INTEGER rules).
- ADVICE r16: a NULL key in a map fold raises the Conversion Error (TRY_CAST
  gives NULL), not the duplicate-key or NULL_MAP_KEY error.
- NULL cells in map folds: a map value is NULL by the key rule (upper-case
  NULL, quoted or not), and under TRY_CAST a key that does not convert
  makes the whole value NULL.
- ADVICE r16: tune() re-asserts the UTC time zone and ANSI off on every
  call, outside its memo.
"""

from __future__ import annotations

import tempfile

import duckdb
import pytest


@pytest.fixture(scope="module")
def eng(spark):
    from duckdb_service_spark.service.executor import Engine

    return Engine(spark, tempfile.mkdtemp(prefix="warehouse_r16_"))


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def _differential(eng, con, sql):
    from duckdb_service_spark.service.serializer import duck_error_text

    try:
        want = ("OK", con.execute(sql).fetchall())
    except Exception as e:
        want = ("ERR", str(e).splitlines()[0])
    try:
        got = ("OK", [tuple(r) for r in eng.query_df(sql).collect()])
    except Exception as e:
        got = ("ERR", duck_error_text(e).splitlines()[0])
    assert got == want, f"{sql!r}: engine {got} vs duckdb {want}"


@pytest.mark.parametrize(
    "sql",
    [
        # the VERDICT task-8 repro: duplicate literal keys in a map fold
        "SELECT CAST('{a=1, a=2}' AS MAP(VARCHAR, INTEGER)) AS v",
        # value-level duplicate only after the key cast (text differs)
        "SELECT CAST('{1=x, 01=y}' AS MAP(INTEGER, VARCHAR)) AS v",
        # measured: duplicate keys raise even under TRY_CAST
        "SELECT TRY_CAST('{a=1, a=2}' AS MAP(VARCHAR, INTEGER)) AS v",
        # controls: distinct keys must still fold cleanly (compared via
        # map_keys — raw map cells render differently per client)
        "SELECT map_keys(CAST('{a=1, b=2}' AS MAP(VARCHAR, INTEGER))) AS v",
        "SELECT map_keys(CAST('{1=x, 2=y}' AS MAP(INTEGER, VARCHAR))) AS v",
        "SELECT map_values(CAST('{1=x, 2=y}' AS MAP(INTEGER, VARCHAR))) AS v",
    ],
)
def test_map_fold_duplicate_keys(eng, con, sql):
    _differential(eng, con, sql)


@pytest.mark.parametrize(
    "sql",
    [
        # unspaced '!<op>' tokens — catalog error names the full token
        "SELECT 3!||2",
        "SELECT 3!|| 2",
        "SELECT 3!/2",
        "SELECT 3!%2",
        "SELECT 3!^2",
        # spaced '||' still parses '!' as a binary operator (names '!')
        "SELECT 3! || 2",
        # spaced '/', '%', '^' evaluate: factorial first, then the op
        "SELECT 3! / 2",
        "SELECT 7! / 4",
        "SELECT 3! % 2",
        "SELECT 5! % 7",
        "SELECT 3! ^ 2",
        "SELECT 2! ^ 0.5",
        "SELECT NULL! / 2",
        # scan-back operand: factorial binds looser than '+' on its left
        "SELECT 1 + 3! / 2",
    ],
)
def test_factorial_operator_lanes(eng, con, sql):
    _differential(eng, con, sql)


@pytest.mark.parametrize(
    "sql",
    [
        # ADVICE r16: a NULL key fails the whole value with DuckDB's
        # Conversion Error, ahead of the duplicate-key check
        "SELECT CAST('{NULL=1, NULL=2}' AS MAP(VARCHAR, INTEGER)) AS v",
        "SELECT CAST('{NULL=1}' AS MAP(VARCHAR, INTEGER)) AS v",
        "SELECT CAST('{a=1, NULL=2}' AS MAP(VARCHAR, INTEGER)) AS v",
        "SELECT TRY_CAST('{NULL=1}' AS MAP(VARCHAR, INTEGER)) AS v",
        # quoted NULL is NULL too; lower-case null is the string 'null'
        "SELECT CAST('{''NULL''=1}' AS MAP(VARCHAR, INTEGER)) AS v",
        "SELECT map_keys(CAST('{null=1}' AS MAP(VARCHAR, INTEGER))) AS v",
        # a NULL value is fine
        "SELECT map_values(CAST('{a=NULL}' AS MAP(VARCHAR, INTEGER))) AS v",
    ],
)
def test_map_fold_null_keys(eng, con, sql):
    _differential(eng, con, sql)


@pytest.mark.parametrize(
    "sql",
    [
        # a key that does not convert makes a TRY_CAST NULL, not a
        # NULL_MAP_KEY error
        "SELECT TRY_CAST('{null=1}' AS MAP(INTEGER, INTEGER)) AS v",
        # a value is NULL only as upper-case NULL, quoted or not
        "SELECT map_values(CAST('{a=null}' AS MAP(VARCHAR, VARCHAR))) AS v",
        "SELECT map_values(CAST('{a=''NULL''}' AS MAP(VARCHAR, VARCHAR))) AS v",
    ],
)
def test_map_fold_null_cells(eng, con, sql):
    _differential(eng, con, sql)


def test_tune_reasserts_time_zone_and_ansi(spark):
    """tune() is memoized per session, but the UTC time zone and ANSI off
    are set again on every call (ADVICE r16)."""
    from duckdb_service_spark.session import tune

    tune(spark)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        tune(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.ansi.enabled", "false")
