"""Seeded random-expression differential: expressions drawn from a grammar
both dialects share (arithmetic, modulo/int-div with nullif guards, CASE,
string ops, date intervals, LIKE/IN/BETWEEN), evaluated on DuckDB verbatim
and on Spark through translate(), row-for-row. Seeded so failures reproduce;
400 expressions per run. This is the net that caught the round-6 dialect
fixes (sign() result type, integral-cast rounding, always-double division)."""

from __future__ import annotations

import datetime
import random

import duckdb
import pytest


ROWS = [
    (1, "ab", 2.5, None, datetime.date(2024, 2, 28)),
    (-3, "XyZ", -0.5, 7, datetime.date(2023, 12, 31)),
    (0, "", 4.0, -2, datetime.date(2024, 3, 1)),
    (42, "hello world", 0.0, 0, datetime.date(2020, 2, 29)),
]


def _local(sdf):
    """The rows held in the JVM: a frame built from a Python list reads
    them back through Python workers on every query, which made the
    Python round trip, not the expression, the cost of each of the
    hundreds of queries below."""
    return sdf.localCheckpoint()


@pytest.fixture(scope="module")
def engines(spark):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        "(1, 'ab', CAST(2.5 AS DOUBLE), NULL, DATE '2024-02-28'), "
        "(-3, 'XyZ', CAST(-0.5 AS DOUBLE), 7, DATE '2023-12-31'), "
        "(0, '', CAST(4.0 AS DOUBLE), -2, DATE '2024-03-01'), "
        "(42, 'hello world', CAST(0.0 AS DOUBLE), 0, DATE '2020-02-29')"
        ") v(i, s, d, n, dt)"
    )
    sdf = spark.createDataFrame(ROWS, "i int, s string, d double, n int, dt date")
    _local(sdf).createOrReplaceTempView("t")
    return spark, con


def _grammar(rng):
    def gts(dd):
        """timestamp-valued: a fixed base plus to_*() interval builders
        (round-7 surface); consumed only under epoch_us so the comparison
        stays integer-exact."""
        base = "TIMESTAMP '2024-03-05 10:20:30.123456'"
        if dd <= 0:
            return base
        b = rng.choice(["to_minutes", "to_seconds", "to_hours", "to_microseconds"])
        return f"({gts(dd-1)} + {b}({rng.randint(1, 500)}))"

    def gi(dd):
        if dd <= 0:
            return rng.choice(["i", "n", "3", "-2", "0"])
        c = rng.randint(0, 11)
        if c == 10:
            prec = rng.choice(["TIMESTAMP_S", "TIMESTAMP_MS", "TIMESTAMP_NS"])
            return (
                f"CAST(epoch_us(CAST({gts(dd-1)} AS {prec})) % 1000000 AS INTEGER)"
            )
        if c == 11:
            return f"({gd(dd-1)})::INTEGER"
        if c == 0:
            return f"({gi(dd-1)} % nullif({gi(dd-1)}, 0))"
        if c == 1:
            return f"({gi(dd-1)} // nullif({gi(dd-1)}, 0))"
        if c == 2:
            return f"CAST({gd(dd-1)} AS INTEGER)"
        if c == 3:
            return f"length({gs(dd-1)})"
        if c == 4:
            return f"CAST({gi(dd-1)} AS BIGINT)"
        if c == 5:
            return f"sign({gi(dd-1)})"
        if c == 6:
            return f"(CASE {gi(dd-1)} WHEN 1 THEN 10 WHEN 0 THEN 20 ELSE 30 END)"
        if c == 7:
            return f"datepart('day', {gdt(dd-1)})"
        if c == 8:
            return f"position({gs(dd-1)} IN {gs(dd-1)})"
        return f"instr({gs(dd-1)}, 'a')"

    def gd(dd):
        if dd <= 0:
            return rng.choice(["d", "1.5", "-0.25"])
        c = rng.randint(0, 5)
        if c == 5:
            # division whose left operand is a CASE..END — the round-7
            # operand-scan fix (ADVICE r06 high)
            return (
                f"(CASE WHEN {gb(dd-1)} THEN {gi(dd-1)} ELSE {gi(dd-1)} END"
                f" / nullif({gi(dd-1)}, 0))"
            )
        if c == 0:
            return f"({gd(dd-1)} / nullif({gd(dd-1)}, 0))"
        if c == 1:
            return f"round({gd(dd-1)}, {rng.randint(0, 3)})"
        if c == 2:
            return f"({gd(dd-1)} * {gd(dd-1)})"
        if c == 3:
            return f"floor({gd(dd-1)})"
        return f"ceil({gd(dd-1)})"

    def gs(dd):
        if dd <= 0:
            return rng.choice(["s", "'ab'", "'%b%'"])
        c = rng.randint(0, 5)
        if c == 0:
            return f"replace({gs(dd-1)}, 'a', 'Z')"
        if c == 1:
            return f"left({gs(dd-1)}, {rng.randint(0, 3)})"
        if c == 2:
            return f"right({gs(dd-1)}, {rng.randint(0, 3)})"
        if c == 3:
            return f"substr({gs(dd-1)}, {rng.choice([-2, -1, 1, 2])})"
        if c == 4:
            return f"lpad({gs(dd-1)}, {rng.randint(0, 5)}, '.')"
        return f"CAST({gi(dd-1)} AS VARCHAR)"

    def gdt(dd):
        if dd <= 0:
            return "dt"
        c = rng.randint(0, 2)
        if c == 0:
            return f"({gdt(dd-1)} + INTERVAL {rng.randint(1, 40)} DAY)"
        if c == 1:
            return f"date_trunc('month', {gdt(dd-1)})"
        return f"({gdt(dd-1)} - INTERVAL {rng.randint(1, 3)} MONTH)"

    def gb(dd):
        if dd <= 0:
            return rng.choice(
                ["i > 0", "s LIKE '%b%'", "n IN (7, 0)", "dt > DATE '2023-06-01'"]
            )
        c = rng.randint(0, 3)
        if c == 0:
            return f"({gi(dd-1)} <> {gi(dd-1)})"
        if c == 1:
            return f"({gs(dd-1)} LIKE '%a%')"
        if c == 2:
            return f"({gi(dd-1)} BETWEEN {gi(dd-1)} AND {gi(dd-1)})"
        return f"({gb(dd-1)} AND {gb(dd-1)})"

    return lambda dd: [gi, gd, gs, gb, gdt][rng.randint(0, 4)](dd)


@pytest.mark.parametrize("seed", [7, 42])
def test_random_expressions_match_duckdb(engines, seed):
    from duckdb_service_spark.service.dialect import translate

    spark, con = engines
    rng = random.Random(seed)
    gen = _grammar(rng)
    norm = lambda v: (  # noqa: E731
        round(v, 9)
        if isinstance(v, float)
        else (v.date() if isinstance(v, datetime.datetime) else v)
    )
    checked = 0
    for _ in range(200):
        q = f"SELECT i, {gen(rng.randint(1, 4))} AS x FROM t ORDER BY i"
        try:
            want = con.execute(q).fetchall()
        except Exception:
            continue  # invalid in the oracle too — out of scope
        checked += 1
        got = [tuple(r) for r in spark.sql(translate(q)).collect()]
        assert [tuple(map(norm, r)) for r in want] == [
            tuple(map(norm, r)) for r in got
        ], q
    assert checked > 100  # the grammar must mostly generate valid SQL


@pytest.fixture(scope="module")
def agg_engines(spark):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ta AS SELECT * FROM (VALUES (1,'a',10,2),(2,'a',-5,NULL),"
        "(3,'b',7,0),(4,'b',7,5),(5,'c',NULL,1),(6,'c',0,-3),(7,'a',3,2)"
        ") v(id, g, x, y)"
    )
    rows = [(1, "a", 10, 2), (2, "a", -5, None), (3, "b", 7, 0), (4, "b", 7, 5),
            (5, "c", None, 1), (6, "c", 0, -3), (7, "a", 3, 2)]
    ta = spark.createDataFrame(rows, "id int, g string, x int, y int")
    _local(ta).createOrReplaceTempView("ta")
    return spark, con


@pytest.mark.parametrize("seed", [11, 99])
def test_random_aggregates_and_windows_match_duckdb(agg_engines, seed):
    """Grouped aggregates (sum/count/min/max, DISTINCT, FILTER, bool_and,
    inline-ORDER-BY string_agg) and window functions (ranks, lag/lead,
    framed first_value, running sums) — random compositions, both engines."""
    from duckdb_service_spark.service.dialect import translate

    spark, con = agg_engines
    rng = random.Random(seed)

    def gi(d):
        if d <= 0:
            return rng.choice(["x", "y", "id", "2"])
        c = rng.randint(0, 3)
        if c == 0:
            return f"({gi(d-1)} + {gi(d-1)})"
        if c == 1:
            return f"abs({gi(d-1)})"
        if c == 2:
            return f"coalesce({gi(d-1)}, {gi(d-1)})"
        return f"(CASE WHEN {gi(d-1)} > 0 THEN {gi(d-1)} ELSE {gi(d-1)} END)"

    def gagg(d):
        c = rng.randint(0, 7)
        e = gi(d)
        if c == 0:
            return f"sum({e})"
        if c == 1:
            return f"count({e})"
        if c == 2:
            return f"min({e})"
        if c == 3:
            return f"max({e})"
        if c == 4:
            return f"count(DISTINCT {e})"
        if c == 5:
            return f"sum({e}) FILTER (WHERE {gi(d-1)} > 0)"
        if c == 6:
            return f"bool_and({gi(d-1)} > 0)"
        return f"string_agg(CAST({e} AS VARCHAR), ',' ORDER BY id)"

    def gwin(d):
        c = rng.randint(0, 6)
        e = gi(d)
        spec = rng.choice([
            "PARTITION BY g ORDER BY id",
            "ORDER BY id",
            "PARTITION BY g ORDER BY x NULLS FIRST, id",
        ])
        if c == 0:
            return f"row_number() OVER ({spec})"
        if c == 1:
            return f"rank() OVER ({spec})"
        if c == 2:
            return f"sum({e}) OVER ({spec})"
        if c == 3:
            return f"lag({e}) OVER ({spec})"
        if c == 4:
            return f"lead({e}, 2, -1) OVER ({spec})"
        if c == 5:
            return (
                f"first_value({e}) OVER ({spec} "
                f"ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)"
            )
        return f"dense_rank() OVER ({spec})"

    norm = lambda v: (  # noqa: E731
        round(float(v), 9) if type(v).__name__ in ("float", "Decimal") else v
    )
    checked = 0
    for _ in range(150):
        if rng.random() < 0.5:
            q = (f"SELECT g, {gagg(rng.randint(1, 3))} AS a1, "
                 f"{gagg(rng.randint(1, 2))} AS a2 FROM ta GROUP BY g ORDER BY g")
        else:
            q = f"SELECT id, {gwin(rng.randint(1, 2))} AS w FROM ta ORDER BY id"
        try:
            want = con.execute(q).fetchall()
        except Exception:
            continue
        checked += 1
        got = [tuple(r) for r in spark.sql(translate(q)).collect()]
        assert [tuple(map(norm, r)) for r in want] == [
            tuple(map(norm, r)) for r in got
        ], q
    assert checked > 100


@pytest.fixture(scope="module")
def join_engines(spark):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE a AS SELECT * FROM (VALUES (1,'x',10),(2,'y',NULL),"
        "(3,'x',5),(4,NULL,7)) v(id,k,v)"
    )
    con.execute(
        "CREATE TABLE b AS SELECT * FROM (VALUES (1,'x',100),(3,'z',300),"
        "(5,'x',500),(6,NULL,600)) w(id,k,w)"
    )
    _local(spark.createDataFrame(
        [(1, "x", 10), (2, "y", None), (3, "x", 5), (4, None, 7)],
        "id int,k string,v int",
    )).createOrReplaceTempView("a")
    _local(spark.createDataFrame(
        [(1, "x", 100), (3, "z", 300), (5, "x", 500), (6, None, 600)],
        "id int,k string,w int",
    )).createOrReplaceTempView("b")
    return spark, con


@pytest.mark.parametrize("seed", [5, 23])
def test_random_joins_and_subqueries_match_duckdb(join_engines, seed):
    """Join shapes (inner/left/right/full, equi/theta/OR conditions, USING),
    EXISTS/NOT EXISTS, IN/NOT IN with NULLs, correlated scalar subqueries —
    random drawings, compared set-wise."""
    from duckdb_service_spark.service.dialect import translate

    spark, con = join_engines
    rng = random.Random(seed)
    JOINS = ["JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN"]
    CONDS = [
        "a.id = b.id", "a.k = b.k", "a.id = b.id AND a.k = b.k",
        "a.id < b.id", "a.id = b.id OR a.k = b.k",
    ]
    T = [
        lambda: (
            f"SELECT a.id, b.id AS bid, coalesce(a.v, b.w, -1) AS c FROM a "
            f"{rng.choice(JOINS)} b ON {rng.choice(CONDS)} "
            f"ORDER BY a.id NULLS FIRST, bid NULLS FIRST"
        ),
        lambda: (
            f"SELECT id, k FROM a WHERE EXISTS (SELECT 1 FROM b WHERE "
            f"b.id = a.id AND b.w > {rng.randint(0, 400)}) ORDER BY id"
        ),
        lambda: "SELECT id, k FROM a WHERE NOT EXISTS "
        "(SELECT 1 FROM b WHERE b.k = a.k) ORDER BY id",
        lambda: "SELECT id, (SELECT max(w) FROM b WHERE b.k = a.k) AS mw "
        "FROM a ORDER BY id",
        lambda: (
            f"SELECT id FROM a WHERE id IN (SELECT id FROM b WHERE "
            f"w >= {rng.randint(0, 600)}) ORDER BY id"
        ),
        lambda: "SELECT id FROM a WHERE k NOT IN "
        "(SELECT k FROM b WHERE k IS NOT NULL) ORDER BY id",
        lambda: "SELECT a.k, count(*) AS n, sum(b.w) AS s FROM a "
        "LEFT JOIN b USING (k) GROUP BY a.k ORDER BY a.k NULLS FIRST",
        lambda: "SELECT id, v, (SELECT count(*) FROM b WHERE b.id <= a.id) "
        "AS cnt FROM a ORDER BY id",
    ]
    norm = lambda v: (  # noqa: E731
        round(float(v), 9) if type(v).__name__ in ("float", "Decimal") else v
    )
    checked = 0
    for _ in range(100):
        q = rng.choice(T)()
        try:
            want = con.execute(q).fetchall()
        except Exception:
            continue
        checked += 1
        got = [tuple(r) for r in spark.sql(translate(q)).collect()]
        assert sorted([tuple(map(norm, r)) for r in want], key=str) == sorted(
            [tuple(map(norm, r)) for r in got], key=str
        ), q
    assert checked > 50
