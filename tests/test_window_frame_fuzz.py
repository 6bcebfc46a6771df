"""Seeded window-frame differential fuzzer (round 7): random
(aggregate, frame mode, bounds, EXCLUDE kind) combinations, DuckDB verbatim
vs Spark through translate(), row-for-row.

Fixture invariant: within each (g, k) peer group every x is equal (or the
whole group NULL), so ROWS-frame results are independent of the arbitrary
tie order both engines are free to choose — the only shapes whose results
COULD depend on tie order are thereby made order-invariant, and everything
else is totally ordered by k.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from duckdb_service_spark.service.dialect import UnsupportedDialect, translate

ROWS = [
    (1, 10, 4), (1, 10, 4), (1, 20, None), (1, 20, None), (1, 30, 7),
    (1, 40, 2), (1, 40, 2), (1, 40, 2), (1, 55, 9),
    (2, 5, 1), (2, 5, 1), (2, 11, 6), (2, 12, None), (2, 30, 3),
]

BOUNDS_LO = [
    "UNBOUNDED PRECEDING", "3 PRECEDING", "2 PRECEDING", "1 PRECEDING",
    "CURRENT ROW", "1 FOLLOWING", "2 FOLLOWING",
]
BOUNDS_HI = [
    "3 PRECEDING", "1 PRECEDING", "CURRENT ROW", "1 FOLLOWING",
    "2 FOLLOWING", "UNBOUNDED FOLLOWING",
]
KINDS = ["CURRENT ROW", "GROUP", "TIES", "NO OTHERS"]
AGGS = [
    "CAST(sum(x) OVER (%s) AS DOUBLE)",
    "count(x) OVER (%s)",
    "count(*) OVER (%s)",
    "avg(x) OVER (%s)",
    "min(x) OVER (%s)",
    "max(x) OVER (%s)",
]


@pytest.fixture(scope="module")
def engines(spark):
    con = duckdb.connect()
    con.execute("CREATE TABLE wf (g INT, k INT, x INT)")
    con.executemany("INSERT INTO wf VALUES (?,?,?)", ROWS)
    # held in the JVM: a frame built from a Python list reads its rows
    # back through Python workers on every one of the queries below
    wf = spark.createDataFrame(ROWS, "g int, k int, x int").localCheckpoint()
    wf.createOrReplaceTempView("wf")
    return spark, con


@pytest.mark.parametrize("seed", [3, 77])
def test_random_frame_exclusions_match_duckdb(engines, seed):
    spark, con = engines
    rng = random.Random(seed)
    checked = skipped_invalid = skipped_unsupported = 0
    for _ in range(120):
        mode = rng.choice(["ROWS", "RANGE"])
        lo, hi = rng.choice(BOUNDS_LO), rng.choice(BOUNDS_HI)
        kind = rng.choice(KINDS)
        agg = rng.choice(AGGS)
        spec = (
            f"PARTITION BY g ORDER BY k {mode} BETWEEN {lo} AND {hi} "
            f"EXCLUDE {kind}"
        )
        q = f"SELECT g, k, x, {agg % spec} AS v FROM wf"
        try:
            want = sorted(map(repr, con.execute(q).fetchall()))
        except Exception:
            skipped_invalid += 1  # invalid frame in the oracle too
            continue
        try:
            tq = translate(q)
        except UnsupportedDialect:
            skipped_unsupported += 1
            continue
        try:
            got = sorted(map(repr, [tuple(r) for r in spark.sql(tq).collect()]))
        except Exception as e:
            # value-bounded RANGE not containing the current row + EXCLUDE
            # CURRENT ROW translates since r08 but guards at RUNTIME on tied
            # order keys (this fixture is deliberately tied; the DuckDB
            # result there is row-position-dependent — measured). Any other
            # runtime error is a real bug.
            assert "tie-order-dependent" in str(e), (q, e)
            skipped_unsupported += 1
            continue
        assert got == want, q
        checked += 1
    assert checked > 60, (checked, skipped_invalid, skipped_unsupported)
    # the declared-unsupported corner must stay a small minority
    assert skipped_unsupported < checked / 4
