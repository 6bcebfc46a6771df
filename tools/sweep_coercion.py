"""Round-10 implicit-cast matrix sweep (VERDICT r09 task 5): probe the
type-coercion lattice — mixed INT-width / DECIMAL / DOUBLE / FLOAT /
VARCHAR / BOOLEAN / DATE / TIMESTAMP operands through binary arithmetic,
comparisons, BETWEEN / IN, and ``||`` string-vs-list resolution — through
``translate()`` against live DuckDB over a seeded typed relation.

Classification identical to sweep_aggwin.py:
  MATCH        both engines agree (value-normalized)
  DIVERGE      both ran, values differ  <-- silent wrong answers, fix these
  RAISE        dialect raised UnsupportedDialect (clean, documented)
  SPARK-ERR    translate emitted something Spark rejects at runtime
  DUCK-ERR     DuckDB itself rejects the probe (skipped, not a finding)

Survivors get frozen into tests/test_idioms_r10.py.

Usage: python tools/sweep_coercion.py [arith|cmp|between|in|concat|all]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from duckdb_service_spark.service.dialect import UnsupportedDialect, translate
from duckdb_service_spark.service.serializer import interpreted
from duckdb_service_spark.session import get_spark

# typed relation: every integer width, two decimal shapes, double/float,
# numeric and non-numeric varchars, bool, date, timestamp, int list.
# Values avoid overflow traps on the NARROWEST width they meet (TINYINT)
# so coercion semantics — not range errors — are what's probed.
REL = (
    "(SELECT "
    " CAST(c0 AS TINYINT)        AS i8,"
    " CAST(c1 AS SMALLINT)       AS i16,"
    " CAST(c2 AS INTEGER)        AS i32,"
    " CAST(c3 AS BIGINT)         AS i64,"
    " CAST(c4 AS DECIMAL(5,2))   AS dc5,"
    " CAST(c5 AS DECIMAL(18,6))  AS dc18,"
    " CAST(c6 AS DOUBLE)         AS dbl,"
    " CAST(c7 AS FLOAT)          AS flt,"
    " CAST(c8 AS VARCHAR)        AS vnum,"
    " c9                         AS vtxt,"
    " CAST(c10 AS BOOLEAN)       AS b,"
    " CAST(c11 AS DATE)          AS dt,"
    " CAST(c12 AS TIMESTAMP)     AS ts,"
    " c13                        AS li,"
    " c14                        AS u "
    "FROM (VALUES "
    "(3, 120, -7, 4000000, 1.25, 123.456789, 2.5, 0.5, '42', 'apple',"
    " true,  DATE '2024-01-05', TIMESTAMP '2024-01-05 01:02:03', [1,2], 1),"
    "(-2, -5, 999, -12, -99.99, -0.000001, -0.125, 4.0, '-7', 'Banana',"
    " false, DATE '2023-12-31', TIMESTAMP '2023-12-31 23:59:59', [3], 2),"
    "(0, 7, 12, 250, 3.5, 1.5, 8.25, -1.5, '3.5', 'apple pie',"
    " true,  DATE '2025-06-01', TIMESTAMP '2025-06-01 06:30:00', [], 3),"
    "(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,"
    " NULL, NULL, NULL, NULL, 4)"
    ") v(c0,c1,c2,c3,c4,c5,c6,c7,c8,c9,c10,c11,c12,c13,c14))"
)

NUMERIC = ["i8", "i16", "i32", "i64", "dc5", "dc18", "dbl", "flt"]
NUMERICISH = NUMERIC + ["vnum", "b"]
ORDERED = NUMERIC + ["vnum", "vtxt", "b", "dt", "ts"]

ARITH_OPS = ["+", "-", "*", "/", "//", "%"]
CMP_OPS = ["=", "<", ">="]


def norm(v):
    import decimal
    import math

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        # coercion results land on DOUBLE/DECIMAL lanes with different
        # guard digits; compare at 6 significant-ish digits
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    try:
        from pyspark.sql import Row

        if isinstance(v, Row):
            return tuple(norm(x) for x in v)
    except Exception:
        pass
    return v


def classify(engine, con, sql: str) -> tuple[str, str]:
    """Probe through the FULL service path (engine.query_df = dialect
    translate + schema-driven routing passes), not bare translate(): the
    float-// rewrite, map subscripts, etc. resolve operand types against
    the FROM relation's schema and only exist at the service layer."""
    try:
        want = [tuple(norm(c) for c in r) for r in con.execute(sql).fetchall()]
    except Exception as ex:
        return "DUCK-ERR", str(ex).splitlines()[0][:120]
    try:
        df = engine.query_df(sql)
        with interpreted(df):  # collected as the service collects
            got = [tuple(norm(c) for c in r) for r in df.collect()]
    except UnsupportedDialect as ex:
        return "RAISE", str(ex)[:120]
    except Exception as ex:
        return "SPARK-ERR", str(ex).splitlines()[0][:160]
    if got == want:
        return "MATCH", ""
    return "DIVERGE", f"duck={want!r} spark={got!r}"[:300]


def probes(what: str) -> list[str]:
    out: list[str] = []
    if what in ("all", "arith"):
        for op in ARITH_OPS:
            commutative = op in ("+", "*")
            for ai, a in enumerate(NUMERICISH):
                for bi, bcol in enumerate(NUMERICISH):
                    if commutative and bi < ai:
                        continue
                    out.append(f"{a} {op} {bcol}")
        # date/timestamp arithmetic against every integer width + interval
        for a in ("dt", "ts"):
            for bcol in ("i8", "i16", "i32", "i64"):
                out.append(f"{a} + {bcol}")
                out.append(f"{a} - {bcol}")
        out += ["dt - dt", "ts - ts", "dt + INTERVAL 2 DAY",
                "ts - INTERVAL 90 MINUTE"]
    if what in ("all", "cmp"):
        for op in CMP_OPS:
            for ai, a in enumerate(ORDERED):
                for bi, bcol in enumerate(ORDERED):
                    if op == "=" and bi < ai:
                        continue
                    # only probe pairs DuckDB can compare at all; the
                    # classifier skips DUCK-ERR pairs automatically
                    out.append(f"{a} {op} {bcol}")
        # literal-vs-column comparisons across lanes
        out += ["i32 = '12'", "vnum = 42", "dbl = '2.5'", "b = 1",
                "dt = '2024-01-05'", "ts = '2024-01-05 01:02:03'",
                "'abc' < 'ABD'", "vtxt < 'b'", "'ss' = 'ß'"]
    if what in ("all", "between"):
        out += [
            "i32 BETWEEN i8 AND i64",
            "i32 BETWEEN dc5 AND dbl",
            "dbl BETWEEN '0' AND '10'",
            "vnum BETWEEN 0 AND 50",
            "dc18 BETWEEN i8 AND flt",
            "dt BETWEEN '2023-01-01' AND '2024-12-31'",
            "ts BETWEEN dt AND '2026-01-01 00:00:00'",
            "i8 BETWEEN b AND 5",
            "flt BETWEEN -2 AND dc5",
        ]
    if what in ("all", "in"):
        out += [
            "i32 IN (12, 999)",
            "i32 IN (12.0, 999.5)",
            "i32 IN ('12', '999')",
            "vnum IN (42, -7)",
            "dc5 IN (1.25, 3.5)",
            "dc5 IN (i8, dbl)",
            "dbl IN (2.5, '8.25')",
            "dt IN ('2024-01-05', '2025-06-01')",
            "b IN (1, 0)",
            "i8 IN (NULL, 3)",
            "vtxt IN ('apple', 'Banana')",
        ]
    if what in ("all", "concat"):
        out += [
            "vnum || vtxt", "vnum || i32", "i32 || i64", "dbl || 'x'",
            "dc5 || ''", "b || 'x'", "dt || '!'", "ts || ''",
            "li || li", "li || [9]", "[0] || li",
            "vtxt || li", "i32 || li",
            "NULL || vtxt", "vtxt || NULL", "li || NULL", "NULL || li",
        ]
    return out


def statements(what: str = "all") -> list[str]:
    """Every probe's SQL text, in the order main runs them."""
    return [f"SELECT u, {p} AS v FROM {REL} ORDER BY u" for p in probes(what)]


def main() -> None:
    import tempfile

    from duckdb_service_spark.service.executor import Engine

    spark = get_spark("sweep-coercion-r10")
    spark.sparkContext.setLogLevel("ERROR")
    engine = Engine(spark, tempfile.mkdtemp(prefix="warehouse_sweep_"))
    con = duckdb.connect()
    what = sys.argv[1] if len(sys.argv) > 1 else "all"

    buckets: dict[str, list[tuple[str, str]]] = {}
    for p in statements(what):
        verdict, detail = classify(engine, con, p)
        buckets.setdefault(verdict, []).append((p, detail))
        flag = "" if verdict in ("MATCH", "DUCK-ERR") else "  <<<"
        print(f"{verdict:11s} {p}{flag}", flush=True)
        if detail and verdict in ("DIVERGE", "SPARK-ERR", "XLATE-CRASH"):
            print(f"            {detail}")

    print("\n== summary ==")
    for k in sorted(buckets):
        print(f"{k:11s} {len(buckets[k])}")


if __name__ == "__main__":
    main()
