"""Round-9 value-differential sweep (VERDICT r08 task 3): probe every
``duckdb_functions()`` AGGREGATE entry, its windowed form, and the binary /
unary operator surface (`%`, `**`, `//`, shifts, collation comparisons,
mixed-type implicit-cast arithmetic) through ``translate()`` against live
DuckDB, with typed arguments drawn from a seeded pool.

Exploratory tool — prints a classification per probe:
  MATCH        both engines agree (value-normalized)
  DIVERGE      both ran, values differ  <-- silent wrong answers, fix these
  RAISE        dialect raised UnsupportedDialect (clean, documented)
  SPARK-ERR    translate emitted something Spark rejects at runtime (bad:
               should either work or RAISE)
  DUCK-ERR     DuckDB itself rejects the probe (probe skipped, not a finding)

Survivors get frozen into tests/test_idioms_r09.py batteries.
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from duckdb_service_spark.service.dialect import UnsupportedDialect
from duckdb_service_spark.service.serializer import interpreted
from duckdb_service_spark.session import get_spark

# deterministic typed-values relation: every probe runs over this.
# i: int (with negatives + NULL), u: unique int no NULL, d: double
# (+NULL), s: varchar (case-mixed, with NULL), b: bool, dt: date,
# ts: timestamp, g: group key, li: int list
REL = (
    "(VALUES "
    "(1,  10, 2.5,  'Apple',  true,  DATE '2024-01-05', TIMESTAMP '2024-01-05 01:02:03', 0, [1, 2]),"
    "(-3, 20, -0.5, 'banana', false, DATE '2024-02-11', TIMESTAMP '2024-02-11 23:59:59', 0, [3]),"
    "(7,  30, NULL, 'Cherry', true,  DATE '2023-12-31', TIMESTAMP '2023-12-31 00:00:00', 1, []),"
    "(NULL,40, 8.25,'apple',  NULL,  DATE '2024-01-05', TIMESTAMP '2024-01-05 12:00:00', 1, [4, 5, 6]),"
    "(2,  50, 3.5,  NULL,     false, DATE '2025-06-01', TIMESTAMP '2025-06-01 06:30:00', 2, NULL)"
    ") t(i, u, d, s, b, dt, ts, g, li)"
)

# columns by DuckDB parameter type, for signature-driven arg picking
COLS_BY_TYPE = {
    "BIGINT": ["i", "u"],
    "INTEGER": ["i", "u"],
    "HUGEINT": ["i"],
    "DOUBLE": ["d", "i"],
    "FLOAT": ["d"],
    "DECIMAL": ["d"],
    "VARCHAR": ["s"],
    "BOOLEAN": ["b"],
    "DATE": ["dt"],
    "TIMESTAMP": ["ts"],
    "ANY": ["i", "s", "d"],
}


def norm(v):
    import decimal
    import math

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, norm(x)) for k, x in sorted(v.items()))
    try:  # pyspark Row
        from pyspark.sql import Row

        if isinstance(v, Row):
            return tuple(norm(x) for x in v)
    except Exception:
        pass
    return v


_ENGINE = None


def _engine(spark):
    """Full service executor — VERDICT r12 task 8: sweeps must run the
    WHOLE query_df pass pipeline, not the isolated dialect, so
    cross-pass interference (ordered-stat × cast-contract was the r12
    silent-wrong-answer) shows up in the sweep itself."""
    global _ENGINE
    if _ENGINE is None:
        import tempfile

        from duckdb_service_spark.service.executor import Engine

        _ENGINE = Engine(spark, tempfile.mkdtemp(prefix="wh_sweep_aw_"))
    return _ENGINE


def classify(spark, con, sql: str) -> tuple[str, str]:
    try:
        want = [tuple(norm(c) for c in r) for r in con.execute(sql).fetchall()]
    except Exception as ex:
        return "DUCK-ERR", str(ex).splitlines()[0][:120]
    try:
        df = _engine(spark).query_df(sql)
    except UnsupportedDialect as ex:
        return "RAISE", str(ex)[:120]
    except Exception as ex:
        return "XLATE-CRASH", f"{type(ex).__name__}: {ex}"[:120]
    try:
        with interpreted(df):  # collected as the service collects
            got = [tuple(norm(c) for c in r) for r in df.collect()]
    except Exception as ex:
        return "SPARK-ERR", str(ex).splitlines()[0][:160]
    if got == want:
        return "MATCH", ""
    return "DIVERGE", f"duck={want!r} spark={got!r}"[:300]


def agg_probes(con) -> list[str]:
    """One call expression per aggregate signature, args picked by type."""
    rng = random.Random(9)
    rows = con.execute(
        """
        SELECT function_name, parameter_types
        FROM duckdb_functions()
        WHERE function_type = 'aggregate'
        ORDER BY function_name, len(parameter_types)
        """
    ).fetchall()
    seen: set[tuple] = set()
    probes: list[str] = []
    for name, ptypes in rows:
        key = (name, len(ptypes))
        if key in seen:
            continue
        seen.add(key)
        args = []
        ok = True
        for pt in ptypes:
            base = pt.split("(")[0].upper()
            pool = COLS_BY_TYPE.get(base)
            if pool is None:
                ok = False
                break
            args.append(rng.choice(pool))
        if not ok:
            continue
        probes.append(f"{name}({', '.join(args)})")
    return probes


OPERATOR_PROBES = [
    # modulo sign semantics, float modulo
    "7 % 3", "(0-7) % 3", "7 % (0-3)", "7.5 % 2", "(0-7.5) % 2", "i % 3",
    # power: type + associativity + precedence vs unary minus
    "2 ** 10", "2 ** 0.5", "(0-2) ** 2", "2 ** (0-1)", "2 ** 3 ** 2",
    "2 ^ 10", "4 ^ 0.5",
    # integer vs float division
    "7 / 2", "7 // 2", "(0-7) // 2", "7.0 // 2", "i / 2", "i // 2",
    "7 // 2.5",
    # shifts and bitwise
    "1 << 10", "255 >> 4", "(0-8) >> 1", "5 & 3", "5 | 3", "xor(5, 3)",
    "~5", "i << 1",
    # string/list concat operator incl. NULL and mixed
    "'a' || 'b'", "s || '!'", "NULL || 'x'", "[1] || [2, 3]", "li || [9]",
    "1 || 'a'", "dt || ''",
    # collation-sensitive comparisons (binary in DuckDB by default)
    "'abc' < 'ABD'", "'a' < 'B'", "s < 'b'", "'ss' = 'ß'",
    # mixed-type implicit casts
    "1 = 1.0", "'2' + 3", "'2.5' + 1", "true + 1", "'10' * '2'",
    "1 = '1'", "dt + 1", "dt - 1", "dt - DATE '2024-01-01'",
    "ts - TIMESTAMP '2024-01-01 00:00:00'",
    "i BETWEEN 0-1 AND 3", "d IS DISTINCT FROM 2.5",
    # unary minus / plus on strings
    "-'2'", "+'3'",
]


def statements(con, what: str = "all") -> list[str]:
    """Every probe's SQL text, in the order main runs them."""
    out: list[str] = []
    if what in ("all", "agg"):
        out += [f"SELECT {p} AS v FROM {REL}" for p in agg_probes(con)]
    if what in ("all", "win"):
        # windowed form of every aggregate that exists; deterministic frame
        out += [
            f"SELECT u, {p} OVER (PARTITION BY g ORDER BY u "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v FROM {REL} ORDER BY u"
            for p in agg_probes(con)
        ]
    if what in ("all", "op"):
        out += [f"SELECT u, {p} AS v FROM {REL} ORDER BY u" for p in OPERATOR_PROBES]
    return out


def main() -> None:
    spark = get_spark("sweep-r09")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    what = sys.argv[1] if len(sys.argv) > 1 else "all"

    buckets: dict[str, list[tuple[str, str]]] = {}
    for sql in statements(con, what):
        verdict, detail = classify(spark, con, sql)
        buckets.setdefault(verdict, []).append((sql, detail))
        flag = "" if verdict in ("MATCH", "DUCK-ERR") else "  <<<"
        print(f"{verdict:11s} {sql[:150]}{flag}")
        if detail and verdict in ("DIVERGE", "SPARK-ERR", "XLATE-CRASH"):
            print(f"            {detail}")

    print("\n== summary ==")
    for k in sorted(buckets):
        print(f"{k:11s} {len(buckets[k])}")


if __name__ == "__main__":
    main()
