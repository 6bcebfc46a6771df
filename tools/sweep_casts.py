"""Round-10 CAST-matrix sweep: probe CAST and TRY_CAST between every
type pair over seeded valid/boundary/invalid values, through the FULL
service path, against live DuckDB.

Classification identical to sweep_coercion.py:
  MATCH        both engines agree (value-normalized)
  DIVERGE      both ran, values differ  <-- silent wrong answers
  RAISE        dialect raised UnsupportedDialect (clean, documented)
  SPARK-ERR    Spark rejects/errors where DuckDB succeeded
  DUCK-ERR     DuckDB itself rejects the probe (skipped, not a finding)
  BOTH-ERR     both engines raise at runtime (cast overflow etc. — parity)

For CAST (non-try) probes whose value errors at runtime in BOTH engines
the verdict is BOTH-ERR (error-contract parity); TRY_CAST must never
error.

Usage: python tools/sweep_casts.py [try|cast|all]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from duckdb_service_spark.service.dialect import UnsupportedDialect, translate
from duckdb_service_spark.service.serializer import interpreted
from duckdb_service_spark.session import get_spark

# source values per source type: valid, boundary, invalid-for-most-
# targets, and NULL specimens (r11: explicit NULL rows — the r10 sweep
# carried none, which hid the NULL-double -> 'nan' VARCHAR divergence)
SOURCES: dict[str, list[str]] = {
    "TINYINT": ["CAST(7 AS TINYINT)", "CAST(-128 AS TINYINT)"],
    "SMALLINT": ["CAST(300 AS SMALLINT)", "CAST(-32768 AS SMALLINT)"],
    "INTEGER": ["CAST(70000 AS INTEGER)", "CAST(-2147483648 AS INTEGER)",
                "CAST(NULL AS INTEGER)"],
    "BIGINT": ["CAST(9007199254740993 AS BIGINT)", "CAST(-12 AS BIGINT)",
               "CAST(NULL AS BIGINT)"],
    "DECIMAL(9,3)": ["CAST(123.456 AS DECIMAL(9,3))", "CAST(-0.5 AS DECIMAL(9,3))",
                     "CAST(NULL AS DECIMAL(9,3))"],
    # r11: overflowing-tightening + truncation-sensitive specimens (the
    # r10 sweep's only tightening probe happened to fit, masking both
    # the dead decimal->decimal guard AND duck's truncate-on-shrink)
    "DECIMAL(18,6)": ["CAST(123456.654321 AS DECIMAL(18,6))",
                      "CAST(9999999.999999 AS DECIMAL(18,6))",
                      "CAST(-1.999999 AS DECIMAL(18,6))"],
    "DECIMAL(13,1)": ["CAST(999999999999.9 AS DECIMAL(13,1))"],
    "DOUBLE": ["CAST(2.75 AS DOUBLE)", "CAST(-1e300 AS DOUBLE)",
               "CAST(0.1 AS DOUBLE)", "CAST(NULL AS DOUBLE)"],
    "FLOAT": ["CAST(2.5 AS FLOAT)", "CAST(-0.125 AS FLOAT)",
              "CAST(NULL AS FLOAT)"],
    "BOOLEAN": ["true", "false", "CAST(NULL AS BOOLEAN)"],
    "VARCHAR(num)": ["'42'", "'-7.25'", "' 13 '"],
    "VARCHAR(text)": ["'apple'", "''", "CAST(NULL AS VARCHAR)"],
    "VARCHAR(bool)": ["'true'", "'F'", "'1'"],
    "VARCHAR(date)": ["'2024-01-05'", "'2024-1-5'"],
    "VARCHAR(ts)": ["'2024-01-05 01:02:03'", "'2024-01-05T01:02:03'"],
    "DATE": ["DATE '2024-01-05'", "DATE '1969-12-31'", "CAST(NULL AS DATE)"],
    "TIMESTAMP": ["TIMESTAMP '2024-01-05 01:02:03'",
                  "CAST(NULL AS TIMESTAMP)"],
}

TARGETS = [
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "DECIMAL(9,3)", "DECIMAL(18,6)", "DECIMAL(12,0)", "DECIMAL",
    "DOUBLE", "FLOAT", "BOOLEAN", "VARCHAR", "DATE", "TIMESTAMP",
]

# r11: structural forms the outer-span-only r10 pass missed — casts
# inside subqueries (literal sources keep the contract there) and
# nested failable casts under a no-guard outer cast
STRUCTURAL: list[str] = [
    "SELECT v FROM (SELECT CAST('apple' AS INTEGER) AS v) t",
    "SELECT v FROM (SELECT TRY_CAST('apple' AS INTEGER) AS v) t",
    "SELECT v FROM (SELECT CAST('42' AS INTEGER) AS v) t",
    "SELECT v FROM (SELECT CAST(9999999.999999 AS DECIMAL(9,3)) AS v) t",
    "SELECT CAST(CAST('apple' AS INTEGER) AS BIGINT) AS v",
    "SELECT CAST(CAST('17' AS INTEGER) AS BIGINT) AS v",
    "SELECT TRY_CAST(CAST(300 AS SMALLINT) AS TINYINT) AS v",
    "SELECT CAST(CAST(CAST(9999999.999999 AS DECIMAL(18,6)) AS DECIMAL(20,6)) AS DECIMAL(9,3)) AS v",
    "SELECT CAST('it''s' AS VARCHAR) AS v",
    "SELECT CAST('a'' AS ''b' AS VARCHAR) AS v",
]


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
        return round(v, 6)
    return v


def classify_sql(engine, con, sql: str) -> tuple[str, str]:
    duck_err = None
    try:
        want = [tuple(norm(c) for c in r) for r in con.execute(sql).fetchall()]
    except Exception as ex:
        msg = str(ex).splitlines()[0]
        if "Parser" in msg or "Binder" in msg:
            return "DUCK-ERR", msg[:100]
        duck_err = msg  # runtime conversion error — check Spark parity
    try:
        df = engine.query_df(sql)
        with interpreted(df):  # collected as the service collects
            got = [tuple(norm(c) for c in r) for r in df.collect()]
        spark_err = None
    except UnsupportedDialect as ex:
        return "RAISE", str(ex)[:100]
    except Exception as ex:
        spark_err = str(ex).splitlines()[0]
    if duck_err is not None and spark_err is not None:
        return "BOTH-ERR", ""
    if duck_err is not None:
        return "DIVERGE", f"duck errors ({duck_err[:80]}) spark={got!r}"[:240]
    if spark_err is not None:
        return "SPARK-ERR", spark_err[:160]
    if got == want:
        return "MATCH", ""
    return "DIVERGE", f"duck={want!r} spark={got!r}"[:240]


def statements(forms=("CAST", "TRY_CAST")) -> list[str]:
    """Every probe's SQL text, in the order main runs them."""
    out = []
    for form in forms:
        for src_t, values in SOURCES.items():
            for val in values:
                for tgt in TARGETS:
                    # skip exact-identity pairs and string->string only;
                    # decimal<->decimal precision changes ARE probed (r11)
                    if tgt == src_t or (
                        tgt == "VARCHAR" and src_t.startswith("VARCHAR")
                    ):
                        continue
                    out.append(f"SELECT {form}({val} AS {tgt}) AS v")
    return out + STRUCTURAL


def main() -> None:
    import tempfile

    from duckdb_service_spark.service.executor import Engine

    spark = get_spark("sweep-casts-r10")
    spark.sparkContext.setLogLevel("ERROR")
    engine = Engine(spark, tempfile.mkdtemp(prefix="warehouse_casts_"))
    con = duckdb.connect()
    what = sys.argv[1] if len(sys.argv) > 1 else "all"
    forms = (
        ["TRY_CAST"] if what == "try" else ["CAST"] if what == "cast"
        else ["CAST", "TRY_CAST"]
    )

    buckets: dict[str, int] = {}
    for sql in statements(forms):
        verdict, detail = classify_sql(engine, con, sql)
        buckets[verdict] = buckets.get(verdict, 0) + 1
        if verdict not in ("MATCH", "DUCK-ERR", "BOTH-ERR"):
            print(f"{verdict:11s} {sql}")
            if detail:
                print(f"            {detail}")
    print("\n== summary ==")
    for k in sorted(buckets):
        print(f"{k:11s} {buckets[k]}")


if __name__ == "__main__":
    main()
