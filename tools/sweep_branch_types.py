"""Round-11 multi-branch result-type unification sweep (VERDICT r10 task 4)
— the last unswept lattice: UNION/INTERSECT/EXCEPT branch-type resolution,
CASE/COALESCE/IF/NULLIF result types, greatest/least, IN-list unification,
and VALUES-list typing, probed through the full service path against live
DuckDB over the same seeded typed relation as tools/sweep_coercion.py.

Classification (sweep_coercion.py's buckets plus a TYPE-DIFF tier):
  MATCH        values AND serialized result types agree
  TYPE-DIFF    values agree, the serializer's DuckDB type name differs
               <-- user-visible via /db/query meta, softer than DIVERGE
  DIVERGE      both ran, values differ  <-- silent wrong answers, fix these
  RAISE        dialect raised UnsupportedDialect (clean, documented)
  SPARK-ERR    translate emitted something Spark rejects at runtime
  DUCK-ERR     DuckDB itself rejects the probe (skipped, not a finding)

Survivors get frozen into tests/test_idioms_r11.py.

Usage: python tools/sweep_branch_types.py
       [setop|case|coalesce|gl|litbranch|complane|in|list|values|all]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from duckdb_service_spark.service.dialect import UnsupportedDialect
from duckdb_service_spark.service.serializer import duckdb_type_name, interpreted
from duckdb_service_spark.session import get_spark
from tools.sweep_coercion import REL, norm

# lanes that exercise every unification edge: int widths, two decimal
# shapes, double/float, numeric + non-numeric varchar, bool, date,
# timestamp, int list
LANES = ["i8", "i16", "i32", "i64", "dc5", "dc18", "dbl", "flt",
         "vnum", "vtxt", "b", "dt", "ts", "li"]

# typed literals for VALUES probes, one per lane class
LITS = ["1", "2.5", "1.23456789", "'42'", "'apple'", "true",
        "DATE '2024-01-05'", "TIMESTAMP '2024-01-05 01:02:03'",
        "[1,2]", "NULL"]


def _canon(v):
    """Structural normalization for composite cells (r14): Spark Rows ->
    dicts, DuckDB map reprs ({'key': [...], 'value': [...]}) -> dicts,
    sequence types unified, norm() applied at the leaves."""
    try:
        from pyspark.sql import Row

        if isinstance(v, Row):
            return _canon(v.asDict())
    except Exception:  # noqa: BLE001
        pass
    if isinstance(v, dict):
        if set(v.keys()) == {"key", "value"} and isinstance(v.get("key"), list):
            return _canon(dict(zip(v["key"], v["value"])))
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return norm(v)


def classify(engine, con, sql: str) -> tuple[str, str]:
    try:
        rel = con.sql(sql)
        want_types = [str(t) for t in rel.types]
        want = sorted(tuple(_canon(c) for c in r) for r in rel.fetchall())
    except Exception as ex:  # noqa: BLE001
        return "DUCK-ERR", str(ex).splitlines()[0][:120]
    try:
        df = engine.query_df(sql)
        got_types = [duckdb_type_name(f.dataType) for f in df.schema.fields]
        with interpreted(df):  # collected as the service collects
            got = sorted(tuple(_canon(c) for c in r) for r in df.collect())
    except UnsupportedDialect as ex:
        return "RAISE", str(ex)[:120]
    except Exception as ex:  # noqa: BLE001
        return "SPARK-ERR", str(ex).splitlines()[0][:160]
    if got != want:
        return "DIVERGE", f"duck={want!r} spark={got!r}"[:300]
    wt = [str(t).split("(")[0].upper() for t in want_types]
    gt = [str(t).split("(")[0].upper() for t in got_types]
    if wt != gt:
        return "TYPE-DIFF", f"duck={wt} spark={gt}"
    return "MATCH", ""


def statements(what: str = "all") -> list[str]:
    """Every probe's SQL text, in the order main runs them."""
    out: list[str] = []
    pairs = [
        (a, b)
        for ai, a in enumerate(LANES)
        for b in LANES[ai + 1:]
    ]
    if what in ("all", "setop"):
        for op in ("UNION", "UNION ALL", "INTERSECT", "EXCEPT"):
            for a, b in pairs:
                out.append(
                    f"SELECT {a} AS v FROM {REL} {op} "
                    f"SELECT {b} AS v FROM {REL}"
                )
        # literal-branch setops (no schema resolution on either side)
        out += [
            "SELECT 1 AS v UNION ALL SELECT 2.5",
            "SELECT 1 AS v UNION ALL SELECT '3'",
            "SELECT 'a' AS v UNION ALL SELECT 1",
            "SELECT DATE '2024-01-05' AS v UNION ALL SELECT '2024-02-02'",
            "SELECT 1 AS v UNION ALL SELECT NULL",
            "SELECT NULL AS v UNION ALL SELECT NULL",
            "SELECT 127 AS v UNION ALL SELECT 128",
            "SELECT [1] AS v UNION ALL SELECT [2.5]",
        ]
    if what in ("all", "case"):
        for a, b in pairs:
            out.append(
                f"SELECT u, CASE WHEN u = 1 THEN {a} ELSE {b} END AS v "
                f"FROM {REL} ORDER BY u"
            )
        out += [
            f"SELECT u, CASE WHEN u = 1 THEN i8 WHEN u = 2 THEN dc5 "
            f"ELSE dbl END AS v FROM {REL} ORDER BY u",
            f"SELECT u, CASE WHEN u = 1 THEN 1 ELSE 'x' END AS v "
            f"FROM {REL} ORDER BY u",
            f"SELECT u, CASE WHEN u = 1 THEN NULL ELSE i32 END AS v "
            f"FROM {REL} ORDER BY u",
            f"SELECT u, CASE u WHEN 1 THEN dt ELSE ts END AS v "
            f"FROM {REL} ORDER BY u",
            f"SELECT u, NULLIF(i32, dbl) AS v FROM {REL} ORDER BY u",
            f"SELECT u, NULLIF(vnum, i32) AS v FROM {REL} ORDER BY u",
            f"SELECT u, NULLIF(dc5, 3.5) AS v FROM {REL} ORDER BY u",
        ]
    if what in ("all", "coalesce"):
        for a, b in pairs:
            out.append(f"SELECT u, COALESCE({a}, {b}) AS v FROM {REL} ORDER BY u")
        out += [
            f"SELECT u, COALESCE(NULL, i8, dbl) AS v FROM {REL} ORDER BY u",
            f"SELECT u, IFNULL(i32, dc5) AS v FROM {REL} ORDER BY u",
            f"SELECT u, IF(b, i8, dbl) AS v FROM {REL} ORDER BY u",
            f"SELECT u, IF(b, vnum, i32) AS v FROM {REL} ORDER BY u",
        ]
    if what in ("all", "gl"):
        for a, b in pairs:
            out.append(f"SELECT u, GREATEST({a}, {b}) AS v FROM {REL} ORDER BY u")
            out.append(f"SELECT u, LEAST({a}, {b}) AS v FROM {REL} ORDER BY u")
        out += [
            f"SELECT u, GREATEST(i8, dc5, dbl) AS v FROM {REL} ORDER BY u",
            f"SELECT u, LEAST(vnum, vtxt) AS v FROM {REL} ORDER BY u",
            f"SELECT u, GREATEST(i32, 2.5) AS v FROM {REL} ORDER BY u",
        ]
    if what in ("all", "litbranch"):
        # r12: plain-literal branch operands — the lane the r11 sweep
        # missed (its only literal CASE probe used non-numeric 'x').
        # String literals must coerce into the single non-string lane;
        # NULL placement decides coerce-vs-binder-error (accumulator
        # model, test_idioms_r12.py); columns mixed with string
        # literals keep the literal coercion, VARCHAR columns against
        # a lane are DuckDB binder errors.
        lits = ["1", "2.5", "1e1", "'7'", "'2.5'", "true",
                "DATE '2024-01-05'", "NULL"]
        import itertools
        for a, b in itertools.permutations(lits, 2):
            out.append(f"SELECT CASE WHEN 1=1 THEN {a} ELSE {b} END AS v")
            out.append(f"SELECT COALESCE({a}, {b}) AS v")
            out.append(f"SELECT GREATEST({a}, {b}) AS v")
        for a, b, c in [
            ("NULL", "1", "'2'"), ("1", "NULL", "'2'"), ("'2'", "1", "NULL"),
            ("NULL", "'2'", "1"), ("'2'", "NULL", "1"), ("1", "'2'", "NULL"),
            ("1", "'2'", "1.5"), ("true", "NULL", "'false'"),
            ("DATE '2024-01-05'", "NULL", "'2024-02-02'"),
        ]:
            out.append(
                f"SELECT CASE WHEN 1=0 THEN {a} WHEN 1=0 THEN {b} "
                f"ELSE {c} END AS v"
            )
            out.append(f"SELECT COALESCE({a}, {b}, {c}) AS v")
            out.append(f"SELECT GREATEST({a}, {b}, {c}) AS v")
        for col in ("i8", "i32", "dc5", "dbl", "flt", "dt", "ts", "b",
                    "vnum", "vtxt"):
            for lit in ("'7'", "'2.5'", "'2024-02-02'", "1", "NULL"):
                out.append(
                    f"SELECT u, CASE WHEN u = 1 THEN {col} ELSE {lit} END "
                    f"AS v FROM {REL} ORDER BY u"
                )
                out.append(
                    f"SELECT u, COALESCE({col}, {lit}) AS v FROM {REL} "
                    f"ORDER BY u"
                )
                out.append(
                    f"SELECT u, GREATEST({col}, {lit}) AS v FROM {REL} "
                    f"ORDER BY u"
                )
        # r13: COMPOSITE branch operands (function calls / arithmetic /
        # nested CASE / aggregates) — DuckDB's binder types the whole
        # subexpression before folding it into the lane; the r12 sweep's
        # literal/column atoms could not see the non-compositional-fold
        # hole (VERDICT r12 #1). i64-based shapes keep Spark and DuckDB
        # width-identical (TINYINT+1 is TINYINT in DuckDB, INT in Spark).
        comps = ("NULLIF(i64, 2)", "i64 + 1", "(CASE WHEN u = 1 THEN i64 END)",
                 "abs(i64)", "upper(vtxt)", "dt + 1")
        for comp in comps:
            for lit in ("'7'", "1", "NULL", "'2024-02-02'"):
                out.append(
                    f"SELECT u, COALESCE({comp}, {lit}) AS v FROM {REL} "
                    f"ORDER BY u"
                )
                out.append(
                    f"SELECT u, CASE WHEN u = 1 THEN {comp} ELSE {lit} END "
                    f"AS v FROM {REL} ORDER BY u"
                )
                out.append(
                    f"SELECT u, GREATEST({comp}, {lit}) AS v FROM {REL} "
                    f"ORDER BY u"
                )
        out += [
            f"SELECT COALESCE(max(i64), '9') AS v FROM {REL}",
            f"SELECT COALESCE(min(dt), '2024-02-02') AS v FROM {REL}",
            f"SELECT GREATEST(max(i64), '7') AS v FROM {REL}",
            "SELECT COALESCE(NULLIF(1,1), '7') AS v",
            "SELECT COALESCE(1+1, '7') AS v",
            "SELECT COALESCE(1, ('7')) AS v",
            "SELECT GREATEST(1+1, '7') AS v",
            "SELECT COALESCE(upper('x'), 1) AS v",
        ]
    if what in ("all", "complane"):
        # r14: composite-TYPE lanes (VERDICT r13 #1) — LIST/STRUCT/MAP
        # lane operands beside string literals (coerce through the
        # string->composite grammar), scalar literals (Cannot-mix binder
        # errors, classified DUCK-ERR/SPARK-ERR pairs here, error TEXT
        # frozen in tests/test_idioms_r14.py), VARCHAR columns, and NULL.
        lanes14 = (
            "li", "[1,2]", "CAST(NULL AS INTEGER[])",
            "{'a': 1}", "MAP {'k': 1}",
            "CAST(NULL AS STRUCT(a INTEGER))",
            "CAST(NULL AS MAP(VARCHAR, INTEGER))",
        )
        strs14 = ("'[7]'", "'[7, 8]'", "'zzz'", "'{''a'': 2}'", "'{k=2}'",
                  "NULL", "1", "vtxt")
        for lane in lanes14:
            for s in strs14:
                out.append(
                    f"SELECT u, COALESCE({lane}, {s}) AS v FROM {REL} "
                    f"ORDER BY u"
                )
                out.append(
                    f"SELECT u, CASE WHEN u = 1 THEN {lane} ELSE {s} END "
                    f"AS v FROM {REL} ORDER BY u"
                )
                out.append(
                    f"SELECT u, GREATEST({lane}, {s}) AS v FROM {REL} "
                    f"ORDER BY u"
                )
    if what in ("all", "in"):
        out += [
            f"SELECT u, {expr} AS v FROM {REL} ORDER BY u"
            for expr in (
                "i8 IN (i16, i64)",
                "i8 IN (dc5, dbl)",
                "dc5 IN (i8, flt)",
                "vnum IN (i8, dbl)",
                "dt IN (ts)",
                "i32 IN (dc18, vnum)",
                "flt IN (0.5, 4)",
                "b IN (i8)",
            )
        ]
    if what in ("all", "list"):
        for ai, a in enumerate(LITS):
            for b in LITS[ai:]:
                out.append(f"SELECT [{a}, {b}] AS v")
        out += [
            "SELECT [1, 2.5, '7'] AS v",
            "SELECT ['1.5', 2] AS v",
            "SELECT [2.55, '1.5'] AS v",
            "SELECT ['7', 1.25] AS v",
            "SELECT [123.456, 1] AS v",
            "SELECT [true, 'false', 1] AS v",
            "SELECT [1, 4000000000, '7'] AS v",
            "SELECT [DATE '2024-01-05', TIMESTAMP '2024-02-02 01:00:00'] AS v",
            "SELECT [NULL, 1, '3'] AS v",
            "SELECT ['a', 'b'] AS v",
            "SELECT [[1, 2], [3]] AS v",
            "SELECT ARRAY[1, '42'] AS v",
            "SELECT map_values(MAP {'x': 1, 'y': '2'}) AS v",
            "SELECT map_values(MAP {'x': true, 'y': 1}) AS v",
            "SELECT map_values(MAP {'a': 1, 'b': 2.5, 'c': '7'}) AS v",
            # struct cells compare as dict-vs-Row in this harness; the
            # field-extracted form is value-checked in test_idioms_r11.py
            "SELECT s.a AS v FROM (SELECT {'a': [1, '2']} AS s) t",
        ]
    if what in ("all", "values"):
        for ai, a in enumerate(LITS):
            for b in LITS[ai:]:
                out.append(
                    f"SELECT v FROM (VALUES ({a}), ({b})) t(v)"
                )
        out += [
            "SELECT a, b FROM (VALUES (1, 'x'), (2.5, 3)) t(a, b)",
            "SELECT v FROM (VALUES (1), (2.5), ('7')) t(v)",
            "SELECT v FROM (VALUES ([1]), ([2.5])) t(v)",
        ]
    return out


def main() -> None:
    import tempfile

    from duckdb_service_spark.service.executor import Engine

    spark = get_spark("sweep-branch-types-r11")
    spark.sparkContext.setLogLevel("ERROR")
    engine = Engine(spark, tempfile.mkdtemp(prefix="warehouse_sweep_"))
    con = duckdb.connect()
    what = sys.argv[1] if len(sys.argv) > 1 else "all"

    buckets: dict[str, list[tuple[str, str]]] = {}
    for p in statements(what):
        verdict, detail = classify(engine, con, p)
        buckets.setdefault(verdict, []).append((p, detail))
        flag = "" if verdict in ("MATCH", "DUCK-ERR") else "  <<<"
        print(f"{verdict:11s} {p[:150]}{flag}", flush=True)
        if detail and verdict in ("DIVERGE", "SPARK-ERR", "TYPE-DIFF"):
            print(f"            {detail}")

    print("\n== summary ==")
    for k in sorted(buckets):
        print(f"{k:11s} {len(buckets[k])}")


if __name__ == "__main__":
    main()
