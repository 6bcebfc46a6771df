"""Result serialization — mirrors the reference's row-major JSON contract.

Reference shape (db/db.go:43-47 + http/service.go:20-24):
  query  → {"result": {"columns": [...], "types": [...], "values": [[...]]},
            "took": seconds}
  execute→ {"result": {"rows_affected": n}, "took": seconds}

`types` carries DuckDB-style type NAMES surfaced verbatim from the driver
(db/db.go:89-93), so Spark types are mapped back through the SURVEY §1.3
table. Byte values are coerced to strings like db/db.go:107-111.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import decimal as _decimal
import math
import re
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Spark type -> DuckDB DatabaseTypeName (SURVEY §1.3, reversed)
_SIMPLE = {
    T.BooleanType: "BOOLEAN",
    T.ByteType: "TINYINT",
    T.ShortType: "SMALLINT",
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.FloatType: "FLOAT",
    T.DoubleType: "DOUBLE",
    T.StringType: "VARCHAR",
    T.BinaryType: "BLOB",
    T.DateType: "DATE",
    # Spark LTZ is the engine's tz-aware lane (session pinned UTC): SQL
    # TIMESTAMP literals/casts resolve NTZ (session.py timestampType),
    # so LTZ only flows out of tz-producing surfaces — timezone()/AT
    # TIME ZONE's interpret direction, now()/current_timestamp,
    # make_timestamptz, TIMESTAMPTZ casts — exactly DuckDB's
    # TIMESTAMP WITH TIME ZONE set (r12; typeof agrees, dialect.py
    # _TYPEOF_CASES)
    T.TimestampType: "TIMESTAMP WITH TIME ZONE",
    T.TimestampNTZType: "TIMESTAMP",
    T.TimeType: "TIME",
    T.VariantType: "JSON",  # Spark VARIANT ≅ DuckDB's JSON logical type
    # DuckDB binds an untyped NULL projection to INTEGER (measured r11:
    # `SELECT NULL` / `SELECT NULL UNION ALL SELECT NULL` both report
    # INTEGER result columns; typeof(NULL)='"NULL"' is value-level only)
    T.NullType: "INTEGER",
}


def duckdb_type_name(dt: T.DataType) -> str:
    for cls, name in _SIMPLE.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"{duckdb_type_name(dt.elementType)}[]"
    if isinstance(dt, T.MapType):
        return f"MAP({duckdb_type_name(dt.keyType)}, {duckdb_type_name(dt.valueType)})"
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name} {duckdb_type_name(f.dataType)}" for f in dt.fields)
        return f"STRUCT({inner})"
    if isinstance(dt, T.DayTimeIntervalType) or isinstance(dt, T.YearMonthIntervalType):
        return "INTERVAL"
    return dt.simpleString().upper()


def _json_value(v: Any) -> Any:
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return str(v)
        return v
    if isinstance(v, _decimal.Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, _dt.time):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        # reference coerces []byte to string, db/db.go:107-111
        return bytes(v).decode("utf-8", errors="replace")
    if hasattr(v, "asDict"):  # Row IS a tuple — struct check must come first
        return {k: _json_value(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_json_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_value(x) for k, x in v.items()}
    if isinstance(v, T.VariantVal):
        return v.toJson()
    return str(v)


# Leaves of a plan whose rows are already in memory: catalog caches
# (Catalog._register caches single-split tables only), VALUES lists and
# FROM-less selects.
_IN_MEMORY_LEAVES = frozenset({"InMemoryRelation", "LocalRelation", "OneRowRelation"})
# Most rows the leaves of an interpreted read may hold together. Fresh-
# literal statements over a cached single-split table (4 cores, Spark
# 4.1.2), interpreted time over compiled time: 0.57-0.83 for every shape
# at 15k rows and at most 1.00 at 30k; at 45k a join + GROUP BY read 1.04,
# at 60k a three-aggregate filter 1.08 and at 120k the join 1.25, while
# filters, sorts and windows stayed below 1. svc_interactive reads at most
# ~16.5k leaf rows (a four-table join).
INTERPRETED_MAX_ROWS = 30_000


def _small_in_memory(df: DataFrame) -> bool:
    """Whether every leaf of ``df``'s plan, cached data substituted, holds
    rows already in memory, at most INTERPRETED_MAX_ROWS of them in all.
    ``withCachedData`` is analysis plus the cache lookup that collect would
    make anyway; optimization and planning still run inside collect."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves().iterator()
    rows = 0
    while leaves.hasNext():
        leaf = leaves.next()
        name = leaf.nodeName()
        if name == "OneRowRelation":
            continue
        if name not in _IN_MEMORY_LEAVES:
            return False
        count = leaf.stats().rowCount()
        if not count.isDefined():
            return False
        rows += int(count.get())
        if rows > INTERPRETED_MAX_ROWS:
            return False
    return True


@contextlib.contextmanager
def interpreted(df: DataFrame):
    """Run the block's Spark work interpreted when ``df`` reads only small
    in-memory data: no whole-stage code and no generated expression
    classes. Each fresh literal is new code, so over a few thousand rows
    Janino's compile costs more than the rows' interpretation. Larger or
    file-backed reads keep whole-stage codegen. The confs are session
    confs, so this is safe only while one lock serializes the requests
    that use the session (http_server.py)."""
    if not _small_in_memory(df):
        yield
        return
    conf = df.sparkSession.conf
    flips = {"spark.sql.codegen.wholeStage": "false",
             "spark.sql.codegen.factoryMode": "NO_CODEGEN"}
    saved = {key: conf.get(key, None) for key in flips}
    try:
        for key, value in flips.items():
            conf.set(key, value)
        yield
    finally:
        for key, value in saved.items():
            if value is None:
                conf.unset(key)
            else:
                conf.set(key, value)


def query_result(df: DataFrame, limit: int | None = None) -> dict:
    """{"columns", "types", "values"} — row-major like QueryResult."""
    if limit is not None:
        df = df.limit(limit)
    with interpreted(df):
        rows = df.collect()
    # tz-aware (LTZ) columns render with DuckDB's +00 offset suffix.
    # PySpark's collect converts LTZ through datetime.fromtimestamp —
    # HOST-local and naive — so the UTC instant must be derived
    # explicitly or a non-UTC host serializes every tz column shifted
    # while claiming '+00' (ADVICE r13). Aware values (Arrow paths)
    # convert directly.
    tz_cols = {
        i for i, f in enumerate(df.schema.fields)
        if isinstance(f.dataType, T.TimestampType)
    }

    def cell(i: int, v: Any) -> Any:
        if i in tz_cols and isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                u = v.astimezone(_dt.timezone.utc)
            else:
                u = _dt.datetime.fromtimestamp(
                    v.timestamp(), tz=_dt.timezone.utc
                )
            return u.replace(tzinfo=None).isoformat(sep=" ") + "+00"
        return _json_value(v)

    return {
        "columns": df.columns,
        # a field can carry its DuckDB-side type when Spark has no native
        # equivalent (BIT bitstrings ride as STRING + metadata)
        "types": [
            f.metadata.get("duckdb_type") or duckdb_type_name(f.dataType)
            for f in df.schema.fields
        ],
        "values": [[cell(i, v) for i, v in enumerate(row)] for row in rows],
    }


def execute_result(rows_affected: int) -> dict:
    return {"rows_affected": rows_affected}


_USER_RAISED_RE = re.compile(
    r"^\[USER_RAISED_EXCEPTION\]\s*(.*?)\s*SQLSTATE:\s*P0001\b", re.DOTALL
)


def duck_error_text(ex: Exception) -> str:
    """Envelope error string. The cast/branch contracts raise DuckDB's
    verbatim messages through Spark's raise_error, which wraps them as
    '[USER_RAISED_EXCEPTION] <msg> SQLSTATE: P0001' — strip the wrapper
    so /db/query carries the message the reference's DuckDB would
    (service.go:236 serializes the bare error string)."""
    s = str(ex).strip()
    m = _USER_RAISED_RE.match(s)
    return m.group(1).strip() if m else s
