"""Property-based checks (hypothesis) for dialect conversions whose
correctness is a FUNCTION, not a sample: glob→regex, SIMILAR TO anchoring,
and the date_diff boundary-crossing formulas — each against an in-process
DuckDB oracle over randomized inputs. No SparkSession needed (fast)."""

from __future__ import annotations

import datetime as dt
import re

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

con = duckdb.connect()


def _duck(sql, *params):
    return con.execute(sql, list(params)).fetchone()[0]


# ---- GLOB → regex ---------------------------------------------------------

_glob_atom = st.sampled_from(
    ["a", "b", "c", ".", "x", "*", "?", "[ab]", "[!a]", "[a-c]", "_", "%"]
)


@settings(max_examples=200, deadline=None)
@given(
    s=st.text(alphabet="abc.x_%", max_size=8),
    pat=st.lists(_glob_atom, max_size=6).map("".join),
)
def test_glob_matches_duckdb(s, pat):
    from duckdb_service_spark.service.dialect import _glob_to_regex

    want = _duck("SELECT ? GLOB ?", s, pat)
    got = re.fullmatch(_glob_to_regex(pat), s) is not None
    assert got == want, (s, pat, _glob_to_regex(pat))


# ---- SIMILAR TO = anchored regex ------------------------------------------

_sim_atom = st.sampled_from(["a", "b", "c", ".", "a*", "b+", "(a|b)", "[ab]", "c?"])


@settings(max_examples=200, deadline=None)
@given(
    s=st.text(alphabet="abc", max_size=8),
    pat=st.lists(_sim_atom, min_size=1, max_size=5).map("".join),
)
def test_similar_to_is_anchored_regex(s, pat):
    want = _duck(f"SELECT ? SIMILAR TO '{pat}'", s)
    got = re.fullmatch(f"(?:{pat})", s) is not None
    assert got == want, (s, pat)


# ---- date_diff boundary crossings -----------------------------------------

_ts = st.datetimes(
    min_value=dt.datetime(1995, 1, 1), max_value=dt.datetime(2030, 12, 31)
).map(lambda d: d.replace(microsecond=0))


def _our_date_diff(part: str, a: dt.datetime, b: dt.datetime) -> int:
    """Python replication of the __duck_date_diff emitter formulas."""
    if part == "day":
        return (b.date() - a.date()).days
    if part == "month":
        return (b.year * 12 + b.month) - (a.year * 12 + a.month)
    if part == "year":
        return b.year - a.year
    if part == "quarter":
        qa, qb = (a.month - 1) // 3 + 1, (b.month - 1) // 3 + 1
        return (b.year * 4 + qb) - (a.year * 4 + qa)
    secs = {"hour": 3600, "minute": 60, "second": 1}[part]
    trunc = {
        "hour": lambda t: t.replace(minute=0, second=0),
        "minute": lambda t: t.replace(second=0),
        "second": lambda t: t,
    }[part]
    return int((trunc(b) - trunc(a)).total_seconds()) // secs


@settings(max_examples=200, deadline=None)
@given(
    a=_ts,
    b=_ts,
    part=st.sampled_from(["day", "month", "year", "quarter", "hour", "minute", "second"]),
)
def test_date_diff_boundary_semantics(a, b, part):
    want = _duck(f"SELECT date_diff('{part}', ?::TIMESTAMP, ?::TIMESTAMP)", a, b)
    assert _our_date_diff(part, a, b) == want, (part, a, b)


# ---- bracket expressions: list literals / subscripts / slices -------------
#
# The bracket tokenizer is pure string surgery (constructor vs subscript by
# context) and round 5 found two context bugs in it — so drive it with
# generated expressions evaluated in BOTH engines.

_lists = st.sampled_from(["[1, 2, 3]", "[4, 5]", "['a', 'b', 'c']", "[10]"])
_ints = st.integers(min_value=-1, max_value=5)


@st.composite
def _bracket_expr(draw):
    base = draw(_lists)
    form = draw(st.sampled_from(["lit", "sub", "slice", "len", "concat", "comp"]))
    if form == "lit":
        return base
    if form == "sub":
        return f"{base}[{draw(_ints)}]"
    if form == "slice":
        a, b = draw(_ints), draw(_ints)
        return f"{base}[{a}:{b}]"
    if form == "len":
        return f"len({base})"
    if form == "concat":
        other = draw(_lists)
        if ("'" in base) != ("'" in other):
            other = base
        return f"list_concat({base}, {other})"
    # comprehension over int lists only
    ibase = draw(st.sampled_from(["[1, 2, 3]", "[4, 5]", "[10]"]))
    return f"[x * 2 FOR x IN {ibase} IF x > {draw(_ints)}]"


@pytest.fixture(scope="module")
def _duck_spark(spark):
    return con, spark


@settings(max_examples=60, deadline=None)
@given(expr=_bracket_expr())
def test_bracket_expressions_match_duckdb(expr, _duck_spark):
    from duckdb_service_spark.service.dialect import translate

    duck, spark = _duck_spark
    want = duck.execute(f"SELECT {expr} AS r").fetchone()[0]
    got = spark.sql(translate(f"SELECT {expr} AS r")).collect()[0].r
    assert got == want, (expr, translate(f"SELECT {expr} AS r"))


# ---- closed-form ntile (plans/textops.py bucket arithmetic) ---------------


@settings(max_examples=150, deadline=None)
@given(n=st.integers(min_value=1, max_value=400), k=st.integers(min_value=1, max_value=7))
def test_closed_form_ntile_matches_duckdb(n, k):
    """The prefix-sum bucket formula (used instead of a single-partition
    ntile window) must equal DuckDB's ntile for every (row, N, k)."""
    want = [
        r[0]
        for r in con.execute(
            f"SELECT ntile({k}) OVER (ORDER BY i) FROM range({n}) t(i) ORDER BY i"
        ).fetchall()
    ]
    base, rem = n // k, n % k
    got = []
    for rn in range(1, n + 1):
        if rn <= rem * (base + 1):
            got.append((rn + base) // (base + 1))
        else:
            got.append(rem + (rn - rem * (base + 1) + base - 1) // base)
    assert got == want, (n, k)


# ---- integral CAST rounds half away from zero (r06) ------------------------


@settings(max_examples=150, deadline=None)
@given(x=st.floats(min_value=-1e6, max_value=1e6, allow_nan=False))
def test_int_cast_double_rounding_matches_duckdb(x):
    """Non-literal (double) operands: the BROUND/HALF_EVEN emit must agree
    with DuckDB's CAST(double AS INTEGER)."""
    import decimal as _d

    want = _duck("SELECT CAST(CAST(? AS DOUBLE) AS INTEGER)", float(x))
    got = int(
        _d.Decimal(float(x)).quantize(_d.Decimal(1), rounding=_d.ROUND_HALF_EVEN)
    )
    assert got == want, (x, got, want)


@settings(max_examples=100, deadline=None)
@given(
    whole=st.integers(min_value=-9999, max_value=9999),
    frac=st.integers(min_value=0, max_value=999),
)
def test_int_cast_literal_decimal_rounding_matches_duckdb(whole, frac):
    """Literal decimal operands: the ROUND/HALF_UP emit must agree with
    DuckDB's CAST(decimal AS INTEGER) (half away from zero)."""
    import decimal as _d

    lit = f"{whole}.{frac:03d}"
    want = _duck(f"SELECT CAST({lit} AS INTEGER)")
    got = int(
        _d.Decimal(lit).quantize(_d.Decimal(1), rounding=_d.ROUND_HALF_UP)
    )
    assert got == want, (lit, got, want)


# ---- r11: cast-body scanners vs adversarial quoted literals ----------------


@settings(max_examples=300, deadline=None)
@given(content=st.text(alphabet="ab'() ASc<>,", max_size=14))
def test_top_level_as_survives_doubled_quotes(content):
    """_top_level_as splits a cast body at the LAST top-level ' AS ' —
    doubled '' escapes, stray parens/angles, and ' AS ' INSIDE the
    literal must not shift the split (VERDICT r10 task 6)."""
    from duckdb_service_spark.service.dialect import _cast_as_at as _top_level_as

    lit = "'" + content.replace("'", "''") + "'"
    body = lit + " AS INTEGER"
    assert _top_level_as(body) == len(lit), body


@settings(max_examples=300, deadline=None)
@given(content=st.text(alphabet="ab' ASc,", max_size=10))
def test_src_class_string_literal_with_quotes(content):
    """_src_class must classify ANY doubled-quote-escaped literal as a
    string source (a misparse silently skips the error contract)."""
    from duckdb_service_spark.service.sql_routing import _src_class

    lit = "'" + content.replace("'", "''") + "'"
    cls, _ = _src_class(lit, {})
    assert cls == "string", lit
