"""SQL-surface routing for DuckDB constructs Spark SQL lacks.

The reference accepts these verbatim (full passthrough to the linked DuckDB,
db/db.go:70); Spark SQL has no ASOF JOIN / WITH RECURSIVE / ``* REPLACE``,
so the common statement shapes are parsed here and routed to the engine's
DataFrame operators (operators/asof.py, operators/recursive.py) or resolved
against the actual relation schema. Shapes outside the supported grammar
still raise UnsupportedDialect with the construct named — never a silent
wrong answer.

Each ``route_*`` function returns a DataFrame when it handled the statement
and None when the statement does not contain its construct.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Callable
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dialect import _FROM_KW_RE, UnsupportedDialect, _cast_as_at
from .sqltext import (
    MASKED_RE,
    close_of,
    find_top,
    iter_top,
    literal_mask,
    open_of,
    split_literals,
    split_top,
    strip_outer_parens,
)

Resolver = Callable[[str], DataFrame]
Translate = Callable[[str], str]


def _code_only(sql: str) -> str:
    return "".join(chunk for is_lit, chunk in split_literals(sql) if not is_lit)


_AND_RE = re.compile(r"\s+AND\s+", re.IGNORECASE)


# --------------------------------------------------------------------------
# ASOF JOIN
# --------------------------------------------------------------------------

_ASOF_RE = re.compile(
    r"^(?P<head>SELECT\s+.+?)\s+FROM\s+"
    r"(?P<lt>\w+)(?:\s+(?:AS\s+)?(?!ASOF\b)(?P<la>\w+))?\s+"
    r"ASOF\s+(?P<left>LEFT\s+)?JOIN\s+"
    r"(?P<rt>\w+)(?:\s+(?:AS\s+)?(?!ON\b)(?P<ra>\w+))?\s+"
    r"ON\s+(?P<cond>.+?)"
    r"(?P<tail>\s+(?:WHERE|GROUP\s+BY|ORDER\s+BY|LIMIT|QUALIFY)\b.*)?$",
    re.IGNORECASE | re.DOTALL,
)

_EQ_RE = re.compile(r"^(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)$")
_INEQ_RE = re.compile(r"^(\w+)\.(\w+)\s*(>=|<=)\s*(\w+)\.(\w+)$")


def route_asof_join(
    spark: SparkSession, sql: str, resolve: Resolver, translate: Translate
) -> DataFrame | None:
    """Route ``SELECT ... FROM l [la] ASOF [LEFT] JOIN r [ra] ON l.k = r.k
    AND l.ts >= r.ts [WHERE/GROUP/ORDER/LIMIT ...]`` to operators.asof.

    The matched right timestamp comes back under the right column's own name
    (DuckDB semantics: selecting r.ts yields the matched value). Equality
    keys must share a column name on both sides (the overwhelmingly common
    shape); anything else raises UnsupportedDialect.
    """
    if not re.search(r"\bASOF\s+(LEFT\s+)?JOIN\b", _code_only(sql), re.IGNORECASE):
        return None
    from ..operators.asof import asof_join

    m = _ASOF_RE.match(sql.strip().rstrip(";"))
    if not m:
        raise UnsupportedDialect(
            "ASOF JOIN: only the single-join shape "
            "'SELECT ... FROM l ASOF [LEFT] JOIN r ON ... [trailing clauses]' is routable"
        )
    lt, la = m.group("lt"), m.group("la") or m.group("lt")
    rt, ra = m.group("rt"), m.group("ra") or m.group("rt")
    side = {la.lower(): "l", rt.lower(): "r", lt.lower(): "l", ra.lower(): "r"}

    on_keys: list[str] = []
    ineq = None
    for part in split_top(m.group("cond"), _AND_RE):
        eq = _EQ_RE.match(part)
        if eq:
            a_al, a_col, b_al, b_col = eq.groups()
            if side.get(a_al.lower()) == side.get(b_al.lower()):
                raise UnsupportedDialect("ASOF JOIN: equality must join the two sides")
            lcol, rcol = (a_col, b_col) if side[a_al.lower()] == "l" else (b_col, a_col)
            if lcol != rcol:
                raise UnsupportedDialect(
                    f"ASOF JOIN: equality keys must share a name ({lcol} vs {rcol})"
                )
            on_keys.append(lcol)
            continue
        iq = _INEQ_RE.match(part)
        if iq:
            a_al, a_col, op, b_al, b_col = iq.groups()
            # normalize to l.ts >= r.ts
            if op == "<=":
                a_al, a_col, b_al, b_col = b_al, b_col, a_al, a_col
            if side.get(a_al.lower()) != "l" or side.get(b_al.lower()) != "r":
                raise UnsupportedDialect("ASOF JOIN: inequality must be left.ts >= right.ts")
            if ineq is not None:
                raise UnsupportedDialect("ASOF JOIN: exactly one inequality supported")
            ineq = (a_col, b_col)
            continue
        raise UnsupportedDialect(f"ASOF JOIN: unparsable ON term {part!r}")
    if ineq is None:
        raise UnsupportedDialect("ASOF JOIN requires an inequality condition")
    left_ts, right_ts = ineq

    left, right = resolve(lt), resolve(rt)
    payload = [c for c in right.columns if c not in on_keys]
    head, tail = m.group("head"), m.group("tail") or ""
    if "*" not in head:
        # prune the carried payload struct to columns the statement actually
        # references — the struct rides through a window last(); unreferenced
        # fields are pure shuffle weight (VERDICT r02 perf note)
        referenced = set(re.findall(r"\w+", _code_only(head + " " + tail)))
        payload = [c for c in payload if c == right_ts or c in referenced]
    dup = (set(payload) - {right_ts}) & {c for c in left.columns if c not in on_keys}
    if dup:
        raise UnsupportedDialect(
            f"ASOF JOIN: right column(s) {sorted(dup)} collide with left column "
            "names; alias them apart before the join"
        )
    out = asof_join(
        left,
        right,
        on=on_keys,
        left_ts=left_ts,
        right_ts=right_ts,
        right_payload=payload,
        how="left" if m.group("left") else "inner",
    )
    # expose the matched right ts under its own name when it doesn't collide
    if right_ts not in out.columns:
        out = out.withColumn(right_ts, F.col("asof_ts"))

    view = "__asof_routed"
    out.createOrReplaceTempView(view)
    rewritten = f"{head} FROM {view} {tail}"
    # r.<ts> means the MATCHED right timestamp (DuckDB semantics) — which
    # the operator exposes as asof_ts; then flatten remaining qualifiers.
    # Both substitutions are literal-aware: a string literal containing
    # "v.ts" or "c." must survive verbatim.
    from .dialect import _rewrite_code

    def _flatten(code: str) -> str:
        for al in {ra, rt}:
            code = re.sub(rf"\b{al}\.{right_ts}\b", "asof_ts", code)
        for al in {la, ra, lt, rt}:
            code = re.sub(rf"\b{al}\.", "", code)
        return code

    return spark.sql(translate(_rewrite_code(rewritten, _flatten)))


# --------------------------------------------------------------------------
# WITH RECURSIVE
# --------------------------------------------------------------------------

_REC_RE = re.compile(
    r"^WITH\s+RECURSIVE\s+(?P<name>\w+)\s*(?:\((?P<cols>[^)]*)\))?\s+AS\s*\(",
    re.IGNORECASE,
)
_UNION_ALL_RE = re.compile(r"\bUNION\s+ALL\b", re.IGNORECASE)


def route_with_recursive(
    spark: SparkSession, sql: str, translate: Translate
) -> DataFrame | None:
    """Route linear-recursion CTEs — ``WITH RECURSIVE t[(cols)] AS (seed
    UNION ALL step) outer`` — to operators.recursive.recursive_union.

    The step is re-analyzed against a temp view holding the current frontier
    each iteration (frontier-only recursion, the SQL-standard linear form).
    UNION (set) recursion is not routed: its termination contract needs an
    anti-join against the accumulated set, which the caller must express.
    """
    stripped = sql.strip().rstrip(";")
    m = _REC_RE.match(stripped)
    if m is None:
        if re.search(r"\bWITH\s+RECURSIVE\b", _code_only(stripped), re.IGNORECASE):
            raise UnsupportedDialect("WITH RECURSIVE: unparsable header")
        return None
    from ..operators.recursive import recursive_union

    name = m.group("name")
    cols = [c.strip() for c in (m.group("cols") or "").split(",") if c.strip()]

    i = close_of(stripped, m.end() - 1)
    if i == -1:
        raise UnsupportedDialect("WITH RECURSIVE: unbalanced CTE body")
    body, outer = stripped[m.end() : i - 1], stripped[i:].strip()

    # a seed that is itself a parenthesized UNION ALL, or the words inside
    # a literal, must not split the CTE body
    splits = list(iter_top(body, _UNION_ALL_RE))
    if len(splits) != 1:
        raise UnsupportedDialect(
            "WITH RECURSIVE: only 'seed UNION ALL step' linear recursion with "
            "exactly one top-level UNION ALL is routable (parenthesize a "
            "multi-branch seed)"
        )
    seed_sql, step_sql = body[: splits[0].start()], body[splits[0].end() :]

    seed = spark.sql(translate(seed_sql))
    if cols:
        seed = seed.toDF(*cols)

    def step(frontier: DataFrame) -> DataFrame:
        frontier.createOrReplaceTempView(name)
        out = spark.sql(translate(step_sql))
        return out.toDF(*cols) if cols else out.toDF(*frontier.columns)

    result = recursive_union(seed, step)
    result.createOrReplaceTempView(name)
    return spark.sql(translate(outer))


# --------------------------------------------------------------------------
# SELECT * REPLACE
# --------------------------------------------------------------------------

_REPLACE_RE = re.compile(r"^(?P<pre>SELECT\s+\*\s+)REPLACE\s*\(", re.IGNORECASE | re.DOTALL)


def route_star_replace(
    spark: SparkSession, sql: str, translate: Translate
) -> DataFrame | None:
    """``SELECT * REPLACE (expr AS col, ...) FROM rest`` — resolved against
    the actual schema of ``SELECT * FROM rest`` so column order is preserved
    exactly as DuckDB preserves it (replaced columns stay in place)."""
    stripped = sql.strip().rstrip(";")
    m = _REPLACE_RE.match(stripped)
    if m is None:
        return None
    i = close_of(stripped, m.end() - 1)
    if i == -1:
        raise UnsupportedDialect("SELECT * REPLACE: unbalanced parentheses")
    repl_body, rest = stripped[m.end() : i - 1], stripped[i:].strip()

    repl: dict[str, str] = {}
    for item in split_top(repl_body):
        im = re.match(r"^(.*)\s+AS\s+(\w+)$", item.strip(), re.IGNORECASE | re.DOTALL)
        if not im:
            raise UnsupportedDialect(f"SELECT * REPLACE: item needs 'expr AS col': {item!r}")
        repl[im.group(2).lower()] = im.group(1).strip()

    base = spark.sql(translate(f"SELECT * {rest}"))
    missing = [c for c in repl if c not in {x.lower() for x in base.columns}]
    if missing:
        raise UnsupportedDialect(f"SELECT * REPLACE: unknown column(s) {missing}")
    return base.select(
        *[
            F.expr(translate(repl[c.lower()])).alias(c) if c.lower() in repl else F.col(c)
            for c in base.columns
        ]
    )


# --------------------------------------------------------------------------
# read_parquet / read_csv_auto / read_json_auto table functions
# --------------------------------------------------------------------------
#
# DuckDB's most common ad-hoc idiom (reference reach: full passthrough,
# db/db.go:70): `SELECT ... FROM read_parquet('glob')`. Spark has no table
# functions over paths in SQL, but its readers accept the same glob syntax —
# so each call is replaced by a temp view over spark.read.<fmt>(...).  File
# listing, partition discovery, and scan parallelism are all Spark-side; at
# 100 TB a glob over an object store resolves to a distributed file-source
# scan with pushdown intact (the view is a plain DataFrame, not materialized).

_READ_FN_RE = re.compile(
    r"\b(read_parquet|parquet_scan|read_csv_auto|read_csv|read_json_auto|"
    r"read_json|read_ndjson_auto|read_text|read_blob|glob|"
    r"parquet_schema|parquet_file_metadata|parquet_metadata)\s*\(",
    re.IGNORECASE,
)

# DuckDB reader option -> Spark DataFrameReader option (None = accepted no-op)
_CSV_OPTIONS = {
    "header": "header",
    "delim": "delimiter",
    "sep": "delimiter",
    "quote": "quote",
    "escape": "escape",
    "nullstr": "nullValue",
    "compression": "compression",
    "sample_size": None,
    "ignore_errors": "mode",  # true -> DROPMALFORMED
    "all_varchar": "inferSchema",  # true -> inferSchema=false
    "dateformat": "dateFormat",
    "timestampformat": "timestampFormat",
}
_JSON_OPTIONS = {
    "compression": "compression",
    "ignore_errors": "mode",
    "format": None,  # 'array'/'newline_delimited' — handled via multiLine
    "maximum_object_size": None,
    "sample_size": None,
}


def _parse_read_args(inner: str) -> tuple[list[str], dict[str, str]]:
    """First positional arg is a path literal or ['p1','p2'] list; the rest
    are DuckDB-style key=value options."""
    items = split_top(inner)
    if not items or not items[0].strip():
        raise UnsupportedDialect("read_*: missing path argument")
    first = items[0].strip()
    lm = re.match(r"^\[(.*)\]$", first, re.DOTALL)
    if lm:
        paths = [p.strip().strip("'") for p in lm.group(1).split(",") if p.strip()]
    else:
        pm = re.match(r"^'((?:[^']|'')*)'$", first)
        if not pm:
            raise UnsupportedDialect(
                f"read_*: path must be a string literal or list of literals, got {first!r}"
            )
        paths = [pm.group(1).replace("''", "'")]
    opts: dict[str, str] = {}
    for item in items[1:]:
        om = re.match(r"^(\w+)\s*:?=\s*(.+)$", item.strip(), re.DOTALL)
        if not om:
            raise UnsupportedDialect(f"read_*: unparsable option {item!r}")
        opts[om.group(1).lower()] = om.group(2).strip().strip("'").lower()
    return paths, opts


def _reader_for(spark: SparkSession, fn: str, paths: list[str], opts: dict[str, str]):
    fn = fn.lower()
    if fn in ("read_parquet", "parquet_scan"):
        for k in opts:
            if k not in ("hive_partitioning", "union_by_name", "filename", "compression"):
                raise UnsupportedDialect(f"read_parquet: unsupported option {k!r}")
        reader = spark.read
        if opts.get("union_by_name") == "true":
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*paths)
        if opts.get("filename") == "true":
            df = df.withColumn("filename", F.input_file_name())
        return df
    if fn in ("parquet_schema", "parquet_file_metadata", "parquet_metadata"):
        # parquet introspection TVFs: footer-only reads (the same bounded
        # work DuckDB does), one pyarrow metadata fetch per matched file
        import glob as _glob

        import pyarrow.parquet as _pq

        files = sorted(f for p in paths for f in _glob.glob(p))
        if not files:
            raise UnsupportedDialect(f"{fn}: no files match {paths!r}")
        if fn == "parquet_file_metadata":
            rows = []
            for f in files:
                md = _pq.ParquetFile(f).metadata
                ver = re.sub(r"[^\d].*", "", str(md.format_version)) or "0"
                rows.append(
                    (f, md.created_by, md.num_rows, md.num_row_groups,
                     int(ver), None, None)
                )
            return spark.createDataFrame(
                rows,
                "file_name string, created_by string, num_rows long, "
                "num_row_groups long, format_version long, "
                "encryption_algorithm string, footer_signing_key_metadata string",
            )
        if fn == "parquet_schema":
            rows = []
            for f in files:
                sch = _pq.ParquetFile(f).metadata.schema
                rows.append((f, "schema", None, None, "REQUIRED",
                             len(sch), None, None, None, None, None))
                for i in range(len(sch)):
                    c = sch.column(i)
                    rows.append(
                        (f, c.name, c.physical_type, None,
                         "OPTIONAL" if c.max_definition_level else "REQUIRED",
                         None,
                         None if c.converted_type in (None, "NONE")
                         else str(c.converted_type),
                         None, None, None,
                         None if str(c.logical_type) == "None"
                         else str(c.logical_type))
                    )
            return spark.createDataFrame(
                rows,
                "file_name string, name string, type string, "
                "type_length string, repetition_type string, "
                "num_children long, converted_type string, scale long, "
                "precision long, field_id long, logical_type string",
            )
        rows = []
        for f in files:
            md = _pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    st = c.statistics
                    rows.append(
                        (f, rg, ci, c.path_in_schema, c.num_values,
                         str(st.min) if st and st.has_min_max else None,
                         str(st.max) if st and st.has_min_max else None,
                         st.null_count if st else None,
                         c.total_compressed_size, c.total_uncompressed_size,
                         str(c.compression))
                    )
        return spark.createDataFrame(
            rows,
            "file_name string, row_group_id long, column_id long, "
            "path_in_schema string, num_values long, stats_min_value string, "
            "stats_max_value string, stats_null_count long, "
            "total_compressed_size long, total_uncompressed_size long, "
            "compression string",
        )
    if fn in ("read_text", "read_blob", "glob"):
        # file TVFs (measured DuckDB 1.x shapes): read_text/read_blob yield
        # (filename, content, size, last_modified) with content as
        # VARCHAR/BLOB; glob yields (file). All three map onto Spark's
        # binaryFile source — a distributed scan (one task per file split),
        # not a driver-side listing.
        if opts:
            raise UnsupportedDialect(f"{fn}: options not supported")
        df = spark.read.format("binaryFile").load(list(paths))
        # Spark reports URIs (file:/x); DuckDB reports plain paths
        path = F.regexp_replace(F.col("path"), "^file:", "")
        if fn == "glob":
            return df.select(path.alias("file")).orderBy("file")
        content = (
            F.col("content").cast("string").alias("content")
            if fn == "read_text"
            else F.col("content")
        )
        return df.select(
            path.alias("filename"),
            content,
            F.col("length").alias("size"),
            F.col("modificationTime").alias("last_modified"),
        )
    if fn in ("read_csv_auto", "read_csv"):
        reader = spark.read.option("header", "true").option("inferSchema", "true")
        for k, v in opts.items():
            if k not in _CSV_OPTIONS:
                raise UnsupportedDialect(f"{fn}: unsupported option {k!r}")
            mapped = _CSV_OPTIONS[k]
            if mapped is None:
                continue
            if k == "ignore_errors":
                reader = reader.option("mode", "DROPMALFORMED" if v == "true" else "FAILFAST")
            elif k == "all_varchar":
                reader = reader.option("inferSchema", "false" if v == "true" else "true")
            else:
                reader = reader.option(mapped, v)
        return reader.csv(*paths)
    # json family: Spark's json reader is newline-delimited by default,
    # matching read_ndjson_auto; format='array' maps to multiLine
    reader = spark.read
    for k, v in opts.items():
        if k not in _JSON_OPTIONS:
            raise UnsupportedDialect(f"{fn}: unsupported option {k!r}")
        if k == "format":
            reader = reader.option("multiLine", "true" if v == "array" else "false")
        elif k == "ignore_errors":
            reader = reader.option("mode", "DROPMALFORMED" if v == "true" else "FAILFAST")
        elif _JSON_OPTIONS[k]:
            reader = reader.option(_JSON_OPTIONS[k], v)
    return reader.json(*paths)


_BARE_PATH_EXT = {
    "parquet": "read_parquet",
    "pq": "read_parquet",
    "csv": "read_csv_auto",
    "tsv": "read_csv_auto",
    "json": "read_json_auto",
    "jsonl": "read_json_auto",
    "ndjson": "read_json_auto",
}


# Keywords that terminate a FROM clause at the current nesting depth.
_FROM_EXIT_WORDS = frozenset(
    "where group order having limit offset window qualify union except "
    "intersect select on using set when then values".split()
)


def _rewrite_bare_path_from(sql: str) -> str:
    """DuckDB's bare-path relation (`SELECT * FROM 'data.parquet'`) →
    the equivalent read_* call, which the routing below materializes.

    Position-aware: a literal rewrites only when it sits in a FROM-clause
    relation slot (after FROM/JOIN or a FROM-clause comma at the same
    nesting depth). Ordinary string literals that merely end in a known
    extension — select-list items, IN-list members, function arguments —
    stay untouched, as do COPY/EXPORT/IMPORT statements (different
    grammar, handled upstream)."""
    head = sql.lstrip()[:10].upper()
    if head.startswith(("COPY", "EXPORT", "IMPORT")):
        return sql
    exts = "|".join(_BARE_PATH_EXT)
    path_re = re.compile(rf"[^']+\.({exts})", re.IGNORECASE)
    word_re = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")
    out: list[str] = []
    i, n = 0, len(sql)
    in_from = [False]  # one flag per paren depth
    while i < n:
        ch = sql[i]
        if ch == "'":
            m = re.compile(r"'(?:[^']|'')*'").match(sql, i)
            if m is None:  # unterminated literal — emit rest verbatim
                out.append(sql[i:])
                break
            body = m.group(0)[1:-1]
            pm = path_re.fullmatch(body)
            if pm is not None and in_from[-1] and "''" not in body:
                out.append(f"{_BARE_PATH_EXT[pm.group(1).lower()]}('{body}')")
            else:
                out.append(m.group(0))
            i = m.end()
            continue
        if ch == "(":
            in_from.append(False)
            out.append(ch)
            i += 1
            continue
        if ch == ")":
            if len(in_from) > 1:
                in_from.pop()
            out.append(ch)
            i += 1
            continue
        wm = word_re.match(sql, i)
        if wm is not None:
            w = wm.group(0).lower()
            if w in ("from", "join"):
                in_from[-1] = True
            elif w in _FROM_EXIT_WORDS:
                in_from[-1] = False
            out.append(wm.group(0))
            i = wm.end()
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def rewrite_read_files(spark: SparkSession, sql: str) -> str:
    """Replace every read_* table-function call with a temp view over the
    corresponding spark.read — returns the rewritten SQL (unchanged when no
    read_* call is present). Literal-aware: a call inside a string survives."""
    sql = _rewrite_bare_path_from(sql)
    if not _READ_FN_RE.search(_code_only(sql)):
        return sql
    out, pos, n = [], 0, 0
    while True:
        mask = literal_mask(sql)
        m = next(
            (c for c in _READ_FN_RE.finditer(sql, pos) if not mask[c.start()]),
            None,
        )
        if m is None:
            break
        i = close_of(sql, m.end() - 1)
        if i == -1:
            raise UnsupportedDialect(f"{m.group(1)}: unbalanced parentheses")
        paths, opts = _parse_read_args(sql[m.end() : i - 1])
        df = _reader_for(spark, m.group(1), paths, opts)
        view = f"__readfn_{n}"
        n += 1
        df.createOrReplaceTempView(view)
        sql = sql[: m.start()] + view + sql[i:]
        pos = m.start() + len(view)
    out.append(sql)
    return "".join(out)


# --------------------------------------------------------------------------
# FROM-first statements (DuckDB 1.x sugar; reference reach: db/db.go:70)
# --------------------------------------------------------------------------

_CLAUSE_KW_RE = re.compile(
    r"\b(WHERE|GROUP|HAVING|ORDER|LIMIT|OFFSET|QUALIFY|WINDOW|UNION|INTERSECT|EXCEPT)\b",
    re.IGNORECASE,
)


_SELECT_RE = re.compile(r"\bSELECT\b", re.IGNORECASE)


_SERIES_TVF_RE = re.compile(
    r"\b(FROM|JOIN)(\s+)(generate_series|range)\s*\(", re.IGNORECASE
)


def rewrite_series_tvf(sql: str) -> str:
    """FROM-position series table functions (measured DuckDB 1.x shapes):

    - ``FROM generate_series([start,] stop [, step])`` — INCLUSIVE bounds,
      output column named ``generate_series``; 1-arg form starts at 0;
      mismatched direction without a matching step is an error (Spark's
      ``sequence`` errors identically at runtime).
    - ``FROM range([start,] stop [, step])`` — EXCLUSIVE stop, column
      ``range``; emitted as the inclusive sequence with the stop value
      filtered back out (works uniformly for integers AND
      timestamp+interval series, positive and negative steps).

    Scalar-position ``generate_series(...)`` (DuckDB's LIST-returning
    form) is untouched — only occurrences directly after FROM/JOIN
    rewrite, so trailing aliases (``AS g(x)``) keep working against the
    emitted subquery. At scale explode(sequence(...)) is a single-task
    generator per series — the same shape Spark's own ``range()`` TVF
    uses; series meant to parallelize should go through
    ``spark.range``-backed relations (plans/relational.py) instead."""
    out = []
    i = 0
    while True:
        m = _SERIES_TVF_RE.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        fn = m.group(3).lower()
        open_at = m.end()
        j = close_of(sql, open_at - 1)
        if j == -1:
            raise UnsupportedDialect(f"{fn}: unbalanced parentheses")
        inner = rewrite_series_tvf(sql[open_at : j - 1])
        args = split_top(inner)
        if all(re.match(r"^-?\d+$", a) for a in args):
            # DuckDB's integer series are BIGINT columns; Spark's
            # sequence over int literals yields INT (measured r12)
            args = [f"CAST({a} AS BIGINT)" for a in args]
        if fn == "generate_series":
            a, b, s = (
                ("0", args[0], "1")
                if len(args) == 1
                else (args[0], args[1], args[2] if len(args) > 2 else "1")
            )
            sub = (
                f"(SELECT explode(sequence({a}, {b}, {s}))"
                f" AS generate_series)"
            )
        else:
            a, b, s = (
                ("0", args[0], "1")
                if len(args) == 1
                else (args[0], args[1], args[2] if len(args) > 2 else "1")
            )
            sub = (
                f"(SELECT * FROM (SELECT explode(sequence({a}, {b}, {s}))"
                f" AS range) WHERE range != ({b}))"
            )
        out.append(sql[i : m.start()])
        out.append(f"{m.group(1)}{m.group(2)}{sub}")
        i = j
    return "".join(out)


def rewrite_from_first(sql: str) -> str:
    """DuckDB FROM-first sugar → standard clause order (verified grammar:
    ``FROM <rel> [SELECT <list>] [WHERE/GROUP/ORDER/...]``; the SELECT
    clause, when present, sits between FROM and the other clauses).

    ``FROM t``                      → ``SELECT * FROM t``
    ``FROM t WHERE p``              → ``SELECT * FROM t WHERE p``
    ``FROM t SELECT a WHERE p``     → ``SELECT a FROM t WHERE p``
    """
    s = sql.strip().rstrip(";")
    if not re.match(r"^FROM\b", s, re.IGNORECASE):
        return sql
    sm = find_top(s, _SELECT_RE)
    if sm is None:
        return f"SELECT * {s}"
    from_part = s[: sm.start()].strip()     # "FROM <rel>"
    rest = s[sm.end() :].strip()            # "<list> [clauses]"
    cm = find_top(rest, _CLAUSE_KW_RE)
    if cm is None:
        return f"SELECT {rest} {from_part}"
    return f"SELECT {rest[: cm.start()].strip()} {from_part} {rest[cm.start():]}"


# --------------------------------------------------------------------------
# COLUMNS() star expression (reference reach: db/db.go:70)
# --------------------------------------------------------------------------
#
# DuckDB's COLUMNS('regex') / COLUMNS(*) / COLUMNS(* EXCLUDE (...)) expands
# a select-list item into one copy per matching column, with the enclosing
# expression replicated around each (`SELECT min(COLUMNS(*)) FROM t` → one
# min per column, result columns keeping the bare column names). Verified
# against DuckDB 1.x: the regex uses SEARCH semantics ('b' matches ab, bd,
# xab), and an explicit alias containing \0 substitutes the column name.
# Schema-resolved textual expansion — the result is plain SQL, so pushdown /
# pruning / whole-stage codegen are untouched.

_COLUMNS_RE = re.compile(r"\bCOLUMNS\s*\(", re.IGNORECASE)


def _columns_matching(
    arg: str,
    cols: list[str],
    spark: "SparkSession | None" = None,
    translate: "Translate | None" = None,
) -> list[str]:
    arg = arg.strip()
    lm = re.match(r"^([A-Za-z_]\w*)\s*->\s*(.+)$", arg, re.DOTALL)
    if lm and spark is not None and translate is not None:
        # lambda form (DuckDB 1.2: COLUMNS(c -> predicate over the NAME)) —
        # evaluate the user's predicate verbatim over the literal name
        # array with Spark's filter() HOF, through translate so DuckDB
        # function names inside the body resolve; order preserved
        arr = ", ".join("'" + c.replace("'", "''") + "'" for c in cols)
        probe = f"SELECT filter(array({arr}), {lm.group(1)} -> {lm.group(2)}) AS m"
        matched = list(spark.sql(translate(probe)).collect()[0][0])
        if not matched:
            raise UnsupportedDialect(
                "COLUMNS: lambda matched no columns (DuckDB raises here too)"
            )
        return matched
    if arg.startswith("*"):
        excl: set[str] = set()
        em = re.match(r"^\*\s+EXCLUDE\s*\(([^)]*)\)$", arg, re.IGNORECASE)
        if em:
            excl = {c.strip().strip('"').lower() for c in em.group(1).split(",")}
        elif arg != "*":
            raise UnsupportedDialect(f"COLUMNS: unsupported argument {arg!r}")
        return [c for c in cols if c.lower() not in excl]
    sm = re.match(r"^'((?:[^']|'')*)'$", arg)
    if sm:
        pat = re.compile(sm.group(1).replace("''", "'"))
        return [c for c in cols if pat.search(c)]
    raise UnsupportedDialect(
        f"COLUMNS: unsupported argument {arg!r} (use *, * EXCLUDE, or a 'regex')"
    )


def rewrite_columns_expr(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """Expand COLUMNS(...) select-list items against the FROM relation's
    actual schema; returns the rewritten SQL (unchanged when absent)."""
    stripped = sql.strip().rstrip(";")
    if not _COLUMNS_RE.search(_code_only(stripped)):
        return sql
    hm = re.match(r"^SELECT\s+(?:DISTINCT\s+)?", stripped, re.IGNORECASE)
    if not hm:
        return sql
    body = stripped[hm.end() :]
    fm = find_top(body, _FROM_KW_RE)
    if fm is None:
        raise UnsupportedDialect("COLUMNS() requires a FROM clause to resolve against")
    select_list, rest = body[: fm.start()], body[fm.start() :]
    # schema of the FROM relation alone (clauses after it don't change it)
    schema = _from_schema(spark, body, translate)
    if schema is None:
        # the probe does not analyze: send it again for its error
        cm = find_top(body, _CLAUSE_KW_RE, fm.end())
        from_clause = body[fm.start() : cm.start() if cm else None]
        schema = spark.sql(translate(f"SELECT * {from_clause} LIMIT 0")).dtypes
    cols = [name for name, _ in schema]

    out_items: list[str] = []
    for item in split_top(select_list):
        item = item.strip()
        # split an optional trailing alias off the item first (the COLUMNS
        # span may sit inside an enclosing expression like min(...))
        alias_tpl = None
        am = re.search(r'\s+AS\s+(?:"([^"]*)"|(\w+))\s*$', item, re.IGNORECASE)
        expr = item
        if am:
            alias_tpl = am.group(1) if am.group(1) is not None else am.group(2)
            expr = item[: am.start()]
        mask = literal_mask(expr)
        m = next(
            (c for c in _COLUMNS_RE.finditer(expr) if not mask[c.start()]), None
        )
        if m is None:
            out_items.append(item)
            continue
        i = close_of(expr, m.end() - 1)
        if i == -1:
            raise UnsupportedDialect("COLUMNS: unbalanced parentheses")
        arg = expr[m.end() : i - 1]
        for c in _columns_matching(arg, cols, spark, translate):
            expanded = expr[: m.start()] + c + expr[i:]
            if alias_tpl is not None:
                name = alias_tpl.replace("\\0", c)
            elif expr[: m.start()].strip() or expr[i:].strip():
                # enclosing expression (e.g. min(...)): DuckDB keeps the
                # bare column name on the result
                name = c
            else:
                name = None
            out_items.append(f"{expanded} AS `{name}`" if name else expanded)
    return f"{stripped[: hm.end()]}{', '.join(out_items)} {rest}"


# --------------------------------------------------------------------------
# PIVOT / UNPIVOT statements (DuckDB's simplified forms; reference reach:
# passthrough db/db.go:70)
# --------------------------------------------------------------------------
#
# DuckDB `PIVOT t ON c [IN (..)] [USING aggs] [GROUP BY g]` is sugar for a
# conditional aggregation: agg(x) FILTER (WHERE c = value) per discovered
# value. Compiling to that SELECT keeps the whole plan inside Catalyst —
# one hash aggregate with map-side partials, no per-value scans; dynamic
# IN-list discovery is one DISTINCT scan (exactly DuckDB's own strategy).
# Semantics verified against DuckDB 1.x: count() fills 0 / sum fills NULL
# (the FILTER form reproduces both), discovered values sort ascending and
# NULL never becomes a column, multi-agg columns are named <value>_<alias>.

_PIVOT_RE = re.compile(
    r"^PIVOT\s+(?P<rel>\w+|\(.+?\))\s+ON\s+(?P<onclause>.+?)"
    r"(?:\s+USING\s+(?P<using>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<group>.+?))?"
    r"(?P<tail>\s+(?:ORDER\s+BY|LIMIT)\b.*)?$",
    re.IGNORECASE | re.DOTALL,
)

# one ON-clause item: a column, optionally with its own IN (...) list
_PIVOT_ON_ITEM_RE = re.compile(
    r"^(?P<col>\w+)(?:\s+IN\s*\((?P<inlist>.*)\))?$", re.IGNORECASE | re.DOTALL
)
_UNPIVOT_RE = re.compile(
    r"^UNPIVOT\s+(?P<rel>\w+|\(.+?\))\s+ON\s+(?P<cols>.+?)\s+"
    r"INTO\s+NAME\s+(?P<name>\w+)\s+VALUE\s+(?P<value>\w+)"
    r"(?P<tail>\s+(?:WHERE|ORDER\s+BY|LIMIT)\b.*)?$",
    re.IGNORECASE | re.DOTALL,
)

_AGG_ITEM_RE = re.compile(r"^(?P<expr>.+?)(?:\s+AS\s+(?P<alias>\w+))?$", re.IGNORECASE | re.DOTALL)


# FROM-relation schemas probed while one statement compiles, keyed by the
# FROM clause; None outside a memoized call
_FROM_PROBES: ContextVar[dict | None] = ContextVar("_FROM_PROBES", default=None)


def memoize_from_probes(fn):
    """Run ``fn`` with a fresh memo of ``_from_schema`` probes, so the
    passes of one statement that ask for the same FROM relation send one
    probe. The memo ends with the call: temp views change between
    statements, and a nested call gets a memo of its own."""

    @functools.wraps(fn)
    def memoized(*args, **kwargs):
        token = _FROM_PROBES.set({})
        try:
            return fn(*args, **kwargs)
        finally:
            _FROM_PROBES.reset(token)

    return memoized


def _from_schema(spark, stripped: str, translate: Translate):
    """(name, dtype) pairs of the statement's FROM relation, resolved by
    running ``SELECT * FROM ... LIMIT 0`` (the route_star_replace /
    COLUMNS() trick); None when there is no FROM or it doesn't resolve
    standalone (e.g. a TVF a later routing pass handles)."""
    fm = find_top(stripped, _FROM_KW_RE)
    if fm is None:
        return None
    cm = find_top(stripped, _CLAUSE_KW_RE, fm.end())
    from_clause = stripped[fm.start() : cm.start() if cm else None]
    memo = _FROM_PROBES.get()
    if memo is not None and from_clause in memo:
        return memo[from_clause]
    try:
        got = spark.sql(translate(f"SELECT * {from_clause} LIMIT 0")).dtypes
    except Exception:
        got = None
    if memo is not None:
        memo[from_clause] = got
    return got


_IDENT_BRACKET_RE = re.compile(r"\b([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*\[")


class _Subscript:
    __slots__ = ("start", "end", "base", "key")

    def __init__(self, start, end, base, key):
        self.start, self.end = start, end
        self.base, self.key = base, key


def _iter_subscripts(stripped: str, mask: list[bool]):
    """Yield identifier[...] subscripts with a quote- and bracket-aware
    key scan, so string keys containing ']' (``m['a]b']``) and nested
    subscripts survive intact (a bare ``[^\\[\\]]+`` key pattern truncates
    them and emits corrupted SQL)."""
    for m in _IDENT_BRACKET_RE.finditer(stripped):
        if mask[m.start()]:
            continue
        open_at = m.end() - 1
        j = close_of(stripped, open_at)
        if j == -1:
            continue
        yield _Subscript(m.start(), j, m.group(1), stripped[open_at + 1 : j - 1])


_NESTED_QUERY_OPEN_RE = re.compile(r"\(\s*(?:SELECT|WITH|FROM)\b", re.IGNORECASE)


def _nested_query_spans(stripped: str, mask: list[bool]) -> list[tuple[int, int]]:
    """Spans of parenthesized subqueries ``(SELECT ...`` / ``(WITH ...`` /
    ``(FROM ...`` — regions whose identifiers bind to their OWN FROM scope,
    so schema-driven rewrites resolved against the outer FROM must not
    touch them (a leaf-name collision would silently change semantics)."""
    spans = []
    for m in _NESTED_QUERY_OPEN_RE.finditer(stripped):
        if mask[m.start()]:
            continue
        j = close_of(stripped, m.start())
        spans.append((m.start(), len(stripped) if j == -1 else j))
    return spans


_FLOORDIV_RE = re.compile(r"//")
_FLOAT_DTYPES = ("double", "float", "decimal")


def rewrite_float_floordiv(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """DuckDB ``a // b`` is plain DOUBLE division when either operand is
    float/decimal-typed (measured; integer floor division only for
    integer operands). The dialect handles float-SHAPED operands
    (literals, casts) textually; a bare COLUMN operand's type is
    unknowable there, so this service-layer pass resolves bare-identifier
    operands against the FROM relation's schema and rewrites ``//`` to
    ``/`` when one resolves to a floating column. Unresolvable or
    integer-typed operands keep the dialect's ` div ` lowering."""
    stripped = sql.strip().rstrip(";")
    if "//" not in _code_only(stripped):
        return sql
    schema = _from_schema(spark, stripped, translate)
    if schema is None:
        return sql
    float_cols = {
        name.lower() for name, t in schema if t.startswith(_FLOAT_DTYPES)
    }
    if not float_cols:
        return sql
    ident = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?")
    out, last = [], 0
    mask = literal_mask(stripped)
    for m in _FLOORDIV_RE.finditer(stripped):
        if mask[m.start()]:
            continue
        lm = re.search(rf"({ident.pattern})\s*$", stripped[: m.start()])
        k = m.end()
        while k < len(stripped) and stripped[k].isspace():
            k += 1
        rm = ident.match(stripped, k)
        lhs_float = bool(
            lm and lm.group(1).split(".")[-1].lower() in float_cols
        )
        rhs_float = bool(
            rm and rm.group(0).split(".")[-1].lower() in float_cols
        )
        if lhs_float or rhs_float:
            out.append(stripped[last : m.start()])
            out.append("/")
            last = m.end()
    if not out:
        return sql
    out.append(stripped[last:])
    return "".join(out)


_CMP_OP_RE = re.compile(r"<=|>=|<>|!=|==|=|<|>")
_NUM_LITERAL_RE = re.compile(r"^-?\d+(?:\.\d+)?$")
_IDENT_RE_TEXT = r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?"


def rewrite_bool_compare(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """DuckDB coerces a BOOLEAN operand in mixed comparisons (measured):
    bool vs numeric orders as 0/1 (``2 < true`` FALSE, ``0 < true`` TRUE,
    ``b <= 0`` per-row), and a bool COLUMN vs a VARCHAR COLUMN compares
    as strings (``'42' = b`` on columns is FALSE, never an error). Spark
    rejects bool-vs-numeric ordering at analysis and NULLs
    bool-vs-string-column equality (casts the string side to boolean).
    The bool side is textually unknowable, so resolve bare-identifier
    operands against the FROM schema (same trick as
    rewrite_float_floordiv) and cast the BOOLEAN side: INT against
    numeric, STRING against a varchar column. Bool vs STRING LITERAL is
    left alone — DuckDB casts the literal to BOOL there, which is
    Spark's native behavior too (unparseable literals: DuckDB raises,
    Spark yields NULL — documented leniency)."""
    stripped = sql.strip().rstrip(";")
    code = _code_only(stripped)
    if (
        "<" not in code
        and ">" not in code
        and "=" not in code
        and not re.search(r"\bBETWEEN\b|\bIN\s*\(", code, re.IGNORECASE)
    ):
        return sql
    schema = _from_schema(spark, stripped, translate)
    if schema is None:
        return sql
    bool_cols = {n.lower() for n, t in schema if t == "boolean"}
    if not bool_cols:
        return sql
    num_cols = {
        n.lower()
        for n, t in schema
        if t.startswith(("tinyint", "smallint", "int", "bigint", "double",
                         "float", "decimal"))
    }
    str_cols = {n.lower() for n, t in schema if t == "string"}
    mask = literal_mask(stripped)
    nested = _nested_query_spans(stripped, mask)
    ident = re.compile(_IDENT_RE_TEXT)

    def _class(tok: str | None) -> str | None:
        if tok is None:
            return None
        leaf = tok.split(".")[-1].lower()
        if leaf in bool_cols:
            return "bool"
        if leaf in num_cols or _NUM_LITERAL_RE.match(tok):
            return "num"
        if leaf in str_cols:
            return "strcol"
        return None

    out, last = [], 0
    for m in _CMP_OP_RE.finditer(stripped):
        if mask[m.start()] or any(lo < m.start() < hi for lo, hi in nested):
            continue
        lm = re.search(rf"({_IDENT_RE_TEXT}|-?\d+(?:\.\d+)?)\s*$",
                       stripped[: m.start()])
        k = m.end()
        while k < len(stripped) and stripped[k].isspace():
            k += 1
        rm = ident.match(stripped, k) or re.compile(
            r"-?\d+(?:\.\d+)?"
        ).match(stripped, k)
        lcls, rcls = _class(lm.group(1) if lm else None), _class(
            rm.group(0) if rm else None
        )
        if "bool" not in (lcls, rcls) or lcls == rcls:
            continue
        other = rcls if lcls == "bool" else lcls
        if other == "num":
            cast_t = "INT"
        elif other == "strcol":
            cast_t = "VARCHAR"
        else:
            continue
        if lcls == "bool":
            span_lo, span_hi = lm.start(1), lm.end(1)
            tok = lm.group(1)
        else:
            span_lo, span_hi = rm.start(), rm.end()
            tok = rm.group(0)
        out.append(stripped[last:span_lo])
        out.append(f"CAST({tok} AS {cast_t})")
        last = span_hi
    if out:
        out.append(stripped[last:])
        stripped = "".join(out)
        mask = literal_mask(stripped)
        nested = _nested_query_spans(stripped, mask)
        changed = True
    else:
        changed = False

    # BETWEEN with a boolean bound or subject: DuckDB lowers it to the
    # same >=/<= pair, so the bool side coerces to 0/1 there too
    # (measured: i8 BETWEEN b AND 5 binds) — rewrite any bool-classified
    # token among (subject, lo, hi) when a numeric token is also present.
    tok_re = rf"({_IDENT_RE_TEXT}|-?\d+(?:\.\d+)?)"
    btw = re.compile(
        rf"{tok_re}\s+BETWEEN\s+{tok_re}\s+AND\s+{tok_re}", re.IGNORECASE
    )
    out, last = [], 0
    for m in btw.finditer(stripped):
        if mask[m.start()] or any(lo < m.start() < hi for lo, hi in nested):
            continue
        classes = [_class(m.group(i)) for i in (1, 2, 3)]
        if "bool" not in classes or "num" not in classes:
            continue
        out.append(stripped[last : m.start()])
        piece = stripped[m.start() : m.end()]
        for i in (3, 2, 1):  # right-to-left so spans stay valid
            if classes[i - 1] == "bool":
                lo_rel, hi_rel = (
                    m.start(i) - m.start(),
                    m.end(i) - m.start(),
                )
                piece = (
                    piece[:lo_rel]
                    + f"CAST({m.group(i)} AS INT)"
                    + piece[hi_rel:]
                )
        out.append(piece)
        last = m.end()
    if out:
        out.append(stripped[last:])
        stripped = "".join(out)
        mask = literal_mask(stripped)
        nested = _nested_query_spans(stripped, mask)
        changed = True

    # bool IN (numeric list): DuckDB casts the BOOL side to INT
    # (measured: true IN (2, 0) is FALSE — 1 != 2 — not a list-to-bool
    # cast); Spark rejects the mixed-type IN. Rewrite the subject.
    in_re = re.compile(rf"({_IDENT_RE_TEXT})\s+IN\s*\(", re.IGNORECASE)
    out, last = [], 0
    for m in in_re.finditer(stripped):
        if mask[m.start()] or any(lo < m.start() < hi for lo, hi in nested):
            continue
        if _class(m.group(1)) != "bool":
            continue
        close = close_of(stripped, m.end() - 1)
        if close == -1:
            continue
        items = stripped[m.end() : close - 1]
        if not any(
            _class(tok.strip()) == "num"
            for tok in items.split(",")
        ):
            continue
        out.append(stripped[last : m.start(1)])
        out.append(f"CAST({m.group(1)} AS INT)")
        last = m.end(1)
    if not out and not changed:
        return sql
    if out:
        out.append(stripped[last:])
        stripped = "".join(out)
    return stripped


_FRAC_LITERAL_RE = re.compile(r"^-?\d+\.\d+$")
_ARITH_OP_RE = re.compile(r"[+\-*/%]")

# ---------------------------------------------------------------------------
# CAST error-contract pass (r10, tools/sweep_casts.py findings)
# ---------------------------------------------------------------------------

_INT_RANK = {"tinyint": 0, "smallint": 1, "integer": 2, "bigint": 3}
_INT_MAX = {
    "tinyint": 127,
    "smallint": 32767,
    "integer": 2147483647,
    "bigint": 9223372036854775807,
}
_NUMERIC_CLASSES = {
    "tinyint", "smallint", "integer", "bigint",
    "decimal", "double", "float",
}
# DuckDB raises "Conversion Error: Unimplemented type for cast" for these
# (src, tgt) class pairs on NON-NULL values; TRY_CAST yields NULL
# (measured: date/timestamp <-> numeric/boolean, numeric/boolean ->
# date/timestamp; date <-> timestamp IS implemented)
_UNIMPL_SRC_TGT = [
    ({"date", "timestamp"}, _NUMERIC_CLASSES | {"boolean"}),
    (_NUMERIC_CLASSES | {"boolean"}, {"date", "timestamp"}),
]

_DUCK_INT_NAMES = {
    "tinyint": "INT8", "smallint": "INT16",
    "integer": "INT32", "bigint": "INT64",
}
_CAST_OPEN_SCAN_RE = re.compile(r"\b(TRY_CAST|CAST)\s*\(", re.IGNORECASE)
_TYPE_NORM_RE = re.compile(
    r"^(TINYINT|INT1|SMALLINT|INT2|SHORT|INTEGER|INT4|INT|SIGNED|BIGINT|"
    r"INT8|LONG|HUGEINT|DECIMAL|NUMERIC|DOUBLE|FLOAT8|FLOAT4|FLOAT|REAL|"
    r"BOOLEAN|BOOL|LOGICAL|DATE|TIMESTAMPTZ|TIMESTAMP|DATETIME|VARCHAR|"
    r"TEXT|STRING|CHAR|BPCHAR)\b",
    re.IGNORECASE,
)
_TYPE_CLASS = {
    "tinyint": "tinyint", "int1": "tinyint",
    "smallint": "smallint", "int2": "smallint", "short": "smallint",
    "integer": "integer", "int4": "integer", "int": "integer",
    "signed": "integer",
    "bigint": "bigint", "int8": "bigint", "long": "bigint",
    "hugeint": "decimal",
    "decimal": "decimal", "numeric": "decimal",
    "double": "double", "float8": "double",
    "float4": "float", "float": "float", "real": "float",
    "boolean": "boolean", "bool": "boolean", "logical": "boolean",
    "date": "date", "timestamp": "timestamp", "datetime": "timestamp",
    "timestamptz": "timestamp",
    "varchar": "string", "text": "string", "string": "string",
    "char": "string", "bpchar": "string",
}

_SRC_LITERAL_RES = [
    (re.compile(r"^DATE\s*'", re.IGNORECASE), "date"),
    (re.compile(r"^TIMESTAMP(?:TZ)?\s*'", re.IGNORECASE), "timestamp"),
    (re.compile(r"^(TRUE|FALSE)$", re.IGNORECASE), "boolean"),
    (re.compile(r"^-?\d+$"), "integer"),
    (re.compile(r"^-?\d+\.\d+$"), "decimal"),
    (re.compile(r"^-?\d*\.?\d+[eE][+-]?\d+$"), "double"),
    (re.compile(r"^'(?:[^']|'')*'$"), "string"),
]


def _decimal_units(t: str) -> "int | None":
    """Integer-digit capacity 10^(p-s) boundary of a decimal type text."""
    ps = _decimal_prec_scale(t)
    return None if ps is None else ps[0] - ps[1]


def _decimal_prec_scale(t: str) -> "tuple[int, int] | None":
    """(precision, scale) of a decimal type text; None when unparsable
    (a bare DECIMAL is (18,3) in DuckDB, but cast sources whose text is
    just the class name carry no usable bounds — callers treat None as
    'range unknowable, guard')."""
    m = re.match(r"(?:DECIMAL|NUMERIC)\s*\((\d+)\s*(?:,\s*(\d+))?\)", t,
                 re.IGNORECASE)
    if not m:
        return None
    return int(m.group(1)), int(m.group(2) or 0)


def _src_class(inner: str, schema_classes: dict) -> "tuple[str, str] | tuple[None, None]":
    """(type class, type text) of a cast's source expression — from its
    literal shape, a cast suffix, or the resolved FROM schema."""
    s = inner.strip()
    for rx, cls in _SRC_LITERAL_RES:
        if rx.match(s):
            if cls == "integer" and abs(int(s)) > _INT_MAX["integer"] and (
                abs(int(s)) <= _INT_MAX["bigint"]
            ):
                # DuckDB types an integer literal past INT32 as BIGINT
                return "bigint", "bigint"
            if cls == "decimal":
                # exact bounds from the literal's shape (DuckDB types
                # 1.999999 as DECIMAL(7,6)) so the decimal->decimal
                # lane can decide tightening precisely
                dm = re.match(r"^-?(\d+)\.(\d+)$", s)
                if dm:
                    units = len(dm.group(1).lstrip("0"))
                    scale = len(dm.group(2))
                    return cls, f"DECIMAL({max(units, 0) + scale},{scale})"
            return cls, cls
    m = re.match(r"^(?:TRY_)?CAST\s*\(.*\s+AS\s+([A-Za-z_0-9()\s,]+)\)$", s,
                 re.IGNORECASE | re.DOTALL)
    if m:
        txt = m.group(1).strip()
        tm = _TYPE_NORM_RE.match(txt)
        if tm:
            return _TYPE_CLASS.get(tm.group(1).lower()), txt
    if re.match(rf"^{_IDENT_RE_TEXT}$", s):
        got = schema_classes.get(s.split(".")[-1].lower())
        if got:
            return got
        return None, None
    m = re.match(r"^(.*)::\s*([A-Za-z_0-9()]+)$", s, re.DOTALL)
    if m:
        tm = _TYPE_NORM_RE.match(m.group(2))
        if tm:
            return _TYPE_CLASS.get(tm.group(1).lower()), m.group(2)
    return None, None


def _cast_needs_guard(src: str, tgt: str, tgt_text: str, src_text: str) -> bool:
    """True when DuckDB's CAST can raise where Spark's silently wraps,
    saturates, or NULLs: string -> anything, numeric narrowing, and
    float/double -> anything narrower."""
    if src == "string" and tgt != "string":
        return True
    if src in _NUMERIC_CLASSES and tgt in _NUMERIC_CLASSES:
        if tgt == "double":
            return False  # widening, can't fail
        if src in _INT_RANK and tgt in _INT_RANK:
            return _INT_RANK[tgt] < _INT_RANK[src]
        if src in _INT_RANK and tgt == "float":
            return False  # int -> float saturates identically (no error)
        if tgt == "decimal":
            units = _decimal_units(tgt_text)
            if units is None:
                return True
            if src in _INT_RANK:
                return 10 ** units <= _INT_MAX[src]
            return True  # decimal/double/float source: range unknowable
        if src == "decimal" and tgt in _INT_RANK:
            return True
        if src in ("double", "float") and tgt in _INT_RANK:
            return True
        if src == "double" and tgt == "float":
            return True
        if src == "decimal" and tgt == "decimal":
            # units (integer-digit) tightening can raise; a pure scale
            # shrink TRUNCATES toward zero in DuckDB (measured r11:
            # 1.999999 -> DECIMAL(9,3) = 1.999) and cannot overflow —
            # the repl's truncation lane handles that separately
            u_src = _decimal_units(src_text) if src_text else None
            u_tgt = _decimal_units(tgt_text)
            if u_src is not None and u_tgt is not None:
                return u_tgt < u_src
            return True
        if src == "decimal" and tgt == "float":
            return True
    return False


def rewrite_cast_contract(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """DuckDB's CAST error contract, reproduced (tools/sweep_casts.py —
    every divergence measured against DuckDB 1.0):

    - "Unimplemented type for cast" pairs (date/timestamp <-> numeric or
      boolean, numeric/boolean -> date/timestamp): CAST raises on any
      NON-NULL value (NULL passes through), TRY_CAST yields NULL. Spark
      either computes a value (timestamp -> bigint = epoch seconds) or
      rejects at analysis — both replaced by the DuckDB contract.
    - failable conversions (string -> anything, numeric narrowing,
      double -> float, decimal tightening): Spark's non-ANSI CAST wraps
      integers / saturates floats / NULLs bad strings SILENTLY; DuckDB
      raises a Conversion Error. Rewritten to a TRY_CAST-probe guard
      that raises exactly when a non-NULL value fails to convert.
      (Spark's TRY_CAST already matches DuckDB's TRY_CAST on these
      pairs, so TRY_CAST forms pass through.)
    - string -> BOOLEAN: DuckDB accepts exactly t/f/true/false/1/0
      case-insensitively with NO trimming (measured: ' true ' raises);
      Spark trims and accepts y/n/yes/no too — emulated token set for
      both CAST (raise on miss) and TRY_CAST (NULL on miss).

    Source types come from literal shape, a cast-suffix, or the FROM
    schema; casts whose source type is unknowable keep Spark semantics
    (documented)."""
    stripped = sql.strip().rstrip(";")
    if not _CAST_OPEN_SCAN_RE.search(_code_only(stripped)):
        return sql
    schema = _from_schema(spark, stripped, translate)
    schema_classes: dict[str, tuple[str, str]] = {}
    for n, t in schema or ():
        cls = _spark_type_class(t)
        if cls:
            schema_classes[n.lower()] = (cls, t)
    guards: list[str] = []
    out = _rewrite_casts_in(stripped, schema_classes, guards=guards)
    if guards:
        # a VALUES row keeps its plain cast (Spark's inline tables take no
        # raise_error), so its guarded casts are planned once outside the
        # rows: the optimizer folds away the guard of every cell that
        # converts, and only a failing cell leaves a raise_error to run
        probe = spark.sql(translate("SELECT " + ", ".join(guards)))
        if "raise_error" in probe._jdf.queryExecution().optimizedPlan().toString():
            probe.collect()
    return out


def _spark_type_class(t: str) -> "str | None":
    """The cast contract's type class of a Spark type string."""
    base = t.split("(")[0]
    return "timestamp" if base.startswith("timestamp") else _TYPE_CLASS.get(base)


def cast_contract(name: str, src_type: str, tgt_text: str) -> "str | None":
    """``CAST(name AS tgt_text)`` under DuckDB's cast error contract, for a
    column ``name`` of Spark type ``src_type``, as DuckDB SQL text; None
    when Spark's plain cast already behaves like DuckDB's."""
    cls = _spark_type_class(src_type)
    if cls is None:
        return None
    plain = f"CAST({name} AS {tgt_text})"
    out = _rewrite_casts_in(plain, {name.lower(): (cls, src_type)})
    return None if out == plain else out


def _values_row_spans(text: str, mask: list[bool]) -> list[tuple[int, int]]:
    """(content start, content end) of every row of every VALUES list in
    ``text`` — regions where Spark's inline-table resolution requires
    plainly-evaluable expressions, so the cast contract's raise_error
    guards are illegal (INVALID_INLINE_TABLE) and must stay plain."""
    spans: list[tuple[int, int]] = []
    for m in _VALUES_KW_RE.finditer(text):
        if mask[m.start()]:
            continue
        j = text.index("(", m.start())
        while True:
            close = close_of(text, j)
            if close == -1:
                break
            spans.append((j + 1, close - 1))
            k = close
            while k < len(text) and text[k].isspace():
                k += 1
            if k < len(text) and text[k] == ",":
                k += 1
                while k < len(text) and text[k].isspace():
                    k += 1
                if k < len(text) and text[k] == "(":
                    j = k
                    continue
            break
    return spans


def _rewrite_casts_in(text: str, schema_classes: dict,
                      plain: bool = False, guards: "list[str] | None" = None) -> str:
    """Apply the cast error contract to every CAST/TRY_CAST span in
    ``text``, recursing into cast bodies so an inner failable cast keeps
    the contract even when its outer cast needs no guard (DuckDB raises
    the INNERMOST failing conversion first; a guarded outer span embeds
    its processed inner text, so inner guards fire first at runtime).

    Spans inside parenthesized subqueries resolve their source type
    WITHOUT the outer FROM schema (literal shape / cast suffix / ``::``
    only) — their identifiers bind to their own FROM scope, so only
    schema-resolved identifier sources need the scope exclusion.

    Spans inside VALUES rows (or a ``plain`` recursion below one) keep
    the plain cast: Spark inline tables reject raise_error guards
    outright. The sources there are literals whose failures DuckDB
    surfaces at bind time; the guarded form of each such cast that can
    raise is appended to ``guards`` for the caller to evaluate."""
    mask = literal_mask(text)
    nested = _nested_query_spans(text, mask)
    values_rows = [] if plain else _values_row_spans(text, mask)
    spans = []
    for m in _CAST_OPEN_SCAN_RE.finditer(text):
        if mask[m.start()]:
            continue
        close = close_of(text, m.end() - 1)
        if close == -1:
            continue
        in_nested = any(lo < m.start() < hi for lo, hi in nested)
        in_values = plain or any(
            a <= m.start() and close <= b for a, b in values_rows
        )
        spans.append((m.start(), close, m.group(1).upper(), in_nested,
                      in_values))
    # outermost spans only, replaced right-to-left so offsets stay valid;
    # inner spans are handled by the recursion into each body
    outer = []
    for s in spans:
        if not any(o[0] < s[0] and s[1] <= o[1] for o in spans if o is not s):
            outer.append(s)
    for start, close, form, in_nested, in_values in sorted(
        outer, reverse=True
    ):
        body = text[text.index("(", start) + 1 : close - 1]
        scope = {} if in_nested else schema_classes
        as_at = _cast_as_at(body)
        if as_at is None:
            continue
        inner, tgt_text = body[:as_at].strip(), body[as_at:].lstrip()[2:].strip()
        tm = _TYPE_NORM_RE.match(tgt_text)
        if not tm:
            continue
        tgt = _TYPE_CLASS.get(tm.group(1).lower())
        # bare DECIMAL/NUMERIC target: DuckDB defaults to DECIMAL(18,3)
        # (measured), Spark to DECIMAL(10,0) — normalize the target text
        # so the emitted cast carries DuckDB's default
        norm_tgt = tgt_text
        if tgt == "decimal" and _decimal_prec_scale(tgt_text) is None and (
            tm.group(1).lower() in ("decimal", "numeric")
        ):
            norm_tgt = "DECIMAL(18,3)" + tgt_text[tm.end():]
        # source class from the ORIGINAL inner text (literal shape /
        # cast suffix), BEFORE the recursion rewrites inner casts away
        src, src_text = _src_class(inner, scope)
        # string LITERAL -> datetime: DuckDB's literal grammar decides at
        # bind time (seconds required with a time part, '/' separators
        # accepted, DATE ignores the remainder) — the runtime TRY_CAST
        # guard below can't see these because Spark parses no-seconds
        # shapes happily and rejects slash shapes DuckDB takes (r13)
        if src == "string" and tgt in ("timestamp", "date", "time"):
            lm = re.match(r"^'((?:[^']|'')*)'$", inner.strip())
            if lm:
                from .dialect import _duck_datetime_literal

                try:
                    nb = _duck_datetime_literal(tm.group(1), lm.group(1))
                except ValueError:
                    if form == "TRY_CAST":
                        text = (
                            text[:start]
                            + f"CAST(NULL AS {norm_tgt})"
                            + text[close:]
                        )
                        continue
                    raise
                if nb is not None and nb != lm.group(1):
                    inner = f"'{nb}'"
        new_inner = _rewrite_casts_in(inner, scope, plain=in_values)
        repl = None
        # decimal -> decimal is the one same-class pair that can raise
        # (tightening); every other same-class cast is the identity
        if src is not None and tgt is not None and (
            src != tgt or src == "decimal"
        ):
            if not in_values:
                repl = _cast_contract_repl(
                    form, new_inner, src, tgt, norm_tgt, src_text
                )
            elif guards is not None:
                guarded = _cast_contract_repl(
                    form, _rewrite_casts_in(inner, scope), src, tgt, norm_tgt,
                    src_text,
                )
                if guarded is not None and "raise_error" in guarded:
                    guards.append(guarded)
        if repl is None:
            if new_inner == inner and norm_tgt == tgt_text:
                continue
            repl = f"{form}(({new_inner}) AS {norm_tgt})"
        text = text[:start] + repl + text[close:]
    return text


def _cast_contract_repl(
    form: str, inner: str, src: str, tgt: str, tgt_text: str,
    src_text: "str | None",
) -> "str | None":
    unimpl = any(
        src in srcs and tgt in tgts for srcs, tgts in _UNIMPL_SRC_TGT
    )
    null_t = f"TRY_CAST(NULL AS {tgt_text})"
    if unimpl:
        if form == "TRY_CAST":
            return null_t  # NULL for every input (measured)
        return (
            f"(CASE WHEN ({inner}) IS NULL THEN {null_t} "
            f"ELSE CAST(raise_error('Conversion Error: Unimplemented type "
            f"for cast ({src} -> {tgt})') AS {tgt_text}) END)"
        )
    if src == "string" and tgt == "boolean":
        low = f"lower({inner})"
        miss = (
            null_t
            if form == "TRY_CAST"
            else f"CAST(raise_error(concat('Conversion Error: Could not "
            f"convert string ''', {inner}, ''' to BOOL')) AS BOOLEAN)"
        )
        return (
            f"(CASE WHEN ({inner}) IS NULL THEN {null_t} "
            f"WHEN {low} IN ('t', 'true', '1') THEN true "
            f"WHEN {low} IN ('f', 'false', '0') THEN false "
            f"ELSE {miss} END)"
        )
    # DECIMAL -> DECIMAL: DuckDB TRUNCATES toward zero on a scale shrink
    # (measured r11: CAST(1.999999::DECIMAL(18,6) AS DECIMAL(9,3)) =
    # 1.999, NOT Spark's HALF_UP 2.000) and raises only when the
    # truncated value's integer digits exceed the target's units.
    # ``x - (x % step)`` is exact decimal truncation in Spark.
    if src == "decimal" and tgt == "decimal":
        ps_src = _decimal_prec_scale(src_text) if src_text else None
        ps_tgt = _decimal_prec_scale(tgt_text)
        s_src = ps_src[1] if ps_src else None
        s_tgt = ps_tgt[1] if ps_tgt else None
        trunc = s_tgt is not None and (s_src is None or s_tgt < s_src)
        val = inner
        if trunc:
            step = "1" if s_tgt == 0 else "0." + "0" * (s_tgt - 1) + "1"
            val = f"(({inner}) - (({inner}) % {step}))"
        units_guard = _cast_needs_guard(src, tgt, tgt_text, src_text or "")
        if not trunc and not units_guard:
            return None
        probe = f"TRY_CAST({val} AS {tgt_text})"
        if form == "TRY_CAST" or not units_guard:
            # Spark TRY_CAST NULLs on overflow like DuckDB; without a
            # units guard the truncated value always fits
            return (
                f"(CASE WHEN ({inner}) IS NULL THEN {null_t} "
                f"ELSE {probe} END)"
            )
        return (
            f"(CASE WHEN ({inner}) IS NULL THEN {null_t} "
            f"WHEN {probe} IS NULL THEN "
            f"CAST(raise_error(concat('Conversion Error: Casting value \"',"
            f" CAST(({inner}) AS STRING), '\" to type "
            f"{tgt_text.upper()} failed: value is out of range!')) "
            f"AS {tgt_text}) ELSE {probe} END)"
        )
    # FLOAT source -> DECIMAL target: DuckDB rounds HALF-EVEN on the
    # float lane (measured r11: 2.5::FLOAT -> DECIMAL(12,0) = 2,
    # 3.5 -> 4, -2.5 -> -2) while the DOUBLE lane rounds half-away
    # (2.5::DOUBLE -> 3, matching Spark's HALF_UP). Spark's bround()
    # is exactly half-even; float -> double widening is exact.
    if src == "float" and tgt == "decimal":
        ps_tgt = _decimal_prec_scale(tgt_text)
        s_t = ps_tgt[1] if ps_tgt else 3
        rounded = f"bround(CAST(({inner}) AS DOUBLE), {s_t})"
        probe = f"TRY_CAST({rounded} AS {tgt_text})"
        if form == "TRY_CAST":
            return (
                f"(CASE WHEN ({inner}) IS NULL THEN {null_t} "
                f"ELSE {probe} END)"
            )
        return (
            f"(CASE WHEN ({inner}) IS NULL THEN {null_t} "
            f"WHEN {probe} IS NULL THEN "
            f"CAST(raise_error(concat('Conversion Error: Could not cast "
            f"value ', CAST(({inner}) AS STRING), ' to {tgt_text}')) "
            f"AS {tgt_text}) ELSE {probe} END)"
        )
    # DECIMAL source -> integer target: DuckDB rounds HALF-AWAY
    # (measured: CAST(0.5 AS INT)=1, -2.5 -> -3); Spark truncates, and
    # the dialect's textual pass can only see literal-shaped sources.
    # DECIMAL(38,9) carries any 64-bit value exactly; overflow past the
    # target keeps the NULL-probe/raise contract.
    if src == "decimal" and tgt in _INT_RANK:
        rounded = f"ROUND(TRY_CAST(({inner}) AS DECIMAL(38,9)), 0)"
        probe = f"TRY_CAST({rounded} AS {tgt_text})"
        if form == "TRY_CAST":
            return (
                f"(CASE WHEN ({inner}) IS NULL THEN {null_t} "
                f"ELSE {probe} END)"
            )
        # measured r13: DuckDB prints the ROUNDED scale-0 value
        # ('Failed to cast decimal value 301 to type INT8')
        return (
            f"(CASE WHEN ({inner}) IS NULL THEN {null_t} "
            f"WHEN {probe} IS NULL THEN "
            f"CAST(raise_error(concat('Conversion Error: Failed to cast "
            f"decimal value ', CAST(CAST({rounded} AS DECIMAL(38,0)) "
            f"AS STRING), ' to type {_DUCK_INT_NAMES[tgt]}')) "
            f"AS {tgt_text}) ELSE {probe} END)"
        )
    # DECIMAL source -> FLOAT: DuckDB divides unscaled/10^scale IN
    # float32 (the measured double-rounding lane, same as
    # rewrite_numeric_date_lanes) — emulate when the scale is known and
    # the unscaled value fits BIGINT (p <= 18)
    if src == "decimal" and tgt == "float" and src_text:
        pm = re.match(
            r"(?:DECIMAL|NUMERIC)\s*\((\d+)\s*(?:,\s*(\d+))?\)",
            src_text, re.IGNORECASE,
        )
        if pm and int(pm.group(1)) <= 18:
            p = 10 ** int(pm.group(2) or 0)
            return (
                f"(CASE WHEN ({inner}) IS NULL THEN {null_t} ELSE "
                f"CAST(((CAST(CAST(({inner}) * {p} AS BIGINT) AS FLOAT)"
                f" + CAST(0 AS FLOAT)) / CAST({p} AS FLOAT)) AS FLOAT) "
                f"END)"
            )
    # DOUBLE/FLOAT -> VARCHAR: DuckDB's shortest-round-trip format with
    # its exponent thresholds == Python float repr / NumPy float32 str
    # (measured value-by-value) — Spark prints Java-style '1.0E8'
    if src in ("double", "float") and tgt == "string":
        # the UDF sees Arrow float64 batches where SQL NULL arrives as
        # NaN — the SQL-level IS NULL check is the only place the two
        # are distinguishable (DuckDB: CAST(NULL AS VARCHAR) is NULL)
        fn = "duck_double_str" if src == "double" else "duck_float_str"
        return (
            f"(CASE WHEN ({inner}) IS NULL THEN {null_t} "
            f"ELSE {fn}({inner}) END)"
        )
    if form == "TRY_CAST":
        if src in ("double", "float", "decimal") and tgt == "float":
            # Spark's double->float TRY_CAST saturates to +/-Infinity;
            # DuckDB's yields NULL out of range (measured)
            return (
                f"(CASE WHEN ({inner}) IS NULL THEN {null_t} "
                f"WHEN isnan(CAST(({inner}) AS DOUBLE)) THEN "
                f"TRY_CAST(({inner}) AS {tgt_text}) "
                f"WHEN abs(CAST(({inner}) AS DOUBLE)) > 3.4028234663852886E38 "
                f"THEN {null_t} ELSE TRY_CAST(({inner}) AS {tgt_text}) END)"
            )
        return None  # Spark TRY_CAST already matches DuckDB's
    if not _cast_needs_guard(src, tgt, tgt_text, src_text or ""):
        return None
    probe = f"TRY_CAST(({inner}) AS {tgt_text})"
    extra_fail = ""
    if src in ("double", "float", "decimal") and tgt == "float":
        src_nm = "DOUBLE" if src != "float" else "FLOAT"
        val = (
            f"duck_double_str(CAST(({inner}) AS DOUBLE))"
            if src in ("double", "float") else f"CAST(({inner}) AS STRING)"
        )
        extra_fail = (
            f"WHEN NOT isnan(CAST(({inner}) AS DOUBLE)) AND "
            f"abs(CAST(({inner}) AS DOUBLE)) > 3.4028234663852886E38 THEN "
            f"CAST(raise_error(concat('Conversion Error: Type {src_nm} "
            f"with value ', {val}, ' can''t be cast because the value is "
            f"out of range for the destination type FLOAT')) "
            f"AS {tgt_text}) "
        )
    # verbatim DuckDB conversion messages per lane (measured r13):
    # string sources use the convert-string form (double quotes for
    # DECIMAL targets), numeric narrowing the Type-with-value form
    if src == "string" and tgt == "decimal":
        fail = (
            f"concat('Conversion Error: Could not convert string \"', "
            f"({inner}), '\" to {tgt_text.upper()}')"
        )
    elif src == "string" and tgt in ("date", "timestamp"):
        # measured r14: bad date/timestamp strings raise the
        # field-value-out-of-range form, not Could-not-convert
        fmt = (
            "YYYY-MM-DD" if tgt == "date"
            else "YYYY-MM-DD HH:MM:SS[.US][±HH:MM| ZONE]"
        )
        fail = (
            f"concat('Conversion Error: {tgt} field value out of range: "
            f"\"', ({inner}), '\", expected format is ({fmt})')"
        )
    elif src == "string":
        nm = _DUCK_INT_NAMES.get(tgt) or {
            "double": "DOUBLE", "float": "FLOAT",
        }.get(tgt, tgt_text.upper())
        fail = (
            f"concat('Conversion Error: Could not convert string ''', "
            f"({inner}), ''' to {nm}')"
        )
    elif src in _INT_RANK and tgt in _INT_RANK:
        fail = (
            f"concat('Conversion Error: Type {_DUCK_INT_NAMES[src]} with "
            f"value ', CAST(({inner}) AS STRING), ' can''t be cast because "
            f"the value is out of range for the destination type "
            f"{_DUCK_INT_NAMES[tgt]}')"
        )
    elif src in ("double", "float") and tgt in _INT_RANK:
        src_nm = "DOUBLE" if src == "double" else "FLOAT"
        render = "duck_double_str" if src == "double" else "duck_float_str"
        fail = (
            f"concat('Conversion Error: Type {src_nm} with value ', "
            f"{render}({inner}), ' can''t be cast because the value is "
            f"out of range for the destination type {_DUCK_INT_NAMES[tgt]}')"
        )
    else:
        fail = (
            f"concat('Conversion Error: Could not cast value ', "
            f"CAST(({inner}) AS STRING), ' to {tgt_text}')"
        )
    return (
        f"(CASE WHEN ({inner}) IS NULL THEN {null_t} "
        f"{extra_fail}"
        f"WHEN {probe} IS NULL THEN "
        f"CAST(raise_error({fail}) AS {tgt_text}) "
        f"ELSE {probe} END)"
    )


def rewrite_numeric_date_lanes(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """Schema-resolved result-lane fixes for mixed arithmetic (measured
    against DuckDB 1.0; all need the FROM schema, so they live here):

    - FLOAT lane: ``flt <op> x`` where x is a BIGINT column, DECIMAL
      column, or fractional literal returns FLOAT in DuckDB, computed
      WIDE then narrowed (measured: dc18 + flt = float32(double sum),
      NOT float32(dc18) + flt; flt / dc18 = float32(4/-1e-6) = -4e6
      exactly). Spark promotes those pairs to DOUBLE and never narrows.
      Wrap the whole binary span in CAST(... AS FLOAT) — Spark then
      computes wide exactly like DuckDB and narrows the result — but
      ONLY when the span sits at clear expression boundaries
      (start/'('/','/comparison before, end/')'/','/keyword after);
      compound chains keep Spark's native lane (documented).
      (TINYINT/SMALLINT/INT partners already resolve to FLOAT in
      Spark; DOUBLE partners resolve to DOUBLE in both.)
    - DATE - DATE (both columns): DuckDB yields BIGINT day counts;
      Spark yields an INTERVAL. Rewrite to datediff cast BIGINT (the
      dialect handles the date-minus-LITERAL forms textually; the
      column-column form is only knowable here).
    - DATE ± INTERVAL: DuckDB returns TIMESTAMP (typeof measured);
      Spark returns DATE. Cast the date side to TIMESTAMP.

    Operands must be bare identifiers adjacent to the operator — the
    same documented heuristic as rewrite_float_floordiv; compound
    sub-expressions keep Spark's native lanes."""
    stripped = sql.strip().rstrip(";")
    code = _code_only(stripped)
    if not _ARITH_OP_RE.search(code):
        return sql
    schema = _from_schema(spark, stripped, translate)
    if schema is None:
        return sql
    flt_cols = {n.lower() for n, t in schema if t == "float"}
    wide_cols = {
        n.lower() for n, t in schema if t == "bigint" or t.startswith("decimal")
    }
    dec_scale = {
        n.lower(): int(m.group(2))
        for n, t in schema
        if (m := re.match(r"decimal\((\d+),(\d+)\)", t))
    }
    date_cols = {n.lower() for n, t in schema if t == "date"}
    if not flt_cols and not date_cols:
        return sql
    ident = re.compile(_IDENT_RE_TEXT)

    def _leaf(tok: str) -> str:
        return tok.split(".")[-1].lower()

    # pass 1: date - date -> datediff (span replacement, adjacency only)
    if date_cols:
        changed = True
        while changed:
            changed = False
            mask = literal_mask(stripped)
            nested = _nested_query_spans(stripped, mask)
            for m in re.finditer(
                rf"({_IDENT_RE_TEXT})\s*-\s*({_IDENT_RE_TEXT})", stripped
            ):
                if mask[m.start()] or any(
                    lo < m.start() < hi for lo, hi in nested
                ):
                    continue
                if (
                    _leaf(m.group(1)) in date_cols
                    and _leaf(m.group(2)) in date_cols
                ):
                    # DuckDB-dialect spelling (these passes run BEFORE
                    # translate): date_diff('day', start, end) = end-start
                    repl = (
                        f"CAST(date_diff('day', {m.group(2)}, "
                        f"{m.group(1)}) AS BIGINT)"
                    )
                    stripped = stripped[: m.start()] + repl + stripped[m.end():]
                    changed = True
                    break

        # pass 2: date ± INTERVAL -> timestamp lane
        changed = True
        while changed:
            changed = False
            mask = literal_mask(stripped)
            nested = _nested_query_spans(stripped, mask)
            for m in re.finditer(
                rf"({_IDENT_RE_TEXT})(\s*[+\-]\s*INTERVAL\b)",
                stripped,
                re.IGNORECASE,
            ):
                if mask[m.start()] or any(
                    lo < m.start() < hi for lo, hi in nested
                ):
                    continue
                if _leaf(m.group(1)) in date_cols:
                    repl = f"CAST({m.group(1)} AS TIMESTAMP)"
                    stripped = (
                        stripped[: m.start(1)]
                        + repl
                        + stripped[m.end(1):]
                    )
                    changed = True
                    break

    # pass 3: FLOAT lane — wrap the (flt op wide) span in a result
    # narrowing CAST, at clear expression boundaries only
    if flt_cols:
        changed = True
        while changed:
            changed = False
            mask = literal_mask(stripped)
            nested = _nested_query_spans(stripped, mask)
            for m in _ARITH_OP_RE.finditer(stripped):
                if mask[m.start()] or any(
                    lo < m.start() < hi for lo, hi in nested
                ):
                    continue
                lm = re.search(
                    rf"({_IDENT_RE_TEXT}|-?\d+(?:\.\d+)?)\s*$",
                    stripped[: m.start()],
                )
                k = m.end()
                while k < len(stripped) and stripped[k].isspace():
                    k += 1
                rm = ident.match(stripped, k) or re.compile(
                    r"\d+(?:\.\d+)?"
                ).match(stripped, k)
                ltok = lm.group(1) if lm else None
                rtok = rm.group(0) if rm else None

                def _is_flt(tok):
                    return tok is not None and _leaf(tok) in flt_cols

                def _is_wide(tok):
                    return tok is not None and (
                        _leaf(tok) in wide_cols
                        or _FRAC_LITERAL_RE.match(tok)
                    )

                if not (
                    (_is_flt(ltok) and _is_wide(rtok))
                    or (_is_flt(rtok) and _is_wide(ltok))
                ):
                    continue
                span_lo, span_hi = lm.start(1), (
                    rm.end() if hasattr(rm, "end") else k
                )
                before = stripped[:span_lo].rstrip()
                after_txt = stripped[span_hi:].lstrip()
                ok_before = (
                    not before
                    or before[-1] in "(,="
                    or before[-1] in "<>"
                    or re.search(
                        r"\b(SELECT|WHERE|WHEN|THEN|ELSE|AND|OR|BY|ON|"
                        r"HAVING|RETURN|RETURNING|SET|VALUES|IN|AS|DISTINCT)$",
                        before,
                        re.IGNORECASE,
                    )
                )
                ok_after = (
                    not after_txt
                    or after_txt[0] in "),;"
                    or after_txt[0] in "<>="
                    or re.match(
                        r"(AS|FROM|AND|OR|WHEN|THEN|ELSE|END|ORDER|GROUP|"
                        r"LIMIT|WHERE|HAVING|DESC|ASC|IS|IN|BETWEEN|UNION)\b",
                        after_txt,
                        re.IGNORECASE,
                    )
                )
                if not (ok_before and ok_after):
                    continue
                if before.upper().endswith("CAST(("):
                    continue  # already wrapped by a previous iteration
                span = stripped[span_lo:span_hi]
                # DuckDB's DECIMAL->FLOAT cast divides unscaled/10^scale
                # IN FLOAT32 (measured: f32(123456789)/f32(1e6) =
                # 123.4567947..., not the exact-value rounding
                # 123.4567871) — substitute that expression for a
                # decimal operand so the 32-bit lane matches bit-for-bit
                def _duckfloat(tok: str) -> str:
                    s = dec_scale.get(_leaf(tok))
                    if s is None:
                        return tok
                    p = 10 ** s
                    # the + CAST(0 AS FLOAT) is a COLLAPSE BARRIER, not
                    # math: Catalyst rewrites cast(cast(x AS FLOAT) AS
                    # DOUBLE) — which the division's type coercion builds
                    # around a bare float cast — into cast(x AS DOUBLE),
                    # silently discarding the 32-bit rounding (verified
                    # in the optimized plan over a parquet scan). A float
                    # Add is a computation, so the widening cast wraps it
                    # un-collapsed; x + 0.0f is value-exact. The outer
                    # CAST narrows Spark's double division back to the
                    # 32-bit value DuckDB's decimal->float cast produces.
                    return (
                        f"CAST(((CAST(CAST({tok} * {p} AS BIGINT) AS FLOAT)"
                        f" + CAST(0 AS FLOAT))"
                        f" / CAST({p} AS FLOAT)) AS FLOAT)"
                    )

                for dtok in (ltok, rtok):
                    if dtok and _leaf(dtok) in dec_scale:
                        span = re.sub(
                            rf"(?<![\w.]){re.escape(dtok)}(?![\w.])",
                            _duckfloat(dtok).replace("\\", "\\\\"),
                            span,
                        )
                repl = f"CAST(({span}) AS FLOAT)"
                stripped = stripped[:span_lo] + repl + stripped[span_hi:]
                changed = True
                break
    return stripped


def rewrite_list_concat_cols(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """Schema-resolved ``||`` over LIST columns — the cases the textual
    dialect pass (dialect._rewrite_list_concat_nulls, which only sees
    list-SHAPED calls/literals) marks as unknowable:

    - list col || list col: DuckDB list_concat treats one NULL side as
      empty (measured); Spark concat propagates NULL → NULL-dispatching
      CASE.
    - list col || string/numeric col, literal, or bare NULL: DuckDB
      resolves to VARCHAR concat — 'apple' || [1,2] = 'apple[1, 2]',
      7 || [1,2] = '7[1, 2]', [..] || NULL = string NULL (all measured;
      Spark's array-to-string cast format matches DuckDB exactly, incl.
      empties and decimal padding) → cast the LIST side to STRING and
      let concat run as strings.

    Operands are classified only when they are bare identifiers (plus
    string/numeric literals and bare NULL on the non-list side);
    expression operands keep the dialect's behavior."""
    stripped = sql.strip().rstrip(";")
    if "||" not in _code_only(stripped):
        return sql
    schema = _from_schema(spark, stripped, translate)
    if schema is None:
        return sql
    arr_cols = {n.lower() for n, t in schema if t.startswith("array<")}
    if not arr_cols:
        return sql
    other_cols = {n.lower() for n, t in schema if not t.startswith("array<")}
    mask = literal_mask(stripped)
    nested = _nested_query_spans(stripped, mask)
    ident = re.compile(_IDENT_RE_TEXT)

    def _cls(tok: str | None, masked_literal: bool) -> str | None:
        if masked_literal:
            return "scalar"  # quoted string literal
        if tok is None:
            return None
        leaf = tok.split(".")[-1].lower()
        if leaf in arr_cols:
            return "arr"
        if leaf in other_cols or _NUM_LITERAL_RE.match(tok):
            return "scalar"
        if tok.upper() == "NULL":
            return "scalar"
        return None

    i = 0
    while True:
        j = stripped.find("||", i)
        if j == -1:
            break
        if mask[j] or any(lo < j < hi for lo, hi in nested):
            i = j + 2
            continue
        lm = re.search(
            rf"({_IDENT_RE_TEXT}|-?\d+(?:\.\d+)?|NULL)\s*$",
            stripped[:j],
            re.IGNORECASE,
        )
        l_lit = j > 0 and mask[j - 1]
        k = j + 2
        while k < len(stripped) and stripped[k].isspace():
            k += 1
        rm = re.compile(
            rf"({_IDENT_RE_TEXT}|-?\d+(?:\.\d+)?|NULL)", re.IGNORECASE
        ).match(stripped, k)
        r_lit = k < len(stripped) and mask[k]
        lcls = _cls(lm.group(1) if lm else None, l_lit)
        rcls = _cls(rm.group(1) if rm else None, r_lit)
        if "arr" not in (lcls, rcls) or None in (lcls, rcls):
            i = j + 2
            continue
        if lcls == "arr" and rcls == "arr":
            a, b = lm.group(1), rm.group(1)
            repl = (
                f"(CASE WHEN {a} IS NULL THEN {b} "
                f"WHEN {b} IS NULL THEN {a} ELSE concat({a}, {b}) END)"
            )
            lo_at, hi_at = lm.start(1), rm.end(1)
            stripped = stripped[:lo_at] + repl + stripped[hi_at:]
            i = lo_at + len(repl)
        else:
            # exactly one list side: VARCHAR concat — cast it to STRING
            if lcls == "arr":
                lo_at, hi_at, tok = lm.start(1), lm.end(1), lm.group(1)
            else:
                lo_at, hi_at, tok = rm.start(1), rm.end(1), rm.group(1)
            repl = f"CAST({tok} AS STRING)"
            stripped = stripped[:lo_at] + repl + stripped[hi_at:]
            i = max(j, lo_at) + (len(repl) - (hi_at - lo_at)) + 2
        mask = literal_mask(stripped)
        nested = _nested_query_spans(stripped, mask)
    return stripped


_MAPLIT_SUB_RE = re.compile(r"[)}]\s*\[")


def _rewrite_map_literal_subscripts(text: str, mask: list[bool]) -> str:
    """Map subscripts whose base is STATICALLY a map literal —
    ``(MAP {...})[k]`` or ``MAP {...}[k]`` — need no schema resolution:
    rewrite them to ``map_extract(base, k)`` (DuckDB's measured LIST
    semantics: ``[value]`` on hit, ``[]`` on miss) before the generic
    subscript lowering turns them into bare-value element_at."""
    for m in sorted(
        _MAPLIT_SUB_RE.finditer(text), key=lambda x: -x.start()
    ):
        if mask[m.start()]:
            continue
        p = open_of(text, m.start())
        if p == -1:
            continue
        if text[m.start()] == ")":
            if not re.match(
                r"\(\s*MAP\s*\{", text[p : m.start() + 1], re.IGNORECASE
            ):
                continue
            q = p - 1
            while q >= 0 and text[q].isspace():
                q -= 1
            if q >= 0 and (text[q].isalnum() or text[q] in "_$)]"):
                # an identifier directly before the paren makes it a
                # CALL's argument list, not a parenthesized base —
                # map_values(MAP {...})[1] subscripts the call result
                # (a LIST), r14 — unless the word is a keyword
                # (SELECT (MAP ...)['x'] stays a map subscript)
                q2 = q
                while q2 >= 0 and (text[q2].isalnum() or text[q2] in "_$"):
                    q2 -= 1
                word = text[q2 + 1 : q + 1].upper()
                if text[q] in ")]" or (
                    word and word not in _FACT_KEYWORDS
                ):
                    continue
            base = text[p : m.start() + 1]
            base_start = p
        else:
            hm = re.search(r"\bMAP\s*$", text[:p], re.IGNORECASE)
            if hm is None:
                continue
            base = "(" + text[hm.start() : m.start() + 1] + ")"
            base_start = hm.start()
        open_br = text.index("[", m.start())
        close_br = close_of(text, open_br)
        if close_br == -1:
            continue
        key = text[open_br + 1 : close_br - 1]
        if ":" in _code_only(key):
            continue  # slice syntax — keep the generic lowering
        text = (
            text[:base_start]
            + f"map_extract({base}, {key})"
            + text[close_br:]
        )
        mask = literal_mask(text)
    return text


def rewrite_map_subscripts(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """DuckDB's map subscript ``m[k]`` returns a LIST — ``[value]`` on hit,
    ``[]`` on miss (measured; same as map_extract) — while the dialect's
    generic subscript lowering emits element_at (the correct LIST/string
    semantics), which on a MAP yields the bare value. The base's type is
    textually unknowable, so resolve it against the FROM relation's actual
    schema (the route_star_replace/COLUMNS() trick: ``SELECT * FROM ...
    LIMIT 0``) and rewrite map-typed bases to ``map_extract(m, k)``, whose
    emitter already carries the measured LIST semantics. Bases that don't
    resolve to a MAP column keep the generic lowering, as do subscripts
    inside parenthesized subqueries (their identifiers bind to their own
    FROM scope, not the outer relation's). VERDICT r08 task 7."""
    stripped = sql.strip().rstrip(";")
    if "[" not in _code_only(stripped):
        return sql
    mask = literal_mask(stripped)
    stripped2 = _rewrite_map_literal_subscripts(stripped, mask)
    if stripped2 != stripped:
        stripped = stripped2
        mask = literal_mask(stripped)
    nested = _nested_query_spans(stripped, mask)
    hits = [
        s
        for s in _iter_subscripts(stripped, mask)
        if not any(lo < s.start < hi for lo, hi in nested)
    ]
    if not hits:
        return stripped
    schema = _from_schema(spark, stripped, translate)
    if schema is None:
        return sql
    map_cols = {name.lower() for name, t in schema if t.startswith("map<")}
    str_cols = {name.lower() for name, t in schema if t == "string"}
    if not map_cols and not str_cols:
        return sql

    def _subst(text: str, hits) -> str:
        # keep OUTERMOST hits only — _iter_subscripts also yields the
        # inner span of a nested subscript (m[s[2]] yields both m[...]
        # and s[2]), and splicing overlapping spans corrupts the SQL;
        # the key text is rewritten by recursion instead
        out, last, prev_end = [], 0, -1
        for m in hits:
            if m.start < prev_end:
                continue
            base, key = m.base, m.key
            kmask = literal_mask(key)
            key = _subst(key, list(_iter_subscripts(key, kmask)))
            leaf = base.split(".")[-1].lower()
            if leaf in map_cols and ":" not in _code_only(key):
                repl = f"map_extract({base}, {key})"
            elif leaf in str_cols:
                # DuckDB string subscripts/slices: 1-based CODEPOINT,
                # index 0 and out-of-range -> '', negative from the
                # back, inclusive slice ends. The generic lowering
                # emits element_at/slice, which Spark rejects on
                # STRING — reuse the dialect's string subscript math.
                from .dialect import _subscript_content_str

                repl = _subscript_content_str(base, key.strip())
            else:
                continue
            out.append(text[last : m.start])
            out.append(repl)
            last, prev_end = m.end, m.end
        if not out:
            return text
        out.append(text[last:])
        return "".join(out)

    return _subst(stripped, hits)


def _pivot_literal(v) -> str:
    """Render a discovered pivot value as a SQL literal."""
    import datetime as _dt

    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v}'"
    return str(v)


def _resolve_pivot_rel(
    spark: SparkSession, rel: str, resolve: Resolver, translate: Translate
) -> tuple[DataFrame, str]:
    """(DataFrame, FROM-clause text) for a PIVOT/UNPIVOT target — a table
    name or a parenthesized subquery."""
    rel = rel.strip()
    if rel.startswith("("):
        df = spark.sql(translate(rel[1:-1]))
        df.createOrReplaceTempView("__pivot_src")
        return df, "__pivot_src"
    return resolve(rel), rel


def route_pivot_statement(
    spark: SparkSession, sql: str, resolve: Resolver, translate: Translate
) -> DataFrame | None:
    sql = sql.strip().rstrip(";")
    if not re.match(r"^PIVOT\b", sql, re.IGNORECASE):
        return None
    m = _PIVOT_RE.match(sql)
    if not m:
        raise UnsupportedDialect(f"cannot parse PIVOT statement: {sql[:80]}")
    df, from_sql = _resolve_pivot_rel(spark, m.group("rel"), resolve, translate)

    # ON clause: one or more columns, each with an optional IN list. DuckDB
    # emits the CROSS PRODUCT of per-column value lists as output columns,
    # named value1_value2[_agg] — including combinations absent from the
    # data (they aggregate over zero rows).
    on_items: list[tuple[str, str | None]] = []
    for item in split_top(m.group("onclause")):
        im = _PIVOT_ON_ITEM_RE.match(item.strip())
        if im is None:
            raise UnsupportedDialect(f"cannot parse PIVOT ON item: {item[:60]}")
        on_items.append((im.group("col"), im.group("inlist")))
    on_cols = [c for c, _ in on_items]

    # dynamic column discovery for IN-less columns: ONE pass collecting
    # every needed distinct set (collect_set drops NULLs, matching DuckDB's
    # "NULL never becomes a column"); low-cardinality by construction so
    # the driver-side sets stay small at any data scale
    need_scan = [c for c, inl in on_items if inl is None]
    scanned: dict[str, list] = {}
    if need_scan:
        row = df.select(
            *[F.collect_set(F.col(c)).alias(c) for c in need_scan]
        ).collect()[0]
        for c in need_scan:
            scanned[c] = sorted(row[c])

    per_col_lits: list[list[tuple[str, str]]] = []
    for col, inlist in on_items:
        if inlist is not None:
            values = []
            for item in split_top(inlist):
                item = item.strip()
                values.append(
                    item[1:-1].replace("''", "'") if item.startswith("'") else item
                )
            per_col_lits.append(
                [
                    (
                        "'" + v.replace("'", "''") + "'"
                        if isinstance(v, str)
                        else str(v),
                        str(v),
                    )
                    for v in values
                ]
            )
        else:
            per_col_lits.append([(_pivot_literal(v), str(v)) for v in scanned[col]])

    using = m.group("using") or "count(*)"
    aggs = []
    for item in split_top(using):
        am = _AGG_ITEM_RE.match(item.strip())
        aggs.append((am.group("expr").strip(), (am.group("alias") or "").strip()))

    if m.group("group"):
        group_cols = [c.strip() for c in m.group("group").split(",") if c.strip()]
    else:
        # implicit GROUP BY: every column not pivoted on and not consumed
        # by an aggregate expression
        agg_text = " ".join(e for e, _ in aggs)
        used = {
            w.lower()
            for w in re.findall(r"\b\w+\b", agg_text)
        }
        group_cols = [
            c for c in df.columns if c not in on_cols and c.lower() not in used
        ]
        # no remaining columns -> global one-row aggregate (DuckDB 1.x
        # behavior, verified: PIVOT with every column pivoted/consumed
        # returns a single row, not an error)

    import itertools

    items = list(group_cols)
    for combo in itertools.product(*per_col_lits):
        label = "_".join(lab for _, lab in combo)
        cond = " AND ".join(
            f"{col} IS NOT DISTINCT FROM {lit}"
            for col, (lit, _) in zip(on_cols, combo)
        )
        for expr, alias in aggs:
            if len(aggs) == 1:
                name = f"{label}_{alias}" if alias else label
            else:
                name = f"{label}_{alias or expr}"
            items.append(
                f"{translate(expr)} FILTER (WHERE {cond}) AS `{name}`"
            )
    group_clause = f" GROUP BY {', '.join(group_cols)}" if group_cols else ""
    out_sql = (
        f"SELECT {', '.join(items)} FROM {from_sql}"
        f"{group_clause}{m.group('tail') or ''}"
    )
    return spark.sql(out_sql)


def route_unpivot_statement(
    spark: SparkSession, sql: str, resolve: Resolver, translate: Translate
) -> DataFrame | None:
    sql = sql.strip().rstrip(";")
    if not re.match(r"^UNPIVOT\b", sql, re.IGNORECASE):
        return None
    m = _UNPIVOT_RE.match(sql)
    if not m:
        raise UnsupportedDialect(f"cannot parse UNPIVOT statement: {sql[:80]}")
    df, _ = _resolve_pivot_rel(spark, m.group("rel"), resolve, translate)
    on_cols = [c.strip() for c in m.group("cols").split(",") if c.strip()]
    name_col, value_col = m.group("name"), m.group("value")
    ids = [c for c in df.columns if c not in on_cols]
    out = df.unpivot(ids, on_cols, name_col, value_col)
    # DuckDB UNPIVOT drops NULL cells (verified); Spark's unpivot keeps them
    out = out.filter(F.col(value_col).isNotNull())
    if m.group("tail"):
        out.createOrReplaceTempView("__unpivot_out")
        out = spark.sql(f"SELECT * FROM __unpivot_out{m.group('tail')}")
    return out


# ---------------------------------------------------------------------------
# Multi-branch expression result-type unification (r11,
# tools/sweep_branch_types.py): CASE / COALESCE / IFNULL / IF branch lanes,
# GREATEST/LEAST numeric promotion, VALUES-list literal typing
# ---------------------------------------------------------------------------

_NUM_RANKS = {
    "tinyint": 1, "smallint": 2, "integer": 3, "bigint": 4,
    "decimal": 5, "float": 6, "double": 7, "string": 8,
}
_BRANCH_FN_RE = re.compile(
    r"\b(COALESCE|IFNULL|IF|GREATEST|LEAST)\s*\(", re.IGNORECASE
)
_BRANCH_GATE_RE = re.compile(
    r"\b(CASE|COALESCE|IFNULL|IF|GREATEST|LEAST)\b", re.IGNORECASE
)
_CASE_TOKEN_RE = re.compile(r"\b(CASE|WHEN|THEN|ELSE|END)\b", re.IGNORECASE)


def _schema_class_map(spark, stripped: str, translate: Translate) -> dict:
    """lower-name -> (type class, Spark dtype text) for the statement's
    FROM relation (empty when it doesn't resolve)."""
    schema = _from_schema(spark, stripped, translate)
    out: dict[str, tuple[str, str]] = {}
    if schema:
        for n, t in schema:
            base = t.split("(")[0]
            cls = _TYPE_CLASS.get(base)
            if base.startswith("timestamp"):
                cls = "timestamp"
            if cls:
                out[n.lower()] = (cls, t)
    return out


def _branch_cast_templates(
    lanes: "list[tuple[str | None, str | None]]",
) -> "list[str | None] | None":
    """Per-branch cast templates ({x} = the branch text) reproducing
    DuckDB's multi-branch unification where Spark's differs (measured):

    - BOOLEAN branch vs numeric branches: DuckDB coerces the bool
      INTO the numeric lane (true -> 1); Spark raises DATA_DIFF_TYPES.
    - DECIMAL vs FLOAT (no DOUBLE): DuckDB unifies to FLOAT through the
      scaled-int float32 lane; Spark unifies to DOUBLE (value-visible).

    String-vs-anything mixes are NOT handled here — DuckDB coerces
    string LITERALS into the other lane and binder-errors on VARCHAR
    columns (measured r12), which the `_run_branch_fold` pass models;
    this legacy path only sees branch sets the fold declined.

    None = nothing to coerce. NULL literals and unknown-class branches
    never force or receive a coercion."""
    known = {k for k, _ in lanes if k}
    if len(known) < 2:
        return None
    tpl: "list[str | None]" = [None] * len(lanes)
    changed = False
    if "boolean" in known:
        others = known - {"boolean", "string"}
        if others and others <= (set(_NUM_RANKS) - {"string"}):
            tk, tt = max(
                ((k, t) for k, t in lanes if k in others),
                key=lambda p: _NUM_RANKS[p[0]],
            )
            for i, (k, _) in enumerate(lanes):
                if k == "boolean":
                    tpl[i] = f"CAST({{x}} AS {tt})"
                    changed = True
    if known == {"decimal", "float"}:
        for i, (k, t) in enumerate(lanes):
            if k == "decimal" and t:
                repl = _cast_contract_repl(
                    "CAST", "{x}", "decimal", "float", "FLOAT", t
                )
                if repl:
                    tpl[i] = repl
                    changed = True
    return tpl if changed else None


def _expr_lane(expr: str, classes: dict) -> "tuple[str | None, str | None]":
    s = expr.strip()
    if re.match(r"^NULL$", s, re.IGNORECASE):
        return None, None
    return _src_class(s, classes)


_BRANCH_FAMILY = {
    "tinyint": "numeric", "smallint": "numeric", "integer": "numeric",
    "bigint": "numeric", "decimal": "numeric", "float": "numeric",
    "double": "numeric",
    "date": "datetime", "timestamp": "datetime",
    "boolean": "boolean",
    "list": "list", "struct": "struct", "map": "map",
}
_INT_CLASS_UNITS = {"tinyint": 3, "smallint": 5, "integer": 10, "bigint": 19}
_UNITS_INT_TYPE = {3: "TINYINT", 5: "SMALLINT", 10: "INTEGER", 19: "BIGINT"}


_QUERY_START_RE = re.compile(r"(?:SELECT|WITH|FROM)\b", re.IGNORECASE)


def _branch_atom(
    expr: str, classes: dict, probe=None
) -> "tuple[str, str | None, bool, str] | None":
    """(type class, type text, is_literal, source text) of a branch
    expression — 'null' for a NULL literal, literal shapes first, then
    cast suffixes / FROM-schema columns; composite expressions (function
    calls, aggregates, arithmetic, nested CASE) resolve through the
    LIMIT-0 ``probe`` when given, since DuckDB's binder types the whole
    subexpression before folding it into the branch lane (measured r13:
    COALESCE(max(a), '9') / COALESCE(1+1, '7') / COALESCE(NULLIF(1,1),
    '7') all coerce the string literal into the composite's lane).
    None = unknowable."""
    # parens are transparent to DuckDB's branch-type accumulator (measured
    # r13: COALESCE(1, ('7')) is INTEGER 1); a scalar subquery keeps them
    # so ``(SELECT 4)`` reaches the LIMIT-0 probe intact
    s = strip_outer_parens(expr)
    if _QUERY_START_RE.match(s):
        s = f"({s})"
    if re.match(r"^NULL$", s, re.IGNORECASE):
        return ("null", None, True, s)
    for rx, _cls in _SRC_LITERAL_RES:
        if rx.match(s):
            k, t = _src_class(s, {})
            return (k, t, True, s) if k else None
    k, t = _src_class(s, classes)
    if k is not None:
        return (k, t, False, expr.strip())
    if probe is not None:
        k, t = probe(s)
        if k is not None:
            return (k, t, False, expr.strip())
    return None


def _make_lane_probe(spark, stripped: str, translate: Translate):
    """LIMIT-0 type resolver for composite branch operands: analyzes
    ``SELECT <operand> <top-level FROM> LIMIT 0`` through the dialect and
    maps the Spark dtype onto the branch type classes. Probes that fail
    to analyze (correlated operands, subquery-scoped columns, TVFs a
    later pass routes) return (None, None) so callers keep today's
    conservative fallback. Analysis-only — no job is launched — and
    memoized per statement."""
    fm = find_top(stripped, _FROM_KW_RE)
    from_clause = ""
    if fm is not None:
        cm = find_top(stripped, _CLAUSE_KW_RE, fm.end())
        from_clause = stripped[fm.start() : cm.start() if cm else None]
    cache: dict = {}

    def probe(expr: str) -> "tuple[str | None, str | None]":
        key = expr.strip()
        got = cache.get(key)
        if got is not None:
            return got
        q = f"SELECT {key} AS __lane_probe {from_clause} LIMIT 0"
        try:
            dt = spark.sql(translate(q)).dtypes[0][1]
            low = dt.lower()
            if low.startswith(("array<", "struct<", "map<")):
                # composite lanes carry their DuckDB type text (r14:
                # COALESCE([1], '[2]') coerces the string literal into
                # the INTEGER[] lane)
                from ..functions.format_udfs import duck_type_text

                kind = {"a": "list", "s": "struct", "m": "map"}[low[0]]
                got = (kind, duck_type_text(dt))
            else:
                base = dt.split("(")[0]
                cls = _TYPE_CLASS.get(base)
                if base.startswith("timestamp"):
                    cls = "timestamp"
                got = (cls, dt.upper()) if cls else (None, None)
        except Exception:
            got = (None, None)
        cache[key] = got
        return got

    return probe


def _atom_duck_name(atom, literal_strings: bool = False) -> str:
    """DuckDB's binder-message name for a branch atom (measured: int
    literals print INTEGER_LITERAL, decimal literals their exact
    DECIMAL(p,s); string literals print VARCHAR in Cannot-mix messages
    but STRING_LITERAL in greatest/least overload messages)."""
    k, t, lit, _s = atom
    if k == "null":
        return "NULL"
    if k == "string":
        return "STRING_LITERAL" if (lit and literal_strings) else "VARCHAR"
    if k in _COMPOSITE_KINDS:
        # probe atoms carry DuckDB text already (INTEGER[], STRUCT(a
        # INTEGER), MAP(VARCHAR, INTEGER)) — binder messages print it
        return t or k.upper()
    if lit:
        if k == "integer":
            return "INTEGER_LITERAL"
        if k == "decimal":
            return (t or "DECIMAL").upper()
        return {"double": "DOUBLE", "date": "DATE",
                "timestamp": "TIMESTAMP", "boolean": "BOOLEAN"}.get(
                    k, k.upper())
    tt = (t or k).lower()
    base = tt.split("(")[0].strip()
    if base.startswith("timestamp"):
        return "TIMESTAMP"
    if base.startswith("decimal") or base.startswith("numeric"):
        return tt.upper()
    return {
        "int": "INTEGER", "integer": "INTEGER", "bigint": "BIGINT",
        "smallint": "SMALLINT", "tinyint": "TINYINT", "double": "DOUBLE",
        "float": "FLOAT", "string": "VARCHAR", "varchar": "VARCHAR",
        "boolean": "BOOLEAN", "date": "DATE",
    }.get(base, tt.upper())


def _binder_mix_error(a: str, b: str, family_label: str) -> ValueError:
    return ValueError(
        f"Binder Error: Cannot mix values of type {a} and {b} in "
        f"{family_label} - an explicit cast is required"
    )


def _run_branch_fold(acc_atom, fold_atoms, family_label: str) -> bool:
    """DuckDB's branch-type accumulator, measured exhaustively (324
    NULL/int-literal/string-literal orderings plus decimal/date/bool/
    column lanes, r12): CASE folds THEN results left-to-right onto the
    ELSE type (SQLNULL when the ELSE is missing); COALESCE folds its
    arguments onto the first. A string LITERAL coerces into whatever
    single non-string lane the fold holds (either direction), but a
    NULL or a second string degrades a pending string literal to plain
    VARCHAR, and VARCHAR meeting a lane is a binder error — raised here
    with DuckDB's message, operand order included. Returns True when
    string literals need coercion casts."""
    coerce = False
    lane_name = None
    if acc_atom is None or acc_atom[0] == "null":
        state = "N"
    elif acc_atom[0] == "string":
        state = "SL" if acc_atom[2] else "V"
    else:
        state, lane_name = "LANE", _atom_duck_name(acc_atom)
    for a in fold_atoms:
        k = a[0]
        if k == "null":
            if state == "SL":
                state = "V"
            continue
        if k == "string":
            if state == "LANE":
                if a[2]:
                    coerce = True
                else:
                    raise _binder_mix_error(lane_name, "VARCHAR",
                                            family_label)
            elif state in ("N", "SL"):
                state = "V"
            continue
        if state == "V":
            raise _binder_mix_error("VARCHAR", _atom_duck_name(a),
                                    family_label)
        if state == "SL":
            coerce = True
        if state != "LANE":
            lane_name = _atom_duck_name(a)
        state = "LANE"
    return coerce


def _branch_union_target(atoms) -> "str | None":
    """Union type of the non-string, non-null atoms when they sit in one
    family (measured: the string branches never contribute to the lane
    or its width; decimal width is the exact union — COALESCE(1, '2',
    1.5) is DECIMAL(11,1); any float keeps FLOAT, any double DOUBLE;
    date+timestamp unifies to TIMESTAMP). None = mixed families or
    width unknowable (caller falls back to the legacy templates)."""
    nn = [a for a in atoms if a[0] not in ("null", "string")]
    if not nn:
        return None
    kinds = {a[0] for a in nn}
    fams = {_BRANCH_FAMILY[k] for k in kinds}
    if len(fams) != 1:
        return None
    fam = fams.pop()
    if fam == "boolean":
        return "BOOLEAN"
    if fam == "datetime":
        return "TIMESTAMP" if "timestamp" in kinds else "DATE"
    if "double" in kinds:
        return "DOUBLE"
    if "float" in kinds:
        return "FLOAT"
    units, scale = 0, 0
    for k, t, lit, s in nn:
        if k == "decimal":
            ps = _decimal_prec_scale(t or "")
            if ps is None:
                return None
            units = max(units, ps[0] - ps[1])
            scale = max(scale, ps[1])
        elif lit:
            try:
                units = max(
                    units, 19 if abs(int(s)) > 2147483647 else 10
                )
            except ValueError:
                return None
        else:
            u = _INT_CLASS_UNITS.get(k)
            if u is None:
                return None
            units = max(units, u)
    if scale:
        return f"DECIMAL({min(units + scale, 38)},{scale})"
    return _UNITS_INT_TYPE.get(units, "BIGINT")


def _apply_composite_branch(
    parts: list[str], atoms, family_label: str, acc_index: "int | None",
) -> "list[str] | None":
    """Branch fold when a LIST/STRUCT/MAP lane is present (measured r14):
    string LITERALS cast into the composite lane through DuckDB's
    string->composite grammar (lazily — the conversion error only fires
    when the branch is reached); VARCHAR columns and any different-family
    operand raise DuckDB's Cannot-mix binder error with the composite
    type name; same-kind composite lanes with different element types
    bail to Spark's own unification. Fold order matches the scalar
    accumulator: COALESCE folds onto its first argument, CASE THEN
    results fold onto the ELSE type."""
    order = list(range(len(atoms)))
    if acc_index is not None:
        order = [acc_index] + [i for i in order if i != acc_index]
    state = "N"
    lane = None  # the first lane atom
    pending: list[int] = []  # string literals seen before any lane
    coerce: list[int] = []
    for i in order:
        a = atoms[i]
        k = a[0]
        if k == "null":
            if state == "SL":
                state, pending = "V", []
            continue
        if k == "string":
            if a[2]:
                if state == "LANE":
                    coerce.append(i)
                elif state == "N":
                    state = "SL"
                    pending.append(i)
                elif state == "SL":
                    state, pending = "V", []
            else:
                if state == "LANE":
                    raise _binder_mix_error(
                        _atom_duck_name(lane), "VARCHAR", family_label
                    )
                state, pending = "V", []
            continue
        # non-string lane operand
        if state == "V":
            raise _binder_mix_error("VARCHAR", _atom_duck_name(a), family_label)
        if state == "LANE":
            if _BRANCH_FAMILY.get(lane[0]) != _BRANCH_FAMILY.get(k):
                raise _binder_mix_error(
                    _atom_duck_name(lane), _atom_duck_name(a), family_label
                )
            if k in _COMPOSITE_KINDS and (lane[1] or "") != (a[1] or ""):
                return None  # same kind, different element types: Spark's call
        else:
            if state == "SL":
                coerce.extend(pending)
                pending = []
            lane, state = a, "LANE"
    if not coerce or lane is None or lane[0] not in _COMPOSITE_KINDS:
        return None
    tree = _parse_duck_type(lane[1] or "")
    if tree is None:
        return None
    out = list(parts)
    for i in coerce:
        lit = strip_outer_parens(atoms[i][3])
        value = lit[1:-1].replace("''", "'")
        out[i] = _fold_string_to_tree("CAST", value, tree, lazy=True)
    return out


def _apply_branch_casts(
    parts: list[str], classes: dict, family_label: str,
    acc_index: "int | None", probe=None,
) -> "list[str] | None":
    """Rewrite the branch list (textual order) with DuckDB's unification
    casts. The literal-lane fold handles every string-vs-lane mix
    (coercion casts on string literals, binder raise on VARCHAR
    columns); branch sets it declines (unknown expressions, mixed
    families) fall back to the legacy measured templates."""
    atoms = [_branch_atom(p, classes, probe) for p in parts]
    if all(a is not None for a in atoms) and any(
        a[0] in _COMPOSITE_KINDS for a in atoms
    ):
        return _apply_composite_branch(parts, atoms, family_label, acc_index)
    if all(a is not None for a in atoms):
        # DuckDB narrows an INTEGER_LITERAL into a narrow int COLUMN lane
        # when the value fits (measured r12: COALESCE(i8, 1) is TINYINT,
        # COALESCE(i8, 300) is INTEGER); Spark unifies to INT — cast the
        # fitting literals down to the widest column class.
        kinds = {a[0] for a in atoms if a[0] != "null"}
        cols = [a for a in atoms if a[0] != "null" and not a[2]]
        lits = [a for a in atoms if a[0] != "null" and a[2]]
        if kinds and kinds <= set(_INT_RANK) and cols and lits:
            cls = max((a[0] for a in cols), key=lambda k: _INT_RANK[k])
            if _INT_RANK[cls] < _INT_RANK["integer"] and all(
                abs(int(a[3])) <= _INT_MAX[cls] for a in lits
            ):
                return [
                    f"CAST({p.strip()} AS {cls.upper()})"
                    if (a[0] != "null" and a[2]) else p
                    for p, a in zip(parts, atoms)
                ]
    if all(a is not None for a in atoms) and any(
        a[0] == "string" for a in atoms
    ):
        tgt = _branch_union_target(atoms)
        if tgt is not None:
            acc_atom = atoms[acc_index] if acc_index is not None else None
            fold_atoms = [
                a for i, a in enumerate(atoms) if i != acc_index
            ]
            if _run_branch_fold(acc_atom, fold_atoms, family_label):
                out = []
                for p, a in zip(parts, atoms):
                    if a[0] == "string" and a[2]:
                        out.append(f"CAST({p.strip()} AS {tgt})")
                    elif a[0] == "decimal" and tgt == "FLOAT":
                        repl = _cast_contract_repl(
                            "CAST", "{x}", "decimal", "float", "FLOAT",
                            a[1],
                        )
                        out.append(
                            repl.format(x=f"({p.strip()})") if repl else p
                        )
                    else:
                        out.append(p)
                return out
            return None
    lanes = [_expr_lane(p, classes) for p in parts]
    tpl = _branch_cast_templates(lanes)
    if tpl is None:
        return None
    return [
        p if t is None else t.format(x=f"({p.strip()})")
        for p, t in zip(parts, tpl)
    ]


def _case_result_spans(body: str) -> "tuple[list[tuple[int, int]], bool] | None":
    """(spans, saw_else): spans (start, end) of the THEN/ELSE result
    expressions of the CASE whose body (text between its CASE and END
    keywords) is given — the last span is the ELSE result iff saw_else —
    and nested CASEs inside results stay opaque (their own spans are
    inside the returned result spans and classify as unknown)."""
    spans: list[tuple[int, int]] = []
    case_depth = 0
    saw_else = False
    collecting: "int | None" = None
    for m in iter_top(body, _CASE_TOKEN_RE):
        kw = m.group(1).upper()
        if kw == "CASE":
            case_depth += 1
        elif kw == "END":
            if case_depth == 0:
                return None  # malformed; bail
            case_depth -= 1
        elif case_depth == 0:
            if kw in ("WHEN", "ELSE") and collecting is not None:
                spans.append((collecting, m.start()))
                collecting = None
            if kw == "THEN" or kw == "ELSE":
                collecting = m.end()
            if kw == "ELSE":
                saw_else = True
    if collecting is not None:
        spans.append((collecting, len(body)))
    return spans, saw_else


def rewrite_branch_expr_types(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """Apply DuckDB's multi-branch result-type unification (measured,
    tools/sweep_branch_types.py) to CASE THEN/ELSE results and COALESCE /
    IFNULL / IF branch arguments, plus DuckDB's GREATEST/LEAST numeric
    promotion (all-integer args -> BIGINT, any fractional arg -> DOUBLE —
    measured; DuckDB itself rejects BOOLEAN args). Branch types come from
    literal shape, cast suffix, or the FROM schema; branches whose type is
    unknowable contribute nothing and are never wrapped (reference reach:
    db/db.go:70 passthrough)."""
    stripped = sql.strip().rstrip(";")
    if not _BRANCH_GATE_RE.search(_code_only(stripped)):
        return sql
    classes = _schema_class_map(spark, stripped, translate)
    probe = _make_lane_probe(spark, stripped, translate)
    text = stripped
    # 1. function-arg forms, outermost right-to-left (args are spliced in
    # place; nested composite args resolve through the LIMIT-0 probe)
    mask = literal_mask(text)
    nested: list[tuple[int, int, str]] = []
    for m in _BRANCH_FN_RE.finditer(text):
        if mask[m.start()]:
            continue
        close = close_of(text, m.end() - 1)
        if close != -1:
            nested.append((m.start(), close, m.group(1).upper()))
    outer = [
        s for s in nested
        if not any(o[0] < s[0] and s[1] <= o[1] for o in nested if o is not s)
    ]
    for start, close, fn in sorted(outer, reverse=True):
        body = text[text.index("(", start) + 1 : close - 1]
        args = split_top(body)
        if fn in ("GREATEST", "LEAST"):
            # Measured r12: string LITERALS coerce into the single
            # non-string lane (GREATEST(1,'2') -> BIGINT 2;
            # GREATEST(DATE..., '2020-02-02') -> DATE); a NULL argument
            # votes for the BIGINT overload, so all-string-plus-NULL is
            # numeric too (GREATEST(NULL,'2') -> BIGINT); VARCHAR
            # COLUMNS against a lane and any BOOLEAN argument are
            # DuckDB binder errors ("No function matches").
            atoms = [_branch_atom(a, classes, probe) for a in args]
            if any(a is None for a in atoms):
                continue
            kinds = {a[0] for a in atoms if a[0] != "null"}
            if kinds & _COMPOSITE_KINDS:
                # no list/struct/map overloads exist at all (measured:
                # even greatest([1,2],[1,3]) is a DuckDB binder error)
                names = ", ".join(
                    _atom_duck_name(a, literal_strings=True) for a in atoms
                )
                raise ValueError(
                    f"Binder Error: No function matches the given name "
                    f"and argument types '{fn.lower()}({names})'. You "
                    f"might need to add explicit type casts."
                )
            if "boolean" in kinds:
                names = ", ".join(
                    _atom_duck_name(a, literal_strings=True) for a in atoms
                )
                raise ValueError(
                    f"Binder Error: No function matches the given name "
                    f"and argument types '{fn.lower()}({names})'. You "
                    f"might need to add explicit type casts."
                )
            str_lit = [a for a in atoms if a[0] == "string" and a[2]]
            str_col = [a for a in atoms if a[0] == "string" and not a[2]]
            non_string = kinds - {"string"}
            has_null = any(a[0] == "null" for a in atoms)
            if str_col and non_string:
                names = ", ".join(
                    _atom_duck_name(a, literal_strings=True) for a in atoms
                )
                raise ValueError(
                    f"Binder Error: No function matches the given name "
                    f"and argument types '{fn.lower()}({names})'. You "
                    f"might need to add explicit type casts."
                )
            if not non_string:
                if not (str_lit and has_null and not str_col):
                    continue  # pure VARCHAR compare: Spark matches
                tgt = "BIGINT"
            elif non_string <= (set(_INT_RANK) | {"decimal", "float",
                                                  "double"}):
                tgt = "BIGINT" if non_string <= set(_INT_RANK) else "DOUBLE"
            elif non_string <= {"date", "timestamp"} and str_lit:
                tgt = "TIMESTAMP" if "timestamp" in non_string else "DATE"
            else:
                continue
            new_args = [
                f"CAST({a[3]} AS {tgt})"
                if a[0] == "string" and a[2] else a[3]
                for a in atoms
            ]
            inner = f"{fn}({', '.join(new_args)})"
            if tgt in ("DATE", "TIMESTAMP"):
                repl = inner  # lane already exact, no promotion cast
            else:
                repl = f"CAST({inner} AS {tgt})"
            text = text[:start] + repl + text[close:]
            continue
        coerce_args = args if fn != "IF" else args[1:]
        if fn == "IF" and len(args) != 3:
            continue
        # accumulator: the ELSE value for IF (CASE sugar), the first
        # argument for COALESCE/IFNULL (measured fold order)
        fam = "CASE expression" if fn == "IF" else "COALESCE operator"
        acc_index = 1 if fn == "IF" else 0
        new_args = _apply_branch_casts(coerce_args, classes, fam, acc_index,
                                       probe)
        if new_args is None:
            continue
        rebuilt = args[:1] + new_args if fn == "IF" else new_args
        repl = f"{fn}({', '.join(a.strip() for a in rebuilt)})"
        text = text[:start] + repl + text[close:]
    # 2. CASE expressions: rewrite THEN/ELSE results, innermost-last via
    # right-to-left span processing on the refreshed text
    if re.search(r"\bCASE\b", _code_only(text), re.IGNORECASE):
        mask = literal_mask(text)
        cases: list[tuple[int, int]] = []
        opens: list[int] = []
        for m in _CASE_TOKEN_RE.finditer(text):
            if mask[m.start()]:
                continue
            kw = m.group(1).upper()
            if kw == "CASE":
                opens.append(m.start())
            elif kw == "END" and opens:
                cases.append((opens.pop(), m.end()))
        outer_cases = [
            s for s in cases
            if not any(o[0] < s[0] and s[1] <= o[1] for o in cases if o is not s)
        ]
        for start, end in sorted(outer_cases, reverse=True):
            body_start = start + 4
            body_end = end - 3  # before END
            body = text[body_start:body_end]
            got = _case_result_spans(body)
            if not got or not got[0] or len(got[0]) < 2:
                continue
            spans, saw_else = got
            parts = [body[a:b] for a, b in spans]
            new_parts = _apply_branch_casts(
                parts, classes, "CASE expression",
                len(parts) - 1 if saw_else else None, probe,
            )
            if new_parts is None:
                continue
            for (a, b), np in sorted(zip(spans, new_parts), reverse=True):
                body = body[:a] + f" {np.strip()} " + body[b:]
            text = text[:body_start] + body + text[body_end:]
    return text


def _top_select_items(sql: str) -> "list[tuple[str, str | None]]":
    """(expression text, output name) for each item of the OUTERMOST
    select list (after any WITH block); name is the trailing AS alias /
    bare alias / bare column identifier, None when underivable. Used by
    the executor's logical-type tagger — intentionally conservative:
    statements whose select list can't be isolated return []."""
    s = sql.strip().rstrip(";")
    sm = find_top(s, _SELECT_RE)
    if sm is None:
        return []
    # top-level FROM (or end of statement for FROM-less selects)
    fm = find_top(s, _FROM_KW_RE, sm.end())
    body = s[sm.end() : None if fm is None else fm.start()]
    if re.match(r"\s*(?:ALL|DISTINCT)\b", body, re.IGNORECASE):
        body = re.sub(r"^\s*(?:ALL|DISTINCT)\b", "", body, flags=re.IGNORECASE)
    out: "list[tuple[str, str | None]]" = []
    for item in split_top(body):
        it = item.strip()
        if not it or it == "*":
            continue
        am = re.match(r"^(.*\S)\s+AS\s+([A-Za-z_]\w*)$", it,
                      re.IGNORECASE | re.DOTALL)
        if am:
            out.append((am.group(1), am.group(2)))
            continue
        if re.match(rf"^{_IDENT_RE_TEXT}$", it):
            out.append((it, it.split(".")[-1]))
            continue
        bm = re.match(r"^(.*[)\]'\w])\s+([A-Za-z_]\w*)$", it, re.DOTALL)
        if bm and not re.match(
            r"^(?:AND|OR|NOT|IN|IS|LIKE|BETWEEN|ESCAPE|END)$",
            bm.group(2), re.IGNORECASE,
        ):
            out.append((bm.group(1), bm.group(2)))
            continue
        out.append((it, None))
    return out


_IN_LIST_RE = re.compile(r"\b(NOT\s+)?IN\s*\(", re.IGNORECASE)
_IN_LHS_RE = re.compile(
    rf"({_IDENT_RE_TEXT}"
    r"|(?:(?:DATE|TIMESTAMPTZ|TIMESTAMP)\s*)?'(?:[^']|'')*'"
    r"|-?\d+(?:\.\d+)?)\s*$",
    re.IGNORECASE,
)


def rewrite_in_list_types(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """String LITERALS inside an IN list coerce into the left operand's
    lane in DuckDB with a runtime conversion error on unparsable text
    (measured r12: 1 IN ('x', 2) raises; Spark's coercion NULLs the
    comparison and returns false silently). Wrap string-literal items
    with casts to the LHS type when the LHS resolves to a numeric/date
    lane — the cast-contract pass downstream adds DuckDB's error
    semantics. Subquery IN, unknown LHS, and string LHS pass through."""
    stripped = sql.strip().rstrip(";")
    if not _IN_LIST_RE.search(_code_only(stripped)):
        return sql
    classes = _schema_class_map(spark, stripped, translate)
    probe = _make_lane_probe(spark, stripped, translate)
    text = stripped
    mask = literal_mask(text)
    for m in sorted(_IN_LIST_RE.finditer(text), key=lambda x: -x.start()):
        if mask[m.start()]:
            continue
        close = close_of(text, m.end() - 1)
        if close == -1:
            continue
        body = text[m.end(): close - 1]
        if re.match(r"\s*SELECT\b", body, re.IGNORECASE):
            continue
        lm = _IN_LHS_RE.search(text[: m.start()])
        if lm:
            lk, lt = _src_class(lm.group(1), classes)
        else:
            # composite LHS (call / paren form): probe the balanced span
            # ending just before IN — DuckDB coerces the list's string
            # literals into ITS lane too (measured r13: length('abc') IN
            # ('x') raises its INT64 conversion error)
            lk = lt = None
            j = m.start() - 1
            while j >= 0 and text[j].isspace():
                j -= 1
            if j >= 0 and text[j] == ")" and not mask[j]:
                k = open_of(text, j)
                if k >= 0:
                    i2 = k - 1
                    while i2 >= 0 and (text[i2].isalnum() or text[i2] in "_."):
                        i2 -= 1
                    lhs_expr = text[i2 + 1: j + 1].strip()
                    if not re.match(r"^\(\s*(?:SELECT|WITH)\b", lhs_expr,
                                    re.IGNORECASE):
                        lk, lt = probe(lhs_expr)
        if lk in (None, "string", "boolean"):
            continue
        lt = lt or lk
        items = split_top(body)
        atoms = [_branch_atom(i, classes, probe) for i in items]
        if any(a is None for a in atoms):
            continue
        if not any(a[0] == "string" and a[2] for a in atoms):
            continue
        new_items = [
            f"CAST({i.strip()} AS {lt})"
            if (a[0] == "string" and a[2]) else i.strip()
            for i, a in zip(items, atoms)
        ]
        text = (
            text[: m.end()] + ", ".join(new_items) + text[close - 1:]
        )
    return text


_STR_LIST_CAST_RE = re.compile(
    r"\b(TRY_CAST|CAST)\s*\(\s*'((?:[^']|'')*)'\s+AS\s+"
    r"([A-Za-z_]\w*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*((?:\[\s*\])+)\s*\)"
    r"|'((?:[^']|'')*)'\s*::\s*"
    r"([A-Za-z_]\w*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*((?:\[\s*\])+)",
    re.IGNORECASE,
)
# list LITERAL -> list cast: element conversions follow the scalar cast
# contract (measured: CAST([1.7] AS INTEGER[]) = [2] — DuckDB rounds
# where Spark's array cast truncates), so distribute the cast per cell
_LIT_LIST_CAST_RE = re.compile(
    r"\b(TRY_CAST|CAST)\s*\(\s*(\[[^()]*?\])\s+AS\s+"
    r"([A-Za-z_]\w*)\s*(\[\s*\])\s*\)",
    re.IGNORECASE,
)
_STRING_BASES = {"varchar", "text", "string", "char", "bpchar"}


def _split_list_body(body: str) -> "list[str] | None":
    """Top-level comma split of a DuckDB list-string body (bracket- and
    brace-aware — struct/map elements like '[{k0=1, k1=2}, {k0=3}]'
    keep their inner commas, r14). Quotes protect commas ONLY when they
    open at the ELEMENT START and stay PART of the element (measured:
    CAST('[''a'', ''b,c'']' AS VARCHAR[]) keeps the quotes, while
    '[it''s,it''s]' splits at the comma — a mid-element quote is a
    plain character)."""
    parts: list[str] = []
    cur: list[str] = []
    depth = 0
    at_start = True
    i, n = 0, len(body)
    while i < n:
        ch = body[i]
        if at_start and ch == "'":
            cur.append(ch)
            i += 1
            closed = False
            while i < n:
                if body[i] == "'":
                    if i + 1 < n and body[i + 1] == "'":
                        cur.append("''")
                        i += 2
                        continue
                    cur.append("'")
                    i += 1
                    closed = True
                    break
                cur.append(body[i])
                i += 1
            if not closed:
                return None
            at_start = False
            continue
        if ch in "[{":
            depth += 1
        elif ch in "]}":
            depth -= 1
            if depth < 0:
                return None
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            at_start = True
        else:
            cur.append(ch)
            if not ch.isspace():
                at_start = False
        i += 1
    if depth:
        return None
    parts.append("".join(cur))
    return parts


def _fold_string_list(form: str, value: str, base: str, depth: int):
    """DuckDB SQL for CAST('<list string>' AS base[]*depth) — parsed per
    its measured grammar: outer whitespace trimmed, brackets required
    (else CAST raises / TRY_CAST NULLs the whole value), elements
    trimmed and cast ELEMENT-WISE (TRY_CAST('[1, x]') is [1, NULL]),
    NULL elements pass, nesting recurses. Raises ValueError with
    DuckDB's message on the unbracketed CAST form."""
    tgt = base + "[]" * depth
    v = value.strip()
    if not (v.startswith("[") and v.endswith("]")):
        if form == "TRY_CAST":
            return f"CAST(NULL AS {tgt})"
        raise ValueError(
            f"Conversion Error: Type VARCHAR with value '{value}' can't "
            f"be cast to the destination type LIST"
        )
    body = v[1:-1]
    if not body.strip():
        return f"CAST([] AS {tgt})"
    elems = _split_list_body(body)
    if elems is None:
        if form == "TRY_CAST":
            return f"CAST(NULL AS {tgt})"
        raise ValueError(
            f"Conversion Error: Type VARCHAR with value '{value}' can't "
            f"be cast to the destination type LIST"
        )
    out = []
    for e in elems:
        el = e.strip()
        if re.match(r"^NULL$", el, re.IGNORECASE):
            out.append(f"CAST(NULL AS {base + '[]' * (depth - 1)})")
        elif depth > 1:
            out.append(_fold_string_list(form, el, base, depth - 1))
        elif base.lower() in _STRING_BASES:
            out.append("'" + el.replace("'", "''") + "'")
        else:
            lit = "'" + el.replace("'", "''") + "'"
            out.append(f"{form}({lit} AS {base})")
    return "[" + ", ".join(out) + "]"


# ---------------------------------------------------------------------------
# Composite-type trees: string -> LIST/STRUCT/MAP cast grammar (r14)
# ---------------------------------------------------------------------------

_COMPOSITE_KINDS = {"list", "struct", "map"}
_COMPOSITE_FAIL_NAME = {"list": "LIST", "struct": "STRUCT", "map": "MAP"}


def _parse_duck_type(text: str):
    """DuckDB type text -> nested tree: ('scalar', canon text, class) |
    ('list', elem) | ('struct', [(name, tree), ...]) | ('map', k, v).
    None = unparseable / unsupported base (caller bails, no rewrite)."""
    t = text.strip()
    m = re.match(r"^(.*?)((?:\s*\[\s*\])+)$", t, re.DOTALL)
    if m:
        tree = _parse_duck_type(m.group(1))
        if tree is None:
            return None
        for _ in range(m.group(2).count("[")):
            tree = ("list", tree)
        return tree
    low = t.lower()
    if low.startswith("struct"):
        sm = re.match(r"^struct\s*\((.*)\)$", t, re.IGNORECASE | re.DOTALL)
        if not sm:
            return None
        fields = []
        for f in split_top(sm.group(1)):
            f = f.strip()
            nm = re.match(r'^"((?:[^"]|"")*)"\s+(.+)$', f, re.DOTALL) or re.match(
                r"^([A-Za-z_]\w*)\s+(.+)$", f, re.DOTALL
            )
            if not nm:
                return None
            sub = _parse_duck_type(nm.group(2))
            if sub is None:
                return None
            fields.append((nm.group(1).replace('""', '"'), sub))
        return ("struct", fields) if fields else None
    if low.startswith("map"):
        mm = re.match(r"^map\s*\((.*)\)$", t, re.IGNORECASE | re.DOTALL)
        if not mm:
            return None
        kv = split_top(mm.group(1))
        if len(kv) != 2:
            return None
        kt, vt = _parse_duck_type(kv[0]), _parse_duck_type(kv[1])
        if kt is None or vt is None:
            return None
        return ("map", kt, vt)
    base = low.split("(")[0].strip()
    if base in ('"null"', "null", "void"):
        # void leaves (typeof NULL literals inside composites) render as
        # the bare NULL token; the string lane's bare-value emit does that
        return ("scalar", "VARCHAR", "string")
    cls = _TYPE_CLASS.get(base)
    if cls is None:
        return None
    return ("scalar", t, cls)


def _duck_tree_text(tree) -> str:
    """Tree -> DuckDB type text (CAST-target spelling)."""
    kind = tree[0]
    if kind == "scalar":
        return tree[1]
    if kind == "list":
        return _duck_tree_text(tree[1]) + "[]"
    if kind == "struct":
        fields = ", ".join(
            (f'"{n}"' if not re.match(r"^[A-Za-z_]\w*$", n) else n)
            + f" {_duck_tree_text(t)}"
            for n, t in tree[1]
        )
        return f"STRUCT({fields})"
    return f"MAP({_duck_tree_text(tree[1])}, {_duck_tree_text(tree[2])})"


def _composite_cast_fail(form: str, value: str, kind: str, tgt_text: str,
                         lazy: bool) -> str:
    """Whole-value string->composite failure: TRY_CAST NULLs, CAST raises
    DuckDB's Conversion Error — eagerly for standalone casts (always
    evaluated), as a runtime raise_error guard inside branch folds where
    DuckDB only errors when the branch is actually reached (measured:
    COALESCE(MAP{'k':1}, 'nope') returns the map, the NULL-lane twin
    raises)."""
    if form == "TRY_CAST":
        return f"TRY_CAST(NULL AS {tgt_text})"
    msg = (
        f"Conversion Error: Type VARCHAR with value '{value}' can't be "
        f"cast to the destination type {_COMPOSITE_FAIL_NAME[kind]}"
    )
    if not lazy:
        raise ValueError(msg)
    lit = msg.replace("'", "''")
    return f"CAST(raise_error('{lit}') AS {tgt_text})"


def _split_composite_body(body: str) -> "list[str] | None":
    """Top-level comma split of a struct/map string body (quote-, brace-
    and bracket-aware)."""
    parts, depth, in_q, cur = [], 0, False, []
    for ch in body:
        if in_q:
            if ch == "'":
                in_q = False
            cur.append(ch)
            continue
        if ch == "'":
            in_q = True
        elif ch in "[{":
            depth += 1
        elif ch in "]}":
            depth -= 1
            if depth < 0:
                return None
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if depth or in_q:
        return None
    parts.append("".join(cur))
    return parts


def _entry_split(entry: str, sep: str) -> "tuple[str, str] | None":
    """Split one struct/map entry at the FIRST top-level separator
    (':' for structs, '=' for maps — measured: '{k=2=3}' keeps '2=3' as
    the value text)."""
    depth, in_q = 0, False
    for i, ch in enumerate(entry):
        if in_q:
            if ch == "'":
                in_q = False
            continue
        if ch == "'":
            in_q = True
        elif ch in "[{":
            depth += 1
        elif ch in "]}":
            depth -= 1
        elif ch == sep and depth == 0:
            return entry[:i], entry[i + 1:]
    return None


def _merge_map_pieces(pieces: "list[str]") -> "list[str] | None":
    """DuckDB's map-body entry rule (measured r14): a comma piece with
    no top-level '=' merges into the FOLLOWING piece's key
    ('{k0=x,y, k1=abc}' reads keys ['k0', 'y, k1']); a TRAILING
    '='-less piece fails the whole value ('{k=1, z}' raises)."""
    out: list[str] = []
    pending = ""
    for p in pieces:
        if _entry_split(p, "=") is not None:
            out.append(pending + p)
            pending = ""
        else:
            pending += p + ","
    if pending:
        return None
    return out


def _unquote_token(tok: str) -> "tuple[str, bool]":
    """(content, was_quoted) of a struct/map key or value token —
    measured: quoted tokens strip their outer quotes ({'a': 'x,y'} ->
    x,y) while list ELEMENTS keep theirs (existing _fold_string_list
    rule)."""
    s = tok.strip()
    if len(s) >= 2 and s.startswith("'") and s.endswith("'"):
        return s[1:-1].replace("''", "'"), True
    return s, False


def _scalar_content_conv(form: str, content: str, stree) -> str:
    """Element conversion of a parsed string cell into a scalar target:
    string targets take the content verbatim, everything else routes the
    quoted literal through the measured cast contract (the emitted CAST
    is folded by the later cast-contract pass — string->int rounds,
    errors carry DuckDB's templates)."""
    _kind, stext, scls = stree
    lit = "'" + content.replace("'", "''") + "'"
    if scls == "string":
        return lit
    return f"{form}({lit} AS {stext})"


def _fold_string_to_tree(form: str, value: str, tree, lazy: bool = False) -> str:
    """DuckDB SQL reproducing CAST('<value>' AS <composite tree>) per the
    measured string->composite grammars (struct: {'key': v} with quoted
    or bare keys, unknown keys fail whole-value, missing fields NULL;
    map: {k=v}; list: bracket grammar via _fold_string_list semantics).
    ``lazy`` turns whole-value CAST failures into runtime raise_error
    guards for branch-fold call sites."""
    kind = tree[0]
    tgt_text = _duck_tree_text(tree)
    v = value.strip()
    if kind == "scalar":
        return _scalar_content_conv(form, v, tree)
    if not (v.startswith("{") if kind in ("struct", "map") else v.startswith("[")):
        return _composite_cast_fail(form, value, kind, tgt_text, lazy)
    if not v.endswith("}" if kind in ("struct", "map") else "]"):
        return _composite_cast_fail(form, value, kind, tgt_text, lazy)
    body = v[1:-1]

    def cell_expr(content: str, was_quoted: bool, sub) -> "str | None":
        if not was_quoted and re.match(r"^NULL$", content, re.IGNORECASE):
            return f"CAST(NULL AS {_duck_tree_text(sub)})"
        if sub[0] == "scalar":
            return _scalar_content_conv(form, content, sub)
        return _fold_string_to_tree(form, content, sub, lazy)

    if kind == "list":
        if not body.strip():
            return f"CAST([] AS {tgt_text})"
        elems = _split_list_body(body)
        if elems is None:
            return _composite_cast_fail(form, value, kind, tgt_text, lazy)
        sub = tree[1]
        out = []
        for e in elems:
            el = e.strip()
            if re.match(r"^NULL$", el, re.IGNORECASE):
                out.append(f"CAST(NULL AS {_duck_tree_text(sub)})")
            elif sub[0] == "scalar":
                # list elements KEEP their quotes (measured — unlike
                # struct/map cells); feed the raw element text through
                out.append(_scalar_content_conv(form, el, sub))
            else:
                out.append(_fold_string_to_tree(form, el, sub, lazy))
        return "[" + ", ".join(out) + "]"

    entries = [] if not body.strip() else _split_composite_body(body)
    if entries is None:
        return _composite_cast_fail(form, value, kind, tgt_text, lazy)

    if kind == "struct":
        fields = tree[1]
        by_name = {n: t for n, t in fields}
        got: dict = {}
        for entry in entries:
            sp = _entry_split(entry, ":")
            if sp is None:
                return _composite_cast_fail(form, value, kind, tgt_text, lazy)
            key, _kq = _unquote_token(sp[0])
            if key not in by_name:
                # unknown / case-mismatched key fails the WHOLE value
                # (measured: {'A': 1} -> STRUCT(a INTEGER) raises)
                return _composite_cast_fail(form, value, kind, tgt_text, lazy)
            content, was_q = _unquote_token(sp[1])
            expr = cell_expr(content, was_q, by_name[key])
            if expr is None:
                return _composite_cast_fail(form, value, kind, tgt_text, lazy)
            got[key] = expr  # duplicate keys: last wins (measured)
        cells = ", ".join(
            f"'{n}': " + got.get(n, f"CAST(NULL AS {_duck_tree_text(t)})")
            for n, t in fields
        )
        return "{" + cells + "}"

    # map
    ktree, vtree = tree[1], tree[2]
    if not entries:
        return f"CAST(MAP {{}} AS {tgt_text})"
    entries = _merge_map_pieces(entries)
    if entries is None:
        return _composite_cast_fail(form, value, kind, tgt_text, lazy)
    cells = []
    kexprs = []
    for entry in entries:
        sp = _entry_split(entry, "=")
        if sp is None:
            return _composite_cast_fail(form, value, kind, tgt_text, lazy)
        kc = _unquote_token(sp[0])[0]
        if kc == "NULL":
            # a NULL key fails the whole value, before the duplicate-key
            # guard. Only the upper-case spelling is a NULL key, quoted or
            # not (measured: '{NULL=1}', '{''NULL''=1}' and '{NULL=1,
            # NULL=2}' raise the Conversion Error, '{null=1}' has the key
            # 'null'), so other key text skips cell_expr's NULL test
            return _composite_cast_fail(form, value, kind, tgt_text, lazy)
        vc = _unquote_token(sp[1])[0]
        kexpr = cell_expr(kc, True, ktree)
        # a value is NULL by the same rule as a key (measured: '{a=NULL}'
        # and '{a=''NULL''}' hold NULL, '{a=null}' holds the string 'null')
        vexpr = (
            f"CAST(NULL AS {_duck_tree_text(vtree)})" if vc == "NULL"
            else cell_expr(vc, True, vtree)
        )
        if kexpr is None or vexpr is None:
            return _composite_cast_fail(form, value, kind, tgt_text, lazy)
        kexprs.append(kexpr)
        cells.append(f"{kexpr}: {vexpr}")
    lit = "MAP {" + ", ".join(cells) + "}"
    key_is_text = ktree[0] == "scalar" and ktree[2] == "string"
    out = _map_fold_unique(kexprs, key_is_text, lit, tgt_text)
    if form == "TRY_CAST" and ktree[0] == "scalar" and not key_is_text:
        # a key that does not convert is NULL under TRY_CAST, and a NULL
        # key makes the whole value NULL, ahead of the duplicate-key check
        # (measured: TRY_CAST('{null=1}' AS MAP(INTEGER, INTEGER)) and
        # TRY_CAST('{1=a, 01=b, x=c}' AS MAP(INTEGER, VARCHAR)) are NULL)
        nulls = " OR ".join(f"({k}) IS NULL" for k in kexprs)
        return f"(CASE WHEN {nulls} THEN CAST(NULL AS {tgt_text}) ELSE {out} END)"
    return out


def _map_fold_unique(kexprs: "list[str]", key_is_text: bool, lit: str,
                     tgt_text: str) -> str:
    """The folded map literal, guarded by DuckDB's unique-keys check when
    its keys are not statically distinct."""
    # Statically safe (no guard needed): a single entry, or textually
    # distinct VARCHAR-family keys (distinct text == distinct value; for
    # numeric/temporal keys distinct TEXT can still cast to equal VALUES,
    # e.g. '1' vs '01' as INTEGER keys — those need the runtime check)
    if len(kexprs) <= 1 or (key_is_text and len(set(kexprs)) == len(kexprs)):
        return lit
    # Duplicate keys must raise DuckDB's unique-keys error (VERDICT r15
    # task 8 / ADVICE r14 #3): DuckDB checks the CAST key VALUES (measured:
    # '{1=x, 01=y}' -> MAP(INTEGER, ...) raises; TRY_CAST raises too), so a
    # static text comparison is not enough — guard the fold output with the
    # same runtime check the string-COLUMN path uses (raise_error carries
    # the verbatim message through the service envelope). Spark's own map()
    # would raise DUPLICATED_MAP_KEY with a different message.
    dup = (
        f"len(list_distinct([{', '.join(kexprs)}])) <> {len(kexprs)}"
    )
    return (
        f"(CASE WHEN {dup} THEN CAST(raise_error('Invalid Input Error: "
        f"Map keys must be unique.') AS {tgt_text}) ELSE {lit} END)"
    )


# ---------------------------------------------------------------------------
# Postfix factorial over EXPRESSION terms (r14)
# ---------------------------------------------------------------------------

_FACT_END_RE = re.compile(
    r"^\s*(?:$|,|\)|\]|;|AS\b|FROM\b|UNION\b|INTERSECT\b|EXCEPT\b|ORDER\b"
    r"|LIMIT\b|WHERE\b|GROUP\b|HAVING\b|THEN\b|ELSE\b|END\b|WHEN\b|AND\b"
    r"|OR\b|IS\b|IN\b|BETWEEN\b|NOT\b|=|<|>|::)",
    re.IGNORECASE,
)
# '*' included (ADVICE r14): it only applies to text FOLLOWING a '!', so it
# cannot collide with 'SELECT t.*' projections
_FACT_ARITH_RE = re.compile(r"^(\s*)(\|\||[+\-*/%^])")
_FACT_KEYWORDS = {
    "SELECT", "WHEN", "THEN", "ELSE", "END", "AND", "OR", "NOT", "IN", "IS",
    "BETWEEN", "LIKE", "ILIKE", "WHERE", "BY", "FROM", "ON", "CASE",
    "RETURN", "RETURNS", "VALUES", "DISTINCT", "ALL", "AS", "UNION",
    "INTERSECT", "EXCEPT", "LIMIT", "OFFSET", "HAVING", "GROUP", "ORDER",
    "JOIN", "SET", "USING", "EXISTS", "ANY", "SOME", "INTERVAL",
}
_FACT_TYPE_NAME = {
    "bigint": "BIGINT", "double": "DOUBLE", "float": "FLOAT",
    "boolean": "BOOLEAN", "date": "DATE", "timestamp": "TIMESTAMP",
    "string": "VARCHAR",
}


def _fact_operand_start(text: str, mask: list, bang: int) -> "int | None":
    """Start index of the arithmetic expression a postfix ``!`` applies
    to — DuckDB's operator binds LOOSER than + - * / % (measured:
    1 + 3! = factorial(4), 10 - 7! = factorial(3), x + 1! over x=4 is
    120) but tighter than comparisons (3! = 7 is false) — so scan back
    over terms joined by arithmetic operators, stopping at keywords,
    commas, or enclosing brackets."""

    def skipws(i: int) -> int:
        while i >= 0 and text[i].isspace():
            i -= 1
        return i

    i = bang - 1
    start = None
    while True:
        i = skipws(i)
        if i < 0:
            break
        ch = text[i]
        if mask[i] and ch == "'":
            # string literal term: walk to its opening quote
            j = i - 1
            while j >= 0 and mask[j]:
                j -= 1
            start = j + 1
            i = j
        elif ch in ")]}":
            j = open_of(text, i)
            if j < 0:
                return None
            start = j
            # a function/array name directly before the group is part of
            # the term (abs(-3)! = 6, measured)
            k = skipws(j - 1)
            k2 = k
            while k2 >= 0 and (text[k2].isalnum() or text[k2] in "_$"):
                k2 -= 1
            if k2 < k:
                word = text[k2 + 1 : k + 1].upper()
                if word not in _FACT_KEYWORDS and not word[0].isdigit():
                    start = k2 + 1
                    k = k2
            i = start - 1
        elif ch.isalnum() or ch in "_$.":
            j = i
            while j >= 0 and (text[j].isalnum() or text[j] in "_$."):
                j -= 1
            word = text[j + 1 : i + 1]
            if word.upper() in _FACT_KEYWORDS:
                break
            start = j + 1
            i = j
        else:
            break
        # subscript / field-access suffix chains extend the same term
        # (CAST(...)[1]!, {'a':3}.a! — measured: factorial applies to
        # the chained expression)
        j = skipws(i)
        if ch == "]" and j >= 0 and not mask[j] and (
            text[j].isalnum() or text[j] in "_$)]}"
        ):
            i = j
            continue
        if (
            start is not None
            and text[start] == "."
            and j >= 0
            and not mask[j]
            and text[j] in ")]}"
        ):
            # a '.field' word binds to the preceding group
            i = j
            continue
        # another term joined by an arithmetic operator?
        i = skipws(i)
        if i >= 0 and text[i] in "+-*/%^" and not mask[i]:
            start = i  # unary sign stays included when no term precedes
            i -= 1
            continue
        break
    return start


def _fact_guarded(form_expr: str) -> str:
    """DuckDB's !/factorial value semantics (measured): NULL -> NULL,
    n <= 1 (negatives included) -> 1, 2..33 -> the exact HUGEINT
    product (engine convention: HUGEINT rides DECIMAL(38,0)), >= 34 ->
    'Out of Range Error: Value out of range' at runtime."""
    n = f"({form_expr})"
    return (
        f"(CASE WHEN {n} IS NULL THEN CAST(NULL AS DECIMAL(38,0)) "
        f"WHEN {n} >= 34 THEN CAST(raise_error('Out of Range Error: "
        f"Value out of range') AS DECIMAL(38,0)) "
        f"WHEN {n} <= 1 THEN CAST(1 AS DECIMAL(38,0)) "
        f"ELSE aggregate(sequence(2, CAST({n} AS INT)), "
        f"CAST(1 AS DECIMAL(38,0)), "
        f"(__facc, __fx) -> CAST(__facc * __fx AS DECIMAL(38,0))) END)"
    )


def rewrite_postfix_factorial_terms(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """DuckDB's postfix ``!`` over full EXPRESSION terms (r14 — the
    dialect's literal-only twin handles bare translate() callers).
    Grammar measured: '!=' with no space lexes as inequality; '! ='
    with space is factorial-then-compare; followers may be expression
    ends, comparisons, IS/IN/BETWEEN/AND/OR or '::'; an arithmetic
    operator AFTER the '!' is DuckDB's catalog error. Operands must
    type INTEGER or narrower — BIGINT/DOUBLE/DECIMAL/BOOLEAN raise the
    '!__postfix(TYPE)' binder error; string LITERALS cast through the
    measured string->int contract first ('3.5'! = 24)."""
    code = _code_only(sql.strip())
    if not re.search(r"!(?![=~!])", code):
        return sql
    stripped = sql.strip().rstrip(";")
    text = stripped
    mask = literal_mask(text)
    classes = None
    probe = None
    edits: list[tuple[int, int, str]] = []
    for m in re.finditer(r"!", text):
        i = m.start()
        if mask[i]:
            continue
        if i + 1 < len(text) and text[i + 1] in "=~!":
            continue  # != / !~~ / !! stay operators (or documented raises)
        if i > 0 and text[i - 1] in "=<>!":
            continue
        after = text[i + 1 :]
        div_follows = False
        if not _FACT_END_RE.match(after):
            am = _FACT_ARITH_RE.match(after)
            if am is None:
                continue
            ws, op = am.group(1), am.group(2)
            # measured (r15/r16): UNSPACED '!<op>' lexes as the multi-char
            # operator token, so DuckDB's catalog error names '!<op>' —
            # INCLUDING '!||' (ADVICE r15: `3!||2` raises over the '!||'
            # token; the old lane excluded '||' and mis-raised bare '!').
            # Spaced '+'/'-'/'||' parse '!' as a binary operator (catalog
            # error names '!'); spaced '*' is a parser error at the token
            # after the '*'. Spaced '/', '%', '^' EVALUATE in DuckDB
            # (factorial binds first: 3! / 2 is 3.0, 3! % 2 is 0,
            # 3! ^ 2 is 36.0) — fall through to the operand rewrite; '/'
            # marks the HUGEINT operand for DOUBLE division (DuckDB's
            # HUGEINT / INTEGER returns DOUBLE, while the engine's
            # DECIMAL(38,0) HUGEINT convention would hit Spark's decimal
            # division lane).
            if not ws:
                raise ValueError(
                    f"Catalog Error: Scalar Function with name !{op} "
                    'does not exist!\nDid you mean "!~~"?'
                )
            if op == "*":
                rest = after[am.end():].lstrip()
                tokm = re.match(r"[A-Za-z_0-9$.]+|\S", rest)
                tok = tokm.group(0) if tokm else ""
                raise ValueError(
                    f'Parser Error: syntax error at or near "{tok}"'
                )
            if op not in ("/", "%", "^"):
                raise ValueError(
                    "Catalog Error: Scalar Function with name ! does not "
                    'exist!\nDid you mean "!~~"?'
                )
            div_follows = op == "/"
        start = _fact_operand_start(text, mask, i)
        if start is None:
            continue
        operand = text[start:i].strip()
        if not operand:
            continue

        def _emit(repl: str, start=start, i=i, div=div_follows) -> None:
            # '/' follower: HUGEINT / INTEGER is DOUBLE division in DuckDB
            edits.append(
                (start, i + 1, f"CAST({repl} AS DOUBLE)" if div else repl)
            )

        if re.match(r"^NULL$", operand, re.IGNORECASE):
            _emit("CAST(NULL AS DECIMAL(38,0))")
            continue
        if re.match(r"^'(?:[^']|'')*'$", operand):
            _emit(_fact_guarded(f"CAST({operand} AS INTEGER)"))
            continue
        if re.match(r"^-?\d+$", operand):
            if abs(int(operand)) > 2147483647:
                raise ValueError(
                    "Binder Error: No function matches the given name and "
                    "argument types '!__postfix(BIGINT)'. You might need "
                    "to add explicit type casts."
                )
            _emit(_fact_guarded(operand))
            continue
        if classes is None:
            classes = _schema_class_map(spark, stripped, translate)
            probe = _make_lane_probe(spark, stripped, translate)
        k, t = _src_class(operand, classes)
        if k is None:
            k, t = probe(operand)
        if k is None:
            continue  # untypeable: leave for Spark's loud parse error
        if k in ("tinyint", "smallint", "integer"):
            _emit(_fact_guarded(operand))
            continue
        if k == "decimal":
            name = (t or "DECIMAL").upper()
        elif k in _COMPOSITE_KINDS:
            name = t or k.upper()  # DuckDB prints INTEGER[] etc.
        else:
            name = _FACT_TYPE_NAME.get(k, k.upper())
        raise ValueError(
            f"Binder Error: No function matches the given name and "
            f"argument types '!__postfix({name})'. You might need to "
            f"add explicit type casts."
        )
    for a, b, repl in sorted(edits, reverse=True):
        text = text[:a] + repl + text[b:]
    return text if edits else sql


# ---------------------------------------------------------------------------
# Map equality (r14)
# ---------------------------------------------------------------------------

_MAP_CMP_OP_RE = re.compile(r"<>|!=|=")


def _scan_cmp_term_back(text: str, mask: list, at: int) -> "int | None":
    """Start index of the single term ending at ``at`` (inclusive):
    a MAP {...} literal, a function call / parenthesized expression
    (with its name), or a dotted identifier chain."""

    def skipws(i: int) -> int:
        while i >= 0 and text[i].isspace():
            i -= 1
        return i

    i = skipws(at)
    if i < 0:
        return None
    ch = text[i]
    if ch in ")]}":
        j = open_of(text, i)
        if j < 0:
            return None
        start = j
        k = skipws(j - 1)
        k2 = k
        while k2 >= 0 and (text[k2].isalnum() or text[k2] in "_$."):
            k2 -= 1
        if k2 < k:
            word = text[k2 + 1 : k + 1]
            if word.upper() not in _FACT_KEYWORDS and not word[0].isdigit():
                return k2 + 1
        return start
    if ch.isalnum() or ch in "_$.":
        j = i
        while j >= 0 and (text[j].isalnum() or text[j] in "_$."):
            j -= 1
        word = text[j + 1 : i + 1]
        if word.upper() in _FACT_KEYWORDS:
            return None
        return j + 1
    return None


def _scan_cmp_term_fwd(text: str, mask: list, at: int) -> "int | None":
    """End index (exclusive) of the single term starting at ``at``."""

    def skipws(i: int) -> int:
        while i < len(text) and text[i].isspace():
            i += 1
        return i

    i = skipws(at)
    if i >= len(text):
        return None
    ch = text[i]
    if ch == "'":
        lm = MASKED_RE.match(text, i)
        return lm.end() if lm else None
    if ch in "([{":
        e = close_of(text, i)
        return None if e == -1 else e
    if ch.isalnum() or ch in "_$":
        j = i
        while j < len(text) and (text[j].isalnum() or text[j] in "_$."):
            j += 1
        word = text[i:j]
        if word.upper() in _FACT_KEYWORDS:
            return None
        k = skipws(j)
        if k < len(text) and text[k] in "({" and not mask[k]:
            e = close_of(text, k)
            return None if e == -1 else e
        return j
    return None


def _map_eq_expr(left: str, right: str) -> str:
    """DuckDB map equality (measured r14): entry-order-sensitive, a
    definite non-null mismatch (keys, order, or values) is FALSE, an
    otherwise-equal compare with any NULL value is NULL."""
    ka, kb = f"map_keys({left})", f"map_keys({right})"
    nn = (
        f"forall(zip_with(map_values({left}), map_values({right}), "
        f"(__mx, __my) -> __mx IS NULL OR __my IS NULL OR __mx = __my), "
        f"__mp -> __mp)"
    )
    anynull = (
        f"(exists(map_values({left}), __mv -> __mv IS NULL) OR "
        f"exists(map_values({right}), __mv -> __mv IS NULL))"
    )
    return (
        f"(CASE WHEN ({left}) IS NULL OR ({right}) IS NULL "
        f"THEN CAST(NULL AS BOOLEAN) "
        f"WHEN NOT ({ka} = {kb}) THEN FALSE "
        f"WHEN NOT {nn} THEN FALSE "
        f"WHEN {anynull} THEN CAST(NULL AS BOOLEAN) "
        f"ELSE TRUE END)"
    )


def rewrite_map_comparisons(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """MAP equality (r14): DuckDB compares maps ENTRY-ORDER-SENSITIVELY
    (MAP{'a':1,'b':2} = MAP{'b':2,'a':1} is false) with SQL null
    propagation per VALUE (a null value makes an otherwise-equal
    compare NULL, a definite mismatch stays false) — Spark rejects map
    operands in = outright, so the comparison lowers onto
    keys/zip_with/exists per _map_eq_expr. = and <>/!= only; ordered
    map comparisons stay loud."""
    code = _code_only(sql.strip())
    if not re.search(r"\bmap\b", code, re.IGNORECASE):
        return sql
    stripped = sql.strip().rstrip(";")
    text = stripped
    mask = literal_mask(text)
    probe = None
    edits: list[tuple[int, int, str]] = []
    for m in _MAP_CMP_OP_RE.finditer(text):
        if mask[m.start()]:
            continue
        op = m.group(0)
        if op == "=" and (
            (m.start() > 0 and text[m.start() - 1] in "<>!:=")
            or (m.end() < len(text) and text[m.end()] == "=")
        ):
            continue  # <=, >=, !=, :=, == handled elsewhere / later
        ls = _scan_cmp_term_back(text, mask, m.start() - 1)
        re_ = _scan_cmp_term_fwd(text, mask, m.end())
        if ls is None or re_ is None:
            continue
        left = text[ls : m.start()].strip()
        right = text[m.end() : re_].strip()
        if not left or not right:
            continue
        if "map" not in left.lower() and "map" not in right.lower():
            continue  # cheap pre-filter before any analysis probe
        if probe is None:
            probe = _make_lane_probe(spark, stripped, translate)
        k, _t = probe(left)
        if k is None:
            k, _t = probe(right)
        if k != "map":
            continue
        eq = _map_eq_expr(left, right)
        edits.append(
            (ls, re_, f"(NOT {eq})" if op in ("<>", "!=") else eq)
        )
    for a, b, repl in sorted(edits, reverse=True):
        text = text[:a] + repl + text[b:]
    return text if edits else sql


_STR_COMPOSITE_CAST_RE = re.compile(
    r"\b(TRY_CAST|CAST)\s*\(\s*'((?:[^']|'')*)'\s+AS\s+(?=(?:STRUCT|MAP)\s*\()"
    r"|'((?:[^']|'')*)'\s*::\s*(?=(?:STRUCT|MAP)\s*\()",
    re.IGNORECASE,
)
_STR_COL_LIST_CAST_RE = re.compile(r"\b(TRY_CAST|CAST)\s*\(", re.IGNORECASE)
_LIST_TGT_RE = re.compile(
    r"^([A-Za-z_]\w*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*((?:\[\s*\])+)$"
)


def _runtime_string_list_cast(
    form: str, expr: str, base_cls: str, base_text: str, tgt_text: str
) -> str:
    """CAST of a string COLUMN/expression to a list type (r14): the
    bracket grammar is parsed at runtime by the duck_list_split Arrow
    UDF (NULL = grammar failure, distinct from the input-NULL lane
    checked first), elements convert through the measured scalar cast
    contract, and whole-value failures reproduce DuckDB's Conversion
    Error with the offending value spliced in (TRY_CAST NULLs)."""
    var = "__lse"
    parsed = f"duck_list_split({expr})"
    if base_cls == "string":
        conv = var  # list elements keep their quotes verbatim (measured)
    else:
        conv = _cast_contract_repl(
            form, var, "string", base_cls, base_text, None
        ) or f"{form}({var} AS {base_text})"
    body = f"list_transform({parsed}, {var} -> {conv})"
    if form == "TRY_CAST":
        fail = f"TRY_CAST(NULL AS {tgt_text})"
    else:
        fail = (
            f"CAST(raise_error(concat('Conversion Error: Type VARCHAR "
            f"with value ''', {expr}, ''' can''t be cast to the "
            f"destination type LIST')) AS {tgt_text})"
        )
    return (
        f"(CASE WHEN ({expr}) IS NULL THEN CAST(NULL AS {tgt_text}) "
        f"WHEN {parsed} IS NULL THEN {fail} ELSE {body} END)"
    )


def _render_composite_varchar(
    expr: str, tree, depth: int = 0, in_lambda: bool = False
) -> str:
    """DuckDB's composite -> VARCHAR render (measured r14): lists
    '[1, 2]', structs '{''key'': value}' with QUOTED keys, maps '{k=v}';
    string leaves print BARE (no quotes, even empty or comma-bearing),
    NULL leaves print 'NULL', doubles/floats use DuckDB's shortest
    round-trip repr, a NULL container at any level renders as NULL
    (COALESCE at the use site turns nested ones into the 'NULL' token).
    Spark rejects Python UDFs inside higher-order lambdas, so a FLAT
    double/float list routes through the duck_double_arr_str Arrow UDF
    before its join; double leaves nested deeper under a lambda fall
    back to Spark's cast (exponent-form repr divergence, documented)."""
    kind = tree[0]
    if kind == "scalar":
        scls = tree[2]
        if scls == "string":
            return f"({expr})"
        if scls in ("double", "float") and not in_lambda:
            fn = "duck_double_str" if scls == "double" else "duck_float_str"
            return f"{fn}({expr})"
        return f"CAST(({expr}) AS VARCHAR)"
    v = f"__rcv{depth}"
    if kind == "list":
        sub = tree[1]
        if (
            sub[0] == "scalar"
            and sub[2] in ("double", "float")
            and not in_lambda
        ):
            fn = (
                "duck_double_arr_str"
                if sub[2] == "double"
                else "duck_float_arr_str"
            )
            body = (
                f"concat('[', array_join({fn}(({expr})), ', ', 'NULL'), ']')"
            )
        else:
            inner = _render_composite_varchar(v, sub, depth + 1, True)
            body = (
                f"concat('[', array_join(transform(({expr}), {v} -> "
                f"COALESCE({inner}, 'NULL')), ', '), ']')"
            )
    elif kind == "struct":
        pieces = []
        for n, sub in tree[1]:
            acc = (
                f"({expr}).{n}"
                if re.match(r"^[A-Za-z_]\w*$", n)
                else f"({expr}).`{n}`"
            )
            key = n.replace("'", "''")
            pieces.append(
                f"concat('''{key}'': ', COALESCE("
                f"{_render_composite_varchar(acc, sub, depth + 1, in_lambda)}"
                f", 'NULL'))"
            )
        body = (
            "concat('{', concat_ws(', ', " + ", ".join(pieces) + "), '}')"
            if pieces
            else "'{}'"
        )
    else:  # map
        krender = _render_composite_varchar(f"{v}.key", tree[1], depth + 1, True)
        vrender = _render_composite_varchar(
            f"{v}.value", tree[2], depth + 1, True
        )
        body = (
            f"concat('{{', array_join(transform(map_entries(({expr})), "
            f"{v} -> concat(COALESCE({krender}, 'NULL'), '=', "
            f"COALESCE({vrender}, 'NULL'))), ', '), '}}')"
        )
    return f"(CASE WHEN ({expr}) IS NULL THEN NULL ELSE {body} END)"


def _runtime_scalar_conv(form: str, expr: str, stree) -> str:
    """Measured string->scalar conversion of a split cell expression
    (the cell text is already unquoted by the split UDFs)."""
    _k, stext, scls = stree
    if scls == "string":
        return expr
    return _cast_contract_repl(
        form, expr, "string", scls, stext, None
    ) or f"{form}({expr} AS {stext})"


def _composite_runtime_fail(form: str, expr: str, kind: str,
                            tgt_text: str) -> str:
    if form == "TRY_CAST":
        return f"TRY_CAST(NULL AS {tgt_text})"
    return (
        f"CAST(raise_error(concat('Conversion Error: Type VARCHAR with "
        f"value ''', ({expr}), ''' can''t be cast to the destination "
        f"type {_COMPOSITE_FAIL_NAME[kind]}')) AS {tgt_text})"
    )


def _runtime_string_composite_cast(form: str, expr: str, tree) -> "str | None":
    """CAST of a string COLUMN/expression to STRUCT/MAP (r14): the
    duck_struct_split / duck_map_split Arrow UDFs parse the measured
    entry grammars at runtime; unknown struct keys fail whole-value,
    duplicate map keys raise DuckDB's unique-keys error, cell values
    convert through the scalar cast contract. None = a shape this
    lowering can't express (e.g. list-of-list fields), caller leaves
    Spark's loud error."""
    tgt_text = _duck_tree_text(tree)

    def cell_conv(src: str, sub, in_lambda: bool) -> "str | None":
        if sub[0] == "scalar":
            return _runtime_scalar_conv(form, src, sub)
        if in_lambda:
            return None  # split UDFs can't run inside lambdas
        if sub[0] == "list" and sub[1][0] == "scalar":
            base_text = sub[1][1]
            return _runtime_string_list_cast(
                form, src, sub[1][2], base_text, _duck_tree_text(sub)
            )
        if sub[0] in ("struct", "map"):
            return _runtime_string_composite_cast(form, src, sub)
        return None

    if tree[0] == "struct":
        split = f"duck_struct_split({expr})"
        names = ", ".join(
            "'" + n.replace("'", "''") + "'" for n, _ in tree[1]
        )
        keys_ok = f"forall(map_keys({split}), __sk -> __sk IN ({names}))"
        cells = []
        for n, sub in tree[1]:
            # __spark_element_at: the dialect's passthrough marker —
            # user-spelled element_at gets DuckDB's map-LIST semantics
            src = f"__spark_element_at({split}, '" + n.replace("'", "''") + "')"
            conv = cell_conv(src, sub, False)
            if conv is None:
                return None
            cells.append("'" + n.replace("'", "''") + f"', {conv}")
        fail = _composite_runtime_fail(form, expr, "struct", tgt_text)
        return (
            f"(CASE WHEN ({expr}) IS NULL THEN CAST(NULL AS {tgt_text}) "
            f"WHEN {split} IS NULL THEN {fail} "
            f"WHEN NOT {keys_ok} THEN {fail} "
            f"ELSE named_struct({', '.join(cells)}) END)"
        )
    if tree[0] == "map":
        ktree, vtree = tree[1], tree[2]
        kconv = cell_conv("__me.k", ktree, True)
        vconv = cell_conv("__me.v", vtree, True)
        if kconv is None or vconv is None:
            return None
        ents = f"duck_map_split({expr})"
        dup = (
            f"size({ents}) <> "
            f"size(array_distinct(transform({ents}, __me -> __me.k)))"
        )
        fail = _composite_runtime_fail(form, expr, "map", tgt_text)
        # measured: duplicate keys raise even under TRY_CAST (invalid
        # input, not a conversion failure)
        dupfail = (
            f"CAST(raise_error('Invalid Input Error: Map keys must "
            f"be unique.') AS {tgt_text})"
        )
        body = (
            f"map_from_entries(transform({ents}, "
            f"__me -> struct({kconv}, {vconv})))"
        )
        return (
            f"(CASE WHEN ({expr}) IS NULL THEN CAST(NULL AS {tgt_text}) "
            f"WHEN {ents} IS NULL THEN {fail} "
            f"WHEN {dup} THEN {dupfail} "
            f"ELSE {body} END)"
        )
    return None


def rewrite_string_list_casts(
    spark: SparkSession, sql: str, translate: Translate, _depth: int = 0
) -> str:
    """(TRY_)CAST of a STRING LITERAL to a list type — Spark has no
    STRING->ARRAY cast, DuckDB parses the bracket grammar (measured
    r13). Folded here, BEFORE the cast contract, so the emitted
    per-element casts pick up the measured string->T conversion
    semantics (rounding, element-wise errors). r14 extends the same
    fold to STRUCT/MAP targets ({'key': v} / {k=v} grammars, measured)
    and to string COLUMN sources of list casts (runtime parse via the
    duck_list_split UDF)."""
    if not re.search(
        r"\[|\b(?:STRUCT|MAP)\s*\("
        r"|\bAS\s+(?:VARCHAR|TEXT|STRING|CHAR|BPCHAR)\b",
        sql,
        re.IGNORECASE,
    ):
        return sql
    stripped = sql.strip().rstrip(";")
    text = stripped
    mask = literal_mask(text)
    edits: list[tuple[int, int, str]] = []
    # string literal -> STRUCT/MAP (and composite-element list) targets
    for m in _STR_COMPOSITE_CAST_RE.finditer(text):
        if m.group(1):
            anchor, form = m.start(), m.group(1).upper()
            val = m.group(2).replace("''", "'")
        else:
            anchor = text.index("::", m.end(3))
            form = "CAST"
            val = m.group(3).replace("''", "'")
        if mask[anchor]:
            continue
        # type text: balanced parens from the STRUCT/MAP head, plus any
        # [] suffixes
        topen = text.index("(", m.end())
        tclose = close_of(text, topen)
        if tclose == -1:
            continue
        j = tclose
        while True:
            sfx = re.match(r"\s*\[\s*\]", text[j:])
            if not sfx:
                break
            j += sfx.end()
        type_text = text[m.end() : j]
        tree = _parse_duck_type(type_text)
        if tree is None or tree[0] not in _COMPOSITE_KINDS:
            continue
        if m.group(1):
            after = re.match(r"\s*\)", text[j:])
            if not after:
                continue
            end = j + after.end()
        else:
            end = j
        edits.append((m.start(), end, _fold_string_to_tree(form, val, tree)))
    for m in _STR_LIST_CAST_RE.finditer(text):
        if m.group(1):
            anchor, form = m.start(), m.group(1).upper()
            val = m.group(2).replace("''", "'")
            base, brackets = m.group(3), m.group(4)
        else:
            anchor = text.index("::", m.end(5))
            form = "CAST"
            val = m.group(5).replace("''", "'")
            base, brackets = m.group(6), m.group(7)
        if mask[anchor]:
            continue
        if base.lower().split("(")[0].strip() not in _TYPE_CLASS:
            continue
        depth = brackets.count("[")
        edits.append(
            (m.start(), m.end(), _fold_string_list(form, val, base, depth))
        )
    for m in _LIT_LIST_CAST_RE.finditer(text):
        if mask[m.start()]:
            continue
        form, body, base = m.group(1).upper(), m.group(2), m.group(3)
        if base.lower() not in _TYPE_CLASS:
            continue
        cells = _split_list_body(body[1:-1])
        if cells is None:
            continue
        out = []
        ok = True
        for c in cells:
            cl = c.strip()
            if not cl:
                ok = False
                break
            if re.match(r"^NULL$", cl, re.IGNORECASE):
                out.append(f"CAST(NULL AS {base})")
            elif _src_class(cl, {})[0] is not None:
                out.append(f"{form}({cl} AS {base})")
            else:
                ok = False  # non-literal cell: keep Spark's array cast
                break
        if ok and out:
            edits.append((m.start(), m.end(), "[" + ", ".join(out) + "]"))
    # string COLUMN/expression -> list casts (r14): runtime parse
    classes = None
    probe = None
    taken = [(a, b) for a, b, _ in edits]
    for m in _STR_COL_LIST_CAST_RE.finditer(text):
        if mask[m.start()] or any(a <= m.start() < b for a, b in taken):
            continue
        close = close_of(text, m.end() - 1)
        if close == -1:
            continue
        # skip when the FULL span (m.start(), close) overlaps ANY prior
        # edit — an outer CAST(... AS VARCHAR) containing a list-literal
        # fold from the earlier loops would otherwise splice with stale
        # offsets and emit corrupted SQL (ADVICE r14); the contained cast
        # is picked up by the fixpoint re-run below instead
        if any(not (b <= m.start() or close <= a) for a, b in taken):
            continue
        cast_body = text[m.end() : close - 1]
        as_at = _cast_as_at(cast_body)
        if as_at is None:
            continue
        expr = cast_body[:as_at].strip()
        type_text = cast_body[as_at:].lstrip()[2:].strip()
        tm = _LIST_TGT_RE.match(type_text)
        str_tgt = (
            type_text.lower().split("(")[0].strip() in _STRING_BASES
        )
        comp_tgt = re.match(r"^(?:STRUCT|MAP)\s*\(", type_text, re.IGNORECASE)
        if (
            not (tm and tm.group(2).count("[") == 1)
            and not str_tgt
            and not comp_tgt
        ):
            continue
        if not expr or re.match(r"^'(?:[^']|'')*'$", expr) or re.match(
            r"^NULL$", expr, re.IGNORECASE
        ):
            continue  # string-literal sources fold above; NULL stays NULL
        if not str_tgt and expr.startswith("["):
            continue  # list-literal -> list casts distribute above
        if classes is None:
            classes = _schema_class_map(spark, stripped, translate)
            probe = _make_lane_probe(spark, stripped, translate)
        k, t = _src_class(expr, classes)
        if k is None:
            k, t = probe(expr)
        if str_tgt:
            # composite -> VARCHAR: DuckDB's render shape (measured)
            if k not in _COMPOSITE_KINDS:
                continue
            tree = _parse_duck_type(t or "")
            if tree is None:
                continue
            edits.append(
                (m.start(), close, _render_composite_varchar(expr, tree))
            )
            taken.append((m.start(), close))
            continue
        if k != "string":
            continue
        if comp_tgt:
            # string COLUMN -> STRUCT/MAP: runtime split UDFs (r14)
            tree = _parse_duck_type(type_text)
            if tree is None or tree[0] not in ("struct", "map"):
                continue
            repl = _runtime_string_composite_cast(
                m.group(1).upper(), expr, tree
            )
            if repl is None:
                continue
            edits.append((m.start(), close, repl))
            taken.append((m.start(), close))
            continue
        base = tm.group(1).strip()
        base_cls = _TYPE_CLASS.get(base.lower().split("(")[0].strip())
        if base_cls is None:
            continue
        edits.append(
            (
                m.start(),
                close,
                _runtime_string_list_cast(
                    m.group(1).upper(), expr, base_cls, base, type_text
                ),
            )
        )
        taken.append((m.start(), close))  # nested CASTs ride the outer edit
    for a, b, repl in sorted(edits, reverse=True):
        text = text[:a] + repl + text[b:]
    if edits and _depth < 3:
        # replacements can EMBED casts that still need this pass
        # (CAST(CAST(s AS INTEGER[]) AS VARCHAR) splices the inner cast
        # into the render body verbatim) — iterate to fixpoint; emitted
        # forms never re-match (raise_error/NULL sources skip), so this
        # terminates
        return rewrite_string_list_casts(spark, text, translate, _depth + 1)
    return text if edits else sql


_ORDERED_STAT_RE = re.compile(
    r"\b(quantile_cont|median|mad)\s*\(", re.IGNORECASE
)


def rewrite_ordered_stat_decimals(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """DuckDB types ordered-statistic aggregates over DECIMAL(p,s) input
    as DECIMAL(p,s) (measured r12): quantile_cont interpolates on the
    scaled integers and TRUNCATES toward zero (quantile_cont(0.25) over
    [1.00, 2.50, 3.50, 4.00] DECIMAL(5,2) = 2.12, not 2.125-rounded);
    median over DECIMAL is the DISCRETE lower-middle (= quantile_disc
    0.5 — interpolation only happens for non-decimal numerics); mad
    interpolates deviations on the scaled ints and truncates. Rewrites
    the three shapes onto scaled-integer arithmetic when the argument
    resolves to a DECIMAL column; non-decimal inputs keep Spark's
    native DOUBLE lane (measured identical). Windowed forms (OVER) pass
    through untouched."""
    if not _ORDERED_STAT_RE.search(_code_only(sql.strip())):
        return sql
    stripped = sql.strip().rstrip(";")
    classes = _schema_class_map(spark, stripped, translate)
    if not classes:
        return sql
    text = stripped
    mask = literal_mask(text)
    for m in sorted(
        _ORDERED_STAT_RE.finditer(text), key=lambda x: -x.start()
    ):
        if mask[m.start()]:
            continue
        close = close_of(text, m.end() - 1)
        if close == -1:
            continue
        after = text[close:].lstrip()
        if re.match(r"^OVER\b", after, re.IGNORECASE):
            continue
        fn = m.group(1).lower()
        body = text[m.end(): close - 1]
        args = split_top(body)
        if not args or len(args) > 2:
            continue
        k, t = _src_class(args[0].strip(), classes)
        if k != "decimal" or not t:
            continue
        ps = _decimal_prec_scale(t)
        if ps is None:
            continue
        p, s = ps
        mul = 10 ** s
        x = args[0].strip()
        # trunc-toward-zero of the interpolated scaled value, written as
        # e - e % 1 so the value is already integral BEFORE any CAST: the
        # downstream cast-contract pass rewrites double->BIGINT casts to
        # DuckDB's round-half-even (BROUND), which is identity on
        # integral doubles but destroyed the old CAST(e AS BIGINT) form
        # at every scaled .5 boundary (measured r13: quantile_cont(0.25)
        # over DECIMAL(2,1) {1.1,1.7,3.2,4.5} is 1.5 — trunc(15.5) — and
        # the negative-lane probes confirm toward-zero, not floor:
        # q25 over {-4.5,-3.2,-1.7,-1.1} is -3.5 = trunc(-35.25)).
        def _trunc(e: str) -> str:
            return f"CAST(({e}) - (({e}) % 1) AS BIGINT)"

        if fn == "median":
            repl = f"quantile_disc({x}, 0.5)"
        elif fn == "mad":
            if len(args) != 1:
                continue
            repl = (
                f"CAST({_trunc(f'mad(({x}) * {mul})')} / {mul}.0 "
                f"AS DECIMAL({p},{s}))"
            )
        else:  # quantile_cont
            if len(args) != 2:
                continue
            q = args[1].strip()
            if q.startswith("["):
                repl = (
                    f"transform(quantile_cont(({x}) * {mul}, {q}), "
                    f"__q_v -> CAST({_trunc('__q_v')} / {mul}.0 "
                    f"AS DECIMAL({p},{s})))"
                )
            else:
                repl = (
                    f"CAST({_trunc(f'quantile_cont(({x}) * {mul}, {q})')}"
                    f" / {mul}.0 AS DECIMAL({p},{s}))"
                )
        text = text[: m.start()] + repl + text[close:]
    return text


_VALUES_KW_RE = re.compile(r"\bVALUES\s*\(", re.IGNORECASE)


def _atom_int_units(a) -> int:
    """Integer-digit capacity an integer-class cell contributes to a
    DECIMAL union (measured: literal ints contribute 10/19 by VALUE;
    composite cells contribute their CLASS width — [1.5, CAST(1 AS
    TINYINT)] is DECIMAL(4,1), [1.5, CAST(1 AS BIGINT)] DECIMAL(20,1))."""
    k, _t, lit, s = a
    if lit:
        try:
            return 19 if abs(int(s)) > 2147483647 else 10
        except ValueError:
            return 10
    return _INT_CLASS_UNITS.get(k, 10)


def _literal_union_target(atoms) -> "str | None":
    """DuckDB's literal-lane union type for a VALUES column or list
    literal (measured r11, composite cells r13). Cells are branch atoms
    (class, type text, is_literal, source text):

    - strings coerce INTO the lane the non-string cells choose
      ((1),('42') -> INTEGER; ['7', 1.25] -> DECIMAL(3,2); strings never
      contribute to the lane or its width);
    - booleans unify with the INTEGER lane only ([true,1] -> INTEGER[];
      bool+decimal is a DuckDB binder error — left to error in Spark too)
      and with strings as BOOLEAN ((true),('false') -> BOOLEAN);
    - the decimal width is the exact union of the numeric cells
      ([123.456, 1] -> DECIMAL(13,3): max units 10 for an int literal +
      max scale 3; composite cells contribute class widths);
    - any float-shaped (scientific) literal pushes the lane to DOUBLE;
    - DATE/TIMESTAMP literals pull date-shaped strings into their lane,
      and a date+timestamp mix unifies to TIMESTAMP.

    None = no coercion needed / not safely decidable (pass through)."""
    ints = set(_INT_RANK)
    raw_kinds = {a[0] for a in atoms if a[0] != "null"}
    kinds = {("integer" if k in ints else k) for k in raw_kinds}
    if len(kinds) < 2:
        return None
    non_str = kinds - {"string"}
    if not non_str:
        return None
    if non_str == {"boolean"}:
        return "BOOLEAN"
    if "boolean" in non_str and not non_str <= {"boolean", "integer"}:
        return None  # DuckDB rejects bool+fractional too
    if non_str <= {"boolean", "integer"}:
        big = any(a[0] in ints and _atom_int_units(a) == 19 for a in atoms)
        return "BIGINT" if big else "INTEGER"
    if non_str <= {"integer", "decimal"}:
        units, scale = 1, 0
        for a in atoms:
            if a[0] in ints:
                units = max(units, _atom_int_units(a))
            elif a[0] == "decimal":
                ps = _decimal_prec_scale(a[1] or "")
                if ps is None:
                    return None
                units = max(units, max(ps[0] - ps[1], 1))
                scale = max(scale, ps[1])
        return f"DECIMAL({min(units + scale, 38)},{scale})"
    if non_str <= {"integer", "decimal", "double", "float"}:
        return "DOUBLE"
    if non_str == {"date"}:
        return "DATE"
    if non_str <= {"date", "timestamp"}:
        return "TIMESTAMP"
    return None


def _varchar_mix_atoms(atoms) -> "tuple[str, str] | None":
    """(name A, name B) when the cell set mixes a non-literal VARCHAR
    cell with a non-string lane — a DuckDB binder/bind error (measured
    r13: [upper('x'), 1] and VALUES (upper('x')), (1) both reject) —
    names in cell order for the message. None otherwise."""
    vc = [a for a in atoms if a[0] == "string" and not a[2]]
    other = [a for a in atoms if a[0] not in ("null", "string")]
    if not vc or not other:
        return None
    first_vc, first_other = vc[0], other[0]
    a, b = (
        (first_vc, first_other)
        if atoms.index(first_vc) < atoms.index(first_other)
        else (first_other, first_vc)
    )
    return _atom_duck_name(a), _atom_duck_name(b)


def _literal_cell_needs_cast(a, tgt: str) -> bool:
    kind = a[0] if isinstance(a, tuple) else a
    if kind == "string":
        return True
    if kind == "boolean" and tgt != "BOOLEAN":
        return True
    if kind == "date" and tgt == "TIMESTAMP":
        return True
    # 19-digit int cells in a DECIMAL union: DuckDB's BIGINT lane is 19
    # units but Spark's is 20, so [1.5, CAST(1 AS BIGINT)] unifies to
    # DECIMAL(21,1) there vs DuckDB's DECIMAL(20,1) — cast the cell to
    # the exact union type (measured r13)
    if isinstance(a, tuple) and kind in _INT_RANK and tgt.startswith(
        "DECIMAL"
    ) and _atom_int_units(a) == 19:
        return True
    return False


_LIST_OPEN_RE = re.compile(r"\[")


def rewrite_list_literal_types(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """DuckDB unifies LIST-literal element types across the same lanes as
    VALUES columns (measured r11: [1, '2'] -> INTEGER[] = [1, 2];
    ['1.5', 2] -> INTEGER[] = [2, 2] — string->int rounds; [true, 1] ->
    INTEGER[]; [DATE ..., '2024-02-02'] -> DATE[]), where Spark's array()
    either rejects the mix (bool+int) or unifies to STRING (keeping '2'
    as text — a silent divergence). String/bool/date cells of mixed
    lists get explicit CASTs to the unified lane; the emitted casts ride
    the dialect's measured string->int rounding and the service cast
    error contract (bad strings raise like DuckDB's binder). Composite
    cells (arithmetic, calls, columns) resolve through the branch-atom
    lane probe (r13: [1+1, '7'] is INTEGER[] in DuckDB) and a
    non-literal VARCHAR cell against a lane raises DuckDB's
    cannot-create-a-list binder error."""
    stripped = sql.strip().rstrip(";")
    if "[" not in _code_only(stripped):
        return sql
    classes = _schema_class_map(spark, stripped, translate)
    probe = _make_lane_probe(spark, stripped, translate)

    text = stripped
    mask = literal_mask(text)
    spans: list[tuple[int, int]] = []
    for m in _LIST_OPEN_RE.finditer(text):
        i = m.start()
        if mask[i]:
            continue
        # subscript (identifier/call/literal/list base), not a list
        # literal — subscripts bind with NO whitespace (`x[1]`), so only
        # the immediately preceding character decides; the one keyword
        # exception is DuckDB's ARRAY[...] constructor form
        if i > 0 and (text[i - 1].isalnum() or text[i - 1] in "_)]'"):
            before = text[max(0, i - 6) : i]
            if not (
                before.upper().endswith("ARRAY")
                and (i == 5 or not (text[i - 6].isalnum() or text[i - 6] == "_"))
            ):
                continue
        j = close_of(text, i)
        if j == -1:
            continue
        spans.append((i, j))
    # outermost only; nested lists have non-literal cells and pass through
    outer = [
        s for s in spans
        if not any(o[0] < s[0] and s[1] <= o[1] for o in spans if o is not s)
    ]
    for start, end in sorted(outer, reverse=True):
        body = text[start + 1 : end - 1]
        if not body.strip():
            continue
        cells = split_top(body)
        atoms = []
        ok = True
        for cell in cells:
            if "[" in cell:
                ok = False  # nested list / subscript cell: stay opaque
                break
            a = _branch_atom(cell, classes, probe)
            if a is None:
                ok = False
                break
            atoms.append(a)
        if not ok:
            continue
        mix = _varchar_mix_atoms(atoms)
        if mix is not None:
            raise ValueError(
                f"Binder Error: Cannot create a list of types {mix[0]} "
                f"and {mix[1]} - an explicit cast is required"
            )
        tgt = _literal_union_target(atoms)
        if tgt is None:
            continue
        new_cells = [
            f"CAST({c} AS {tgt})"
            if _literal_cell_needs_cast(a, tgt) else c
            for c, a in zip(cells, atoms)
        ]
        if new_cells == cells:
            continue
        text = text[:start] + "[" + ", ".join(new_cells) + "]" + text[end:]
    return text


def rewrite_values_typing(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """DuckDB types a VALUES list by unifying ALL rows' cells per column —
    string literals coerce INTO a numeric/date lane and booleans into a
    numeric lane (measured: (1),('42') -> INTEGER; (1),(true) -> INTEGER;
    (1),(2.5),('7') -> DECIMAL; (DATE ...),('2024-02-02') -> DATE). Spark's
    inline-table resolution rejects those mixes, so the string/bool cells
    get explicit CASTs to the unified lane. Composite cells resolve
    through the branch-atom lane probe (r13: (1+1),('7') -> INTEGER) and
    a non-literal VARCHAR cell against a lane raises DuckDB's
    cannot-combine-types error."""
    stripped = sql.strip().rstrip(";")
    if not _VALUES_KW_RE.search(_code_only(stripped)):
        return sql
    # BARE probe (no FROM): VALUES cells are constant expressions, and
    # the statement's own FROM may BE the not-yet-coerced inline table —
    # attaching it would make every probe fail on exactly the statements
    # this pass exists to fix
    probe = _make_lane_probe(spark, "", translate)

    text = stripped
    mask = literal_mask(text)
    for m in sorted(
        _VALUES_KW_RE.finditer(text), key=lambda x: -x.start()
    ):
        if mask[m.start()]:
            continue
        # collect the row list: ( ... ) [, ( ... )]*
        rows: list[tuple[int, int]] = []
        j = text.index("(", m.start())
        while True:
            close = close_of(text, j)
            if close == -1:
                rows = []
                break
            rows.append((j + 1, close - 1))
            k = close
            while k < len(text) and text[k].isspace():
                k += 1
            if k < len(text) and text[k] == ",":
                k += 1
                while k < len(text) and text[k].isspace():
                    k += 1
                if k < len(text) and text[k] == "(":
                    j = k
                    continue
                rows = []
            break
        if len(rows) < 2:
            continue
        cells = [split_top(text[a:b]) for a, b in rows]
        ncols = len(cells[0])
        if any(len(r) != ncols for r in cells):
            continue
        new_cells = [list(row) for row in cells]
        changed = False
        for col in range(ncols):
            atoms = []
            ok = True
            for r in range(len(cells)):
                cell = cells[r][col].strip()
                a = _branch_atom(cell, {}, probe)
                if a is None:
                    ok = False  # unknowable cell: leave the column alone
                    break
                atoms.append(a)
            if not ok:
                continue
            mix = _varchar_mix_atoms(atoms)
            if mix is not None:
                raise ValueError(
                    f"Not implemented Error: Cannot combine types {mix[0]} "
                    f"and {mix[1]} - an explicit cast is required"
                )
            tgt = _literal_union_target(atoms)
            if tgt is None:
                continue
            for r in range(len(cells)):
                if _literal_cell_needs_cast(atoms[r], tgt):
                    new_cells[r][col] = (
                        f"CAST({cells[r][col].strip()} AS {tgt})"
                    )
                    changed = True
        if not changed:
            continue
        for (a, b), row in sorted(zip(rows, new_cells), reverse=True):
            text = text[:a] + ", ".join(c.strip() for c in row) + text[b:]
        mask = literal_mask(text)
    return text


# ---------------------------------------------------------------------------
# Set-operation branch-type unification (r11, tools/sweep_branch_types.py)
# ---------------------------------------------------------------------------

_SETOP_KW_RE = re.compile(
    r"\b(UNION|INTERSECT|EXCEPT)(\s+(?:ALL|DISTINCT))?(\s+BY\s+NAME)?\b",
    re.IGNORECASE,
)
_SETOP_GATE_RE = re.compile(r"\b(UNION|INTERSECT|EXCEPT)\b", re.IGNORECASE)
_MAIN_QUERY_RE = re.compile(r"\b(?:SELECT|VALUES|FROM)\b", re.IGNORECASE)
_TRAIL_CLAUSE_RE = re.compile(r"\b(ORDER\s+BY|LIMIT|OFFSET)\b", re.IGNORECASE)

# DuckDB's numeric-unification ladder for set-operation branches
# (measured, tools/sweep_branch_types.py): BOOLEAN coerces INTO the other
# branch's lane (bool ∪ TINYINT → TINYINT with 0/1, bool ∪ VARCHAR →
# VARCHAR with 'true'/'false'); DECIMAL ∪ FLOAT → FLOAT (the scaled-int
# float32 lane); everything else Spark already unifies identically.
_SETOP_RANK = {
    "boolean": 0, "tinyint": 1, "smallint": 2, "int": 3, "integer": 3,
    "bigint": 4, "decimal": 5, "float": 6, "double": 7, "string": 8,
}


def _split_setop_branches(body: str) -> "tuple[list[str], list[str]] | None":
    """Split on top-level UNION/INTERSECT/EXCEPT keywords (outside parens
    and literals). Returns (branches, ops) or None when there is no
    top-level set operation."""
    parts: list[str] = []
    ops: list[str] = []
    last = 0
    for m in iter_top(body, _SETOP_KW_RE):
        parts.append(body[last : m.start()])
        ops.append(m.group(0))
        last = m.end()
    if not ops:
        return None
    parts.append(body[last:])
    return parts, ops


def _setop_lane(dt: str) -> "tuple[str, str]":
    """(unification lane, cast-target text) of a Spark simpleString dtype."""
    base = dt.split("(")[0].lower()
    return base, dt


def rewrite_setop_branch_types(
    spark: SparkSession, sql: str, translate: Translate
) -> str:
    """Reproduce DuckDB's set-operation branch-type unification where
    Spark's differs (measured, tools/sweep_branch_types.py r11):

    - BOOLEAN ∪ numeric: DuckDB coerces the bool branch into the numeric
      lane (true→1); Spark raises INCOMPATIBLE_COLUMN_TYPE. The bool
      column is wrapped in a CAST to the widest non-bool branch type.
    - BOOLEAN ∪ VARCHAR: DuckDB renders 'true'/'false' — CAST AS STRING
      matches exactly.
    - DECIMAL ∪ FLOAT (no DOUBLE branch): DuckDB unifies to FLOAT through
      its scaled-int float32 lane; Spark unifies to DOUBLE (a value-level
      divergence: -99.99 reads back -99.989998 in DuckDB). The decimal
      branch rides the same float32 emulation the cast contract uses.
    - FLOAT/DOUBLE ∪ VARCHAR: DuckDB formats the float side with its
      shortest-round-trip renderer — routed through duck_float_str /
      duck_double_str like the cast contract's VARCHAR lane.

    Branch output schemas resolve through Spark analysis of each branch
    (reference reach: db/db.go:70 passthrough). Statements whose branches
    fail standalone analysis (or with duplicate output names) pass through
    untouched — Spark then reports its own error, same as before."""
    stripped = sql.strip().rstrip(";")
    if not _SETOP_GATE_RE.search(_code_only(stripped)):
        return sql
    prologue, body = "", stripped
    if re.match(r"^\s*WITH\b", stripped, re.IGNORECASE):
        mm = find_top(stripped, _MAIN_QUERY_RE, 4)
        if mm is None:
            return sql
        prologue, body = stripped[: mm.start()], stripped[mm.start() :]
    split = _split_setop_branches(body)
    if split is None:
        return sql
    branches, ops = split
    # trailing ORDER BY / LIMIT / OFFSET binds to the WHOLE set operation —
    # keep it outside the last branch
    tail = ""
    tm = find_top(branches[-1], _TRAIL_CLAUSE_RE)
    if tm is not None:
        tail = branches[-1][tm.start() :]
        branches[-1] = branches[-1][: tm.start()]
    if any(_SETOP_GATE_RE.match(op.upper()) and "BY" in op.upper() for op in ops):
        return sql  # UNION BY NAME is routed by _union_by_name upstream
    schemas = []
    for b in branches:
        try:
            fields = spark.sql(translate(prologue + b)).schema.fields
        except Exception:  # noqa: BLE001 — let Spark report on the full stmt
            return sql
        names = [f.name for f in fields]
        if len(set(n.lower() for n in names)) != len(names):
            return sql
        schemas.append([(f.name, f.dataType.simpleString()) for f in fields])
    ncols = len(schemas[0])
    if any(len(s) != ncols for s in schemas):
        return sql
    # per-column: decide each branch's required cast (None = untouched)
    casts: list[list["str | None"]] = [[None] * ncols for _ in branches]
    changed = False
    for c in range(ncols):
        lanes = [_setop_lane(s[c][1]) for s in schemas]
        kinds = {k for k, _ in lanes}
        known = kinds & set(_SETOP_RANK)
        if len(kinds) < 2 or kinds != known:
            continue
        target_kind, target_text = max(
            (lane for lane in lanes), key=lambda p: _SETOP_RANK[p[0]]
        )
        if "boolean" in kinds and target_kind != "boolean":
            tgt = "STRING" if target_kind == "string" else target_text
            for bi, (k, _) in enumerate(lanes):
                if k == "boolean":
                    casts[bi][c] = f"CAST({{col}} AS {tgt})"
                    changed = True
        if kinds == {"decimal", "float"}:
            for bi, (k, txt) in enumerate(lanes):
                if k != "decimal":
                    continue
                repl = _cast_contract_repl(
                    "CAST", "{col}", "decimal", "float", "FLOAT", txt
                )
                if repl:
                    casts[bi][c] = repl
                    changed = True
        if target_kind == "string" and kinds & {"float", "double"}:
            for bi, (k, _) in enumerate(lanes):
                if k in ("float", "double"):
                    fn = "duck_double_str" if k == "double" else "duck_float_str"
                    casts[bi][c] = (
                        "(CASE WHEN {col} IS NULL THEN CAST(NULL AS STRING) "
                        f"ELSE {fn}({{col}}) END)"
                    )
                    changed = True
    if not changed:
        return sql
    out = []
    for bi, b in enumerate(branches):
        if all(x is None for x in casts[bi]):
            out.append(b)
            continue
        items = []
        for c, (name, _) in enumerate(schemas[bi]):
            q = f"`{name}`"
            tpl = casts[bi][c]
            items.append(q if tpl is None else f"{tpl.format(col=q)} AS {q}")
        out.append(
            f" SELECT {', '.join(items)} FROM ({b.strip()}) __setop_b{bi} "
        )
    rebuilt = prologue + out[0]
    for op, b in zip(ops, out[1:]):
        rebuilt += f" {op} {b}"
    return rebuilt + tail


__all__ = [
    "route_asof_join",
    "route_with_recursive",
    "route_star_replace",
    "rewrite_read_files",
    "rewrite_from_first",
    "rewrite_columns_expr",
    "route_pivot_statement",
    "route_unpivot_statement",
]


