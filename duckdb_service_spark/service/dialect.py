"""DuckDB-SQL → Spark-SQL dialect shim (SURVEY §4 custom-work item 1).

String-level, table-driven rewrites applied before ``spark.sql``. The
reference performs zero SQL inspection (the string flows verbatim from HTTP
body to DuckDB, http/service.go:222-229 → db/db.go:52,70), so the dialect
gap is entirely ours to bridge. Rewrites never touch quoted string literals.

Covered: function-name aliases (§2.2h), ``//`` integer division, QUALIFY,
DISTINCT ON, SELECT * EXCLUDE/REPLACE, strftime format conversion,
date_diff boundary-crossing semantics, list comprehensions, struct/MAP
literals, FROM-clause UNNEST, SIMILAR TO/GLOB pattern operators.
Unsupported constructs raise UnsupportedDialect with the construct named
(better than silent wrong results).
"""

from __future__ import annotations

import functools
import re

from .sqltext import (
    MASKED_RE,
    STRING_RE,
    close_of,
    find_top,
    iter_top,
    literal_mask,
    open_of,
    split_literals,
    split_top,
)


class UnsupportedDialect(Exception):
    pass


def _rewrite_code(sql: str, fn) -> str:
    return "".join(chunk if is_lit else fn(chunk) for is_lit, chunk in split_literals(sql))


def _escape_literal_backslashes(sql: str) -> str:
    """Double backslashes inside plain single-quoted literals (DuckDB
    verbatim strings → Spark escaped-string parser), and strip the E
    prefix from E'...' escape literals (both engines then interpret the
    escapes). No-op for literals without backslashes."""
    parts = split_literals(sql)
    out = []
    for i, (is_lit, chunk) in enumerate(parts):
        if not is_lit:
            out.append(chunk)
            continue
        prev = parts[i - 1][1] if i else ""
        stripped = prev.rstrip()
        if re.search(r"(?i)(?<![\w'])E$", stripped):
            # E'...' escape string: drop the E marker, keep escapes
            out[-1] = stripped[:-1] + prev[len(stripped):]
            out.append(chunk)
        else:
            out.append(chunk.replace("\\", "\\\\"))
    return "".join(out)


# ---- function alias table (word-boundary, case-insensitive) ---------------

FUNCTION_ALIASES = {
    "strpos": "__duck_instr_big",
    "instr": "__duck_instr_big",
    "string_split_regex": "split",
    "string_split": "split",
    "str_split": "split",
    "list_transform": "transform",
    "xor": "__duck_xor",
    "format": "__duck_format",
    "dayofweek": "__duck_dayofweek",
    "yearweek": "__duck_yearweek",
    "century": "__duck_century",
    "decade": "__duck_decade",
    "epoch_ns": "__duck_epoch_ns",
    "microsecond": "__duck_microsecond",
    "millisecond": "__duck_millisecond",
    "date_sub": "__duck_date_sub",
    "datesub": "__duck_date_sub",
    "sha256": "__duck_sha256",
    "from_base64": "unbase64",
    "encode": "__duck_encode",
    "ltrim": "__duck_ltrim",
    "rtrim": "__duck_rtrim",
    "trim": "__duck_trim",
    "like_escape": "__duck_like_escape",
    "ilike_escape": "__duck_ilike_escape",
    "not_like_escape": "__duck_not_like_escape",
    "list_apply": "transform",
    "array_apply": "transform",
    "array_length": "__duck_array_len",  # BIGINT like DuckDB
    "json_keys": "json_object_keys",
    "list_zip": "__duck_list_zip",
    "list_has_any": "arrays_overlap",
    "list_has_all": "__duck_list_has_all",
    "list_any_value": "__duck_list_any_value",
    "array_pop_back": "__duck_pop_back",
    "array_pop_front": "__duck_pop_front",
    "list_select": "__duck_list_select",
    "list_where": "__duck_list_where",
    "list_reduce": "__duck_list_reduce",
    "json_valid": "__duck_json_valid",
    "json_array_length": "__duck_json_arr_len",
    # UBIGINT in DuckDB; size() is INT — widen so the logical-type tag
    # (executor metadata) can ride a BIGINT column
    "cardinality": "__duck_cardinality",
    # r08 batch-5 sweep (value-differential over duckdb_functions())
    "log": "__duck_log10_or_base",  # 1-arg log is LOG10 in DuckDB, ln in Spark
    "generate_series": "__duck_gen_series_list",  # scalar LIST form
    "range": "__duck_range_list",  # scalar LIST form (FROM-position TVF
    #                                forms are rewritten upstream by
    #                                sql_routing.rewrite_series_tvf)
    "regexp_extract_all": "__duck_re_extract_all",  # default group 0, not 1
    "add": "__duck_named_add",
    "subtract": "__duck_named_sub",
    "multiply": "__duck_named_mul",
    "divide": "__duck_named_div",  # clean raise: type-dependent semantics
    "array_cat": "concat",
    "ends_with": "endswith",
    "string_to_array": "split",
    "greatest": "__duck_greatest1",  # 1-arg form is identity in DuckDB
    "least": "__duck_least1",
    "trunc": "__duck_trunc_numeric",
    "transaction_timestamp": "now",
    "current_localtimestamp": "localtimestamp",
    "map": "__duck_map_ctor",
    "struct_pack": "__duck_struct_pack",
    "list_filter": "filter",
    "list_aggregate_sum": "aggregate",  # placeholder; see special cases
    "list_contains": "array_contains",
    # list_position: DuckDB 1.0 returns 0 when absent (verified empirically),
    # matching Spark array_position — plain alias is correct
    "list_position": "array_position",
    "list_sort": "array_sort",
    # 1-based extraction, NULL out-of-bounds — exactly element_at with ANSI off
    # element_at BEFORE list_extract: the alias pass is sequential re.subs
    # in dict order, so DuckDB's map-only element_at must be consumed first
    # or the list_extract -> element_at rewrite below would be re-mapped
    "element_at": "__duck_map_extract",
    "list_extract": "element_at",
    "array_extract": "element_at",
    "list_element": "element_at",
    "list_distinct": "array_distinct",
    # list_slice: DuckDB (list, begin, END-inclusive) vs Spark slice
    # (arr, start, LENGTH) — arithmetic rewrite below, not a plain alias
    "list_slice": "__duck_list_slice",
    "list_value": "array",
    "array_to_string": "__duck_array_to_string",
    "regexp_matches": "regexp_like",
    "json_extract_string": "get_json_object",
    "quantile_cont": "percentile",
    "quantile": "__duck_quantile_disc",  # bare quantile = quantile_disc
    "median": "median",
    # list/array_agg KEEP NULL elements and return NULL on an empty group
    # (measured); Spark's collect_list/array_agg drop NULLs and return []
    "list": "__duck_list_plain",
    "array_agg": "__duck_list_plain",
    "string_agg": "__duck_string_agg",  # arity-aware: 1-arg defaults ','
    "group_concat": "__duck_string_agg",
    "arg_min": "__duck_arg_min",
    "arg_max": "__duck_arg_max",
    "argmin": "__duck_arg_min",
    "argmax": "__duck_arg_max",
    # DuckDB max_by/min_by are ALIASES of arg_max/arg_min and SKIP rows
    # whose value is NULL (measured in the r09 window sweep: max_by(i, ts)
    # OVER w returned 7 where Spark's native max_by yields NULL); Spark's
    # natives keep the NULL at the extreme key.
    "max_by": "__duck_arg_max",
    "min_by": "__duck_arg_min",
    # arg_*_null KEEP null values at the extreme key — exactly Spark's
    # native min_by/max_by semantics (measured both engines). Emitted via
    # markers so the max_by/min_by rename above cannot re-capture them.
    "arg_max_null": "__duck_arg_max_keepnull",
    "arg_min_null": "__duck_arg_min_keepnull",
    "listagg": "__duck_string_agg",  # 1-arg defaults ',' like string_agg
    "sem": "__duck_sem",  # standard error of mean
    "count_star": "__duck_count0",
    "count": "__duck_count0",  # bare count() = count(*) in DuckDB
    "product": "__duck_product",
    "kahan_sum": "__duck_kahan_sum",
    "fsum": "__duck_kahan_sum",
    "fdiv": "__duck_fdiv",
    "fmod": "__duck_fmod",
    "strip_accents": "__duck_strip_accents",
    "list_grade_up": "__duck_grade_up",
    "epoch": "__duck_epoch_sec",
    "to_timestamp": "to_timestamp",
    "nextval": "nextval",  # handled by executor (sequences)
    "len": "__duck_len",  # resolved to length/size by a wrapper function
    "length": "__duck_len",
    # date-part functions are BIGINT in DuckDB (measured r12), INT in Spark
    "year": "__duck_dp_year",
    "month": "__duck_dp_month",
    "day": "__duck_dp_day",
    "dayofmonth": "__duck_dp_day",
    "hour": "__duck_dp_hour",
    "minute": "__duck_dp_minute",
    "second": "__duck_dp_second",
    "quarter": "__duck_dp_quarter",
    "dayofyear": "__duck_dp_dayofyear",
    "doy": "__duck_dp_dayofyear",
    "weekofyear": "__duck_dp_week",
    "bit_length": "__duck_bitlen_big",
    # ranking window functions are BIGINT in DuckDB, INT in Spark
    "row_number": "__duck_rank_rn",
    "rank": "__duck_rank_rk",
    "dense_rank": "__duck_rank_dr",
    "ntile": "__duck_rank_nt",
    # round-5 battery additions (each verified against DuckDB 1.x output)
    "str_split_regex": "split",
    "starts_with": "startswith",
    "prefix": "startswith",
    "suffix": "endswith",
    "unicode": "ascii",
    "ord": "ascii",
    "from_hex": "unhex",
    "week": "__duck_dp_week",
    "list_reverse_sort": "__duck_rsort",
    # Spark 4 has native monthname/dayname but they ABBREVIATE (Mar/Fri);
    # DuckDB returns full names — rewrite to date_format
    "monthname": "__duck_monthname",
    "dayname": "__duck_dayname",
    "isodow": "__duck_isodow",
    "to_base": "__duck_to_base",
    "even": "__duck_even",
    "sign": "__duck_sign",
    "signbit": "__duck_signbit",
    "isfinite": "__duck_isfinite",
    "isinf": "__duck_isinf",
    "age": "__duck_age",
    "time_bucket": "__duck_time_bucket",
    "list_aggregate": "__duck_list_aggregate",
    "list_aggr": "__duck_list_aggregate",
    "list_unique": "__duck_list_unique",
    "regexp_extract": "__duck_regexp_extract",
    # unnest in the SELECT list: DuckDB repeats the other columns per
    # element, exactly Spark's generator-in-select explode semantics
    # (both yield zero rows for NULL/empty lists — verified). The FROM-
    # clause table form `FROM UNNEST(...)` is not routed.
    "unnest": "explode",
    # round-6 battery additions (each verified against DuckDB 1.x output)
    "to_hex": "hex",
    "chr": "char",
    "printf": "format_string",  # same C-style directives both engines
    "list_concat": "concat",
    "list_cat": "concat",
    "array_concat": "concat",
    # DuckDB date_diff/datediff are ('part', start, end) — boundary
    # crossings; Spark's 2-arg datediff is days-only. Emitter resolves.
    "date_diff": "__duck_date_diff",
    "datediff": "__duck_date_diff",
    "epoch_us": "__duck_epoch_us",
    "to_days": "__duck_to_days",
    "to_hours": "__duck_to_hours",
    "to_minutes": "__duck_to_minutes",
    "to_seconds": "__duck_to_seconds",
    "to_milliseconds": "__duck_to_millis",
    "to_microseconds": "__duck_to_micros",
    "to_years": "__duck_to_years",
    "to_months": "__duck_to_months",
    # round-8 battery additions (each verified against DuckDB 1.x output)
    "gcd": "__duck_gcd",
    "greatest_common_divisor": "__duck_gcd",
    "lcm": "__duck_lcm",
    "least_common_multiple": "__duck_lcm",
    "hamming": "__duck_hamming",
    "mismatches": "__duck_hamming",
    # round-7 battery additions (each verified against DuckDB 1.x output)
    "regexp_split_to_array": "split",
    "list_cosine_similarity": "__duck_list_cos",
    "list_dot_product": "__duck_list_dot",
    "list_inner_product": "__duck_list_dot",
    "quantile_disc": "__duck_quantile_disc",
    "histogram": "__duck_histogram",
    # round-8 battery additions (each verified against DuckDB 1.x output)
    "editdist3": "__duck_leven_big",
    "levenshtein": "__duck_leven_big",
    "list_reverse": "reverse",
    "gen_random_uuid": "uuid",
    "uuidv4": "uuid",
    "to_base64": "base64",
    "parse_path": "__duck_parse_path",
    "parse_dirpath": "__duck_parse_dirpath",
    "parse_dirname": "__duck_parse_dirname",
    "parse_filename": "__duck_parse_filename",
    "format_bytes": "__duck_format_bytes",
    "formatreadablesize": "__duck_format_bytes",
    "formatreadabledecimalsize": "__duck_format_dec_size",
    "regexp_escape": "__duck_regexp_escape",
    "timezone_hour": "__duck_tz_part",
    "timezone_minute": "__duck_tz_part",
    "julian": "__duck_julian",
    "era": "__duck_era",
    "make_timestamptz": "__duck_make_tstz",
    "pg_typeof": "__duck_pg_typeof",
    "typeof": "__duck_typeof",
    "alias": "__duck_alias",
    "like_escape": "__duck_like_escape",
    "not_like_escape": "__duck_not_like_escape",
    "ilike_escape": "__duck_ilike_escape",
    "not_ilike_escape": "__duck_not_ilike_escape",
    # round-8 string additions (verified against DuckDB 1.x output)
    "substring_grapheme": "substring",  # grapheme≈codepoint divergence noted
    "left_grapheme": "left",
    "right_grapheme": "right",
    "length_grapheme": "__duck_len",
    "array_slice": "__duck_list_slice",
    "md5_number_lower": "__duck_md5_num_lower",
    "md5_number_upper": "__duck_md5_num_upper",
    "bar": "__duck_bar",
    # Unicode NFC via a pandas UDF (Python unicodedata; differential-tested
    # against DuckDB's utf8proc in tests/test_similarity_udfs.py)
    "nfc_normalize": "nfc_normalize",
    # round-8 date/time additions (verified against DuckDB 1.x output)
    "timezone": "__duck_timezone",
    "isoyear": "__duck_isoyear",
    "weekday": "__duck_dayofweek",
    "datetrunc": "__duck_date_trunc",
    "date_trunc": "__duck_date_trunc",
    "epoch_ms": "__duck_epoch_ms_dual",
    "today": "current_date",
    "get_current_timestamp": "current_timestamp",
    "millennium": "__duck_millennium",
    "make_time": "__duck_make_time",
    # round-8 list/struct/map additions (verified against DuckDB 1.x)
    "list_pack": "array",
    "array_has": "array_contains",
    "list_indexof": "array_position",
    "array_indexof": "array_position",
    "array_unique": "__duck_list_unique",
    "list_intersect": "array_intersect",
    "array_intersect": "array_intersect",
    "list_sum": "__duck_list_sum",
    "list_avg": "__duck_list_avg",
    "list_min": "__duck_list_min",
    "list_max": "__duck_list_max",
    "list_resize": "__duck_list_resize",
    "array_resize": "__duck_list_resize",
    "map_extract": "__duck_map_extract",
    "struct_extract": "__duck_struct_extract",
    "row": "struct",
    # round-8 JSON additions (each verified against DuckDB 1.x output)
    "json_extract": "__duck_json_extract",
    "json_extract_path": "__duck_json_extract",
    "json_extract_path_text": "get_json_object",
    "json_quote": "__duck_json_quote",
    "json_array": "__duck_json_array",
    "json_object": "__duck_json_object",
    "json_type": "__duck_json_type",
    "json_typeof": "__duck_json_type",
    # json_structure/json_contains resolve to the Arrow pandas UDFs in
    # functions/json_udfs.py (registered by session.tune on every routed
    # session) — measured DuckDB semantics, no Spark/VARIANT twin exists.
    # json_merge_patch is n-ary: folded left-to-right by the emitter.
    "json_merge_patch": "__duck_json_merge",
    # json_transform rides from_json with the structure literal compiled
    # to a Spark DDL schema (VERDICT r11 missing #3)
    "json_transform": "__duck_json_transform",
    "json_transform_strict": "__duck_json_transform_strict",
    # UNION sum-type access over the tagged-struct shim (r12)
    "union_tag": "__duck_union_tag",
    "union_extract": "__duck_union_extract",
    # round-8 aggregate additions (each verified against DuckDB 1.x output)
    "skewness": "__duck_skewness",
    "kurtosis": "__duck_kurtosis",
    "kurtosis_pop": "kurtosis",
    "entropy": "__duck_entropy",
    "mad": "__duck_mad",
    # regr_* always return DOUBLE in DuckDB; Spark keeps DECIMAL inputs
    # decimal and truncates at the result scale (measured: regr_avgx over
    # decimal literals = 1.833333 vs DuckDB's 1.8333333333333333). Cast
    # the args, not the result, so the aggregation itself runs in double.
    "regr_avgx": "__duck_regr_avgx",
    "regr_avgy": "__duck_regr_avgy",
    "regr_slope": "__duck_regr_slope",
    "regr_intercept": "__duck_regr_intercept",
    "regr_r2": "__duck_regr_r2",
    "regr_sxx": "__duck_regr_sxx",
    "regr_syy": "__duck_regr_syy",
    "regr_sxy": "__duck_regr_sxy",
    "approx_quantile": "approx_percentile",
    "reservoir_quantile": "approx_percentile",
    "bitstring_agg": "__duck_bitstring_agg",
    "favg": "avg",
    "sumkahan": "__duck_kahan_sum",
    "geomean": "__duck_geomean",
    "geometric_mean": "__duck_geomean",
    "arbitrary": "any_value",
    # jaro*/damerau_levenshtein pass through to Arrow pandas UDFs with the
    # measured DuckDB byte-level semantics (functions/similarity_udfs.py;
    # registered by session.tune and lazily by the fn battery)
    "jaro_similarity": "jaro_similarity",
    "jaro_winkler_similarity": "jaro_winkler_similarity",
    "damerau_levenshtein": "damerau_levenshtein",
    # gamma/lgamma/nextafter pass through to libm-backed pandas UDFs —
    # bit-exact vs DuckDB's std::tgamma/lgamma/nextafter on glibc
    # (functions/libm_udfs.py; poles diverge, documented there)
    "gamma": "gamma",
    "lgamma": "lgamma",
    "nextafter": "nextafter",
    # round-8 batch 3 (function-coverage sweep; each verified against
    # DuckDB 1.x output — see tests/test_idioms_r08b.py)
    "apply": "transform",
    "array_apply": "transform",
    "array_transform": "transform",
    "array_filter": "filter",
    "array_reduce": "__duck_bare_reduce",
    "reduce": "__duck_bare_reduce",
    "array_aggregate": "__duck_bare_aggregate",
    "array_aggr": "__duck_bare_aggregate",
    "aggregate": "__duck_bare_aggregate",
    "list_has": "array_contains",
    "array_reverse_sort": "__duck_rsort",
    "grade_up": "__duck_grade_up",
    "array_grade_up": "__duck_grade_up",
    "array_value": "array",
    "unpivot_list": "array",
    "strlen": "__duck_strlen_big",  # DuckDB strlen is BYTE length, BIGINT
    "array_cosine_similarity": "__duck_list_cos",
    "array_dot_product": "__duck_list_dot",
    "array_inner_product": "__duck_list_dot",
    "list_distance": "__duck_list_dist",
    "array_distance": "__duck_list_dist",
    "array_cross_product": "__duck_cross3",
    "jaccard": "__duck_jaccard",
    "constant_or_null": "__duck_constant_or_null",
    "decode": "__duck_decode",
    "to_weeks": "__duck_to_weeks",
    "to_quarters": "__duck_to_quarters",
    "to_centuries": "__duck_to_centuries",
    "to_decades": "__duck_to_decades",
    "to_millennia": "__duck_to_millennia",
    "get_bit": "__duck_get_bit",
    "set_bit": "__duck_set_bit",
    "to_binary": "__duck_bin",
    "bin": "__duck_bin",
    "from_binary": "__duck_from_binary",
    "current_query": "__duck_current_query",
    # introspection / unrepresentable — clean raises, never silent
    "md5_number": "__duck_md5_number",
    "stats": "__duck_unsupported_introspect",
    "vector_type": "__duck_unsupported_introspect",
    "in_search_path": "__duck_unsupported_introspect",
    "txid_current": "__duck_unsupported_introspect",
    "create_sort_key": "__duck_unsupported_introspect",
    "bit_position": "__duck_unsupported_introspect",
}

# in table order: renames chain (list_aggregate_sum -> aggregate ->
# __duck_bare_aggregate)
_FUNCTION_ALIAS_SUBS = [
    (re.compile(rf"\b{duck}\s*\(", re.IGNORECASE), f"{spark}(")
    for duck, spark in FUNCTION_ALIASES.items()
    if duck != spark
]

_STRFTIME_MAP = [
    ("%Y", "yyyy"),
    ("%I", "hh"),
    ("%p", "a"),
    ("%m", "MM"),
    ("%d", "dd"),
    ("%H", "HH"),
    ("%M", "mm"),
    ("%S", "ss"),
    ("%f", "SSSSSS"),
    ("%j", "DDD"),
    ("%a", "EEE"),
    ("%A", "EEEE"),
    ("%b", "MMM"),
    ("%B", "MMMM"),
]


def _convert_strftime_formats(sql: str) -> str:
    """Convert %-style formats inside strftime/strptime literals to Java
    patterns, and rename the functions."""

    def conv(m: re.Match) -> str:
        fn, arg, fmt = m.group(1), m.group(2), m.group(3)
        for pct, java in _STRFTIME_MAP:
            fmt = fmt.replace(pct, java)
        if fn.lower() == "strftime":
            return f"date_format({arg}, '{fmt}')"
        # arg carries its own quotes when it is a string literal — never
        # re-wrap (strptime('2024-01-01', ...) is the most common shape)
        to_ts = "try_to_timestamp" if fn.lower() == "try_strptime" else "to_timestamp"
        return f"{to_ts}({arg.strip()}, '{fmt}')"

    return re.sub(
        r"\b(strftime|strptime|try_strptime)\s*\(\s*([^,]+)\s*,\s*'([^']*)'\s*\)",
        conv,
        sql,
        flags=re.IGNORECASE,
    )


def _rewrite_printf_decimals(sql: str) -> str:
    """Spark's printf rejects %f on DECIMAL inputs (DuckDB accepts); bare
    decimal literals inside printf(...) become DOUBLE casts so the common
    printf('%.2f', 1.25) shape works identically."""

    def fix_args(m: re.Match) -> str:
        # rewrite decimal literals in CODE chunks only — a quoted string
        # argument may legitimately contain "3.14"
        args = "".join(
            chunk
            if is_lit
            else re.sub(r"(?<![\w.])(\d+\.\d+)(?![\w.])", r"CAST(\1 AS DOUBLE)", chunk)
            for is_lit, chunk in split_literals(m.group(2))
        )
        return f"{m.group(1)}({args})"

    return re.sub(r"\b(printf|format_string)\s*\(([^()]*)\)", fix_args, sql, flags=re.IGNORECASE)


# (date_diff is handled by the __duck_date_diff emitter: DuckDB counts
# BOUNDARY CROSSINGS — date_diff('month', Jan 15, Jun 1) = 5 — while
# Spark's timestampdiff counts elapsed whole units (4). The round-5
# timestampdiff rewrite was wrong for mid-period timestamps.)


def _glob_to_regex(pat: str) -> str:
    """DuckDB GLOB pattern → anchored regex: * → .*, ? → ., [...] classes
    pass through ([!x] negation → [^x]); everything else regex-escaped."""
    out, i = [], 0
    while i < len(pat):
        ch = pat[i]
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch == "[":
            j = pat.find("]", i + 1)
            if j == -1:
                out.append(re.escape(ch))
            else:
                body = pat[i + 1 : j]
                if body.startswith("!"):
                    body = "^" + body[1:]
                out.append(f"[{body}]")
                i = j
        else:
            out.append(re.escape(ch))
        i += 1
    return "".join(out)


def _rewrite_similar_glob(sql: str) -> str:
    """DuckDB pattern operators with literal patterns:

      ``x [NOT] SIMILAR TO 'p'`` → ``x [NOT] RLIKE '^(?:p)$'`` — DuckDB's
        SIMILAR TO is regexp_full_match (verified: 'abc' SIMILAR TO 'a%'
        is FALSE — %/_ are NOT wildcards, unlike PostgreSQL), i.e. plain
        anchored regex.
      ``x GLOB 'p'``             → ``x RLIKE '^(?:glob→regex)$'``.

    Non-literal patterns stay untouched (Spark raises a clean analysis
    error rather than silently mis-matching). Literal-aware: the operator
    keyword must sit in code — ``SELECT 'he GLOB ''x''' AS s`` is a plain
    string and survives unrewritten (masks are computed against the string
    each pass; re.sub match offsets refer to that same input)."""
    mask = literal_mask(sql)

    def sim(m: re.Match) -> str:
        if mask[m.start()]:
            return m.group(0)
        neg = m.group(1) or ""
        pat = m.group(2).replace("''", "'")
        anchored = f"^(?:{pat})$".replace("'", "''")
        return f"{neg}RLIKE '{anchored}'"

    sql = re.sub(
        r"\b(NOT\s+)?SIMILAR\s+TO\s+'((?:[^']|'')*)'",
        sim,
        sql,
        flags=re.IGNORECASE,
    )
    mask = literal_mask(sql)

    def glob(m: re.Match) -> str:
        if mask[m.start()]:
            return m.group(0)
        pat = m.group(1).replace("''", "'")
        anchored = f"^(?:{_glob_to_regex(pat)})$".replace("'", "''")
        return f"RLIKE '{anchored}'"

    return re.sub(r"\bGLOB\s+'((?:[^']|'')*)'", glob, sql, flags=re.IGNORECASE)


_UNNEST_STRUCT_RE = re.compile(
    r"\bunnest\s*\(\s*(?=named_struct\s*\(|struct\s*\()", re.IGNORECASE
)


def _rewrite_unnest_structs(sql: str) -> str:
    """SELECT-list unnest(<struct>) expands the struct's fields into
    columns in DuckDB (measured r12: SELECT unnest({'a':1,'b':'x'})
    yields columns a, b) — Spark's equivalent is inline(array(st)),
    which expands in place with surrounding columns intact. Runs after
    the struct-literal rewrite (braces are already named_struct) and
    before the rename pass maps remaining LIST unnests to explode.
    Struct-typed COLUMNS under unnest still raise (no schema here)."""
    if not _UNNEST_STRUCT_RE.search(sql):
        return sql
    while True:
        mask = literal_mask(sql)
        m = next(
            (c for c in _UNNEST_STRUCT_RE.finditer(sql)
             if not mask[c.start()]),
            None,
        )
        if m is None:
            return sql
        close = close_of(sql, sql.index("(", m.start()))
        if close == -1:
            return sql
        inner = sql[m.end(): close - 1].strip()
        sql = (
            sql[: m.start()] + f"inline(array({inner}))" + sql[close:]
        )


def _rewrite_from_unnest(sql: str) -> str:
    """FROM-clause UNNEST table function → Spark forms:

      ``FROM t, UNNEST(expr) AS u(c)``  → ``FROM t LATERAL VIEW
        explode(expr) u AS c`` (the CORRELATED form — expr may reference
        t's columns, which a derived-table rewrite would break)
      ``FROM UNNEST(expr) AS u(c)``     → ``FROM (SELECT explode(expr)
        AS c) u`` (standalone)

    Missing aliases default to DuckDB's: column ``unnest``. Runs before
    the function-alias pass (which maps remaining SELECT-list unnest calls
    to generator explode)."""
    out = sql
    pat = re.compile(r"(,\s*|\bFROM\s+)UNNEST\s*\(", re.IGNORECASE)

    def _in_from_clause(text: str, at: int) -> bool:
        """True when the last top-level clause keyword before ``at`` is
        FROM — a comma before UNNEST in the SELECT list must NOT rewrite
        (that's the generator form, handled by the alias pass)."""
        last = None
        for last in iter_top(text, _SELECT_CLAUSE_KW_RE, 0, at):
            pass
        return last is not None and last.group(1).lower() == "from"

    search_from = 0
    while True:
        m = pat.search(out, search_from)
        if m is None:
            return out
        if m.group(1).strip() == "," and not _in_from_clause(out, m.start()):
            search_from = m.end()
            continue
        open_at = out.index("(", m.end() - 1)
        end = close_of(out, open_at)
        if end == -1:
            raise UnsupportedDialect("unbalanced UNNEST(...) in FROM clause")
        inner = out[open_at + 1 : end - 1]
        am = re.match(
            r"\s*(?:AS\s+)?(\w+)\s*(?:\(\s*(\w+)\s*\))?", out[end:], re.IGNORECASE
        )
        _CLAUSE_KW = {
            "where", "group", "order", "limit", "having", "union", "join",
            "on", "left", "right", "inner", "cross", "full", "qualify",
            "intersect", "except", "offset", "lateral", "using",
        }
        if am and am.group(1) and am.group(1).lower() not in _CLAUSE_KW:
            alias, col = am.group(1), am.group(2) or "unnest"
            tail_at = end + am.end()
        else:
            alias, col, tail_at = "__u", "unnest", end
        comma_form = m.group(1).strip() == ","
        if comma_form:
            # Spark's grammar puts LATERAL VIEW after ALL relations in the
            # FROM clause, so splice the UNNEST segment out and append the
            # view at the clause end — ``FROM t, UNNEST(t.xs) u(x), s``
            # must become ``FROM t, s LATERAL VIEW ...``, not emit the view
            # mid-clause (which Spark rejects).
            lv = f"LATERAL VIEW explode({inner}) {alias} AS {col}"
            body = out[: m.start()] + out[tail_at:]
            ins = _from_clause_end(body, m.start())
            out = body[:ins].rstrip() + f" {lv} " + body[ins:].lstrip()
        else:
            repl = f"{m.group(1)}(SELECT explode({inner}) AS {col}) {alias}"
            out = out[: m.start()] + repl + out[tail_at:]
        search_from = 0  # text changed; re-scan (UNNEST consumed, no loop)


_SELECT_CLAUSE_KW_RE = re.compile(
    r"\b(select|from|where|group|having|order|limit|qualify|window)\b",
    re.IGNORECASE,
)
# a clause keyword after the FROM list, or the ``)`` closing its subquery
_FROM_LIST_END_RE = re.compile(
    r"\b(?:where|group|having|order|limit|offset|qualify|window|union|"
    r"intersect|except)\b|[)\]}]",
    re.IGNORECASE,
)


def _from_clause_end(text: str, start: int) -> int:
    """Index just past the last FROM-clause relation, scanning from
    ``start``: the first top-level clause keyword after the relation list,
    the enclosing ``)`` (subquery), or end of string. Literal-aware."""
    m = find_top(text, _FROM_LIST_END_RE, start)
    return len(text) if m is None else m.start()


def _rewrite_list_literals(code: str) -> str:
    """DuckDB ``[1, 2, 3]`` list constructors → ``array(1, 2, 3)``.

    A ``[`` opens a constructor only in VALUE position (start, after ``(``,
    ``,``, an operator, or a keyword); after an identifier/``)``/``]`` it is
    a subscript and stays untouched. Runs STATEMENT-level over the
    literal and code chunks together: a constructor's brackets may straddle
    string literals — ``['a', 'b']`` — and per-chunk rewriting would lose the
    bracket stack at each literal and emit ``array('a', 'b']``."""
    _KEYWORDS = {
        "select", "when", "then", "else", "end", "and", "or", "not", "in",
        "on", "where", "having", "union", "all", "distinct", "by", "limit",
        "offset", "case", "values", "return", "returns", "between", "like",
    }
    out = []
    stack = []  # True = constructor bracket (emitted as closing paren)
    prev = ""
    cur: list[str] = []  # identifier being read
    last_word = ""  # last COMPLETED identifier (survives whitespace)
    for is_lit, chunk in split_literals(code):
        if is_lit:
            out.append(chunk)
            # after a literal a '[' is a subscript ('abc'[2]); the literal
            # also ends any pending identifier — without this, SELECT
            # 'abc'[2] flushes 'select' AT the bracket and the keyword
            # check turns the subscript into a constructor
            prev, cur, last_word = "]", [], ""
            continue
        for ch in chunk:
            if ch.isalnum() or ch == "_":
                cur.append(ch)
            elif ch.isspace():
                # whitespace COMPLETES an identifier (without this, "SELECT
                # array[" reads the pending word as "selectarray" and the
                # ARRAY-keyword form is never recognized)
                if cur:
                    last_word = "".join(cur)
                    cur = []
            else:
                if cur:
                    last_word = "".join(cur)
                    cur = []
                elif ch not in "[":
                    last_word = ""
            if ch == "[":
                w = (last_word or "").lower()
                last_word = ""
                if w == "array":
                    # DuckDB's ARRAY[1,2] keyword form: keep the word, swap
                    # brackets for parens → the array(...) function call
                    stack.append(True)
                    out.append("(")
                elif (
                    # keyword directly before the bracket (THEN [1]) opens a
                    # constructor — but only when the keyword itself is the
                    # preceding token: after ')'/']'/'"' the bracket is a
                    # subscript even when the last WORD was END/ELSE
                    # ((CASE ... END)[1] — r14)
                    w in _KEYWORDS and (prev.isalnum() or prev == "_")
                ) or not (prev.isalnum() or prev in ("_", ")", "]", '"')):
                    stack.append(True)
                    out.append("array(")
                else:
                    stack.append(False)
                    out.append("[")
            elif ch == "]" and stack:
                out.append(")" if stack.pop() else "]")
            else:
                out.append(ch)
            if not ch.isspace():
                prev = ch
    return "".join(out)


_FOR_RE = re.compile(r"\bFOR\b", re.IGNORECASE)
_IN_RE = re.compile(r"\bIN\b", re.IGNORECASE)
_IF_RE = re.compile(r"\bIF\b", re.IGNORECASE)
_COLON_RE = re.compile(":")


def _rewrite_list_comprehensions(sql: str) -> str:
    """DuckDB list comprehensions → transform/filter lambdas:

      ``[expr FOR x IN l]``          → ``transform(l, x -> expr)``
      ``[expr FOR x IN l IF cond]``  → ``transform(filter(l, x -> cond),
                                                    x -> expr)``

    Detected by a top-level FOR inside a bracket pair (a subscript's content
    can never contain a top-level FOR); nested comprehensions recurse."""
    i = 0
    while True:
        open_at = sql.find("[", i)
        if open_at == -1:
            return sql
        # skip brackets inside string literals
        mask = literal_mask(sql)
        if mask[open_at]:
            i = open_at + 1
            continue
        end = close_of(sql, open_at)
        if end == -1:
            return sql
        body = sql[open_at + 1 : end - 1]
        for_m = find_top(body, _FOR_RE)
        if for_m is None:
            i = open_at + 1
            continue
        expr = body[: for_m.start()].strip()
        rest = body[for_m.end() :]
        in_m = find_top(rest, _IN_RE)
        if in_m is None:
            raise UnsupportedDialect(f"list comprehension without IN: [{body}]")
        var = rest[: in_m.start()].strip()
        tail = rest[in_m.end() :]
        if_m = find_top(tail, _IF_RE)
        if if_m is None:
            lst, cond = tail.strip(), None
        else:
            lst, cond = tail[: if_m.start()].strip(), tail[if_m.end() :].strip()
        expr = _rewrite_list_comprehensions(expr)
        lst = _rewrite_list_comprehensions(lst)
        src = f"filter({lst}, {var} -> {_rewrite_list_comprehensions(cond)})" if cond else lst
        repl = f"transform({src}, {var} -> {expr})"
        sql = sql[:open_at] + repl + sql[end:]
        i = open_at + len(repl)


def _rewrite_struct_literals(sql: str) -> str:
    """DuckDB brace literals → Spark constructors:

      ``{'a': 1, 'b': x}``    → ``named_struct('a', 1, 'b', x)``
      ``MAP {'a': 1}``        → ``map('a', 1)``

    Braces appear nowhere else in the supported SQL surface; keys must be
    single-quoted strings (DuckDB's own struct-literal grammar)."""
    i = 0
    while True:
        open_at = sql.find("{", i)
        if open_at == -1:
            return sql
        mask = literal_mask(sql)
        if mask[open_at]:
            i = open_at + 1
            continue
        end = close_of(sql, open_at)
        if end == -1:
            raise UnsupportedDialect("unbalanced '{' in statement")
        body = _rewrite_struct_literals(sql[open_at + 1 : end - 1])
        # `MAP {...}` prefix selects the map constructor
        head = sql[:open_at]
        hm = re.search(r"\bMAP\s*$", head, re.IGNORECASE)
        keys, vals = [], []
        for item in split_top(body):
            colon = find_top(item, _COLON_RE)
            if colon is None:
                raise UnsupportedDialect(f"struct literal item without ':': {item!r}")
            key, val = item[: colon.start()].strip(), item[colon.end() :].strip()
            if not re.match(r"^'(?:[^']|'')*'$", key) and not hm:
                # struct-literal grammar: DuckDB itself requires quoted
                # string keys; MAP keys may be any expression
                raise UnsupportedDialect(
                    f"struct literal key must be a quoted string: {key!r}"
                )
            keys.append(key)
            vals.append(val)
        if hm and len(keys) > 1:
            # DuckDB unifies MAP-literal KEYS across the literal lanes
            # too (measured r11: MAP {1: 'a', '2': 'b'} has INTEGER keys
            # [1, 2]); same helper, same pass-through rules
            keys = _unify_literal_cells(keys) or keys
        if hm and len(vals) > 1:
            # ... and MAP-literal VALUES (measured r11: MAP {'x': 1,
            # 'y': '2'} has INTEGER values [1, 2]); Spark's map() would
            # unify to STRING ('1') or reject bool+int
            vals = _unify_literal_cells(vals) or vals
        pairs = [f"{k}, {v}" for k, v in zip(keys, vals)]
        if hm:
            # __spark_map: marker so the per-chunk map-constructor alias
            # (DuckDB 2-list map()) does not re-interpret the VARIADIC
            # form this literal rewrite produces
            repl = f"__spark_map({', '.join(pairs)})"
            sql = head[: hm.start()] + repl + sql[end:]
            i = hm.start() + len(repl)
        else:
            repl = f"named_struct({', '.join(pairs)})"
            sql = head + repl + sql[end:]
            i = open_at + len(repl)


def _unify_literal_cells(cells: list[str]) -> "list[str] | None":
    """Coerce a mixed PLAIN-literal cell list to DuckDB's union lane
    (the shared VALUES/list-literal/MAP-literal rule set measured in
    tools/sweep_branch_types.py). None when nothing needs coercion or a
    cell is not a recognizable literal (pass through — Spark's own
    resolution already matches DuckDB for those shapes). Lazy import:
    sql_routing imports this module at load time."""
    from .sql_routing import (
        _literal_cell_needs_cast,
        _literal_union_target,
        _src_class,
    )

    atoms = []
    for c in cells:
        if re.match(r"^NULL$", c, re.IGNORECASE):
            atoms.append(("null", None, True, c))
            continue
        cls, txt = _src_class(c, {})
        if cls is None or "(" in c:
            return None
        atoms.append((cls, txt, True, c))
    tgt = _literal_union_target(atoms)
    if not tgt:
        return None
    return [
        f"CAST({c} AS {tgt})" if _literal_cell_needs_cast(a, tgt) else c
        for c, a in zip(cells, atoms)
    ]


# DuckDB subscripts are 1-BASED (arr[1] = first element, NULL past the end,
# inclusive-end slices); Spark's [] is 0-based — passing them through would
# be a silent off-by-one. element_at/slice carry DuckDB's semantics exactly
# (1-based, NULL out-of-bounds with ANSI off).
_SUBSCRIPT_RE = re.compile(r"(\b[A-Za-z_]\w*(?:\.\w+)*)\s*\[([^\[\]]+)\]")


def _subscript_one(m: re.Match) -> str:
    return _subscript_content(m.group(1), m.group(2).strip())


def _rewrite_subscripts(code: str) -> str:
    prev = None
    while prev != code:  # innermost-first for chained a[1][2]
        prev = code
        code = _SUBSCRIPT_RE.sub(_subscript_one, code)
    # call-shaped bases (`split(...)[2]`, `array(...)[1]`) are handled by
    # the statement-level _rewrite_call_subscripts pass in translate()
    return code


_INT_LIT_RE = re.compile(r"^-?\d+$")


def _subscript_content(base: str, content: str) -> str:
    """DuckDB subscript semantics onto element_at/slice (all verified):
    1-based; index 0 → NULL; negative → from the back; out-of-range →
    NULL. Slices are inclusive-end, clamped, negative-aware, and empty
    when end < start ([2:1] → [], [0:2] → first two, [-1:-1] → last)."""
    colon = find_top(content, _COLON_RE)
    if colon is not None:
        b = content[: colon.start()].strip() or "1"
        e = content[colon.end() :].strip()
        b_lit = _INT_LIT_RE.match(b)
        if not e:
            if b_lit and int(b) > 0:
                return f"slice({base}, {b}, size({base}))"
            bi = (
                f"greatest(CASE WHEN ({b}) > 0 THEN ({b}) "
                f"WHEN ({b}) < 0 THEN size({base}) + ({b}) + 1 ELSE 1 END, 1)"
            )
            return f"slice({base}, {bi}, greatest(size({base}) - {bi} + 1, 0))"
        e_lit = _INT_LIT_RE.match(e)
        if b_lit and e_lit and int(b) > 0 and int(e) > 0:
            return f"slice({base}, {b}, greatest(({e}) - ({b}) + 1, 0))"
        bi = (
            f"greatest(CASE WHEN ({b}) > 0 THEN ({b}) "
            f"WHEN ({b}) < 0 THEN size({base}) + ({b}) + 1 ELSE 1 END, 1)"
        )
        ei = (
            f"CASE WHEN ({e}) > 0 THEN ({e}) "
            f"WHEN ({e}) < 0 THEN size({base}) + ({e}) + 1 ELSE 0 END"
        )
        return f"slice({base}, {bi}, greatest({ei} - {bi} + 1, 0))"
    # __spark_element_at marker, NOT element_at: this pass runs before the
    # FUNCTION_ALIASES loop, which maps user-written element_at to DuckDB's
    # map-only LIST-returning form — the marker survives the loop and is
    # lowered to Spark element_at by its _ROUND5_EMITTERS entry
    if _INT_LIT_RE.match(content):
        if int(content) == 0:
            return "NULL"
        return f"__spark_element_at({base}, {content})"
    # runtime index: guard the 0 case (DuckDB → NULL, Spark → error)
    return (
        f"(CASE WHEN ({content}) = 0 THEN NULL ELSE __spark_element_at({base}, "
        f"CASE WHEN ({content}) = 0 THEN 1 ELSE ({content}) END) END)"
    )


def _subscript_content_str(base: str, content: str) -> str:
    """DuckDB STRING subscript semantics (measured: identical slice math
    to lists, codepoint-based — 'abcde'[2:-1] = 'bcde', 'héllo'[2] = 'é';
    single index 0 and out-of-range → '', negative from the back) onto
    substring/length. Spark's substring is codepoint-based and clamps the
    overshoot, so only the index-0 case needs the explicit guard."""
    colon = find_top(content, _COLON_RE)
    if colon is not None:
        b = content[: colon.start()].strip() or "1"
        e = content[colon.end() :].strip()
        b_lit = _INT_LIT_RE.match(b)
        if not e:
            if b_lit and int(b) > 0:
                return f"substring({base}, {b})"
            bi = (
                f"greatest(CASE WHEN ({b}) > 0 THEN ({b}) "
                f"WHEN ({b}) < 0 THEN length({base}) + ({b}) + 1 ELSE 1 END, 1)"
            )
            return f"substring({base}, {bi})"
        e_lit = _INT_LIT_RE.match(e)
        if b_lit and e_lit and int(b) > 0 and int(e) > 0:
            return f"substring({base}, {b}, greatest(({e}) - ({b}) + 1, 0))"
        bi = (
            f"greatest(CASE WHEN ({b}) > 0 THEN ({b}) "
            f"WHEN ({b}) < 0 THEN length({base}) + ({b}) + 1 ELSE 1 END, 1)"
        )
        ei = (
            f"CASE WHEN ({e}) > 0 THEN ({e}) "
            f"WHEN ({e}) < 0 THEN length({base}) + ({e}) + 1 ELSE 0 END"
        )
        return f"substring({base}, {bi}, greatest({ei} - {bi} + 1, 0))"
    if _INT_LIT_RE.match(content):
        if int(content) == 0:
            return "''"
        return f"substring({base}, {content}, 1)"
    return (
        f"(CASE WHEN ({content}) = 0 THEN '' "
        f"ELSE substring({base}, {content}, 1) END)"
    )


# call bases that RETURN STRINGS: their subscript takes the string form
# (reverse/concat are omitted — polymorphic over lists too)
_STRING_BASE_RE = re.compile(
    r"^\s*(upper|lower|trim|ltrim|rtrim|btrim|substring|substr|replace|"
    r"repeat|left|right|lpad|rpad|initcap|translate|regexp_replace|"
    r"format_string|printf|format|chr|string_agg|strip_accents|"
    r"nfc_normalize|to_base|bar|typeof|md5|sha256|array_to_string|"
    r"list_aggregate)\s*\(",
    re.IGNORECASE,
)


def _rewrite_call_subscripts(sql: str) -> str:
    """Statement-level: a subscript whose base is a parenthesized call —
    ``split(s, '_')[2]``, ``array(1, 2)[1]``, ``(expr)[i]`` — becomes
    element_at/slice with DuckDB's 1-based semantics (string-returning
    calls and string LITERALS take the substring form). Literal-masked,
    so string arguments inside the base don't break the balance scan;
    loops so chains (``f(x)[1][2]``) resolve outermost-last."""
    # string-literal bases first: '...'[i]
    while True:
        mask = literal_mask(sql)
        hit = None
        for a, b in _spans(sql):
            m2 = re.match(r"\s*\[", sql[b:])
            if m2:
                hit = (a, b, b + m2.end() - 1)
                break
        if hit is None:
            break
        a, b, open_br = hit
        end_br = close_of(sql, open_br)
        if end_br == -1:
            raise UnsupportedDialect("unbalanced subscript bracket")
        content = sql[open_br + 1 : end_br - 1].strip()
        repl = _subscript_content_str(sql[a:b], content)
        sql = sql[:a] + repl + sql[end_br:]
    while True:
        mask = literal_mask(sql)
        m = None
        for cand in re.finditer(r"\)\s*\[", sql):
            if not mask[cand.start()]:
                m = cand
                break
        if m is None:
            # anything still subscripting a bracket base is untranslatable
            code_only = "".join(
                ch for i, ch in enumerate(sql) if not mask[i]
            )
            if re.search(r"\]\s*\[", code_only):
                raise UnsupportedDialect(
                    "subscript on a complex base would be silently 0-based "
                    "in Spark; use element_at(expr, i) / slice(expr, b, n) "
                    "explicitly"
                )
            return sql
        close = m.start()
        i = open_of(sql, close)
        if i < 0:
            raise UnsupportedDialect("unbalanced parens before subscript")
        j = i - 1
        while j >= 0 and (sql[j].isalnum() or sql[j] in "_."):
            j -= 1
        base_start = j + 1
        open_br = sql.index("[", m.start())
        end_br = close_of(sql, open_br)
        if end_br == -1:
            raise UnsupportedDialect("unbalanced subscript bracket")
        base = sql[base_start : close + 1]
        content = sql[open_br + 1 : end_br - 1].strip()
        if _STRING_BASE_RE.match(base):
            repl = _subscript_content_str(base, content)
        else:
            repl = _subscript_content(base, content)
        sql = sql[:base_start] + repl + sql[end_br:]


_DIV_LHS_KEYWORDS = {
    "WHEN", "THEN", "ELSE", "CASE", "AND", "OR", "NOT", "IN", "IS",
    "BY", "AS", "ON", "FROM", "WHERE", "SELECT", "HAVING", "BETWEEN",
    "LIKE", "ILIKE", "ESCAPE", "ALL", "ANY", "SOME", "DISTINCT",
    "RETURN", "RETURNING", "SET", "VALUES", "LIMIT", "OFFSET", "JOIN",
    "UNION", "EXCEPT", "INTERSECT", "OVER", "FILTER", "WITHIN", "GROUP",
    "ORDER", "PARTITION", "ROWS", "RANGE", "GROUPS", "PRECEDING",
    "FOLLOWING", "CURRENT", "ROW", "UNBOUNDED", "EXCLUDE", "TIES",
    "WINDOW", "INTERVAL", "USING", "CROSS", "LATERAL",
}


def _case_expr_start(code: str, end_kw_start: int) -> "int | None":
    """Given the start offset of a terminating END keyword, walk backwards
    through CASE/END nesting to the matching CASE. None when unbalanced."""
    depth = 1
    for m in reversed(
        list(re.finditer(r"\b(CASE|END)\b", code[:end_kw_start], re.IGNORECASE))
    ):
        if m.group().upper() == "END":
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                return m.start()
    return None


def _div_lhs_start(code: str, j: int) -> "int | None":
    """Start offset of the complete left operand of the ``/`` at ``j``:
    an identifier/number chain, a call or paren group, a full
    ``CASE .. END`` expression, or a window expression ``fn(..) OVER (..)``
    / ``fn(..) OVER w``.  None when the operand cannot be identified
    safely — then the division is left untouched rather than risk wrapping
    a non-expression (the bug class ADVICE r06 flagged: ``END / 3`` →
    ``CAST(END AS DOUBLE)``)."""
    k = j - 1
    while k >= 0 and code[k].isspace():
        k -= 1
    if k < 0:
        return None
    while True:
        if code[k] == ")":
            k = open_of(code, k)
            if k < 0:
                return None
            start = k
            m = re.search(r"[\w.]+\s*$", code[:start])
            if not m:
                return start
            word = m.group().strip().upper()
            if word == "OVER":
                # `(window spec)` — the operand is the whole windowed call:
                # keep scanning left past OVER to consume `fn(args)`
                k = m.start() - 1
                while k >= 0 and code[k].isspace():
                    k -= 1
                if k < 0 or code[k] != ")":
                    return None
                continue
            if word in _DIV_LHS_KEYWORDS:
                return start  # keyword before group: the group IS the operand
            return m.start()  # function call: include its name
        if code[k].isalnum() or code[k] in "._":
            m = re.search(r"[\w.]+$", code[: k + 1])
            word = m.group().upper()
            if word == "END":
                return _case_expr_start(code, m.start())
            if word in _DIV_LHS_KEYWORDS:
                return None
            # identifier / number / NULL — unless preceded by OVER, in
            # which case it's a named-window reference `fn(..) OVER w`
            m2 = re.search(r"[\w.]+\s*$", code[: m.start()])
            if m2 and m2.group().strip().upper() == "OVER":
                k = m2.start() - 1
                while k >= 0 and code[k].isspace():
                    k -= 1
                if k < 0 or code[k] != ")":
                    return None
                continue
            return m.start()
        return None


def _rewrite_division_double(code: str) -> str:
    """DuckDB's binary `/` ALWAYS returns DOUBLE (even 7/2 = 3.5 and
    DECIMAL/DECIMAL); Spark keeps DECIMAL result types for decimal
    operands, whose bounded scale drifts from the double result. Force the
    LEFT operand of every division to DOUBLE (one double operand makes the
    whole division double; no-op when it already is). Runs per code chunk
    AFTER `//` became ` div ` so only true divisions remain. Comment
    delimiters (`/*`, `*/`) and operands that can't be identified safely
    (keyword on the left) are skipped, never mangled."""
    i = 0
    while True:
        j = code.find("/", i)
        if j == -1:
            return code
        if code[j + 1 : j + 2] == "*" or (j > 0 and code[j - 1] == "*"):
            i = j + 1  # comment delimiter, not a division
            continue
        start = _div_lhs_start(code, j)
        if start is None:
            i = j + 1
            continue
        end = j
        while end > start and code[end - 1].isspace():
            end -= 1
        lhs = code[start:end]
        u = lhs.upper()
        if u.startswith("CAST(") and u.rstrip().endswith(("DOUBLE)", "FLOAT)")):
            # FLOAT-cast lhs: Spark promotes float division to DOUBLE by
            # itself, and wrapping would build a cast(cast(x AS FLOAT) AS
            # DOUBLE) chain that Catalyst COLLAPSES to cast(x AS DOUBLE) —
            # destroying the 32-bit rounding the float-lane pass inserted
            # (measured, r10)
            i = j + 1
            continue
        repl = f"CAST({lhs} AS DOUBLE)"
        code = code[:start] + repl + code[end:]
        i = j + (len(repl) - len(lhs)) + 1


def _rewrite_functions(code: str) -> str:
    code = _rewrite_subscripts(code)
    # bare VARCHAR/TEXT as a cast-suffix type: Spark demands a length for
    # VARCHAR and has no TEXT — both mean STRING.  Only the ::type form is
    # safe to rewrite per-chunk; CAST(x AS TEXT) is handled paren-aware at
    # the statement level (_rewrite_cast_string_types) because identifiers
    # and aliases may legally be named "text"/"varchar".
    code = re.sub(
        r"::\s*(?:VARCHAR|TEXT)\b(?!\s*\()", "::STRING", code, flags=re.IGNORECASE
    )
    code = re.sub(
        r"::\s*(?:BLOB|BYTEA|VARBINARY)\b", "::BINARY", code, flags=re.IGNORECASE
    )
    # JSON is VARCHAR-typed in this engine (SURVEY §1.3)
    code = re.sub(r"::\s*JSON\b", "::STRING", code, flags=re.IGNORECASE)
    # precompiled: ~300 inline patterns per chunk overflow re's 512-entry cache
    for rx, repl in _FUNCTION_ALIAS_SUBS:
        code = rx.sub(repl, code)
    # aggregate FILTER shorthand: DuckDB allows FILTER (cond); Spark needs
    # FILTER (WHERE cond). Only after a closing paren (an aggregate call) —
    # the filter() HOF never follows one.
    code = re.sub(
        r"(\))\s*FILTER\s*\(\s*(?!WHERE\b)",
        r"\1 FILTER (WHERE ",
        code,
        flags=re.IGNORECASE,
    )
    # DuckDB integer division operator — but ONLY for integer operands:
    # with any DECIMAL/DOUBLE operand `//` is plain double division
    # (measured: 7.5 // 2 = 3.75, 7 // 2.5 = 2.8, typeof DOUBLE), so
    # float-shaped occurrences become `/` first (the division-double pass
    # below then forces the DOUBLE result). Bare-column operands stay
    # ` div ` — int columns are the common case; a double column on either
    # side is textually unknowable and remains a documented divergence.
    code = _rewrite_floordiv_float(code)
    code = code.replace("//", " div ")
    code = _rewrite_division_double(code)
    return code


_FLOAT_LITERAL_RE = re.compile(
    r"^[+-]?(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?$|^[+-]?\d+[eE][+-]?\d+$"
)
_FLOAT_TYPES = r"(?:DOUBLE|FLOAT4|FLOAT8|FLOAT|REAL|DECIMAL|NUMERIC)"
_FLOAT_SUFFIX_CAST_RE = re.compile(rf"::\s*{_FLOAT_TYPES}\s*(?:\([^()]*\))?\s*$", re.IGNORECASE)
_FLOAT_CAST_CALL_RE = re.compile(
    rf"^(?:TRY_)?CAST\s*\(.*\bAS\s+{_FLOAT_TYPES}\s*(?:\([^()]*\))?\s*\)$",
    re.IGNORECASE | re.DOTALL,
)


def _floatish_operand(text: str) -> bool:
    """True only when the operand's TOP-LEVEL shape proves a float type:
    a bare float literal, a trailing ``::DOUBLE``-style suffix cast, or a
    whole-operand ``CAST(... AS DOUBLE)``. A float literal buried inside
    the expression proves nothing (``CAST(1.5 AS INTEGER) // x`` is
    integer division — the r09 fuzz regression)."""
    t = text.strip()
    return bool(
        _FLOAT_LITERAL_RE.match(t)
        or _FLOAT_SUFFIX_CAST_RE.search(t)
        or _FLOAT_CAST_CALL_RE.match(t)
    )


def _rewrite_floordiv_float(code: str) -> str:
    """Convert `a // b` to `a / b` when either operand is provably
    float-shaped at its top level."""
    i = 0
    while True:
        j = code.find("//", i)
        if j == -1:
            return code
        lo = _div_lhs_start(code, j)
        hi = _rhs_operand_end(code, j + 2, [False] * (len(code) + 1))
        if lo is None or hi is None:
            i = j + 2
            continue
        if _floatish_operand(code[lo:j]) or _floatish_operand(code[j + 2 : hi]):
            code = code[:j] + "/" + code[j + 2 :]
            i = j + 1
        else:
            i = j + 2


_CAST_OPEN_RE = re.compile(r"\b(?:TRY_)?CAST\s*\(", re.IGNORECASE)
_CAST_AS_RE = re.compile(r"\s*\bAS\b", re.IGNORECASE)


def _cast_as_at(body: str) -> "int | None":
    """Offset of the top-level ``AS`` (with the blanks before it) that
    splits a CAST body into its source expression and its type."""
    m = find_top(body, _CAST_AS_RE)
    return None if m is None else m.start()


_CAST_AS_STRING_RE = re.compile(r"\bAS\s+(?:VARCHAR|TEXT)\b(?!\s*\()", re.IGNORECASE)
_CAST_AS_BINARY_RE = re.compile(r"\bAS\s+(?:BLOB|BYTEA|VARBINARY)\b", re.IGNORECASE)
_CAST_AS_JSON_RE = re.compile(r"\bAS\s+JSON\b", re.IGNORECASE)


def _rewrite_cast_string_types(sql: str) -> str:
    """CAST(x AS TEXT|VARCHAR) → CAST(x AS STRING), paren-balanced and
    literal-aware, so identifiers/aliases named ``text`` are untouched
    (the fixture ``documents`` table has a ``text`` column)."""
    if not _CAST_OPEN_RE.search(sql):
        return sql
    mask = literal_mask(sql)
    spans: list[tuple[int, int]] = []  # (open_paren_idx+1, close_paren_idx)
    for m in _CAST_OPEN_RE.finditer(sql):
        if mask[m.start()]:
            continue
        i = close_of(sql, m.end() - 1)
        if i != -1:
            spans.append((m.end(), i - 1))
    out, pos = [], 0
    for a, b in spans:
        if a < pos:  # nested cast — already covered by the outer span
            continue
        out.append(sql[pos:a])
        out.append(
            _rewrite_code(
                sql[a:b],
                lambda c: _CAST_AS_JSON_RE.sub(
                    "AS STRING",
                    _CAST_AS_BINARY_RE.sub(
                        "AS BINARY", _CAST_AS_STRING_RE.sub("AS STRING", c)
                    ),
                ),
            )
        )
        pos = b
    out.append(sql[pos:])
    return "".join(out)


# ---- BIT casts ------------------------------------------------------------

# DuckDB BIT (bitstring) rides as a '0'/'1' STRING in this engine (SURVEY
# §1.3 last deferred edge; catalog maps the DDL type, the serializer reports
# BIT via column metadata). Casting is validated at runtime — DuckDB raises
# on a non-bitstring cast, and silently passing garbage through would be a
# wrong answer.

_BIT_SUFFIX_RE = re.compile(r"::\s*BIT\b", re.IGNORECASE)


def _emit_bit(args: list[str]) -> str:
    (x,) = args
    return (
        f"CASE WHEN ({x}) RLIKE '^[01]+$' THEN ({x}) "
        f"ELSE raise_error(concat('Cannot cast to BIT: ', ({x}))) END"
    )


def _emit_try_bit(args: list[str]) -> str:
    (x,) = args
    return f"CASE WHEN ({x}) RLIKE '^[01]+$' THEN ({x}) END"


def _emit_bitstring(args: list[str]) -> str:
    """DuckDB bitstring(s, n): zero-pad the bitstring s to length n."""
    if len(args) != 2:
        raise UnsupportedDialect("bitstring expects (bits, length)")
    s, n = args
    return f"lpad({_emit_bit([s])}, {n}, '0')"


_INT_CAST_TYPES = {
    "INTEGER": "INT", "INT": "INT", "INT4": "INT", "SIGNED": "INT",
    "BIGINT": "BIGINT", "INT8": "BIGINT", "LONG": "BIGINT",
    "SMALLINT": "SMALLINT", "INT2": "SMALLINT", "SHORT": "SMALLINT",
    "TINYINT": "TINYINT", "INT1": "TINYINT",
}


_TS_PREC_SUFFIX_RE = re.compile(r"::\s*(TIMESTAMP_(?:NS|MS|S))\b", re.IGNORECASE)
_TS_PREC_LITERAL_RE = re.compile(r"\b(TIMESTAMP_(?:NS|MS|S))\s+(?=')", re.IGNORECASE)


def _emit_ts_precision(expr: str, tname: str) -> str:
    """DuckDB sub-/super-precision timestamp cast semantics at Spark's µs
    storage: TIMESTAMP_NS is the identity (ns truncates to µs — the
    documented SURVEY §1.3 divergence); TIMESTAMP_S/_MS ROUND the value to
    their precision, half away from zero on the epoch (measured: DuckDB
    '…00.5'→:01, '…59.5' pre-epoch→:59 i.e. −0.5→−1)."""
    t = tname.upper()
    if t == "TIMESTAMP_NS":
        return f"CAST({expr} AS TIMESTAMP_NTZ)"
    unit = 1000000 if t == "TIMESTAMP_S" else 1000
    rebuild = "timestamp_seconds" if t == "TIMESTAMP_S" else "timestamp_millis"
    m = f"unix_micros(CAST(({expr}) AS TIMESTAMP_LTZ))"
    half = unit // 2
    rounded = (
        f"(CASE WHEN {m} >= 0 THEN ({m} + {half}) div {unit} "
        f"ELSE ({m} - {half}) div {unit} END)"
    )
    return f"CAST({rebuild}({rounded}) AS TIMESTAMP_NTZ)"


def _rewrite_ts_precision_casts(sql: str) -> str:
    """TIMESTAMP_S / TIMESTAMP_MS / TIMESTAMP_NS in all three spellings —
    `CAST(x AS T)`, `x::T`, and the type-literal `T '...'` — mapped onto
    Spark TIMESTAMP_NTZ via _emit_ts_precision."""
    if not re.search(r"\bTIMESTAMP_(?:NS|MS|S)\b", sql, re.IGNORECASE):
        return sql
    # type literal: TIMESTAMP_NS '2020-01-01 ...' → cast of the string
    while True:
        mask = literal_mask(sql)
        m = next(
            (c for c in _TS_PREC_LITERAL_RE.finditer(sql) if not mask[c.start()]),
            None,
        )
        if m is None:
            break
        lit = next((b for a, b in _spans(sql) if a == m.end()), None)
        if lit is None:
            raise UnsupportedDialect("unterminated timestamp literal")
        repl = _emit_ts_precision(sql[m.end() : lit], m.group(1))
        sql = sql[: m.start()] + repl + sql[lit:]
    # postfix: expr::TIMESTAMP_S — same base scan as the int-cast pass
    while True:
        mask = literal_mask(sql)
        m = next(
            (c for c in _TS_PREC_SUFFIX_RE.finditer(sql) if not mask[c.start()]),
            None,
        )
        if m is None:
            break
        j = m.start()
        while j > 0 and sql[j - 1].isspace():
            j -= 1
        if j > 0 and sql[j - 1] == "'":
            k = next((a for a, b in _spans(sql) if b == j), None)
            if k is None:
                raise UnsupportedDialect("postfix cast on an unparsable literal")
            # typed literal base: TIMESTAMP '...'::TIMESTAMP_MS etc.
            tk = re.search(
                r"(TIMESTAMP|TIMESTAMPTZ|DATE|TIME)\s*$",
                sql[:k],
                re.IGNORECASE,
            )
            if tk:
                k = tk.start()
        elif j > 0 and sql[j - 1] == ")":
            k = max(open_of(sql, j - 1), 0)
            fm = re.search(r"[\w.]+$", sql[:k])
            if fm and fm.group().upper() not in _DIV_LHS_KEYWORDS:
                k = fm.start()
        else:
            k = j
            while k > 0 and (sql[k - 1].isalnum() or sql[k - 1] in "_."):
                k -= 1
            if k == j:
                raise UnsupportedDialect(
                    "postfix timestamp cast needs a literal/identifier/paren base"
                )
        repl = _emit_ts_precision(sql[k:j], m.group(1))
        sql = sql[:k] + repl + sql[m.end() :]
    # CAST(expr AS TIMESTAMP_S) — balanced, literal-aware
    while True:
        mask = literal_mask(sql)
        changed = False
        for m in _CAST_OPEN_RE.finditer(sql):
            if mask[m.start()]:
                continue
            i = close_of(sql, m.end() - 1)
            if i == -1:
                continue
            inner = sql[m.end() : i - 1]
            tm = re.search(
                r"\s+AS\s+(TIMESTAMP_(?:NS|MS|S))\s*$", inner, re.IGNORECASE
            )
            if not tm:
                continue
            repl = _emit_ts_precision(inner[: tm.start()], tm.group(1))
            sql = sql[: m.start()] + repl + sql[i:]
            changed = True
            break
        if not changed:
            return sql


_INT_SUFFIX_RE = re.compile(
    r"::\s*(INTEGER|INT4|INT8|INT2|INT1|INT|SIGNED|BIGINT|LONG"
    r"|SMALLINT|SHORT|TINYINT)\b",
    re.IGNORECASE,
)


def _rewrite_postfix_int_casts(sql: str) -> str:
    """`expr::INTEGER` → `CAST(expr AS INTEGER)` so both cast spellings
    take the DuckDB rounding path in _rewrite_int_casts (ADVICE r06:
    `2.5::INTEGER` passed through to Spark's truncating cast → 2, while
    `CAST(2.5 AS INTEGER)` rounded → 3). Base scan mirrors ::BIT: string
    literal, balanced paren group (plus its call name), or identifier."""
    while True:
        mask = literal_mask(sql)
        m = next(
            (c for c in _INT_SUFFIX_RE.finditer(sql) if not mask[c.start()]), None
        )
        if m is None:
            return sql
        j = m.start()
        while j > 0 and sql[j - 1].isspace():
            j -= 1
        if j > 0 and sql[j - 1] == "'":
            lit = next((a for a, b in _spans(sql) if b == j), None)
            if lit is None:
                raise UnsupportedDialect("postfix cast on an unparsable literal")
            k = lit
        elif j > 0 and sql[j - 1] == ")":
            k = max(open_of(sql, j - 1), 0)
            fm = re.search(r"[\w.]+$", sql[:k])
            if fm and fm.group().upper() not in _DIV_LHS_KEYWORDS:
                k = fm.start()  # include the call name: foo(x)::INT
        else:
            k = j
            while k > 0 and (sql[k - 1].isalnum() or sql[k - 1] in "_."):
                k -= 1
            if k == j:
                raise UnsupportedDialect(
                    "postfix int cast needs a literal/identifier/paren base"
                )
        base = sql[k:j]
        sql = sql[:k] + f"CAST({base} AS {m.group(1).upper()})" + sql[m.end() :]


def _rewrite_int_casts(sql: str) -> str:
    """DuckDB CAST(x AS INTEGER) ROUNDS half away from zero (1.5 -> 2,
    -2.5 -> -3); Spark's cast truncates. Rewrite integral-target casts to
    CAST(ROUND(CAST(x AS DECIMAL(38,9)), 0) AS <type>): DECIMAL(38,9)
    carries 64-bit integers exactly (no double round-trip corruption for
    values past 2^53), Spark's ROUND(decimal, 0) is HALF_UP (away from
    zero — DuckDB's policy), strings and booleans coerce the same way.
    DuckDB's policy is actually split: DECIMAL sources round HALF_UP,
    DOUBLE/FLOAT sources round HALF_EVEN (rint). A literal decimal operand
    is detectable at the text layer and gets HALF_UP (ROUND); every other
    expression gets HALF_EVEN (BROUND), matching the double path exactly —
    the residual divergence is a DECIMAL-typed column hitting an exact .5
    tie, documented in COVERAGE.md. TRY_CAST keeps its null-on-failure
    contract via an inner TRY_CAST."""
    # gate must use the TRY_-aware regex: \bCAST never matches inside
    # TRY_CAST (underscore is a word char), so a statement whose only
    # casts are TRY_CASTs skipped the whole pass (r10 sweep finding)
    if not _CAST_OPEN_RE.search(sql):
        return sql
    while True:
        mask = literal_mask(sql)
        changed = False
        for m in _CAST_OPEN_RE.finditer(sql):
            if mask[m.start()]:
                continue
            i = close_of(sql, m.end() - 1)
            if i == -1:
                continue
            inner = sql[m.end() : i - 1]
            tm = re.search(r"\s+AS\s+(\w+)\s*$", inner, re.IGNORECASE)
            if not tm or tm.group(1).upper() not in _INT_CAST_TYPES:
                continue
            expr = inner[: tm.start()]
            # skip already-rewritten forms (the marker DECIMAL(38,9) round)
            up = expr.lstrip().upper()
            if up.startswith(("ROUND(CAST(", "ROUND(TRY_CAST(", "BROUND(CAST(", "BROUND(TRY_CAST(")):
                continue
            target = _INT_CAST_TYPES[tm.group(1).upper()]
            is_try = m.group(0).upper().startswith("TRY")
            inner_cast = "TRY_CAST" if is_try else "CAST"
            lit_probe = expr.strip()
            while lit_probe.startswith("(") and lit_probe.endswith(")"):
                lit_probe = lit_probe[1:-1].strip()
            # DECIMAL and VARCHAR sources round HALF_UP in DuckDB; only
            # DOUBLE/FLOAT sources are HALF_EVEN
            # a +/-/* arithmetic over numeric literals stays DECIMAL too
            # ('/' is gone by now — the division pass made it DOUBLE-cast,
            # which introduces letters and fails this match)
            is_literal_decimal = (
                re.fullmatch(r"-?\d+\.\d+", lit_probe) is not None
                or re.fullmatch(r"'-?\d+(\.\d+)?'", lit_probe) is not None
                or (
                    "." in lit_probe
                    and re.fullmatch(r"[\d\s.+*()-]+", lit_probe) is not None
                )
            )
            rnd = "ROUND" if is_literal_decimal else "BROUND"
            repl = (
                f"{inner_cast}({rnd}({inner_cast}({expr} AS DECIMAL(38,9)), 0)"
                f" AS {target})"
            )
            sql = sql[: m.start()] + repl + sql[i:]
            changed = True
            break
        if not changed:
            return sql


def _rewrite_bit_casts(sql: str) -> str:
    """`expr::BIT` and `[TRY_]CAST(expr AS BIT)` → validated bitstring."""
    if not re.search(r"\bBIT\b", sql, re.IGNORECASE):
        return sql
    # CAST(... AS BIT) — balanced, literal-aware
    mask = literal_mask(sql)
    out, pos = [], 0
    for m in _CAST_OPEN_RE.finditer(sql):
        if mask[m.start()] or m.start() < pos:
            continue
        i = close_of(sql, m.end() - 1)
        if i == -1:
            continue
        inner = sql[m.end() : i - 1]
        tm = re.search(r"\s+AS\s+BIT\s*$", inner, re.IGNORECASE)
        if not tm:
            continue
        fn = "__duck_try_bit" if m.group(0).upper().startswith("TRY") else "__duck_bit"
        out.append(sql[pos : m.start()])
        out.append(f"{fn}({inner[: tm.start()]})")
        pos = i
    out.append(sql[pos:])
    sql = "".join(out)

    # expr::BIT — base is a literal, identifier, or parenthesized group
    while True:
        mask = literal_mask(sql)
        m = next((c for c in _BIT_SUFFIX_RE.finditer(sql) if not mask[c.start()]), None)
        if m is None:
            break
        j = m.start()
        while j > 0 and sql[j - 1].isspace():
            j -= 1
        if j > 0 and sql[j - 1] == "'":
            k = j - 1
            lit = next((a for a, b in _spans(sql) if b == j), None)
            if lit is None:
                raise UnsupportedDialect("::BIT on an unparsable literal base")
            k = lit
        elif j > 0 and sql[j - 1] == ")":
            k = max(open_of(sql, j - 1), 0)
        else:
            k = j
            while k > 0 and (sql[k - 1].isalnum() or sql[k - 1] in "_."):
                k -= 1
            if k == j:
                raise UnsupportedDialect("::BIT needs a literal/identifier/paren base")
        base = sql[k:j]
        sql = sql[:k] + f"__duck_bit({base})" + sql[m.end() :]
    return sql


def _spans(sql: str) -> list[tuple[int, int]]:
    return [(m.start(), m.end()) for m in STRING_RE.finditer(sql)]


# ---- USING SAMPLE ---------------------------------------------------------

# DuckDB sample clause on a table reference (SURVEY §2.2f): bare number =
# rows, % / PERCENT = bernoulli percentage, optional (method[, seed]).
# Spark's TABLESAMPLE sits in the same grammatical position, so an in-place
# token rewrite preserves the rest of the statement. Scale note: TABLESAMPLE
# ROWS is a global limit-style sample and PERCENT is per-split bernoulli —
# both execute without collecting or shuffling.
_USING_SAMPLE_RE = re.compile(
    r"\bUSING\s+SAMPLE\s+(?P<n>\d+(?:\.\d+)?)\s*(?P<unit>%|\bPERCENT\b|\bROWS?\b)?"
    r"(?:\s*\(\s*(?P<method>\w+)(?:\s*,\s*(?P<seed>\d+))?\s*\))?",
    re.IGNORECASE,
)


def _rewrite_using_sample(code: str) -> str:
    def _one(m: re.Match) -> str:
        n, unit = m.group("n"), (m.group("unit") or "").upper()
        method = (m.group("method") or "").lower()
        if method not in ("", "bernoulli", "system", "reservoir"):
            raise UnsupportedDialect(f"USING SAMPLE: unknown method {method!r}")
        if unit in ("%", "PERCENT"):
            out = f"TABLESAMPLE ({n} PERCENT)"
        else:
            out = f"TABLESAMPLE ({int(float(n))} ROWS)"
        if m.group("seed"):
            out += f" REPEATABLE ({m.group('seed')})"
        return out

    return _USING_SAMPLE_RE.sub(_one, code)


# ---- clause rewrites ------------------------------------------------------

_QUALIFY_RE = re.compile(r"\bQUALIFY\b", re.IGNORECASE)


_ORDER_OR_LIMIT_RE = re.compile(r"\b(?:ORDER\s+BY|LIMIT)\b", re.IGNORECASE)
_FROM_KW_RE = re.compile(r"\bFROM\b", re.IGNORECASE)


def _rewrite_qualify(sql: str) -> str:
    """SELECT <list> FROM ... QUALIFY <pred> [ORDER BY ...] [LIMIT ...]
    → SELECT <original cols> FROM (SELECT *, pred AS __q FROM ...) WHERE __q
    Window expressions are legal in the inner select-list, so the predicate
    moves inside unchanged."""
    m = _QUALIFY_RE.search(sql)
    if not m:
        return sql
    head, tail = sql[: m.start()], sql[m.end() :]
    # find ORDER BY / LIMIT at paren depth 0 only (ORDER BY inside an OVER()
    # window belongs to the predicate)
    cm = find_top(tail, _ORDER_OR_LIMIT_RE)
    cut = len(tail) if cm is None else cm.start()
    pred, trailer = tail[:cut], tail[cut:]
    # inject the predicate as an extra select-list item: find the top-level
    # FROM in head and splice ", (pred) AS __q" before it
    fm = find_top(head, _FROM_KW_RE)
    if fm is None:
        raise UnsupportedDialect("QUALIFY without a parsable FROM clause")
    from_at = fm.start()
    inner = f"{head[:from_at].rstrip()}, ({pred.strip()}) AS __q {head[from_at:]}"
    return f"SELECT * EXCEPT (__q) FROM ({inner.rstrip()}) WHERE __q {trailer}"


_DISTINCT_ON_RE = re.compile(
    r"SELECT\s+DISTINCT\s+ON\s*\(([^)]*)\)\s*(.*?)\s+FROM\s+(.*?)(?:\s+ORDER\s+BY\s+(.*?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


_ORDER_ITEM_RE = re.compile(
    r"^(.*?)(\s+(?:ASC|DESC))?(\s+NULLS\s+(?:FIRST|LAST))?$", re.IGNORECASE | re.DOTALL
)


_LIMIT_OFFSET_RE = re.compile(r"\b(?:LIMIT|OFFSET)\b", re.IGNORECASE)
_AS_ALIAS_RE = re.compile(r"^(.*\S)\s+AS\s+(\w+)$", re.IGNORECASE | re.DOTALL)


def _rewrite_distinct_on(sql: str) -> str:
    """SELECT DISTINCT ON (keys) <list> FROM <rest> [ORDER BY <order>]
    [LIMIT/OFFSET] → keep the first row per key of a row_number() window
    ordered by <order>. The inner query evaluates the select list, so
    qualified names resolve in their own scope. The window only picks the
    rows: the statement's ORDER BY then sorts them, and LIMIT/OFFSET cut
    after that sort. Each ORDER BY item is evaluated inside, as a hidden
    ``__do<i>`` column; an item naming a select-list alias or position
    stands for that select-list expression, as in DuckDB."""
    m = _DISTINCT_ON_RE.match(sql.strip())
    if not m:
        return sql
    keys, select_list, rest, order = m.groups()
    last = order or rest  # LIMIT/OFFSET trail whichever clause ends the text
    cm = find_top(last, _LIMIT_OFFSET_RE)
    cut = len(last) if cm is None else cm.start()
    trailer = last[cut:].strip()
    if order:
        order = order[:cut].rstrip()
    else:
        rest = rest[:cut].rstrip()
    items = split_top(select_list)
    by_alias = {
        am.group(2).lower(): am.group(1)
        for am in map(_AS_ALIAS_RE.match, items) if am
    }

    def _select_expr(expr: str) -> str:
        if not (expr.isdigit() and 0 < int(expr) <= len(items)):
            return by_alias.get(expr.lower(), expr)
        if any(it.endswith("*") for it in items):
            raise UnsupportedDialect("DISTINCT ON: ORDER BY position over a * select list")
        am = _AS_ALIAS_RE.match(items[int(expr) - 1])
        return am.group(1) if am else items[int(expr) - 1]

    hidden, window, outer = [], [], []
    for i, item in enumerate(split_top(order or "")):
        expr, direction, nulls = _ORDER_ITEM_RE.match(item).groups()
        expr = _select_expr(expr)
        hidden.append(f"({expr}) AS __do{i}")
        window.append(f"{expr}{direction or ''}{nulls or ''}")
        outer.append(f"__do{i}{direction or ''}{nulls or ''}")
    drop = ", ".join(["__rn"] + [f"__do{i}" for i in range(len(hidden))])
    extra = "".join(f"{h}, " for h in hidden)
    order_by = f" ORDER BY {', '.join(outer)}" if outer else ""
    return (
        f"SELECT * EXCEPT ({drop}) FROM ("
        f"SELECT {select_list}, {extra}row_number() OVER (PARTITION BY {keys} "
        f"ORDER BY {', '.join(window) or keys}) AS __rn FROM {rest}) WHERE __rn = 1"
        f"{order_by}{' ' + trailer if trailer else ''}"
    )


def _rewrite_exclude_replace(sql: str) -> str:
    # SELECT * EXCLUDE (a, b) → SELECT * EXCEPT (a, b)   (Spark 4 star-except)
    sql = re.sub(r"\*\s+EXCLUDE\s*\(", "* EXCEPT (", sql, flags=re.IGNORECASE)
    if re.search(r"\*\s+REPLACE\s*\(", sql, re.IGNORECASE):
        raise UnsupportedDialect(
            "SELECT * REPLACE (...) — rewrite as explicit select list or use the DataFrame API"
        )
    return sql


_UNSUPPORTED = [
    (re.compile(r"\bUNION\s+(ALL\s+)?BY\s+NAME\b", re.IGNORECASE), "UNION BY NAME"),
    (re.compile(r"\bPOSITIONAL\s+JOIN\b", re.IGNORECASE), "POSITIONAL JOIN"),
    (re.compile(r"\bASOF\s+JOIN\b", re.IGNORECASE), "ASOF JOIN"),
    (re.compile(r"\bWITH\s+RECURSIVE\b", re.IGNORECASE), "WITH RECURSIVE"),
]

# GROUPS frame mode: not implemented by the reference's own engine either
# (DuckDB 1.x: "GROUPS mode for window functions is not implemented yet"),
# so raising keeps exact parity — the declared divergence is only vs the
# SQL standard, not vs the reference.
_UNSUPPORTED_FRAME = [
    (
        re.compile(r"\bGROUPS\s+BETWEEN\b|\bGROUPS\s+(?:UNBOUNDED|\d+\s+PRECEDING|CURRENT\s+ROW)", re.IGNORECASE),
        "window GROUPS frame mode",
    ),
]


# ---- window frame EXCLUDE (DuckDB 1.x supports; Spark grammar lacks) ------
#
# sum/count/avg over a frame with EXCLUDE decompose by window algebra:
#   EXCLUDE CURRENT ROW: agg(frame) ⊖ current row's contribution
#   EXCLUDE GROUP:       agg(frame) ⊖ agg(peer group)   [RANGE frames only:
#                        a RANGE frame always contains the full peer group,
#                        a ROWS frame may cut it — raise there]
#   EXCLUDE TIES:        ⊖ peers ⊕ current row
#   EXCLUDE NO OTHERS:   the default — clause dropped
# Empty-after-exclusion yields NULL (sum/avg) / 0 (count), matching DuckDB.

_EXCLUDE_IN_SPEC_RE = re.compile(
    r"\s*\bEXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\s*$", re.IGNORECASE
)


def _split_window_spec(spec: str):
    """(partition_exprs, order_exprs_bare, frame_text_or_None)."""
    sp = spec.strip()
    part, order, frame = [], [], None
    fm = re.search(r"\b(ROWS|RANGE)\b", sp, re.IGNORECASE)
    if fm:
        frame = sp[fm.start() :].strip()
        sp = sp[: fm.start()]
    om = re.search(r"\bORDER\s+BY\s+", sp, re.IGNORECASE)
    if om:
        for item in split_top(sp[om.end() :]):
            bare = re.sub(
                r"\s+(ASC|DESC)?\s*(NULLS\s+(FIRST|LAST))?\s*$",
                "",
                item.strip(),
                flags=re.IGNORECASE,
            )
            order.append(bare)
        sp = sp[: om.start()]
    pm = re.search(r"\bPARTITION\s+BY\s+", sp, re.IGNORECASE)
    if pm:
        part = split_top(sp[pm.end() :])
    return part, order, frame


def _frame_includes_current(frame: str | None) -> bool:
    if frame is None:
        return True  # default frame ends at CURRENT ROW (peer-inclusive)
    f = frame.upper()
    if "BETWEEN" not in f:
        # single-bound form: "ROWS x PRECEDING" etc. — ends at current row
        return True
    lo_follows = re.search(r"BETWEEN\s+\d+\s+FOLLOWING", f)
    hi_precedes = re.search(r"AND\s+\d+\s+PRECEDING", f)
    return not (lo_follows or hi_precedes)


def _rewrite_ignore_nulls(sql: str) -> str:
    """DuckDB puts IGNORE/RESPECT NULLS INSIDE the window-function call
    (`first_value(v IGNORE NULLS)`); Spark takes it after the call
    (`first_value(v) IGNORE NULLS`). Pure position move. Balanced-scans
    the argument list so nested calls — ``first_value(coalesce(a, b)
    IGNORE NULLS)`` — rewrite too (a ``[^()]*`` argument regex would skip
    them and the untranslated form then dies in Spark's parser)."""
    pat = re.compile(
        r"\b(first_value|last_value|nth_value|lag|lead|any_value)\s*\(",
        re.IGNORECASE,
    )
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if m is None:
            return sql
        open_at = sql.index("(", m.end() - 1)
        end = close_of(sql, open_at)
        if end == -1:
            return sql
        args = sql[open_at + 1 : end - 1]
        am = re.search(r"\s+(IGNORE|RESPECT)\s+NULLS\s*$", args, re.IGNORECASE)
        if am is None:
            pos = end
            continue
        repl = f"{m.group(1)}({args[: am.start()]}) {am.group(1).upper()} NULLS"
        sql = sql[: m.start()] + repl + sql[end:]
        pos = m.start() + len(repl)


_AGG_ORDER_OPEN_RE = re.compile(
    r"\b(string_agg|listagg|array_agg|list|first|last)\s*\(", re.IGNORECASE
)


def _emit_ordered_first_last(fn: str, args: str, keys: str, filt: str = "") -> str:
    """DuckDB first/last with inline ORDER BY → min_by/max_by over a
    struct-wrapped value (the wrap keeps a NULL value from being skipped —
    first/last are POSITIONAL, unlike arg_min/arg_max). DESC swaps the
    extremum; mixed directions / NULLS placement raise.

    NULL ordering keys: min_by/max_by SKIP rows whose key is NULL, but
    DuckDB positions them NULLS LAST (both directions — measured:
    last(x ORDER BY k) returns the NULL-key row when one exists, and
    first(x ORDER BY k) over all-NULL keys returns a row, not NULL). So
    the extremum key is a struct of (null-flag, key) pairs — never NULL
    itself, so no row is skipped. ASC flag = (k IS NULL): false < true
    puts NULL keys at the max end; DESC inverts to (k IS NOT NULL) so the
    min end (= last position of a descending sort) holds the NULL keys."""
    parts = split_top(keys)
    dirs = set()
    bare = []
    for k in parts:
        if re.search(r"\bNULLS\s+(FIRST|LAST)\b", k, re.IGNORECASE):
            raise UnsupportedDialect(
                f"{fn}(... ORDER BY ... NULLS FIRST/LAST) is not supported"
            )
        m = re.search(r"\s+(ASC|DESC)\s*$", k, re.IGNORECASE)
        if m:
            dirs.add(m.group(1).upper())
            k = k[: m.start()]
        else:
            dirs.add("ASC")
        bare.append(k.strip())
    if len(dirs) > 1:
        raise UnsupportedDialect(
            f"{fn}(... ORDER BY ...) with mixed ASC/DESC keys is not supported"
        )
    desc = dirs == {"DESC"}
    want_max = (fn.lower() == "last") != desc
    by = "max_by" if want_max else "min_by"
    flag = "IS NOT NULL" if desc else "IS NULL"
    fields = ", ".join(f"(({k}) {flag}), ({k})" for k in bare)
    call = f"{by}(named_struct('v', ({args.strip()})), struct({fields}))"
    return f"({call}{filt}).v" if filt else f"{call}.v"


def _emit_ordered_list(args: str, keys: str) -> str:
    """list/array_agg(v ORDER BY k1 [DESC] [NULLS FIRST|LAST], ...) →
    transform(array_sort(collect_list(struct(keys..., v)), comparator), s
    -> s.v). collect_list drops NULL elements but the wrapping struct is
    never NULL, so NULL values survive like DuckDB's; the comparator chain
    reproduces per-key direction with DuckDB's NULLS LAST default."""
    key_specs = []
    for part in split_top(keys):
        km = re.match(
            r"^(.*?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?$",
            part.strip(),
            re.IGNORECASE | re.DOTALL,
        )
        expr = km.group(1).strip()
        desc = (km.group(2) or "").upper() == "DESC"
        nf = (km.group(3) or "LAST").upper() == "FIRST"
        key_specs.append((expr, desc, nf))
    fields = ", ".join(
        f"({e}) AS __k{j}" for j, (e, _, _) in enumerate(key_specs)
    )
    cmp_expr = "0"
    for j, (_, desc, nf) in reversed(list(enumerate(key_specs))):
        lt, gt = ("1", "-1") if desc else ("-1", "1")
        a_null = "-1" if nf else "1"
        b_null = "1" if nf else "-1"
        cmp_expr = (
            f"CASE WHEN a.__k{j} IS NULL AND b.__k{j} IS NULL THEN {cmp_expr} "
            f"WHEN a.__k{j} IS NULL THEN {a_null} "
            f"WHEN b.__k{j} IS NULL THEN {b_null} "
            f"WHEN a.__k{j} < b.__k{j} THEN {lt} "
            f"WHEN a.__k{j} > b.__k{j} THEN {gt} ELSE {cmp_expr} END"
        )
    return (
        f"transform(array_sort(collect_list(struct({fields}, ({args}) AS __v)),"
        f" (a, b) -> {cmp_expr}), s -> s.__v)"
    )


_ARG_ORDER_BY_RE = re.compile(r"\s+ORDER\s+BY\s+", re.IGNORECASE)


def _rewrite_agg_inline_order(sql: str) -> str:
    """DuckDB writes the aggregate sort INSIDE the call —
    ``string_agg(x, ',' ORDER BY k)`` — Spark wants the SQL-standard
    ``listagg(x, ',') WITHIN GROUP (ORDER BY k)``. Balanced, literal-aware;
    only the top-level ORDER BY of the call is moved."""
    while True:
        mask = literal_mask(sql)
        changed = False
        for m in _AGG_ORDER_OPEN_RE.finditer(sql):
            if mask[m.start()]:
                continue
            i = close_of(sql, m.end() - 1)
            if i == -1:
                continue
            om = find_top(sql, _ARG_ORDER_BY_RE, m.end(), i - 1)
            if om is None:
                continue
            args = sql[m.end() : om.start()]
            keys = sql[om.end() : i - 1]
            fn = m.group(1).lower()
            # a trailing FILTER (WHERE ...) belongs to the aggregate: for
            # the min_by/max_by emission it must sit INSIDE the parens,
            # before the .v field access (`max_by(...).v FILTER (...)` is
            # invalid SQL; `(max_by(...) FILTER (...)).v` is verified)
            end = i
            filt = ""
            fm2 = re.match(r"\s*FILTER\s*\(", sql[i:], re.IGNORECASE)
            if fm2 and fn in ("first", "last"):
                fclose = close_of(sql, i + fm2.end() - 1)
                if fclose != -1:
                    filt = " " + sql[i + fm2.start() : fclose].strip()
                    end = fclose
            if fn in ("array_agg", "list"):
                repl = _emit_ordered_list(args, keys)
            elif fn in ("first", "last"):
                repl = _emit_ordered_first_last(fn, args, keys, filt)
            else:
                repl = f"listagg({args}) WITHIN GROUP (ORDER BY {keys})"
            sql = sql[: m.start()] + repl + sql[end:]
            changed = True
            break
        if not changed:
            return sql


_WIN_DISTINCT_RE = re.compile(r"\b(count|sum|avg|min|max)\s*\(\s*DISTINCT\b", re.IGNORECASE)


# O(frame) collect-based window rewrites (DISTINCT aggregates over
# windows, list/array_agg window forms, RANGE-EXCLUDE min-max/sum/avg)
# materialize the frame per row. At 100 TB a silently wide frame OOMs an
# executor; past this per-frame element bound the query fails loudly at
# runtime instead (VERDICT r09 task 4 — the RANGE-EXCLUDE tie-guard
# pattern applied to frame SIZE). Settable per engine via
# ``SET window_frame_element_bound = N``; <= 0 disables the guard.
WINDOW_FRAME_ELEMENT_BOUND = 1_000_000


def _frame_guard(expr: str, count_over: str) -> str:
    """Wrap a frame-materializing window expression with a runtime bound:
    a cheap O(1)-state ``count(1)`` rides the IDENTICAL window attachment
    (so counted rows >= collected elements, and Spark's window planner
    folds it into the same Window operator), and past the bound the row
    raises instead of letting the collect OOM the executor."""
    bound = WINDOW_FRAME_ELEMENT_BOUND
    if bound is None or bound <= 0:
        return expr
    return (
        f"(CASE WHEN count(1){count_over} <= {bound} THEN {expr} "
        f"WHEN raise_error('window frame exceeds "
        f"window_frame_element_bound ({bound} elements): this collect-based "
        f"window rewrite materializes the frame per row - narrow the frame "
        f"or SET window_frame_element_bound') IS NULL THEN NULL END)"
    )


def _rewrite_window_distinct(sql: str) -> str:
    """DuckDB allows DISTINCT aggregates as window functions
    (``count(DISTINCT x) OVER (...)``); Spark's grammar rejects them.
    Rewrite over the per-frame distinct set:

      count(DISTINCT x) OVER w -> size(collect_set(x) OVER w)
      sum(DISTINCT x)   OVER w -> aggregate(collect_set(x) OVER w,
                                            CAST(NULL AS DOUBLE),
                                            (a, v) -> coalesce(a, 0D) + v)
      avg(DISTINCT x)   OVER w -> sum-form / size-form
      min/max(DISTINCT) OVER w -> DISTINCT dropped (identical semantics)

    collect_set skips NULLs exactly as DISTINCT aggregation does, and the
    NULL seed makes an all-NULL/empty frame yield NULL like SQL sum/avg.
    Numeric results ride DOUBLE (documented divergence from DuckDB's
    HUGEINT for integer sums — same trade as the stats family). Non-window
    DISTINCT aggregates (no OVER) are left for Spark, which supports them
    natively."""
    while True:
        replaced = False
        # literal spans (recomputed per pass — offsets shift on rewrite);
        # a match starting inside a string literal must not be rewritten
        lit_spans, pos = [], 0
        for is_lit, chunk in split_literals(sql):
            if is_lit:
                lit_spans.append((pos, pos + len(chunk)))
            pos += len(chunk)
        for m in _WIN_DISTINCT_RE.finditer(sql):
            if any(a <= m.start() < b for a, b in lit_spans):
                continue
            open_at = sql.index("(", m.end(1))
            close = close_of(sql, open_at)
            if close == -1:
                break
            om = re.match(r"\s*OVER\s*\(", sql[close:], re.IGNORECASE)
            if not om:
                continue  # plain DISTINCT aggregate — Spark handles it
            spec_open = close + om.end() - 1
            spec_close = close_of(sql, spec_open)
            if spec_close == -1:
                break
            fname = m.group(1).lower()
            inner = sql[open_at + 1 : close - 1]
            expr = re.sub(r"^\s*DISTINCT\b", "", inner, flags=re.IGNORECASE).strip()
            spec = sql[spec_open + 1 : spec_close - 1]
            cs = _frame_guard(
                f"collect_set({expr}) OVER ({spec})", f" OVER ({spec})"
            )
            if fname == "count":
                repl = f"size({cs})"
            elif fname in ("min", "max"):
                repl = f"{fname}({expr}) OVER ({spec})"
            else:
                ssum = (
                    f"aggregate({cs}, CAST(NULL AS DOUBLE),"
                    f" (__a, __v) -> coalesce(__a, 0D) + __v)"
                )
                repl = ssum if fname == "sum" else f"({ssum} / size({cs}))"
            sql = sql[: m.start()] + repl + sql[spec_close:]
            replaced = True
            break
        if not replaced:
            return sql


def _frame_bound_rank(b: str) -> "float | None":
    """Comparable position of a frame bound (None if not statically
    rankable, e.g. an expression bound)."""
    u = re.sub(r"\s+", " ", b.strip().upper())
    if u == "UNBOUNDED PRECEDING":
        return float("-inf")
    if u == "CURRENT ROW":
        return 0.0
    if u == "UNBOUNDED FOLLOWING":
        return float("inf")
    m = re.match(r"(\d+(?:\.\d+)?)\s+PRECEDING$", u)
    if m:
        return -float(m.group(1))
    m = re.match(r"(\d+(?:\.\d+)?)\s+FOLLOWING$", u)
    if m:
        return float(m.group(1))
    return None


def _frame_inverted(base_spec: str) -> "str | None":
    """If the spec's frame has statically inverted bounds (lower > upper —
    DuckDB: empty frame; Spark: analysis error), return the spec text
    WITHOUT the frame clause (for a typed empty emission); else None."""
    fm = re.search(r"\b(ROWS|RANGE)\b", base_spec, re.IGNORECASE)
    if not fm:
        return None
    ft = base_spec[fm.start() :].strip()
    bm = re.match(
        r"(?:ROWS|RANGE)\s+BETWEEN\s+(.+?)\s+AND\s+(.+)$",
        ft,
        re.IGNORECASE | re.DOTALL,
    )
    if not bm:
        return None
    lo_r = _frame_bound_rank(bm.group(1))
    hi_r = _frame_bound_rank(bm.group(2))
    if lo_r is None or hi_r is None or lo_r <= hi_r:
        return None
    return base_spec[: fm.start()].strip()


_WIN_FILTER_RE = re.compile(r"\)\s*FILTER\s*\(", re.IGNORECASE)


def _rewrite_window_filter(sql: str) -> str:
    """`agg(x) FILTER (WHERE c) OVER (...)`: DuckDB supports FILTER on
    window aggregates, Spark does not — fold the predicate into the
    argument (`agg(CASE WHEN c THEN x END) OVER (...)`; `count(*)` counts
    a CASE-1). A leading DISTINCT stays OUTSIDE the CASE —
    `agg(DISTINCT CASE WHEN c THEN x END)` — and the pass runs before
    _rewrite_window_distinct so that rewrite then lowers the window
    DISTINCT (collect_set skips the CASE's NULLs exactly as FILTER
    excludes those rows). Plain aggregate FILTER (no OVER) stays for
    Spark."""
    while True:
        mask = literal_mask(sql)
        done = True
        for m in _WIN_FILTER_RE.finditer(sql):
            if mask[m.start()]:
                continue
            close = m.start()  # the aggregate call's ')'
            k = open_of(sql, close)
            if k < 0:
                continue
            fm = re.search(r"(\w+)\s*$", sql[:k])
            if not fm:
                continue
            fopen = sql.index("(", m.end() - 1)
            fclose = close_of(sql, fopen)
            if fclose == -1:
                continue
            om = re.match(r"\s*OVER\b", sql[fclose:], re.IGNORECASE)
            if not om:
                continue  # plain aggregate FILTER — Spark handles it
            fname = fm.group(1)
            args = sql[k + 1 : close]
            cond = re.sub(
                r"^\s*WHERE\b", "", sql[fopen + 1 : fclose - 1], flags=re.IGNORECASE
            ).strip()
            dm = re.match(r"\s*DISTINCT\b", args, re.IGNORECASE)
            distinct = ""
            if dm:
                distinct = "DISTINCT "
                args = args[dm.end() :]
            inner = "1" if args.strip() == "*" else args
            repl = f"{fname}({distinct}CASE WHEN {cond} THEN {inner} END)"
            sql = sql[: fm.start(1)] + repl + sql[fclose:]
            done = False
            break
        if done:
            return sql


def _rhs_operand_end(sql: str, j: int, mask) -> "int | None":
    """End offset (exclusive) of the operand starting at/after ``j``:
    optional unary sign, then a string literal, a balanced paren/call, or
    an identifier/number chain (with trailing balanced call parens)."""
    n = len(sql)
    k = j
    while k < n and sql[k].isspace():
        k += 1
    if k < n and sql[k] in "+-":
        k += 1
        while k < n and sql[k].isspace():
            k += 1
    if k >= n:
        return None
    if sql[k] == "'":
        for a, b in _spans(sql):
            if a == k:
                return b
        return None
    if sql[k] == "(":
        e = close_of(sql, k)
        return e if e != -1 else None
    if sql[k].isalnum() or sql[k] in "_.":
        e = k
        while e < n and (sql[e].isalnum() or sql[e] in "_."):
            e += 1
        # function call: include its argument list
        m = re.match(r"\s*\(", sql[e:])
        if m:
            o = sql.index("(", e)
            e2 = close_of(sql, o)
            return e2 if e2 != -1 else None
        return e
    return None


_JSON_ARROW_RE = re.compile(r"->>|->")


def _json_path_of(rhs: str) -> "str | None":
    """JSON path text for a `->`/`->>` RHS literal: int → $[i], '$…' path
    used verbatim, other string keys → $['k'] (bracket form — handles
    dotted keys; verified in both variant_get and get_json_object)."""
    r = rhs.strip()
    if re.fullmatch(r"-?\d+", r):
        return f"$[{r}]"
    m = re.fullmatch(r"'((?:[^']|'')*)'", r, re.DOTALL)
    if not m:
        return None
    key = m.group(1)
    if key.startswith("$"):
        return key.replace("''", "'")
    return f"$['{key}']"


def _rewrite_json_arrows(sql: str) -> str:
    """DuckDB JSON extraction operators:

      ``j -> 'k'``  → JSON-typed result (string leaves keep quotes,
        json-null → SQL NULL — measured): nullif(to_json(variant_get(
        parse_json(j), path)), 'null').
      ``j ->> 'k'`` → text result = Spark's get_json_object.

    Only literal RHS (string key, integer index, or a '$…' path) is
    rewritten — `->` is ALSO the lambda arrow in both dialects, and a
    lambda body is almost never a bare literal. The one ambiguous shape,
    a constant-literal lambda body like ``transform(l, x -> 1)``, parses
    as JSON array-indexing here only when the RHS is an INT and the LHS
    a bare identifier — that case is left alone (lambda wins); string-RHS
    on a bare identifier rewrites as JSON (``props -> 'k'`` is the
    overwhelmingly common real usage). Runs BEFORE the passes that EMIT
    Spark lambdas, so generated arrows are never touched."""
    while True:
        mask = literal_mask(sql)
        hit = None
        for m in _JSON_ARROW_RE.finditer(sql):
            if mask[m.start()]:
                continue
            def _lhs_start(at: int) -> "int | None":
                lo0 = _div_lhs_start(sql, at)
                if lo0 is None:
                    # string-literal LHS (JSON text inline) — _div_lhs_start
                    # only knows identifier/paren/CASE operands
                    k = at - 1
                    while k >= 0 and sql[k].isspace():
                        k -= 1
                    if k >= 0 and sql[k] == "'":
                        for a, b in _spans(sql):
                            if b == k + 1:
                                return a
                    return None
                return lo0

            lo = _lhs_start(m.start())
            # a `::TYPE` cast suffix belongs to the operand: extend left
            # through the cast chain (`'…'::JSON ->> 'a'`)
            while lo is not None:
                k = lo - 1
                while k >= 0 and sql[k].isspace():
                    k -= 1
                if k >= 1 and sql[k - 1 : k + 1] == "::":
                    lo = _lhs_start(k - 1)
                else:
                    break
            if lo is None:
                continue
            hi = _rhs_operand_end(sql, m.end(), mask)
            if hi is None:
                continue
            path = _json_path_of(sql[m.end() : hi])
            if path is None:
                continue
            lhs = sql[lo : m.start()].strip()
            if (
                m.group() == "->"
                and re.fullmatch(r"\$\[-?\d+\]", path)
                and re.fullmatch(r"[A-Za-z_]\w*", lhs)
            ):
                continue  # `x -> 1`: constant-body lambda, not JSON indexing
            hit = (m.group(), lo, hi, lhs, path)
            break
        if hit is None:
            return sql
        op, lo, hi, lhs, path = hit
        p = path.replace("'", "''")
        if op == "->>":
            repl = f"get_json_object({lhs}, '{p}')"
        else:
            repl = (
                f"nullif(to_json(variant_get(parse_json({lhs}), '{p}')), 'null')"
            )
        sql = sql[:lo] + repl + sql[hi:]


_BINOP_POWER_RE = re.compile(r"\*\*|\^(?!@)")
# longest tokens first: !~~* / ~~* (ILIKE family) must win over !~~ / ~~,
# else "s ~~* 'a%'" half-matches as ~~ and emits mangled "s LIKE * 'a%'"
_BINOP_TEXT_RE = re.compile(r"!~~\*|~~\*|!~~|~~|!~(?!~)|\^@")


def _anchored_regex_rhs(sql: str, j: int, mask) -> "tuple[str, int]":
    """Parse the operand after a ``~``/``!~`` regex-match operator and
    return ``(anchored_literal, end)``. DuckDB's ``~`` is an alias for
    regexp_full_match — 'xab' ~ 'a.*' is FALSE (measured) — so the
    pattern must be anchored like the SIMILAR TO rewrite does; a bare
    RLIKE would silently return partial-match rows. Non-literal patterns
    raise (same policy as SIMILAR TO: a clean error beats silent
    mis-matching)."""
    hi = _rhs_operand_end(sql, j, mask)
    if hi is None:
        raise UnsupportedDialect("cannot parse the ~ operator's pattern operand")
    rhs = sql[j:hi].strip()
    m = re.fullmatch(r"'((?:[^']|'')*)'", rhs, re.DOTALL)
    if not m:
        raise UnsupportedDialect(
            "~ / !~ with a non-literal pattern is not supported (DuckDB's ~ "
            "is regexp_full_match; anchoring needs the literal pattern)"
        )
    pat = m.group(1).replace("''", "'")
    anchored = f"^(?:{pat})$".replace("'", "''")
    return f"'{anchored}'", hi


def _rewrite_binary_ops(sql: str) -> str:
    """DuckDB operator symbols Spark lacks or MEANS DIFFERENTLY:

    ``a ** b`` and ``a ^ b`` are POWER in DuckDB — and ``^`` is bitwise
    XOR in Spark, so passing it through would be silently wrong, not a
    parse error. Rewritten to power(lhs, rhs) with DuckDB's precedence
    quirk preserved (unary minus binds FIRST: -2 ** 2 = 4 — measured).
    ``~``/``!~`` are FULL regex match (→ RLIKE on the ^(?:p)$-anchored
    literal pattern — DuckDB aliases ~ to regexp_full_match, measured),
    ``~~``/``!~~`` are LIKE / NOT LIKE, ``~~*``/``!~~*`` are ILIKE /
    NOT ILIKE (Spark has ILIKE natively), ``^@`` is starts_with."""
    # token substitutions first
    while True:
        mask = literal_mask(sql)
        m = next((c for c in _BINOP_TEXT_RE.finditer(sql) if not mask[c.start()]), None)
        if m is None:
            break
        op = m.group()
        if op == "!~~*":
            sql = sql[: m.start()] + " NOT ILIKE " + sql[m.end() :]
        elif op == "~~*":
            sql = sql[: m.start()] + " ILIKE " + sql[m.end() :]
        elif op == "!~~":
            sql = sql[: m.start()] + " NOT LIKE " + sql[m.end() :]
        elif op == "~~":
            sql = sql[: m.start()] + " LIKE " + sql[m.end() :]
        elif op == "!~":
            rhs, hi = _anchored_regex_rhs(sql, m.end(), mask)
            sql = sql[: m.start()] + " NOT RLIKE " + rhs + sql[hi:]
        else:  # ^@ — needs operands
            lo = _div_lhs_start(sql, m.start())
            hi = _rhs_operand_end(sql, m.end(), mask)
            if lo is None or hi is None:
                raise UnsupportedDialect("cannot parse ^@ operands")
            lhs = sql[lo : m.start()].strip()
            rhs = sql[m.end() : hi].strip()
            sql = sql[:lo] + f"startswith({lhs}, {rhs})" + sql[hi:]
    # binary ~ (regex FULL match): only when a left operand exists (else it
    # is Spark's unary bitwise NOT and stays)
    while True:
        mask = literal_mask(sql)
        hit = None
        for c in re.finditer(r"~", sql):
            if mask[c.start()]:
                continue
            if _div_lhs_start(sql, c.start()) is not None:
                hit = c
                break
        if hit is None:
            break
        rhs, hi = _anchored_regex_rhs(sql, hit.end(), mask)
        sql = sql[: hit.start()] + " RLIKE " + rhs + sql[hi:]
    # power operators
    while True:
        mask = literal_mask(sql)
        m = next(
            (c for c in _BINOP_POWER_RE.finditer(sql) if not mask[c.start()]), None
        )
        if m is None:
            return sql
        lo = _div_lhs_start(sql, m.start())
        hi = _rhs_operand_end(sql, m.end(), mask)
        if lo is None or hi is None:
            raise UnsupportedDialect(f"cannot parse operands of {m.group()!r}")
        # DuckDB precedence quirk: unary minus binds BEFORE the power
        # operator (-2 ** 2 = 4) — include a unary sign in the left operand
        k2 = lo - 1
        while k2 >= 0 and sql[k2].isspace():
            k2 -= 1
        if k2 >= 0 and sql[k2] in "+-":
            k3 = k2 - 1
            while k3 >= 0 and sql[k3].isspace():
                k3 -= 1
            wm = re.search(r"(\w+)$", sql[: k3 + 1]) if k3 >= 0 else None
            if (
                k3 < 0
                or sql[k3] in "(,=<>+-*/%"
                or (wm and wm.group(1).upper() in _DIV_LHS_KEYWORDS)
            ):
                lo = k2
        lhs = sql[lo : m.start()].strip()
        rhs = sql[m.end() : hi].strip()
        sql = sql[:lo] + f"power({lhs}, {rhs})" + sql[hi:]


def _inline_named_windows_for_exclude(sql: str) -> str:
    """When a named WINDOW clause's spec carries a frame EXCLUDE, inline
    every named spec into its ``OVER name`` references and drop the WINDOW
    clause, so _rewrite_frame_exclude sees the spec at the aggregate's own
    OVER site (reference reach: passthrough db/db.go:70 — DuckDB accepts
    EXCLUDE in named windows). Named windows WITHOUT any EXCLUDE pass
    through untouched — Spark supports the WINDOW clause natively. Chained
    definitions (``w2 AS (w1 ORDER BY ...)``) resolve one name deep per
    iteration."""
    code_only = "".join(ch for is_lit, ch in split_literals(sql) if not is_lit)
    if not re.search(
        r"\bEXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)", code_only, re.IGNORECASE
    ) or not re.search(r"\bWINDOW\s+\w+\s+AS\s*\(", code_only, re.IGNORECASE):
        return sql
    mask = literal_mask(sql)
    m = next(
        (
            c
            for c in re.finditer(r"\bWINDOW\s+(?=\w+\s+AS\s*\()", sql, re.IGNORECASE)
            if not mask[c.start()]
        ),
        None,
    )
    if m is None:
        return sql
    # parse `name AS (spec) [, name AS (spec)]*`
    specs: dict[str, str] = {}
    pos = m.end()
    while True:
        nm = re.match(r"\s*(\w+)\s+AS\s*\(", sql[pos:])
        if not nm:
            break
        open_at = pos + nm.end() - 1
        close = close_of(sql, open_at)
        if close == -1:
            raise UnsupportedDialect("unbalanced named WINDOW clause")
        specs[nm.group(1)] = sql[open_at + 1 : close - 1].strip()
        pos = close
        cm = re.match(r"\s*,", sql[pos:])
        if not cm:
            break
        pos += cm.end()
    if not any(_EXCLUDE_IN_SPEC_RE.search(s) for s in specs.values()):
        return sql
    # resolve chained name references (spec leading with another name)
    for _ in range(len(specs)):
        changed = False
        for k, s in specs.items():
            rm = re.match(r"(\w+)\b", s)
            if rm and rm.group(1) in specs and rm.group(1) != k:
                specs[k] = (specs[rm.group(1)] + " " + s[rm.end() :]).strip()
                changed = True
        if not changed:
            break
    # drop the WINDOW clause, then inline OVER name references
    sql = sql[: m.start()] + sql[pos:]
    out = sql
    for name, spec in specs.items():
        out = re.sub(
            rf"\bOVER\s+{re.escape(name)}\b(?!\s*\()",
            f"OVER ({spec})",
            out,
            flags=re.IGNORECASE,
        )
    return out


_ARRAY_TYPE_RE = re.compile(
    r"(\bAS\s+|::\s*)(\w+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)"
    r"((?:\s*\[\s*\])+)",  # one or more [] suffixes: INT[][] nests
    re.IGNORECASE,
)


def _rewrite_array_type_casts(sql: str) -> str:
    """DuckDB array-type syntax in casts — ``CAST(x AS INT[])`` /
    ``x::VARCHAR[]`` — becomes Spark's ``ARRAY<T>`` (iterated for nested
    ``INT[][]``). Runs before the int-cast rounding rewrite, which would
    otherwise mangle ``::INT[]`` into a rounded scalar cast with a
    dangling ``[]``."""

    def conv(m: re.Match) -> str:
        inner = m.group(2).strip()
        if re.fullmatch(r"VARCHAR|TEXT", inner, re.IGNORECASE):
            inner = "STRING"
        elif re.fullmatch(r"BLOB|BYTEA|VARBINARY", inner, re.IGNORECASE):
            inner = "BINARY"
        depth = m.group(3).count("[")
        for _ in range(depth):
            inner = f"ARRAY<{inner}>"
        return f"{m.group(1)}{inner}"

    return _rewrite_code(sql, lambda c: _ARRAY_TYPE_RE.sub(conv, c))


_COMPLEX_TYPE_HEAD_RE = re.compile(r"(\bAS\s+|::\s*)(MAP|STRUCT)\s*\(", re.IGNORECASE)

_TYPE_WORD_MAP = {
    "VARCHAR": "STRING",
    "TEXT": "STRING",
    "BLOB": "BINARY",
    "BYTEA": "BINARY",
    "VARBINARY": "BINARY",
    # DuckDB TIMESTAMP is wall-clock (no zone) — the engine-wide NTZ mapping
    "TIMESTAMP": "TIMESTAMP_NTZ",
}


def _spark_type_word(t: str) -> str:
    base, depth = t.strip(), 0
    while base.endswith("[]"):
        base = base[:-2].rstrip()
        depth += 1
    out = _TYPE_WORD_MAP.get(base.upper(), base)
    for _ in range(depth):
        out = f"ARRAY<{out}>"
    return out


def _spark_type_text(t: str) -> "str | None":
    """DuckDB type text -> Spark type text, RECURSIVE (r14: nested
    composites like STRUCT(a STRUCT(b DOUBLE)) / MAP(INTEGER,
    MAP(VARCHAR, DATE)) must convert all the way down — a half-converted
    type is a Spark parse error). None = unsupported shape (caller
    leaves the span verbatim for a loud reject)."""
    t = t.strip()
    m = re.match(r"^(.*?)((?:\s*\[\s*\])+)$", t, re.DOTALL)
    if m:
        inner = _spark_type_text(m.group(1))
        if inner is None:
            return None
        for _ in range(m.group(2).count("[")):
            inner = f"ARRAY<{inner}>"
        return inner
    um = re.match(r"^(MAP|STRUCT)\s*\((.*)\)$", t, re.IGNORECASE | re.DOTALL)
    if um:
        kind = um.group(1).upper()
        parts = split_top(um.group(2))
        if kind == "MAP":
            if len(parts) != 2:
                return None
            kv = [_spark_type_text(p) for p in parts]
            if None in kv:
                return None
            return f"MAP<{kv[0]}, {kv[1]}>"
        fields = []
        for p in parts:
            fm = re.match(r'^("(?:[^"]|"")*"|\w+)\s+(.+)$', p, re.DOTALL)
            if not fm:
                return None
            ft = _spark_type_text(fm.group(2))
            if ft is None:
                return None
            fields.append(f"{fm.group(1)}: {ft}")
        return f"STRUCT<{', '.join(fields)}>" if fields else None
    word = t.upper().split("(")[0].strip()
    if word == "TIMESTAMPTZ":
        return "TIMESTAMP_LTZ"  # engine-wide LTZ convention (r12)
    mapped = _TYPE_WORD_MAP.get(word)
    if mapped is not None:
        return mapped
    return t


def _rewrite_complex_type_casts(sql: str) -> str:
    """DuckDB composite cast types — ``CAST(x AS MAP(VARCHAR, INTEGER))``,
    ``x::STRUCT(a BIGINT, b VARCHAR)`` — become Spark's angle-bracket forms
    (``MAP<STRING, INT>``, ``STRUCT<a: BIGINT, b: STRING>``), recursing
    through nested composites (r14). Unsupported shapes stay verbatim so
    Spark rejects them loudly rather than silently mistyping."""
    i = 0
    while True:
        mask = literal_mask(sql)
        m = None
        for cand in _COMPLEX_TYPE_HEAD_RE.finditer(sql, i):
            if not mask[cand.start()]:
                m = cand
                break
        if m is None:
            return sql
        open_at = m.end() - 1
        close = close_of(sql, open_at)
        if close == -1:
            return sql
        kind = m.group(2).upper()
        # trailing [] suffixes belong to the same type text
        j = close
        while True:
            sfx = re.match(r"\s*\[\s*\]", sql[j:])
            if not sfx:
                break
            j += sfx.end()
        converted = _spark_type_text(sql[m.start(2) : j])
        if converted is None:
            i = close  # unsupported shape: leave verbatim, scan past it
            continue
        repl = f"{m.group(1)}{converted}"
        sql = sql[: m.start()] + repl + sql[j:]
        i = m.start() + len(repl)


def _rewrite_frame_exclude(sql: str) -> str:
    """Rewrite `agg(x) OVER (spec EXCLUDE kind)` for agg ∈ {sum, count,
    avg} into subtraction form; min/max via frame split / peer-set
    collect. Frame EXCLUDE hiding inside a NAMED WINDOW clause is not
    reachable by this rewrite (the aggregate is elsewhere) — raise with
    the workaround instead of letting Spark emit a cryptic parse error."""
    while True:
        m = None
        for cand in re.finditer(r"\bOVER\s*\(", sql, re.IGNORECASE):
            end = close_of(sql, sql.index("(", cand.end() - 1))
            if end == -1:
                break
            spec = sql[sql.index("(", cand.end() - 1) + 1 : end - 1]
            em = _EXCLUDE_IN_SPEC_RE.search(spec)
            if em:
                m = (cand.start(), sql.index("(", cand.end() - 1), end, spec, em)
                break
        if m is None:
            code_only = "".join(
                ch for is_lit, ch in split_literals(sql) if not is_lit
            )
            if re.search(
                r"\bEXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\s*\)",
                code_only,
                re.IGNORECASE,
            ):
                raise UnsupportedDialect(
                    "frame EXCLUDE inside a named WINDOW clause is not "
                    "supported; inline the window spec in OVER (...)"
                )
            return sql
        over_at, open_at, close_at, spec, em = m
        kind = re.sub(r"\s+", " ", em.group(1).upper())
        base_spec = spec[: em.start()].strip()

        # the aggregate call immediately before OVER
        j = over_at - 1
        while j >= 0 and sql[j].isspace():
            j -= 1
        if j < 0 or sql[j] != ")":
            raise UnsupportedDialect(
                "window frame EXCLUDE: cannot locate the aggregate call"
            )
        k = open_of(sql, j)
        args = sql[k + 1 : j]
        fm = re.search(r"(\w+)\s*$", sql[:k])
        fname = fm.group(1).lower() if fm else ""
        call_start = fm.start(1) if fm else k

        if kind == "NO OTHERS":
            # DuckDB tolerates INVERTED frame bounds (`1 PRECEDING AND
            # 3 PRECEDING`) as an empty frame; Spark rejects them — emit
            # the empty-frame result directly (count 0, others NULL)
            inv = _frame_inverted(base_spec)
            if inv:
                prefix0 = inv
                repl = (
                    "CAST(0 AS BIGINT)"
                    if fname == "count"
                    else (
                        f"(CASE WHEN 1=0 THEN {fname}({args})"
                        f" OVER ({prefix0}) END)"
                    )
                )
            else:
                repl = f"{sql[call_start:k]}({args}) OVER ({base_spec})"
            sql = sql[:call_start] + repl + sql[close_at:]
            continue
        # ---- measured DuckDB exclusion model (probed against straddling
        # peer groups AND frames that do not contain the current row):
        # exclusion yields ROW-space segments NOT clamped to the frame —
        #   CURRENT ROW: [fstart, cur-1] u [cur+1, fend]
        #   GROUP:       [fstart, gs-1] u [ge+1, fend]
        #   TIES:        [fstart, gs-1] u {cur} u [ge+1, fend]
        # (gs/ge = first/last peer row). For frames CONTAINING the current
        # row these reduce to textbook EXCLUDE semantics; otherwise the
        # segment ends EXTEND toward the current row/peer group (e.g.
        # `ROWS 4 PRECEDING AND 2 PRECEDING EXCLUDE CURRENT ROW` behaves
        # as `ROWS 4 PRECEDING AND 1 PRECEDING`).
        if fname not in ("sum", "count", "avg", "min", "max"):
            raise UnsupportedDialect(
                f"window frame EXCLUDE is supported for "
                f"sum/count/avg/min/max (got {fname or '?'})"
            )
        part, order, frame = _split_window_spec(base_spec)
        fm2 = re.search(r"\b(ROWS|RANGE)\b", base_spec, re.IGNORECASE)
        prefix = (base_spec[: fm2.start()] if fm2 else base_spec).strip()
        if frame is None:
            mode, lo, hi = "RANGE", "UNBOUNDED PRECEDING", "CURRENT ROW"
        else:
            ft = frame.strip()
            bm = re.match(
                r"(ROWS|RANGE)\s+BETWEEN\s+(.+?)\s+AND\s+(.+)$",
                ft,
                re.IGNORECASE | re.DOTALL,
            )
            if bm:
                mode = bm.group(1).upper()
                lo, hi = bm.group(2).strip(), bm.group(3).strip()
            else:
                sm = re.match(r"(ROWS|RANGE)\s+(.+)$", ft, re.IGNORECASE | re.DOTALL)
                mode, lo, hi = sm.group(1).upper(), sm.group(2).strip(), "CURRENT ROW"

        def _bkind(b: str) -> str:
            u = re.sub(r"\s+", " ", b.upper())
            if u == "UNBOUNDED PRECEDING":
                return "UP"
            if u == "CURRENT ROW":
                return "C"
            if u == "UNBOUNDED FOLLOWING":
                return "UF"
            if u.endswith("PRECEDING"):
                return "P"
            if u.endswith("FOLLOWING"):
                return "F"
            raise UnsupportedDialect(f"unparsable frame bound {b!r}")

        lk, hk = _bkind(lo), _bkind(hi)
        includes_cur = lk in ("UP", "P", "C") and hk in ("C", "F", "UF")
        star = args.strip() == "*"
        if star and fname != "count":
            raise UnsupportedDialect(f"{fname}(*) is not a valid aggregate")
        x = "1" if star else args
        kexpr = f"struct({', '.join(order)})" if order else "1"
        comb = "least" if fname == "min" else "greatest"
        arr_agg = "array_min" if fname == "min" else "array_max"

        unique_guard = None
        if mode == "RANGE" and not includes_cur:
            if kind == "CURRENT ROW":
                # Deterministic-input subset (r07 verdict task 8): with
                # UNIQUE order keys the current row is its own peer group,
                # so EXCLUDE CURRENT ROW equals EXCLUDE GROUP over the
                # frame extended toward the current row (probed: identical
                # results on unique fractional keys for both preceding- and
                # following-side frames). With TIES the DuckDB result is
                # row-position-dependent within the peer group (measured) —
                # that genuinely ambiguous subset raises AT RUNTIME via a
                # peer-count guard, so unique-key data flows and tied data
                # still fails loudly instead of silently diverging.
                peers_g = ", ".join(part + order) if (part or order) else ""
                unique_guard = f"PARTITION BY {peers_g}" if peers_g else ""
                kind = "GROUP"
            # GROUP/TIES: the surviving segment extends to the peer-group
            # edge — for RANGE frames that equals extending the frame to
            # CURRENT ROW (peers are value-equal) and removing peers
            if hk == "P":
                hi, hk = "CURRENT ROW", "C"
            else:  # frame entirely after the current row
                lo, lk = "CURRENT ROW", "C"
            base_spec = f"{prefix} RANGE BETWEEN {lo} AND {hi}".strip()
            includes_cur = True

        def _guard(expr: str) -> str:
            if unique_guard is None:
                return expr
            return (
                f"(CASE WHEN count(1) OVER ({unique_guard}) = 1 THEN {expr} "
                f"WHEN raise_error('EXCLUDE CURRENT ROW over a value-bounded "
                f"RANGE frame is tie-order-dependent in DuckDB when the ORDER "
                f"BY key has ties; deduplicate the key or use EXCLUDE GROUP') "
                f"IS NULL THEN NULL END)"
            )

        if mode == "RANGE":
            # current row (hence the WHOLE peer group) is in frame
            if fname in ("min", "max"):
                cl = _frame_guard(
                    f"collect_list(named_struct('k', {kexpr}, 'x', ({x})))"
                    f" OVER ({base_spec})",
                    f" OVER ({base_spec})",
                )
                m_out = (
                    f"{arr_agg}(transform(filter({cl}, "
                    f"__s -> NOT (__s.k <=> {kexpr})), __s -> __s.x))"
                )
                if kind == "GROUP":
                    repl = m_out
                elif kind == "TIES":
                    repl = f"{comb}({m_out}, ({x}))"
                else:  # CURRENT ROW: comb with peer-group-minus-self
                    peers = ", ".join(part + order) if (part or order) else ""
                    pspec = f"PARTITION BY {peers}" if peers else ""
                    ga = "array_sort({})".format(
                        _frame_guard(
                            f"collect_list({x}) OVER ({pspec})",
                            f" OVER ({pspec})",
                        )
                    )
                    if fname == "max":
                        ga = f"reverse({ga})"
                    m_grp_excl_me = (
                        f"(CASE WHEN ({x}) IS NULL "
                        f"OR NOT (try_element_at({ga}, 1) <=> ({x})) "
                        f"THEN try_element_at({ga}, 1) "
                        f"ELSE try_element_at({ga}, 2) END)"
                    )
                    repl = f"{comb}({m_out}, {m_grp_excl_me})"
                sql = sql[:call_start] + _guard(repl) + sql[close_at:]
                continue
            # sum/count/avg: subtraction form — exact native types
            xs = args
            b = base_spec
            peers = ", ".join(part + order) if (part or order) else None
            pspec = f"PARTITION BY {peers}" if peers else ""
            cnt_b = f"count({xs}) OVER ({b})"
            sum_b = f"sum({xs}) OVER ({b})"
            if kind == "CURRENT ROW":
                has = (
                    "1"
                    if star
                    else f"(CASE WHEN ({xs}) IS NOT NULL THEN 1 ELSE 0 END)"
                )
                val = "NULL" if star else f"COALESCE({xs}, 0)"
                cnt_excl = f"({cnt_b} - {has})"
                sum_excl = f"({sum_b} - {val})"
            else:  # GROUP or TIES
                cnt_p = f"count({xs}) OVER ({pspec})"
                sum_p = f"sum({xs}) OVER ({pspec})"
                if kind == "GROUP":
                    cnt_excl = f"({cnt_b} - {cnt_p})"
                    sum_excl = f"({sum_b} - COALESCE({sum_p}, 0))"
                else:  # TIES: remove peers, keep current row
                    has = (
                        "1"
                        if star
                        else f"(CASE WHEN ({xs}) IS NOT NULL THEN 1 ELSE 0 END)"
                    )
                    val = "0" if star else f"COALESCE({xs}, 0)"
                    cnt_excl = f"({cnt_b} - {cnt_p} + {has})"
                    sum_excl = f"({sum_b} - COALESCE({sum_p}, 0) + {val})"
        else:
            # ---- ROWS frame: the two surviving row-space segments
            segA = (
                f"{prefix} ROWS BETWEEN {lo} AND 1 PRECEDING".strip()
                if lk in ("UP", "P")
                else None
            )
            segB = (
                f"{prefix} ROWS BETWEEN 1 FOLLOWING AND {hi}".strip()
                if hk in ("F", "UF")
                else None
            )
            if fname in ("min", "max"):
                if kind == "CURRENT ROW":
                    parts = [
                        f"{fname}({args}) OVER ({s})" for s in (segA, segB) if s
                    ]
                else:

                    def _seg_agg(seg: str) -> str:
                        cl = _frame_guard(
                            f"collect_list(named_struct('k', {kexpr}, 'x', ({x})))"
                            f" OVER ({seg})",
                            f" OVER ({seg})",
                        )
                        return (
                            f"{arr_agg}(transform(filter({cl}, "
                            f"__s -> NOT (__s.k <=> {kexpr})), __s -> __s.x))"
                        )

                    parts = [_seg_agg(s) for s in (segA, segB) if s]
                    if kind == "TIES":
                        # the current row is ALWAYS retained (measured: it
                        # is added back even when the frame excludes it)
                        parts.append(f"({args})")
                if len(parts) > 1:
                    repl = f"{comb}({', '.join(parts)})"
                elif parts:
                    repl = parts[0]
                else:  # nothing survives: typed empty result
                    repl = (
                        f"(CASE WHEN 1=0 THEN {fname}({args})"
                        f" OVER ({base_spec}) END)"
                    )
                sql = sql[:call_start] + _guard(repl) + sql[close_at:]
                continue
            # sum/count/avg over ROWS segments. CURRENT ROW keeps native
            # types via plain segment windows; GROUP/TIES need the
            # peer-filtered collect (count exact BIGINT; sum/avg ride
            # DOUBLE — the documented DISTINCT-window-aggregate trade).
            if kind == "CURRENT ROW":
                cnts = [
                    f"COALESCE(count({args}) OVER ({s}), 0)"
                    for s in (segA, segB)
                    if s
                ]
                sums = [
                    f"COALESCE(sum({args}) OVER ({s}), 0)"
                    for s in (segA, segB)
                    if s
                ]
                cnt_excl = "(" + (" + ".join(cnts) if cnts else "0") + ")"
                sum_excl = "(" + (" + ".join(sums) if sums else "0") + ")"
            else:
                sizes, folds = [], []
                for s in (segA, segB):
                    if s is None:
                        continue
                    cl = _frame_guard(
                        f"collect_list(named_struct('k', {kexpr}, 'x', ({x})))"
                        f" OVER ({s})",
                        f" OVER ({s})",
                    )
                    nn = (
                        f"filter(transform(filter({cl}, "
                        f"__s -> NOT (__s.k <=> {kexpr})), __s -> __s.x), "
                        f"__v -> __v IS NOT NULL)"
                    )
                    sizes.append(f"CAST(size({nn}) AS BIGINT)")
                    folds.append(
                        f"aggregate({nn}, CAST(0 AS DOUBLE), "
                        f"(__a, __v) -> __a + CAST(__v AS DOUBLE))"
                    )
                if kind == "TIES":  # current row always added back (measured)
                    sizes.append(
                        "1"
                        if star
                        else f"(CASE WHEN ({args}) IS NOT NULL THEN 1 ELSE 0 END)"
                    )
                    if not star:
                        folds.append(f"COALESCE(CAST(({args}) AS DOUBLE), 0D)")
                cnt_excl = "(" + (" + ".join(sizes) if sizes else "0") + ")"
                sum_excl = (
                    "(" + (" + ".join(folds) if folds else "CAST(0 AS DOUBLE)") + ")"
                )
        if fname == "count":
            repl = cnt_excl
        elif fname == "sum":
            repl = f"(CASE WHEN {cnt_excl} = 0 THEN NULL ELSE {sum_excl} END)"
        else:  # avg
            repl = (
                f"(CASE WHEN {cnt_excl} = 0 THEN NULL "
                f"ELSE {sum_excl} / {cnt_excl} END)"
            )
        sql = sql[:call_start] + _guard(repl) + sql[close_at:]


_LISTISH_OPERAND_RE = re.compile(
    r"^\s*(?:array|list_value|sequence|array_repeat|array_distinct|"
    r"array_compact|slice|split|collect_list|collect_set|flatten)\s*\(",
    re.IGNORECASE,
)


def _rewrite_list_concat_nulls(sql: str) -> str:
    """DuckDB's list ``||`` is list_concat: a list-TYPED NULL side is
    treated as empty unless BOTH sides are NULL (measured on 1.0.0:
    ``NULL::INT[] || [9]`` = [9], ``[9] || NULL::INT[]`` = [9],
    ``NULL::INT[] || NULL::INT[]`` = NULL — but a BARE untyped NULL
    resolves as string concat and yields NULL: ``NULL || [9]`` = NULL);
    Spark's ``||``/concat propagates any NULL. Rewrite ``A || B`` into
    the NULL-dispatching CASE when either operand is syntactically a list
    (an ``array(...)`` literal emitted by the list-literal pass, or a
    list-returning call) and NEITHER operand is the bare literal NULL
    (whose measured DuckDB result is plain NULL — the Spark passthrough).
    String and unknown-typed operands keep the passthrough, which IS
    DuckDB's string semantics; a list-typed bare column on both sides
    remains a documented textual-unknowability divergence, as does the
    textual re-evaluation of operands inside the CASE (nondeterministic
    operands are evaluated more than once)."""
    mask = literal_mask(sql)
    i = 0
    while True:
        j = sql.find("||", i)
        if j == -1:
            return sql
        if mask[j]:
            i = j + 2
            continue
        lo = _div_lhs_start(sql, j)
        hi = _rhs_operand_end(sql, j + 2, mask)
        if lo is None or hi is None:
            i = j + 2
            continue
        a = sql[lo:j].strip()
        b = sql[j + 2 : hi].strip()
        if not (_LISTISH_OPERAND_RE.match(a) or _LISTISH_OPERAND_RE.match(b)):
            i = j + 2
            continue
        if a.upper() == "NULL" or b.upper() == "NULL":
            # bare untyped NULL: DuckDB resolves the || as VARCHAR concat
            # and returns a string-typed NULL (measured:
            # typeof(NULL || [9]) = VARCHAR, value NULL); Spark's concat
            # rejects the string/array mix at analysis, so emit the typed
            # NULL directly
            repl = "CAST(NULL AS STRING)"
            sql = sql[:lo] + repl + sql[hi:]
            mask = literal_mask(sql)
            i = lo + len(repl)
            continue
        repl = (
            f"(CASE WHEN ({a}) IS NULL THEN {b} "
            f"WHEN ({b}) IS NULL THEN {a} ELSE concat({a}, {b}) END)"
        )
        sql = sql[:lo] + repl + sql[hi:]
        mask = literal_mask(sql)
        i = lo + len(repl)


_DATE_LITERAL_RHS_RE = re.compile(r"\s*DATE\s*'", re.IGNORECASE)


_DATE_LIT_INTERVAL_RE = re.compile(
    r"(DATE\s*'[^']*'|'[^']*'\s*::\s*DATE)(\s*[+-]\s*)(?=INTERVAL\b)",
    re.IGNORECASE,
)
_INTERVAL_DATE_LIT_RE = re.compile(
    r"(\bINTERVAL\s+(?:'[^']*'\s*[A-Za-z]*|\d+\s+[A-Za-z]+)\s*\+\s*)"
    r"(DATE\s*'[^']*'|'[^']*'\s*::\s*DATE)",
    re.IGNORECASE,
)


_TSTZ_TOKEN_RE = re.compile(
    r"\bTIMESTAMPTZ\b|\bTIMESTAMP\s+WITH\s+TIME\s+ZONE\b", re.IGNORECASE
)


def _rewrite_timestamptz_type(sql: str) -> str:
    """DuckDB's TIMESTAMPTZ / TIMESTAMP WITH TIME ZONE type token — as a
    literal prefix (TIMESTAMPTZ '2020-01-01 10:00:00+02'), a cast target
    (::TIMESTAMPTZ, CAST(x AS TIMESTAMPTZ)), or a column type — maps to
    Spark's TIMESTAMP_LTZ, the engine's tz-aware lane (serializer and
    typeof both report it as TIMESTAMP WITH TIME ZONE, r12)."""
    if not re.search(r"TIMESTAMPTZ|WITH\s+TIME\s+ZONE", sql, re.IGNORECASE):
        return sql
    return _rewrite_code(
        sql, lambda chunk: _TSTZ_TOKEN_RE.sub("TIMESTAMP_LTZ", chunk)
    )


_POSITION_IN_RE = re.compile(r"\bposition\s*\(", re.IGNORECASE)


def _rewrite_position_in(sql: str) -> str:
    """position(needle IN haystack) — BIGINT in DuckDB, INT from Spark's
    native form — rewritten onto the width-cast instr emission (same
    lane as strpos, measured r12)."""
    if not _POSITION_IN_RE.search(sql):
        return sql
    while True:
        mask = literal_mask(sql)
        hit = None
        for m in _POSITION_IN_RE.finditer(sql):
            if mask[m.start()]:
                continue
            close = close_of(sql, m.end() - 1)
            if close == -1:
                continue
            body = sql[m.end(): close - 1]
            bmask = literal_mask(body)
            im = None
            for cand in re.finditer(r"\bIN\b", body, re.IGNORECASE):
                if bmask[cand.start()]:
                    continue
                d = 0
                for ch, msk in zip(body[: cand.start()],
                                   bmask[: cand.start()]):
                    if not msk:
                        d += 1 if ch == "(" else (-1 if ch == ")" else 0)
                if d == 0:
                    im = cand
                    break
            if im is None:
                continue
            needle = body[: im.start()].strip()
            hay = body[im.end():].strip()
            hit = (m.start(), close, needle, hay)
            break
        if hit is None:
            return sql
        start, close, needle, hay = hit
        sql = (
            sql[:start]
            + f"CAST(instr({hay}, {needle}) AS BIGINT)"
            + sql[close:]
        )


_UNION_VALUE_RE = re.compile(r"\bunion_value\s*\(", re.IGNORECASE)


def _rewrite_union_values(sql: str) -> str:
    """union_value(tag := expr) — DuckDB's UNION sum-type constructor
    (VERDICT r11 missing #4) — onto the engine's tagged-struct shim
    (SURVEY §1.3, same layout fn_union_type reads): named_struct with a
    'tag' field plus one nullable field per variant. A trailing
    ::UNION(f1 T1, ...) cast supplies the full variant set (the DuckDB
    idiom for unifying CASE branches); a bare constructor carries just
    its own variant. union_tag/union_extract then route to plain field
    access (emitters below)."""
    if not _UNION_VALUE_RE.search(sql):
        return sql
    while True:
        mask = literal_mask(sql)
        m = next(
            (c for c in _UNION_VALUE_RE.finditer(sql) if not mask[c.start()]),
            None,
        )
        if m is None:
            return sql
        close = close_of(sql, m.end() - 1)
        if close == -1:
            return sql
        bm = re.match(
            r"^\s*(\w+)\s*:=\s*(.+)$", sql[m.end(): close - 1], re.DOTALL
        )
        if bm is None:
            raise UnsupportedDialect(
                "union_value expects a single tag := value argument"
            )
        tag, val = bm.group(1), bm.group(2).strip()
        end = close
        fields: "list[tuple[str, str]] | None" = None
        um = re.match(r"\s*::\s*UNION\s*\(", sql[close:], re.IGNORECASE)
        if um:
            uclose = close_of(sql, close + um.end() - 1)
            if uclose != -1:
                fields = []
                for fd in split_top(sql[close + um.end(): uclose - 1]):
                    fm = re.match(r"^\s*(\w+)\s+(.+?)\s*$", fd, re.DOTALL)
                    if not fm:
                        fields = None
                        break
                    fields.append((fm.group(1), fm.group(2)))
                if fields is not None:
                    end = uclose
        parts = ["'tag'", f"'{tag}'"]
        if fields:
            for fname, ftype in fields:
                if fname.lower() == tag.lower():
                    parts += [f"'{fname}'", f"CAST({val} AS {ftype})"]
                else:
                    parts += [f"'{fname}'", f"CAST(NULL AS {ftype})"]
        else:
            parts += [f"'{tag}'", val]
        sql = (
            sql[: m.start()]
            + f"named_struct({', '.join(parts)})"
            + sql[end:]
        )


# --- serialized integer-width parity (measured r12): DuckDB returns
# BIGINT where Spark's builtins return INT -----------------------------------

def _emit_instr_big(args: list[str]) -> str:
    if len(args) != 2:
        raise UnsupportedDialect("strpos/instr expects (string, search)")
    return f"CAST(instr({args[0]}, {args[1]}) AS BIGINT)"


def _emit_leven_big(args: list[str]) -> str:
    if len(args) != 2:
        raise UnsupportedDialect("levenshtein expects two strings")
    return f"CAST(levenshtein({args[0]}, {args[1]}) AS BIGINT)"


def _emit_array_len_big(args: list[str]) -> str:
    if len(args) != 1:
        raise UnsupportedDialect("array_length expects one argument")
    return f"CAST(size({args[0]}) AS BIGINT)"


def _emit_strlen_big(args: list[str]) -> str:
    if len(args) != 1:
        raise UnsupportedDialect("strlen expects one argument")
    return f"CAST(octet_length({args[0]}) AS BIGINT)"


def _emit_bitlen_big(args: list[str]) -> str:
    if len(args) != 1:
        raise UnsupportedDialect("bit_length expects one argument")
    return f"CAST(bit_length({args[0]}) AS BIGINT)"


def _mk_rank_big(name: str):
    def emit(args: list[str], suffix: str = "") -> str:
        body = ", ".join(a for a in args if a.strip())
        return f"CAST({name}({body}){suffix} AS BIGINT)"

    emit._window_aware = True
    return emit


def _emit_union_tag(args: list[str]) -> str:
    if len(args) != 1:
        raise UnsupportedDialect("union_tag expects one argument")
    return f"({args[0]}).tag"


def _emit_union_extract(args: list[str]) -> str:
    if len(args) != 2:
        raise UnsupportedDialect("union_extract expects (union, 'tag')")
    nm = re.match(r"^\s*'(\w+)'\s*$", args[1])
    if not nm:
        raise UnsupportedDialect(
            "union_extract: the tag must be a string literal"
        )
    return f"({args[0]}).{nm.group(1)}"


_UNDERSCORE_NUM_RE = re.compile(
    r"(?<![\w.$])(\d+(?:_\d+)*(?:\.\d+(?:_\d+)*)?)(?![\w])"
)
# number followed by a NON-single underscore run: DuckDB ends the literal
# there and reads the rest as an implicit alias (measured r12/r13:
# SELECT 1__0 -> column __0 value 1; 1_000_ -> column _ value 1000;
# 1.5__x -> __x 1.5; 2e3__y -> __y 2000.0). The alias branch requires
# '_' not followed by a digit (or a doubled '_'), so valid literals like
# 1_0 can never backtrack into it.
_UNDERSCORE_ALIAS_RE = re.compile(
    r"(?<![\w.$])(\d+(?:_\d+)*(?:\.\d+(?:_\d+)*)?(?:[eE][+-]?\d+)?)"
    r"((?:_(?![0-9])|__)\w*)(?![\w])"
)


def _rewrite_numeric_underscores(sql: str) -> str:
    """DuckDB numeric literals allow readability underscores
    (1_000_000, 1_000.5_0 — measured: the DECIMAL shape counts digits
    only), but only SINGLE underscores between digits: 1__0 parses as
    literal 1 with implicit alias __0 and 1_000_ as 1_000 aliased _
    (measured r12/r13). Spark's parser rejects both forms — strip the
    underscores in code chunks and rewrite the literal+alias shape to
    an explicit ``<num> AS `<alias>``` (contexts where DuckDB's parser
    would reject the implicit alias reject the AS form too)."""
    if "_" not in sql:
        return sql

    def fix(chunk: str) -> str:
        chunk = _UNDERSCORE_ALIAS_RE.sub(
            lambda m: f"{m.group(1).replace('_', '')} AS `{m.group(2)}`",
            chunk,
        )
        return _UNDERSCORE_NUM_RE.sub(
            lambda m: m.group(1).replace("_", "") if "_" in m.group(1)
            else m.group(1),
            chunk,
        )

    return _rewrite_code(sql, fix)


# DuckDB coerces string literals in boolean contexts through its BOOL
# token set (WHERE '1' keeps rows, CASE WHEN 'T' THEN fires, WHERE 'x'
# raises its conversion error — measured r13) and accepts string-literal
# LIMIT/OFFSET counts. Spark rejects both at analysis. Only the
# literal-adjacent shapes are rewritten: CASE WHEN '<lit>' (searched
# CASE, directly adjacent so simple-CASE comparisons stay untouched),
# WHERE '<lit>' / NOT '<lit>' at a clause boundary, and
# LIMIT/OFFSET '<lit>'.
_BOOL_CTX_STR_RE = re.compile(
    r"\b(CASE\s+WHEN|WHERE|HAVING|QUALIFY|NOT)\s+('(?:[^']|'')*')"
    r"(?=\s*(?:\)|$|;|,|THEN\b|ELSE\b|END\b|AS\b|FROM\b|AND\b|OR\b"
    r"|LIMIT\b|ORDER\b|GROUP\b|HAVING\b|UNION\b|INTERSECT\b|EXCEPT\b"
    r"|WINDOW\b|QUALIFY\b))",
    re.IGNORECASE,
)
_LIMIT_STR_RE = re.compile(
    r"\b(LIMIT|OFFSET)\s+'((?:[^']|'')*)'", re.IGNORECASE
)


_POSTFIX_FACT_RE = re.compile(
    r"(?<![\w.])(\d+)\s*!"
    r"(?=\s*(?:$|,|\)|\]|;|AS\b|FROM\b|UNION\b|INTERSECT\b|EXCEPT\b"
    r"|ORDER\b|LIMIT\b|WHERE\b|GROUP\b|HAVING\b|THEN\b|ELSE\b|END\b))"
)


def _rewrite_postfix_factorial(sql: str) -> str:
    """DuckDB's postfix factorial (5! = 120) onto factorial() — but the
    operator binds LOOSER than arithmetic (measured: 1 + 3! = 24 is
    factorial(1+3), and 3! + 1 is a DuckDB catalog error), so only
    ISOLATED literal terms rewrite: preceded by an expression start and
    followed by an expression end. != stays the inequality operator."""
    if "!" not in sql:
        return sql
    mask = literal_mask(sql)
    edits: list[tuple[int, int, str]] = []
    for m in _POSTFIX_FACT_RE.finditer(sql):
        if mask[m.start()]:
            continue
        before = sql[: m.start()].rstrip()
        if before and before[-1] not in "(,[" and not re.search(
            r"\b(?:SELECT|WHEN|THEN|ELSE|BY|RETURN|VALUES)\s*$",
            before, re.IGNORECASE,
        ):
            continue
        edits.append((m.start(), m.end(), f"factorial({m.group(1)})"))
    for a, b, repl in sorted(edits, reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


def _rewrite_bool_context_strings(sql: str) -> str:
    if "'" not in sql:
        return sql
    mask = literal_mask(sql)
    edits: list[tuple[int, int, str]] = []
    for m in _BOOL_CTX_STR_RE.finditer(sql):
        if mask[m.start()]:
            continue
        # constant literal: fold DuckDB's BOOL token set here (exactly
        # t/f/true/false/1/0 case-insensitive, NO trimming — the cast
        # contract's measured lane) so the miss raises DuckDB's error
        # instead of Spark's silent NULL-filter
        body = m.group(2)[1:-1].replace("''", "'")
        low = body.lower()
        if low in ("t", "true", "1"):
            edits.append((m.start(2), m.end(2), "TRUE"))
        elif low in ("f", "false", "0"):
            edits.append((m.start(2), m.end(2), "FALSE"))
        else:
            raise ValueError(
                f"Conversion Error: Could not convert string '{body}' "
                f"to BOOL"
            )
    for m in _LIMIT_STR_RE.finditer(sql):
        if mask[m.start()]:
            continue
        body = m.group(2).strip()
        if re.match(r"^\d+$", body):
            edits.append((m.start(2) - 1, m.end(2) + 1, body))
        else:
            raise ValueError(
                f"Conversion Error: Could not convert string '{m.group(2)}'"
                f" to INT64"
            )
    for a, b, repl in sorted(edits, reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


# ---- string-literal overload rejections (measured r13) ---------------------
# DuckDB's +/- have date overloads, so string-literal ± integer-literal
# is AMBIGUOUS and binder-errors ('2' + 1, 1 + '2', '2' - 1) while */%
# coerce ('2' * 3 = 6 INTEGER) and a DECIMAL partner computes DOUBLE
# ('2' + 1.5 = 3.5). abs/round/floor/ceil/sign over a string literal
# binder-error the same way; sqrt/ln coerce. Spark computes all of these
# silently. Only the textually-safe literal-adjacent shapes are
# rejected; column partners and compound chains keep Spark's lane
# (documented divergence).
_STRLIT_TXT = r"'(?:[^']|'')*'"
_STR_PLUSMINUS_RE = re.compile(
    rf"(?<![\w'])({_STRLIT_TXT})\s*([+-])\s*\d+(?![\w.])"
    rf"|(?<![\w.'])(\d+)\s*([+-])\s*{_STRLIT_TXT}",
)
_STRFN_REJECT_RE = re.compile(
    rf"\b(abs|round|floor|ceil|sign)\s*\(\s*{_STRLIT_TXT}\s*\)",
    re.IGNORECASE,
)
# numeric aggregates reject VARCHAR args too (measured: sum('2') /
# avg / stddev / var_samp / product / bit_and / bool_and / skewness
# binder-error; median/mode/min/max/count take VARCHAR) — Spark's
# sum('2') silently computes 2.0
_STRAGG_REJECT_RE = re.compile(
    rf"\b(sum|avg|mean|stddev|stddev_samp|stddev_pop|var_samp|var_pop"
    rf"|variance|product|bit_and|bit_or|bit_xor|bool_and|bool_or"
    rf"|skewness|kurtosis)\s*\(\s*{_STRLIT_TXT}\s*\)",
    re.IGNORECASE,
)
_TYPED_LIT_PREFIX_RE = re.compile(
    r"(?<![\w])(?:DATE|TIMESTAMPTZ|TIMESTAMP|TIME|INTERVAL|E)\s*$",
    re.IGNORECASE,
)


def _reject_string_literal_overloads(sql: str) -> str:
    if not re.search(r"['']", sql):
        return sql
    mask = literal_mask(sql)
    for m in _STR_PLUSMINUS_RE.finditer(sql):
        op = m.group(2) or m.group(4)
        op_at = sql.index(op, m.end(1) if m.group(1) else m.end(3))
        if mask[op_at]:
            continue
        before = sql[: m.start()]
        # typed literals (DATE '...' + 1 is valid) and compound chains
        # (3 * '2' - 1 reduces left-to-right) stay untouched
        if _TYPED_LIT_PREFIX_RE.search(before):
            continue
        if re.search(r"[*/%|+\-]\s*$", before):
            continue
        a, b = (
            ("STRING_LITERAL", "INTEGER_LITERAL")
            if m.group(1) else ("INTEGER_LITERAL", "STRING_LITERAL")
        )
        raise ValueError(
            f'Binder Error: Could not choose a best candidate function '
            f'for the function call "{op}({a}, {b})". In order to select '
            f'one, please add explicit type casts.'
        )
    for m in _STRFN_REJECT_RE.finditer(sql):
        if mask[m.start()]:
            continue
        raise ValueError(
            f'Binder Error: Could not choose a best candidate function '
            f'for the function call "{m.group(1).lower()}(STRING_LITERAL)". '
            f'In order to select one, please add explicit type casts.'
        )
    for m in _STRAGG_REJECT_RE.finditer(sql):
        if mask[m.start()]:
            continue
        raise ValueError(
            f"Binder Error: No function matches the given name and "
            f"argument types '{m.group(1).lower()}(VARCHAR)'. You might "
            f"need to add explicit type casts."
        )
    # median over VARCHAR is ORDINAL in DuckDB (returns the middle
    # string); Spark's median coerces to DOUBLE. A constant string arg
    # makes min() the exact same aggregate (every row ties).
    out = []
    last = 0
    for m in re.finditer(
        rf"\bmedian(\s*\(\s*{_STRLIT_TXT}\s*\))", sql, re.IGNORECASE
    ):
        if mask[m.start()]:
            continue
        out.append(sql[last: m.start()])
        out.append(f"min{m.group(1)}")
        last = m.end()
    if out:
        out.append(sql[last:])
        sql = "".join(out)
    return sql


_RANKING_OVER_RE = re.compile(
    r"\b(row_number|rank|dense_rank|percent_rank|cume_dist|ntile|lag|lead)"
    r"\s*\(",
    re.IGNORECASE,
)


_SPEC_ORDER_OR_FRAME_RE = re.compile(
    r"\b(?:(ORDER\s+BY)|ROWS|RANGE|GROUPS)\b", re.IGNORECASE
)


def _rewrite_unordered_ranking_windows(sql: str) -> str:
    """DuckDB allows ranking/offset window functions over an UNORDERED
    window — row_number() OVER () numbers rows in scan order, rank()
    treats every row as a peer (measured r13) — where Spark demands an
    ORDER BY. Inject the constant ``ORDER BY 1`` (Spark accepts it in a
    window spec; every row ties, reproducing DuckDB's all-peers rank and
    its unspecified-order numbering contract). Named ``OVER w`` windows
    pass through."""
    if not re.search(r"\bOVER\s*\(", sql, re.IGNORECASE):
        return sql
    mask = literal_mask(sql)
    edits: list[tuple[int, str]] = []
    for m in _RANKING_OVER_RE.finditer(sql):
        if mask[m.start()]:
            continue
        close = close_of(sql, m.end() - 1)
        if close == -1:
            continue
        om = re.match(
            r"\s*(?:IGNORE\s+NULLS\s*)?OVER\s*\(", sql[close:], re.IGNORECASE
        )
        if not om:
            continue
        spec_open = close + om.end() - 1
        spec_close = close_of(sql, spec_open)
        if spec_close == -1:
            continue
        spec = sql[spec_open + 1: spec_close - 1]
        hits = list(iter_top(spec, _SPEC_ORDER_OR_FRAME_RE))
        if any(h.group(1) for h in hits):
            continue
        frame_at = hits[0].start() if hits else len(spec)
        edits.append((spec_open + 1 + frame_at, " ORDER BY 1 "))
    for at, ins in sorted(edits, reverse=True):
        sql = sql[:at] + ins + sql[at:]
    return sql


# ---- DuckDB datetime-literal grammar (measured r13) ------------------------
# DuckDB REQUIRES seconds once a time component appears: TIMESTAMP
# '2020-01-01 01:00' (and bare-hour / HH:MM+offset forms) raise its
# conversion error where Spark silently parses a value; DATE parses the
# date prefix and IGNORES any remainder ('2020-01-01 junk' is
# 2020-01-01); '/' date separators are accepted ('2020/01/01'); TIME
# also requires seconds. Literal-level shapes are validated/normalized
# here; r14 folds the epoch/±infinity specials, hour-24 rollover, and
# ±HH[:MM] offsets on naive timestamps to their measured instants. BC
# years stay a loud documented divergence (Spark has no year <= 0), and
# 'infinity' keeps its clamped VALUE but not DuckDB's 'infinity' VARCHAR
# render.

_TS_NOSEC_RE = re.compile(
    r"^\s*[+-]?\d{1,6}[-/]\d{1,2}[-/]\d{1,2}[ T]+\d{1,2}(?::\d{2})?"
    r"(?:\s*[+-]\d[\d:]*)?\s*$"
)
_TIME_NOSEC_RE = re.compile(r"^\s*\d{1,2}:\d{2}\s*$")
_DATE_PREFIX_RE = re.compile(
    r"^(\s*)(\d{1,6})([-/])(\d{1,2})\3(\d{1,2})(.*)$", re.DOTALL
)
_DT_CONV_MSG = {
    "timestamp": (
        'Conversion Error: timestamp field value out of range: "{v}", '
        "expected format is (YYYY-MM-DD HH:MM:SS[.US][±HH:MM| ZONE])"
    ),
    "date": (
        'Conversion Error: date field value out of range: "{v}", '
        "expected format is (YYYY-MM-DD)"
    ),
    "time": (
        'Conversion Error: time field value out of range: "{v}", '
        "expected format is ([YYYY-MM-DD ]HH:MM:SS[.MS])"
    ),
}


def _duck_datetime_literal(kind: str, body: str) -> "str | None":
    """Validate/normalize a datetime literal body per DuckDB's grammar.
    Returns the (possibly rewritten) body, or raises DuckDB's conversion
    error; None = leave the span untouched."""
    k = kind.lower()
    fam = (
        "timestamp" if k.startswith("timestamp") or k == "datetime"
        else "time" if k == "time" else "date"
    )
    s = body.strip()
    low = s.lower()
    if low in ("epoch", "infinity", "-infinity"):
        # measured r14: epoch = 1970-01-01, ±infinity clamp to the
        # datetime range at the VALUE level (duckdb's python fetch and
        # the oracle compare see the clamped instants; the 'infinity'
        # VARCHAR render remains a documented divergence)
        if fam == "time":
            return "00:00:00" if low == "epoch" else None
        specials = {
            "epoch": ("1970-01-01 00:00:00", "1970-01-01"),
            "infinity": ("9999-12-31 23:59:59.999999", "9999-12-31"),
            "-infinity": ("0001-01-01 00:00:00", "0001-01-01"),
        }
        ts, dt = specials[low]
        return ts if fam == "timestamp" else dt
    if fam == "timestamp" and k != "timestamptz":
        # hour-24 rollover and ±HH[:MM] offsets fold to the naive UTC
        # instant (measured: '2020-01-01 24:00:00' = next midnight,
        # '... 01:02:03+05:30' = 2019-12-31 19:32:03; TIMESTAMPTZ keeps
        # its own zone machinery)
        m24 = re.match(
            r"^([+-]?\d{1,6})-(\d{1,2})-(\d{1,2})[ T]+"
            r"(\d{1,2}):(\d{2}):(\d{2})(\.\d+)?"
            r"(\s*[+-]\d{1,2}(?::\d{2})?)?$",
            s,
        )
        if m24 and (m24.group(4) == "24" or m24.group(8)):
            import datetime as _dt

            try:
                h = int(m24.group(4))
                roll = h == 24
                if roll and (
                    m24.group(5) != "00"
                    or m24.group(6) != "00"
                    or (m24.group(7) and set(m24.group(7)[1:]) != {"0"})
                ):
                    raise ValueError(
                        _DT_CONV_MSG["timestamp"].format(v=body)
                    )
                val = _dt.datetime(
                    int(m24.group(1)), int(m24.group(2)), int(m24.group(3)),
                    0 if roll else h, int(m24.group(5)), int(m24.group(6)),
                )
                frac = m24.group(7) or ""
                if roll:
                    val += _dt.timedelta(days=1)
                    frac = ""
                off = (m24.group(8) or "").strip()
                if off:
                    om = re.match(r"^([+-])(\d{1,2})(?::(\d{2}))?$", off)
                    delta = _dt.timedelta(
                        hours=int(om.group(2)), minutes=int(om.group(3) or 0)
                    )
                    val = val - delta if om.group(1) == "+" else val + delta
                return val.strftime("%Y-%m-%d %H:%M:%S") + frac
            except ValueError as e:
                if "Conversion Error" in str(e):
                    raise
                return None  # out-of-range fold: leave untouched
            except OverflowError:
                return None
    if fam == "timestamp" and _TS_NOSEC_RE.match(body):
        raise ValueError(_DT_CONV_MSG["timestamp"].format(v=body))
    if fam == "time" and _TIME_NOSEC_RE.match(body):
        raise ValueError(_DT_CONV_MSG["time"].format(v=body))
    dm = _DATE_PREFIX_RE.match(body)
    if dm is None:
        return None
    if fam == "date":
        rest = dm.group(6)
        if rest.strip() and not re.match(r"^\d", rest) and not re.search(
            r"\b(?:BC|AD)\b", rest, re.IGNORECASE
        ):
            # remainder ignored by DuckDB's date cast — truncate it
            # (BC/AD era markers are semantic, not junk: left alone)
            return f"{dm.group(2)}-{dm.group(4)}-{dm.group(5)}"
        if dm.group(3) == "/":
            return f"{dm.group(2)}-{dm.group(4)}-{dm.group(5)}{dm.group(6)}"
        return None
    if fam == "timestamp" and dm.group(3) == "/":
        return (
            f"{dm.group(2)}-{dm.group(4)}-{dm.group(5)}{dm.group(6)}"
        )
    return None


_DT_KW_LIT_RE = re.compile(
    r"\b(TIMESTAMPTZ|TIMESTAMP|DATETIME|DATE|TIME)\s*'((?:[^']|'')*)'",
    re.IGNORECASE,
)
_DT_SUFFIX_LIT_RE = re.compile(
    r"'((?:[^']|'')*)'\s*(::\s*)(TIMESTAMPTZ|TIMESTAMP|DATETIME|DATE|TIME)\b",
    re.IGNORECASE,
)
_DT_CAST_LIT_RE = re.compile(
    r"\b(TRY_CAST|CAST)\s*\(\s*'((?:[^']|'')*)'\s+AS\s+"
    r"(TIMESTAMPTZ|TIMESTAMP|DATETIME|DATE|TIME)\s*\)",
    re.IGNORECASE,
)


def _rewrite_datetime_literals(sql: str) -> str:
    """Apply DuckDB's datetime string grammar to literal-typed shapes:
    TYPE '...' keyword literals, '...'::TYPE suffix casts, and
    (TRY_)CAST('...' AS TYPE). CAST/keyword/suffix forms raise DuckDB's
    conversion error on rejected shapes; TRY_CAST forms NULL instead
    (measured: TRY_CAST('2020-01-01 01:00' AS TIMESTAMP) is NULL)."""
    if not re.search(
        r"\b(TIMESTAMPTZ|TIMESTAMP|DATETIME|DATE|TIME)\b", sql, re.IGNORECASE
    ):
        return sql
    mask = literal_mask(sql)
    edits: list[tuple[int, int, str]] = []
    for m in _DT_KW_LIT_RE.finditer(sql):
        if mask[m.start()]:
            continue
        new = _duck_datetime_literal(m.group(1), m.group(2))
        if new is not None and new != m.group(2):
            edits.append((m.start(2) - 1, m.end(2) + 1, f"'{new}'"))
    for m in _DT_SUFFIX_LIT_RE.finditer(sql):
        if mask[m.start(2)]:
            continue
        new = _duck_datetime_literal(m.group(3), m.group(1))
        if new is not None and new != m.group(1):
            edits.append((m.start(1) - 1, m.end(1) + 1, f"'{new}'"))
    for m in _DT_CAST_LIT_RE.finditer(sql):
        if mask[m.start()]:
            continue
        try:
            new = _duck_datetime_literal(m.group(3), m.group(2))
        except ValueError:
            if m.group(1).upper() == "TRY_CAST":
                # DuckDB's TRY_CAST NULLs the rejected shape; Spark would
                # have parsed a value, so NULL the whole span explicitly
                edits.append(
                    (m.start(), m.end(), f"CAST(NULL AS {m.group(3)})")
                )
                continue
            raise
        if new is not None and new != m.group(2):
            edits.append((m.start(2) - 1, m.end(2) + 1, f"'{new}'"))
    for a, b, repl in sorted(edits, reverse=True):
        sql = sql[:a] + repl + sql[b:]
    return sql


_AT_TIME_ZONE_RE = re.compile(
    r"\bAT\s+TIME\s+ZONE\s+('(?:[^']|'')*')", re.IGNORECASE
)
_TS_PREFIX_RE = re.compile(
    r"(?:TIMESTAMPTZ|TIMESTAMP|DATE|TIME)\s*$", re.IGNORECASE
)


def _rewrite_at_time_zone(sql: str) -> str:
    """``x AT TIME ZONE 'z'`` is exactly ``timezone('z', x)`` in DuckDB
    (measured: identical results and TIMESTAMPTZ type for timestamp and
    date inputs) — rewrite the postfix form onto the measured timezone()
    emitter. The operand scans backward over one primary expression:
    a parenthesized/call form, a (TIMESTAMP/DATE-prefixed) string
    literal, or a dotted identifier chain with optional ``::TYPE``
    suffixes. Chained postfixes (``x AT TIME ZONE 'UTC' AT TIME ZONE
    'Asia/Tokyo'`` — DuckDB's tz round-trip idiom) rewrite one match
    per pass, re-scanning after each splice so the inner rewrite's
    timezone(...) call becomes the outer operand (stale finditer
    offsets corrupted the splice before r12)."""
    if not re.search(r"\bAT\s+TIME\s+ZONE\b", sql, re.IGNORECASE):
        return sql
    pos = 0  # scan cursor; unrewritable matches advance it
    while True:
        mask = literal_mask(sql)
        m = None
        for cand in _AT_TIME_ZONE_RE.finditer(sql, pos):
            if not mask[cand.start()]:
                m = cand
                break
        if m is None:
            return sql
        zone = m.group(1)
        j = m.start() - 1
        while j >= 0 and sql[j].isspace():
            j -= 1
        if j < 0:
            pos = m.end()
            continue
        start = None
        while True:
            if sql[j] == ")":
                k = open_of(sql, j)
                if k == -1:
                    break
                k -= 1
                while k >= 0 and (sql[k].isalnum() or sql[k] in "_."):
                    k -= 1
                start = k + 1
            elif sql[j] == "'":
                k = j - 1
                while k >= 0 and mask[k]:
                    k -= 1
                # k is now before the literal's opening quote
                seg = sql[: k + 1]
                pm = _TS_PREFIX_RE.search(seg)
                start = pm.start() if pm else k + 1
            elif sql[j].isalnum() or sql[j] in "_.":
                k = j
                while k >= 0 and (sql[k].isalnum() or sql[k] in "_."):
                    k -= 1
                start = k + 1
            else:
                break
            # fold a preceding ::TYPE chain's base into the operand
            p = start - 1
            while p >= 0 and sql[p].isspace():
                p -= 1
            if p >= 1 and sql[p - 1 : p + 1] == "::":
                j = p - 2
                continue
            break
        if start is None:
            pos = m.end()
            continue
        operand = sql[start : m.start()].rstrip()
        sql = sql[:start] + f"timezone({zone}, {operand})" + sql[m.end():]
        pos = 0  # re-scan: a chain's next postfix now follows the splice


# ---------------------------------------------------------------------------
# DuckDB interval-string grammar (measured r12): space-separated signed
# `N unit` terms plus an optional trailing H:MM:SS[.ffffff] clock; terms
# after a clock are silently ignored (measured: '01:02:03 1 month' is
# 01:02:03). Fraction carry-down is per-unit: year/decade/century/
# millennium fractions truncate at months, quarter/month fractions carry
# one level into days (truncated there), week/day fractions carry into
# micros, and time-unit fractions are exact micros.
# ---------------------------------------------------------------------------

_IV_MONTH_UNITS = {
    "mil": 12000, "mils": 12000, "millennium": 12000,
    "millenniums": 12000, "millennia": 12000,
    "century": 1200, "centuries": 1200,
    "decade": 120, "decades": 120, "dec": 120, "decs": 120,
    "y": 12, "yr": 12, "yrs": 12, "year": 12, "years": 12,
    "quarter": 3, "quarters": 3,
    "mon": 1, "mons": 1, "month": 1, "months": 1,
}
_IV_MONTH_DAY_CARRY = {"quarter", "quarters", "mon", "mons", "month",
                       "months"}
_IV_DAY_UNITS = {
    "w": 7, "week": 7, "weeks": 7,
    "d": 1, "day": 1, "days": 1,
}
_IV_MICRO_UNITS = {
    "h": 3_600_000_000, "hr": 3_600_000_000, "hrs": 3_600_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "m": 60_000_000, "min": 60_000_000, "mins": 60_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "s": 1_000_000, "sec": 1_000_000, "secs": 1_000_000,
    "second": 1_000_000, "seconds": 1_000_000,
    "ms": 1_000, "msec": 1_000, "msecs": 1_000,
    "millisecond": 1_000, "milliseconds": 1_000,
    "us": 1, "usec": 1, "usecs": 1,
    "microsecond": 1, "microseconds": 1,
}
_IV_TERM_RE = re.compile(r"^(-?\d+(?:\.\d+)?)\s*([A-Za-z]+)\s*")
_IV_CLOCK_RE = re.compile(r"^(-?)(\d+):(\d{1,2}):(\d{1,2}(?:\.\d+)?)\s*")


def _parse_duck_interval(text: str) -> "tuple[int, int, int] | None":
    """(months, days, micros) of a DuckDB interval string, or None when
    the text doesn't parse (DuckDB raises its Conversion Error there;
    callers leave the SQL untouched so Spark raises too)."""
    from decimal import Decimal

    s = text.strip()
    months = days = micros = 0
    if not s:
        return None
    while s:
        cm = _IV_CLOCK_RE.match(s)
        if cm:
            sign = -1 if cm.group(1) == "-" else 1
            total = (
                int(cm.group(2)) * 3_600_000_000
                + int(cm.group(3)) * 60_000_000
                + int(Decimal(cm.group(4)) * 1_000_000)
            )
            micros += sign * total
            return months, days, micros  # rest ignored (measured)
        tm = _IV_TERM_RE.match(s)
        if not tm:
            return None
        v = Decimal(tm.group(1))
        unit = tm.group(2).lower()
        if unit in _IV_MONTH_UNITS:
            total = v * _IV_MONTH_UNITS[unit]
            whole = int(total)
            months += whole
            if unit in _IV_MONTH_DAY_CARRY:
                days += int((total - whole) * 30)
        elif unit in _IV_DAY_UNITS:
            total = v * _IV_DAY_UNITS[unit]
            whole = int(total)
            days += whole
            micros += int((total - whole) * 86_400_000_000)
        elif unit in _IV_MICRO_UNITS:
            micros += int(v * _IV_MICRO_UNITS[unit])
        else:
            return None
        s = s[tm.end():]
    return months, days, micros


def _micros_to_second_literal(us: int) -> str:
    sign = "-" if us < 0 else ""
    a = abs(us)
    frac = f".{a % 1_000_000:06d}".rstrip("0").rstrip(".")
    return f"{sign}{a // 1_000_000}{frac}"


def _emit_interval_parts(
    months: int, days: int, micros: int
) -> "tuple[str | None, str | None]":
    """(year-month SQL, day-time SQL) as Spark typed-interval sums."""
    ym = f"INTERVAL '{months}' MONTH" if months else None
    dt_terms = []
    if days:
        dt_terms.append(f"INTERVAL '{days}' DAY")
    if micros:
        dt_terms.append(
            f"INTERVAL '{_micros_to_second_literal(micros)}' SECOND"
        )
    dt = " + ".join(dt_terms) if dt_terms else None
    return ym, dt


_IV_STRING_RE = re.compile(
    r"\bINTERVAL\s+'([^']*)'"
    r"(?!\s*(?:YEAR|MONTH|WEEK|DAY|HOUR|MINUTE|SECOND|QUARTER"
    r"|MILLISECOND|MICROSECOND)S?\b)",
    re.IGNORECASE,
)
_IV_CAST_STRING_RE = re.compile(
    r"'([^']*)'\s*::\s*INTERVAL\b", re.IGNORECASE
)


def _rewrite_interval_strings(sql: str) -> str:
    """DuckDB's string-form interval literals (``INTERVAL '1 month
    2 days'``, ``'1:02:03'::INTERVAL`` — the forms its docs lead with)
    onto Spark typed-interval arithmetic. Pure year-month or pure
    day-time strings become a typed literal (sum); mixed-class strings
    are spliced into the surrounding ``±`` chain (``ts - INTERVAL '1
    month 2 days'`` -> ``ts - INTERVAL '1' MONTH - INTERVAL '2' DAY``,
    sign distributed, months-then-days-then-micros order = DuckDB's
    add order) because Spark has no collectable mixed-interval value;
    a mixed literal outside a ± chain raises UnsupportedDialect with
    the workaround named. Unparsable strings pass through (Spark's
    parser raises where DuckDB's conversion does)."""
    if not re.search(r"\bINTERVAL\b|::\s*INTERVAL\b", sql, re.IGNORECASE):
        return sql
    mask = literal_mask(sql)
    # time_bucket's emitter consumes INTERVAL '...' shapes itself (its
    # month-space widths need the raw string); leave its spans alone
    skip: list[tuple[int, int]] = []
    for fm in re.finditer(r"\btime_bucket\s*\(", sql, re.IGNORECASE):
        if mask[fm.start()]:
            continue
        close = close_of(sql, fm.end() - 1)
        if close != -1:
            skip.append((fm.start(), close))
    kw_matches = [
        (m.start(), m.end(), m.group(1))
        for m in _IV_STRING_RE.finditer(sql)
        if not mask[m.start()]
        and not any(a < m.start() < b for a, b in skip)
    ]
    cast_matches = [
        (m.start(), m.end(), m.group(1))
        for m in _IV_CAST_STRING_RE.finditer(sql)
        if not mask[m.end() - 1]
        and not any(a < m.start() < b for a, b in skip)
    ]
    # INTERVAL '2 days'::INTERVAL (valid DuckDB: literal + no-op cast)
    # matches BOTH regexes on overlapping spans; splicing both corrupts
    # the SQL (ADVICE r13). Merge each overlapping pair into one span
    # covering keyword through cast suffix, replaced once.
    matches: list[tuple[int, int, str]] = []
    merged_cast: set = set()
    for s, e, body in kw_matches:
        overlap = next(
            (c for c in cast_matches if c[0] < e and s < c[1]), None
        )
        if overlap is not None:
            merged_cast.add(overlap)
            matches.append((s, max(e, overlap[1]), body))
        else:
            matches.append((s, e, body))
    matches += [c for c in cast_matches if c not in merged_cast]
    for m_start, m_end, body in sorted(matches, key=lambda p: -p[0]):
        parsed = _parse_duck_interval(body)
        if parsed is None:
            continue
        ym, dt = _emit_interval_parts(*parsed)
        if ym and dt:
            # mixed classes: distribute into the enclosing ± chain
            j = m_start - 1
            while j >= 0 and sql[j].isspace():
                j -= 1
            k = m_end
            while k < len(sql) and sql[k].isspace():
                k += 1
            if k < len(sql) and sql[k] in "*/":
                continue  # precedence-unsafe; leave for Spark to reject
            if j >= 0 and sql[j] == "+":
                repl = f"{ym} + {dt}"
            elif j >= 0 and sql[j] == "-":
                repl = f"{ym} - {dt.replace(' + ', ' - ')}"
            else:
                raise UnsupportedDialect(
                    "INTERVAL literal mixing year-month and day-time "
                    f"parts ({body!r}) is only supported in +/- "
                    "arithmetic; add the parts as separate INTERVAL "
                    "terms instead"
                )
        elif ym or dt:
            one = ym or dt
            repl = f"({one})" if " + " in one else one
        else:
            repl = "INTERVAL '0' SECOND"
        sql = sql[: m_start] + repl + sql[m_end:]
    return sql


# VARCHAR/TEXT only — the emitted replacement uses AS STRING, which must
# stay outside the match set or the fixpoint loop would re-capture it
_TZ_VARCHAR_TGT_RE = re.compile(r"^(?:VARCHAR|TEXT)\s*$", re.IGNORECASE)


def _rewrite_tz_varchar_casts(sql: str) -> str:
    """CAST(<tz-aware expr> AS VARCHAR) renders DuckDB's +00 offset
    suffix ('2020-01-01 08:00:00+00', measured r12); Spark's LTZ→STRING
    cast drops it. Aware sources are detected textually (timezone()
    chains, TIMESTAMP_LTZ literals/casts, now()-family) — runs after
    the AT TIME ZONE and TIMESTAMPTZ rewrites so those shapes are
    already in detectable form."""
    if not _CAST_OPEN_RE.search(sql):
        return sql
    while True:
        mask = literal_mask(sql)
        hit = None
        for m in _CAST_OPEN_RE.finditer(sql):
            if mask[m.start()]:
                continue
            close = close_of(sql, m.end() - 1)
            if close == -1:
                continue
            body = sql[m.end(): close - 1]
            as_at = _cast_as_at(body)
            if as_at is None:
                continue
            src = body[:as_at].strip()
            tgt = body[as_at:].lstrip()[2:].strip()
            if _TZ_VARCHAR_TGT_RE.match(tgt) and _tz_input_aware(src):
                hit = (m.start(), close, src)
                break
        if hit is None:
            return sql
        start, close, src = hit
        sql = (
            sql[:start]
            + f"concat(CAST({src} AS STRING), '+00')"
            + sql[close:]
        )


# DuckDB date-part field aliases -> the engine's measured function-form
# emitters (tools-level EXTRACT sweep r11: every function form matches
# DuckDB value-for-value; Spark's native EXTRACT diverges on dow (+1),
# second (includes the fraction), and rejects isodow/isoyear/era/epoch/
# millisecond/microsecond/millennium/julian/weekday/yearweek outright)
_DP_FIELD_MAP = {
    "dow": "dayofweek", "doy": "dayofyear", "dayofmonth": "day",
    "years": "year", "months": "month", "days": "day", "hours": "hour",
    "minutes": "minute", "seconds": "second", "mon": "month",
    "mons": "month", "weeks": "week", "quarters": "quarter",
    "decades": "decade", "centuries": "century",
    "millenniums": "millennium", "millennia": "millennium",
    "us": "microsecond", "usec": "microsecond", "usecs": "microsecond",
    "useconds": "microsecond", "microseconds": "microsecond",
    "ms": "millisecond", "msec": "millisecond", "msecs": "millisecond",
    "mseconds": "millisecond", "milliseconds": "millisecond",
}

_EXTRACT_OPEN_RE = re.compile(r"\bEXTRACT\s*\(", re.IGNORECASE)
_DATE_PART_OPEN_RE = re.compile(r"\b(?:date_part|datepart)\s*\(", re.IGNORECASE)
_DP_QUOTED_FIELD_RE = re.compile(r"^'(\w+)'$")


def _dp_fn(field: str) -> str:
    f = field.lower()
    return _DP_FIELD_MAP.get(f, f)


def _interval_literal_parts(expr: str) -> "tuple[int, int, int] | None":
    """(months, days, micros) when the expression is an INTERVAL literal
    (string, typed, or quoted-typed form); None otherwise."""
    s = expr.strip()
    m = re.match(r"^INTERVAL\s+'([^']*)'\s*$", s, re.IGNORECASE)
    if m:
        return _parse_duck_interval(m.group(1))
    m = re.match(
        r"^INTERVAL\s+(?:'(-?\d+(?:\.\d+)?)'|(-?\d+(?:\.\d+)?))"
        r"\s+([A-Za-z]+)\s*$",
        s, re.IGNORECASE,
    )
    if m:
        num = m.group(1) or m.group(2)
        return _parse_duck_interval(f"{num} {m.group(3)}")
    return None


def _fold_interval_extract(field: str, expr: str) -> "str | None":
    """Constant-fold EXTRACT(field FROM <interval literal>) with DuckDB's
    component semantics (measured r12: DuckDB keeps months/days/micros
    unnormalized — hour of INTERVAL 36 HOUR is 36, minute of INTERVAL
    '90' SECOND is 1; epoch counts years at 365.25 days and leftover
    months at 30; dow/week/... raise its Not-implemented error). Spark's
    native EXTRACT normalizes day-time intervals (hour of 36h = 12) and
    rejects cross-class fields, so the literal form folds here; None =
    not an interval literal (datetime emitters proceed)."""
    parts = _interval_literal_parts(expr)
    if parts is None:
        return None
    mo, d, us = parts
    f = _dp_fn(field)

    def tz(a: int, b: int) -> int:  # truncate-toward-zero division
        q = abs(a) // b
        return q if a >= 0 else -q

    if f == "year":
        return f"CAST({tz(mo, 12)} AS BIGINT)"
    if f == "month":
        return f"CAST({mo - tz(mo, 12) * 12} AS BIGINT)"
    if f == "day":
        return f"CAST({d} AS BIGINT)"
    if f == "decade":
        return f"CAST({tz(mo, 120)} AS BIGINT)"
    if f == "century":
        return f"CAST({tz(mo, 1200)} AS BIGINT)"
    if f == "millennium":
        return f"CAST({tz(mo, 12000)} AS BIGINT)"
    if f == "quarter":
        return f"CAST({(mo - tz(mo, 12) * 12) // 3 + 1} AS BIGINT)"
    if f == "hour":
        return f"CAST({tz(us, 3_600_000_000)} AS BIGINT)"
    if f == "minute":
        return (
            f"CAST({tz(us, 60_000_000) - tz(us, 3_600_000_000) * 60}"
            f" AS BIGINT)"
        )
    if f == "second":
        return (
            f"CAST({tz(us, 1_000_000) - tz(us, 60_000_000) * 60}"
            f" AS BIGINT)"
        )
    if f == "millisecond":
        return f"CAST({tz(us - tz(us, 60_000_000) * 60_000_000, 1000)} AS BIGINT)"
    if f == "microsecond":
        return f"CAST({us - tz(us, 60_000_000) * 60_000_000} AS BIGINT)"
    if f == "epoch":
        years = tz(mo, 12)
        secs = (
            years * 365.25 * 86400
            + (mo - years * 12) * 30 * 86400
            + d * 86400
            + us / 1e6
        )
        return f"CAST({secs!r} AS DOUBLE)"
    raise ValueError(
        f'Not implemented Error: interval units "{field}" not recognized'
    )


def _rewrite_extract_datepart(sql: str) -> str:
    """``EXTRACT(field FROM x)`` and ``date_part('field', x)`` route to
    the engine's per-field function emitters instead of Spark's native
    forms (which diverge: dow is Sunday=1 in Spark vs Sunday=0 in DuckDB,
    SECOND carries the fraction, and most DuckDB fields don't exist).
    The list form ``date_part(['f1','f2'], x)`` builds DuckDB's struct
    result from the same emitters. Runs BEFORE the function-rename pass
    so the emitted names (isodow, epoch, ...) resolve to their measured
    emitters."""
    if not re.search(r"\b(EXTRACT|date_part|datepart)\b", sql, re.IGNORECASE):
        return sql
    # EXTRACT(field FROM expr), right-to-left
    mask = literal_mask(sql)
    for m in sorted(
        _EXTRACT_OPEN_RE.finditer(sql), key=lambda x: -x.start()
    ):
        if mask[m.start()]:
            continue
        close = close_of(sql, m.end() - 1)
        if close == -1:
            continue
        inner = sql[m.end() : close - 1]
        fm = re.match(r"^\s*('?)(\w+)\1\s+FROM\s+(.+)$", inner,
                      re.IGNORECASE | re.DOTALL)
        if not fm:
            continue
        fn, expr = _dp_fn(fm.group(2)), fm.group(3).strip()
        folded = _fold_interval_extract(fm.group(2), expr)
        repl = folded if folded is not None else f"{fn}({expr})"
        sql = sql[: m.start()] + repl + sql[close:]
        mask = literal_mask(sql)
    # date_part('field', expr) / date_part(['f1','f2'], expr)
    for m in sorted(
        _DATE_PART_OPEN_RE.finditer(sql), key=lambda x: -x.start()
    ):
        if mask[m.start()]:
            continue
        close = close_of(sql, m.end() - 1)
        if close == -1:
            continue
        args = split_top(sql[m.end() : close - 1])
        if len(args) != 2:
            continue
        field_arg, expr = args
        qm = _DP_QUOTED_FIELD_RE.match(field_arg)
        if qm:
            folded = _fold_interval_extract(qm.group(1), expr)
            repl = (
                folded if folded is not None
                else f"{_dp_fn(qm.group(1))}({expr})"
            )
        elif field_arg.startswith("[") and field_arg.endswith("]"):
            names = split_top(field_arg[1:-1])
            if not all(_DP_QUOTED_FIELD_RE.match(n) for n in names):
                continue
            items = ", ".join(
                f"{n}, {_dp_fn(n[1:-1])}({expr})" for n in names
            )
            repl = f"named_struct({items})"
        else:
            continue
        sql = sql[: m.start()] + repl + sql[close:]
        mask = literal_mask(sql)
    return sql


def _rewrite_date_literal_interval(sql: str) -> str:
    """DATE ± INTERVAL returns TIMESTAMP in DuckDB (typeof measured, any
    interval granularity — DATE '2024-01-05' + INTERVAL 1 DAY is
    2024-01-06 00:00:00); Spark keeps day-granularity results as DATE.
    The COLUMN form is lane-fixed at the service layer
    (rewrite_numeric_date_lanes); this handles the schema-free LITERAL
    forms (DATE '...' and '...'::DATE, either operand order) by casting
    the date side to TIMESTAMP."""
    if not re.search(r"\bINTERVAL\b", sql, re.IGNORECASE):
        return sql
    mask = literal_mask(sql)
    out = sql
    for m in sorted(
        _DATE_LIT_INTERVAL_RE.finditer(sql), key=lambda x: -x.start()
    ):
        sign_at = m.start(2) + m.group(2).index(m.group(2).strip()[0])
        if mask[sign_at]:
            continue
        out = (
            out[: m.start(1)]
            + f"CAST({m.group(1)} AS TIMESTAMP){m.group(2)}"
            + out[m.end(2):]
        )
    sql = out
    mask = literal_mask(sql)
    out = sql
    for m in sorted(
        _INTERVAL_DATE_LIT_RE.finditer(sql), key=lambda x: -x.start()
    ):
        if mask[m.start(1)]:
            continue
        out = (
            out[: m.start(2)]
            + f"CAST({m.group(2)} AS TIMESTAMP)"
            + out[m.end(2):]
        )
    return out


def _rewrite_date_date_sub(sql: str) -> str:
    """DuckDB ``x - DATE '...'`` (date minus date) returns BIGINT days
    (measured); Spark returns INTERVAL DAY. When the RIGHT operand of a
    binary ``-`` is a DATE literal or an explicit ``::DATE`` cast, emit
    ``CAST(datediff(CAST(x AS DATE), rhs) AS BIGINT)``. The left operand's
    type is textually unknowable for bare columns; assuming DATE matches
    the overwhelmingly common day-arithmetic shape (a timestamp minus a
    date literal returns INTERVAL in DuckDB and stays a documented
    divergence)."""
    mask = literal_mask(sql)
    i = 0
    while True:
        j = sql.find("-", i)
        if j == -1:
            return sql
        if mask[j] or sql[j + 1 : j + 2] in (">", "-") or sql[j - 1 : j] in ("-", "<", "!"):
            i = j + 1
            continue
        # rhs must be date-shaped: DATE literal, or operand::DATE
        rhs_lo = j + 1
        dm = _DATE_LITERAL_RHS_RE.match(sql, rhs_lo)
        if dm:
            qend = None
            for a, b in _spans(sql):
                if a == dm.end() - 1:
                    qend = b
                    break
            if qend is None:
                i = j + 1
                continue
            hi = qend
        else:
            hi = _rhs_operand_end(sql, rhs_lo, mask)
            if hi is None:
                i = j + 1
                continue
            cm = re.match(r"\s*::\s*DATE\b", sql[hi:], re.IGNORECASE)
            if not cm:
                i = j + 1
                continue
            hi += cm.end()
        lo = _div_lhs_start(sql, j)
        if lo is None:
            # a DATE 'lit' left operand ends in a string literal, which
            # _div_lhs_start does not parse — recognize it directly
            k = j - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            if k >= 0 and sql[k] == "'":
                for a, b in _spans(sql):
                    if b == k + 1:
                        dm2 = re.search(r"\bDATE\s*$", sql[:a], re.IGNORECASE)
                        if dm2:
                            lo = dm2.start()
                        break
        if lo is None:
            i = j + 1
            continue
        # lhs `::TYPE` cast suffixes belong to the operand
        while True:
            k = lo - 1
            while k >= 0 and sql[k].isspace():
                k -= 1
            if k >= 1 and sql[k - 1 : k + 1] == "::":
                lo2 = _div_lhs_start(sql, k - 1)
                if lo2 is None:
                    break
                lo = lo2
            else:
                break
        lhs = sql[lo:j].strip()
        rhs = sql[j + 1 : hi].strip()
        repl = f"CAST(datediff(CAST({lhs} AS DATE), {rhs}) AS BIGINT)"
        sql = sql[:lo] + repl + sql[hi:]
        mask = literal_mask(sql)
        i = lo + len(repl)


_COLLATE_RE = re.compile(r'\bCOLLATE\s+("?)([A-Za-z_][\w.]*)\1', re.IGNORECASE)

# DuckDB ICU-locale collations whose Spark 4 collation of the SAME name
# produced the identical ORDER BY result on the r11 accent/digraph/case
# probe set (tools-level sweep over pragma_collations(); both engines are
# ICU-backed, so sort keys agree). NOT on the list and raising cleanly:
# region variants (de_at, zh_cn, ... — Spark rejects the names), nb/nn
# (ICU-version tailoring drift, measured order difference), yue, and
# DuckDB's non-locale collations noaccent/nfc + dot-combinations.
_COLLATE_ICU_VERIFIED = frozenset(
    "af am ar az be bg bn bo br bs ca ceb chr cs cy da de dsb dz ee el en "
    "eo es et fa ff fi fil fo fr fy ga gl gu ha haw he hi hr hsb hu hy id "
    "ig it ja ka kk kl km kn ko kok ku ky lb lkt ln lo lt lv mk ml mn mr "
    "ms mt my ne nl om pa pl ps pt ro ru sa se si sk sl smn sq sr sv sw "
    "ta te th tk tr ug uk ur uz vi wae wo xh yi yo zh zu".split()
)


def _rewrite_collate(sql: str) -> str:
    """DuckDB collations (reference reach: db/db.go:70; DuckDB ships
    NOCASE/NOACCENT/NFC plus ICU locales). NOCASE maps to Spark 4's
    UTF8_LCASE collation — equality, ORDER BY (including the stable
    tie order of case variants), GROUP BY representative, min/max and
    '<' comparisons all measured identical to DuckDB (r11 probes; frozen
    in tests/test_idioms_r11.py). ICU locale names pass through to
    Spark's ICU collation of the same name when on the VERIFIED list
    (identical ordering measured per locale — both engines sort with ICU
    keys; equality strength also matches: 'straße' != 'strasse' under
    de, the Turkish dotted/dotless i distinction holds under tr). Every
    other collation raises cleanly with the workaround named instead of
    surfacing Spark's raw COLLATION_INVALID_NAME."""
    if not re.search(r"\bCOLLATE\b", sql, re.IGNORECASE):
        return sql

    def repl(m: "re.Match[str]") -> str:
        name = m.group(2).upper()
        if name == "NOCASE":
            return "COLLATE UTF8_LCASE"
        if name.lower() in _COLLATE_ICU_VERIFIED:
            return f"COLLATE {name.lower()}"
        raise UnsupportedDialect(
            f"COLLATE {name} is not supported: NOCASE maps to Spark's "
            f"UTF8_LCASE and {len(_COLLATE_ICU_VERIFIED)} verified ICU "
            f"locale collations pass through by name. For NOACCENT/NFC/"
            f"region-variant collations, normalize the expression instead "
            f"and compare the normalized value (e.g. strip accents with "
            f"translate()/regexp_replace, or pre-normalize to NFC at "
            f"ingest)"
        )

    return _rewrite_code(sql, lambda chunk: _COLLATE_RE.sub(repl, chunk))


_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
_ORDER_BY_OR_OPEN_RE = re.compile(r"\bORDER\s+BY\b|[(\[{]", re.IGNORECASE)
_ORDER_LIST_END_RE = re.compile(
    r"\b(?:LIMIT|OFFSET|FETCH|ROWS|RANGE|GROUPS|UNION|INTERSECT|EXCEPT)\b|;",
    re.IGNORECASE,
)
_ORDER_NULLS_SET_RE = re.compile(r"\b(?:DESC|NULLS\s+(?:FIRST|LAST))\s*$", re.IGNORECASE)
# a group that holds a query or a window spec: its ORDER BY sorts rows
_QUERY_GROUP_RE = re.compile(r"\s*(?:(?:SELECT|WITH|FROM|VALUES)\b|\()", re.IGNORECASE)
_WINDOW_GROUP_RE = re.compile(r"\b(?:OVER|AS)\s*$", re.IGNORECASE)
_COMMA_RE = re.compile(",")


def _rewrite_order_nulls_last(sql: str) -> str:
    """DuckDB sorts NULLs last in both directions; Spark puts them first
    for an ascending key. Append ``NULLS LAST`` to each ORDER BY item that
    has neither DESC nor its own NULLS placement, in statement, set
    operation, subquery and window ORDER BY lists. The ORDER BY inside an
    aggregate call belongs to that call's own rewrite."""
    if not _ORDER_BY_RE.search(sql):
        return sql
    inserts: list[int] = []

    def scan(start: int, end: int, sorts_rows: bool) -> None:
        for m in iter_top(sql, _ORDER_BY_OR_OPEN_RE, start, end):
            if m.group() in "([{":
                close = close_of(sql, m.start())
                if close == -1:
                    return
                if not _ORDER_BY_RE.search(sql, m.end(), close - 1):
                    continue
                scan(m.end(), close - 1, bool(
                    _QUERY_GROUP_RE.match(sql, m.end())
                    or _WINDOW_GROUP_RE.search(sql, max(0, m.start() - 12), m.start())
                ))
            elif sorts_rows:
                stop = find_top(sql, _ORDER_LIST_END_RE, m.end(), end)
                list_end = end if stop is None else stop.start()
                at = m.end()
                for c in [*iter_top(sql, _COMMA_RE, at, list_end), None]:
                    item_end = list_end if c is None else c.start()
                    item = sql[at:item_end].rstrip()
                    if item.strip() and not _ORDER_NULLS_SET_RE.search(item):
                        inserts.append(at + len(item))
                    at = item_end + 1

    scan(0, len(sql), True)
    for at in sorted(inserts, reverse=True):
        sql = f"{sql[:at]} NULLS LAST{sql[at:]}"
    return sql


def translate(sql: str) -> str:
    """DuckDB dialect → Spark SQL. Raises UnsupportedDialect for constructs
    that need the DataFrame-level operators (operators/asof.py,
    operators/recursive.py) — callers route those explicitly."""
    _original = sql  # for current_query() — the verbatim submitted text
    # DuckDB standard string literals are VERBATIM ('\d' is backslash-d);
    # Spark's parser treats backslash as an escape ('\d' parses to 'd') —
    # a silent wrong answer for every regex pattern a user submits. First
    # pass: double backslashes inside plain literals so the parsed Spark
    # string equals the DuckDB one. (DuckDB's E'...' escape strings, which
    # DO interpret backslashes, keep Spark's default parsing — E stripped.)
    sql = _escape_literal_backslashes(sql)
    code_only = "".join(chunk for is_lit, chunk in split_literals(sql) if not is_lit)
    for rx, name in _UNSUPPORTED:
        if rx.search(code_only):
            raise UnsupportedDialect(
                f"{name} is not translatable at the SQL layer; use the engine operator "
                f"(duckdb_service_spark.operators) instead"
            )
    for rx, name in _UNSUPPORTED_FRAME:
        if rx.search(code_only):
            raise UnsupportedDialect(
                f"{name} is not supported: Spark windows have only ROWS/RANGE "
                f"frames; the reference's engine (DuckDB 1.x) also rejects "
                f"GROUPS, so this raises for parity"
            )
    # CTE materialization hints: planner advice in DuckDB, no Spark keyword
    # — semantics identical either way (Spark decides reuse itself)
    sql = re.sub(
        r"\bAS\s+(?:NOT\s+)?MATERIALIZED\s*\(", "AS (", sql, flags=re.IGNORECASE
    )
    sql = _rewrite_collate(sql)
    sql = _rewrite_order_nulls_last(sql)
    # alias() needs select-item context (the AS name wins) — must run
    # before the function-marker pass turns unhandled calls into raises
    sql = _rewrite_alias_fn(sql)
    # JSON arrows first: later passes EMIT Spark lambda arrows, which this
    # pass must never see
    sql = _rewrite_json_arrows(sql)
    sql = _rewrite_ignore_nulls(sql)
    sql = _rewrite_agg_inline_order(sql)
    # FILTER fold runs BEFORE the window-DISTINCT lowering so that
    # `count(DISTINCT x) FILTER (WHERE c) OVER w` first becomes
    # `count(DISTINCT CASE WHEN c THEN x END) OVER w`, which the next
    # pass can lower (the old order left invalid SQL for that shape)
    sql = _rewrite_window_filter(sql)
    sql = _rewrite_window_distinct(sql)
    sql = _inline_named_windows_for_exclude(sql)
    sql = _rewrite_frame_exclude(sql)
    sql = _rewrite_unordered_ranking_windows(sql)
    # statement-level bracket/brace passes first (their spans may straddle
    # string literals, so per-chunk rewriting would lose the bracket stack)
    sql = _rewrite_numeric_underscores(sql)
    sql = _reject_string_literal_overloads(sql)
    sql = _rewrite_bool_context_strings(sql)
    sql = _rewrite_postfix_factorial(sql)
    # datetime literal grammar BEFORE the tz/precision rewrites so the
    # validation sees the user's original TYPE '...' shapes
    sql = _rewrite_datetime_literals(sql)
    sql = _rewrite_timestamptz_type(sql)
    sql = _rewrite_union_values(sql)
    sql = _rewrite_position_in(sql)
    sql = _rewrite_extract_datepart(sql)
    sql = _rewrite_interval_strings(sql)
    sql = _rewrite_at_time_zone(sql)
    sql = _rewrite_tz_varchar_casts(sql)
    sql = _rewrite_list_comprehensions(sql)
    sql = _rewrite_list_literals(sql)
    sql = _rewrite_struct_literals(sql)
    sql = _rewrite_unnest_structs(sql)
    sql = _rewrite_list_concat_nulls(sql)
    sql = _rewrite_from_unnest(sql)
    sql = _rewrite_similar_glob(sql)
    sql = _rewrite_binary_ops(sql)
    # composite cast types rewrite BEFORE the function renames: the MAP in
    # `AS MAP(VARCHAR, INT)` is a TYPE, not the map() constructor the
    # rename table would otherwise capture
    sql = _rewrite_complex_type_casts(sql)
    sql = _rewrite_code(sql, _rewrite_functions)
    # after the function renames so the emitted Spark datediff() is not
    # re-captured by the DuckDB datediff('part', a, b) mapping
    sql = _rewrite_date_date_sub(sql)
    sql = _rewrite_date_literal_interval(sql)
    # array-type cast suffixes (INT[][]) rewrite BEFORE the subscript pass
    # so its `][` complex-base guard only ever sees VALUE subscripts
    sql = _rewrite_array_type_casts(sql)
    sql = _rewrite_call_subscripts(sql)
    sql = _rewrite_bit_casts(sql)
    sql = _rewrite_ts_precision_casts(sql)
    sql = _rewrite_postfix_int_casts(sql)
    sql = _rewrite_int_casts(sql)
    sql = _rewrite_cast_string_types(sql)
    sql = _rewrite_code(sql, _rewrite_using_sample)
    sql = _convert_strftime_formats(sql)
    # matches the quoted unit itself, so it must see literals — safe because
    # the pattern requires the full date_diff('unit', prefix
    sql = _rewrite_printf_decimals(sql)
    sql = _rewrite_exclude_replace(sql)
    sql = _rewrite_distinct_on(sql)
    sql = _rewrite_qualify(sql)
    sql = _rewrite_len(sql)
    sql = _rewrite_balanced_call(sql, "__duck_list_slice", _emit_slice)
    sql = _rewrite_balanced_call(sql, "__duck_bit", _emit_bit)
    sql = _rewrite_balanced_call(sql, "__duck_try_bit", _emit_try_bit)
    sql = _rewrite_balanced_call(sql, "bitstring", _emit_bitstring)
    # one compiled pattern per marker (_call_re): ~200 inline ones overflow re's 512-entry cache
    for marker, emit in _ROUND5_EMITTERS.items():
        sql = _rewrite_balanced_call(sql, marker, emit)
    if "__duck_current_query" in sql:
        # current_query() returns the VERBATIM submitted statement
        # (measured: comments and whitespace included) — substituted last
        # so no other rewrite pass touches the embedded literal
        lit = "'" + _original.replace("'", "''") + "'"
        sql = _rewrite_balanced_call(sql, "__duck_current_query", lambda a: lit)
    return sql


# ---- round-5 function emitters (semantics verified against DuckDB 1.x) ----


def _emit_epoch_sec(args: list[str]) -> str:
    # DuckDB epoch() is DOUBLE seconds INCLUDING the fraction for any
    # date/timestamp input (measured: epoch(TS '1969-03-05 23:59:59.5')
    # = -26006400.5; epoch(DATE ...) is DOUBLE too) — exact via
    # microseconds, session timezone is UTC
    if len(args) != 1:
        raise UnsupportedDialect("epoch expects (timestamp)")
    return (
        f"(CAST(unix_micros(CAST(({args[0]}) AS TIMESTAMP_LTZ)) AS DOUBLE)"
        f" / 1000000.0)"
    )


def _emit_rsort(args: list[str]) -> str:
    return f"sort_array({args[0]}, false)"


def _emit_monthname(args: list[str]) -> str:
    return f"date_format({args[0]}, 'MMMM')"


def _emit_dayname(args: list[str]) -> str:
    return f"date_format({args[0]}, 'EEEE')"


def _emit_isodow(args: list[str]) -> str:
    # Spark weekday: Monday=0; ISO dow: Monday=1
    return f"CAST(weekday({args[0]}) + 1 AS BIGINT)"


def _emit_to_base(args: list[str]) -> str:
    if len(args) not in (2, 3):
        raise UnsupportedDialect("to_base expects (number, radix[, min_length])")
    num = f"CAST(({args[0]}) AS BIGINT)"
    # DuckDB errors on negative input; Spark conv would silently emit the
    # two's-complement form — guard at runtime instead
    conv = (
        f"CASE WHEN {num} < 0 THEN "
        f"raise_error('to_base: number must be greater than or equal to 0') "
        f"ELSE conv({num}, 10, {args[1]}) END"
    )
    if len(args) == 3:
        # min_length only PADS (measured: to_base(7,2,1) -> '111', never
        # truncates) — Spark lpad truncates, so take the max width
        return (
            f"lpad({conv}, GREATEST(length({conv}), "
            f"CAST(({args[2]}) AS INT)), '0')"
        )
    return conv


def _emit_sign(args: list[str]) -> str:
    # DuckDB sign() returns an INTEGER (TINYINT) for every numeric input;
    # Spark returns DOUBLE — the type leaks into arithmetic (int division,
    # string casts render '1.0'), so align it
    return f"CAST(SIGN({args[0]}) AS INT)"


def _emit_even(args: list[str]) -> str:
    # round away from zero to the next even number
    x = args[0]
    return (
        f"CAST(CASE WHEN ({x}) >= 0 THEN 2 * CEIL(({x}) / 2) "
        f"ELSE 2 * FLOOR(({x}) / 2) END AS DOUBLE)"
    )


def _emit_signbit(args: list[str]) -> str:
    # string form carries the sign of -0.0 too ('-0.0'); NaN/'Infinity'
    # have no leading '-', matching DuckDB's signbit
    return f"startswith(CAST(CAST(({args[0]}) AS DOUBLE) AS STRING), '-')"


def _emit_isfinite(args: list[str]) -> str:
    x = f"CAST(({args[0]}) AS DOUBLE)"
    return f"(NOT isnan({x}) AND abs({x}) <> CAST('Infinity' AS DOUBLE))"


def _emit_isinf(args: list[str]) -> str:
    x = f"CAST(({args[0]}) AS DOUBLE)"
    return f"(abs({x}) = CAST('Infinity' AS DOUBLE))"


def _emit_age(args: list[str]) -> str:
    # DuckDB age() is CALENDAR-normalized ('1 year 2 months'); Spark's
    # day-time interval cannot carry month components, so a - b would be a
    # silently different value (425 days vs '1 year 2 months'). Declared
    # divergence: raise with the workaround named.
    raise UnsupportedDialect(
        "age() is calendar-normalized and has no Spark interval equivalent; "
        "use (later - earlier) for elapsed time or date_diff('month', ...) "
        "for month counts (declared divergence, COVERAGE.md)"
    )


_DATEISH_ARG_RE = re.compile(
    r"(?:^\s*DATE\s*'|::\s*DATE\s*\)?\s*$|AS\s+DATE\s*\)\s*$)", re.IGNORECASE
)


def _emit_time_bucket(args: list[str]) -> str:
    """time_bucket(width, ts [, origin|offset]): DuckDB's default origin is
    2000-01-03 00:00:00 (Monday — aligns week buckets; measured:
    time_bucket(INTERVAL '2 days', DATE '2024-03-05') = 2024-03-05, which
    epoch alignment would place on 2024-03-04). Widths that divide a day
    are origin-insensitive, so this also reproduces the sub-day behavior.
    Month/year widths bucket in MONTH space from origin 2000-01-01
    (measured: 1-month bucket of 2024-03-06 = 2024-03-01). A DATE-typed
    argument returns DATE — detected textually (DATE literal / ::DATE /
    CAST AS DATE); date COLUMNS pass a cast to pick the date return type."""
    if len(args) not in (2, 3):
        raise UnsupportedDialect(
            "time_bucket expects (bucket_width, ts [, origin|offset])"
        )
    itv, ts = args[0], args[1]
    is_date = bool(_DATEISH_ARG_RE.search(ts.strip()))
    im = re.match(r"^\s*INTERVAL\s+'([^']+)'\s*$", itv, re.IGNORECASE)
    itv_text = im.group(1).lower() if im else ""
    monthish = bool(re.search(r"\b(month|year|mon)s?\b", itv_text))
    if monthish:
        if re.search(r"\b(day|week|hour|min|sec)\w*\b", itv_text):
            raise UnsupportedDialect(
                "time_bucket width mixing month and day/time parts"
            )
        nm = re.match(r"(\d+)\s*(month|mon|year)s?", itv_text)
        if not nm or len(args) == 3:
            raise UnsupportedDialect(
                "month-width time_bucket needs a literal width, no origin"
            )
        n = int(nm.group(1)) * (12 if nm.group(2) == "year" else 1)
        months = f"((year({ts}) - 2000) * 12 + month({ts}) - 1)"
        bucket = (
            f"add_months(DATE '2000-01-01', "
            f"CAST(floor({months} / {n}.0) AS INT) * {n})"
        )
        return bucket if is_date else f"CAST({bucket} AS TIMESTAMP_NTZ)"
    origin = "CAST('2000-01-03 00:00:00' AS TIMESTAMP)"
    if len(args) == 3:
        third = args[2].strip()
        if re.match(r"^INTERVAL\b", third, re.IGNORECASE):
            origin = f"({origin} + ({third}))"  # offset shifts the origin
        else:
            origin = f"CAST(({third}) AS TIMESTAMP)"
    w = (
        f"unix_micros(CAST(CAST('1970-01-01 00:00:00' AS TIMESTAMP) "
        f"+ ({itv}) AS TIMESTAMP_LTZ))"
    )
    o = f"unix_micros(CAST({origin} AS TIMESTAMP_LTZ))"
    b = (
        f"timestamp_micros(CAST(floor((unix_micros(CAST(({ts}) AS TIMESTAMP_LTZ)) "
        f"- {o}) / {w}) * {w} + {o} AS BIGINT))"
    )
    if is_date:
        return f"CAST({b} AS DATE)"
    return f"CAST({b} AS TIMESTAMP_NTZ)"


def _emit_list_aggregate(args: list[str]) -> str:
    if len(args) not in (2, 3):
        raise UnsupportedDialect("list_aggregate expects (list, 'name'[, sep])")
    lst, name = args[0], args[1].strip().strip("'").lower()
    # aggregate-name semantics measured on DuckDB 1.x: NULL elements are
    # SKIPPED (sum([1,2,NULL]) = 3) and an empty/all-NULL/NULL list yields
    # NULL, not the accumulator seed — so every folding form filters first
    # and guards on the filtered size (r08 late fix: the previous sum/avg
    # emission returned 0.0 on [] and NULL on [1,2,NULL], both silently
    # wrong).
    fl = f"filter({lst}, __x -> __x IS NOT NULL)"
    empty = f"(size({fl}) IS NULL OR size({fl}) = 0)"
    if name == "min":
        return f"array_min({lst})"
    if name == "max":
        return f"array_max({lst})"
    if name == "count":
        return f"size(filter({lst}, __x -> __x IS NOT NULL))"
    if name == "sum":
        # double accumulator: int lists come back as DOUBLE (DuckDB keeps
        # HUGEINT) — the stable cross-engine form is CAST(... AS BIGINT)
        return (
            f"(CASE WHEN {empty} THEN CAST(NULL AS DOUBLE) ELSE "
            f"aggregate({fl}, CAST(0 AS DOUBLE), (__a, __x) -> __a + __x) "
            f"END)"
        )
    if name == "avg":
        return (
            f"(CASE WHEN {empty} THEN CAST(NULL AS DOUBLE) ELSE "
            f"aggregate({fl}, CAST(0 AS DOUBLE), (__a, __x) -> __a + __x) "
            f"/ size({fl}) END)"
        )
    if name == "string_agg":
        sep = args[2] if len(args) == 3 else "','"
        return (
            f"(CASE WHEN {empty} THEN CAST(NULL AS STRING) ELSE "
            f"array_join(transform({fl}, __x -> CAST(__x AS STRING)), {sep}) "
            f"END)"
        )
    if name == "first":
        # DuckDB first/last KEEP NULL elements (first([NULL,2]) = NULL)
        return f"element_at({lst}, 1)"
    if name == "last":
        return f"element_at({lst}, -1)"
    raise UnsupportedDialect(f"list_aggregate: unsupported function {name!r}")


def _emit_list_unique(args: list[str]) -> str:
    # DuckDB counts distinct NON-NULL elements (measured:
    # list_unique([1,1,2,NULL]) = 2)
    return (
        f"size(array_distinct(filter({args[0]}, __v -> __v IS NOT NULL)))"
    )


def _emit_regexp_extract(args: list[str]) -> str:
    # DuckDB's default group is 0 (whole match); Spark's is 1 and errors
    # when the pattern has no group — pin the DuckDB default explicitly
    if len(args) == 2:
        return f"regexp_extract({args[0]}, {args[1]}, 0)"
    if len(args) == 3 and not args[2].strip().startswith("["):
        return f"regexp_extract({args[0]}, {args[1]}, {args[2]})"
    raise UnsupportedDialect("regexp_extract: name-list form is not supported")


def _emit_date_diff(args: list[str]) -> str:
    """DuckDB date_diff('part', start, end): signed count of PART BOUNDARIES
    crossed (verified: date_diff('month', Jan 15, Jun 1) = 5, not 4.5-
    rounded). day → datediff on dates; month/quarter/year → ordinal
    difference; hour/minute/second → epoch difference of truncated
    timestamps (session tz pinned UTC by load_tables, so the LTZ cast is
    value-preserving)."""
    if len(args) != 3:
        raise UnsupportedDialect("date_diff expects ('part', start, end)")
    part, a, b = args[0].strip().strip("'").lower(), args[1], args[2]
    if part == "day":
        return f"CAST(datediff(CAST({b} AS DATE), CAST({a} AS DATE)) AS BIGINT)"
    if part in ("month", "year", "quarter"):
        mul = {"month": 12, "quarter": 4, "year": 1}[part]
        unit = {"month": "month", "quarter": "quarter", "year": "year"}[part]
        return (
            f"CAST((year({b}) * {mul} + {unit}({b})) - "
            f"(year({a}) * {mul} + {unit}({a})) AS BIGINT)"
        ) if part != "year" else f"CAST(year({b}) - year({a}) AS BIGINT)"
    if part in ("hour", "minute", "second"):
        secs = {"hour": 3600, "minute": 60, "second": 1}[part]
        tr = part.upper()
        return (
            f"CAST((unix_seconds(CAST(date_trunc('{tr}', {b}) AS TIMESTAMP_LTZ)) - "
            f"unix_seconds(CAST(date_trunc('{tr}', {a}) AS TIMESTAMP_LTZ))) / {secs} AS BIGINT)"
        )
    raise UnsupportedDialect(
        f"date_diff: unsupported part {part!r} (day/month/quarter/year/"
        f"hour/minute/second)"
    )


def _emit_epoch_ms(args: list[str]) -> str:
    if len(args) != 1:
        raise UnsupportedDialect("epoch_ms expects (timestamp)")
    return f"unix_millis(CAST({args[0]} AS TIMESTAMP_LTZ))"


def _emit_epoch_us(args: list[str]) -> str:
    if len(args) != 1:
        raise UnsupportedDialect("epoch_us expects (timestamp)")
    return f"unix_micros(CAST({args[0]} AS TIMESTAMP_LTZ))"


def _emit_interval_builder(kind: str, args: list[str]) -> str:
    """DuckDB to_days/to_hours/.../to_microseconds(n) interval constructors
    → Spark make_dt_interval / make_ym_interval."""
    if len(args) != 1:
        raise UnsupportedDialect(f"to_{kind} expects one argument")
    (n,) = args
    forms = {
        "years": f"make_ym_interval({n})",
        "months": f"make_ym_interval(0, {n})",
        "days": f"make_dt_interval({n})",
        "hours": f"make_dt_interval(0, {n})",
        "minutes": f"make_dt_interval(0, 0, {n})",
        "seconds": f"make_dt_interval(0, 0, 0, {n})",
        "millis": f"make_dt_interval(0, 0, 0, ({n}) / 1000.0)",
        "micros": f"make_dt_interval(0, 0, 0, ({n}) / 1000000.0)",
        # measured: to_weeks(2) -> '14 days', to_quarters(5) ->
        # '1 year 3 months', to_centuries/decades/millennia -> year space
        "weeks": f"make_dt_interval(({n}) * 7)",
        "quarters": f"make_ym_interval(0, ({n}) * 3)",
        "centuries": f"make_ym_interval(({n}) * 100)",
        "decades": f"make_ym_interval(({n}) * 10)",
        "millennia": f"make_ym_interval(({n}) * 1000)",
    }
    return forms[kind]


_ACCENTS_FROM = 'àáâãäåèéêëìíîïòóôõöùúûüçñýÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÇÑÝ'
_ACCENTS_TO = 'aaaaaaeeeeiiiiooooouuuucnyAAAAAAEEEEIIIIOOOOOUUUUCNY'


def _emit_string_agg(args: list[str]) -> str:
    """string_agg / group_concat: DuckDB's 1-arg form defaults the
    separator to ',' (Spark's defaults to none)."""
    if len(args) == 1:
        return f"string_agg({args[0]}, ',')"
    if len(args) == 2:
        return f"string_agg({args[0]}, {args[1]})"
    raise UnsupportedDialect("string_agg expects 1 or 2 arguments")


def _emit_arg_minmax(fn: str, args: list[str]) -> str:
    """DuckDB arg_min/arg_max SKIP rows where either the value or the
    ordering key is NULL (measured); Spark's min_by/max_by would happily
    return a NULL value sitting at the extreme key — mask the key so those
    rows drop out of the extremum."""
    if len(args) != 2:
        raise UnsupportedDialect(f"{fn} expects (value, ordering)")
    a, b = args
    masked = f"(CASE WHEN ({a}) IS NULL THEN NULL ELSE ({b}) END)"
    return f"{fn}({a}, {masked})"


def _emit_sem(args: list[str], suffix: str = "") -> str:
    """Standard error of the mean. DuckDB computes stddev_POP / sqrt(n)
    (measured: sem = 0.35355 = pop/sqrt on the 4-row probe, not the
    textbook samp/sqrt 0.40825). ``suffix`` is a verbatim FILTER/OVER
    clause attached to each inner aggregate (window-aware emitter)."""
    (x,) = args
    return f"(stddev_pop({x}){suffix} / sqrt(count({x}){suffix}))"


_emit_sem._window_aware = True


def _emit_count0(args: list[str]) -> str:
    """count() / count_star() = count(*); other arities pass through."""
    if not args or (len(args) == 1 and not args[0].strip()):
        return "count(*)"
    return f"count({', '.join(args)})"


def _emit_product(args: list[str], suffix: str = "") -> str:
    # NULLs are skipped but an empty/all-NULL group is NULL, not the fold
    # seed (measured: windowed product over an all-NULL frame = NULL)
    (x,) = args
    return (
        f"(CASE WHEN count({x}){suffix} = 0 THEN NULL ELSE "
        f"aggregate(collect_list(CAST(({x}) AS DOUBLE)){suffix},"
        f" CAST(1.0 AS DOUBLE), (__a, __v) -> __a * __v) END)"
    )


_emit_product._window_aware = True


def _emit_list_plain(args: list[str], suffix: str = "") -> str:
    """DuckDB list/array_agg KEEP NULL elements and return NULL for an
    empty group/frame (measured: list over WHERE false -> NULL, list of
    (1, NULL) -> [1, NULL]); Spark's collect_list drops NULLs and returns
    []. Struct-wrap each element (a struct is never NULL, so NULLs
    survive) and NULL out the empty case via count(*). The DISTINCT form
    rides collect_set over the same struct wrap (element order is
    engine-arbitrary in BOTH engines for it)."""
    (x,) = args
    dm = re.match(r"\s*DISTINCT\s+(.*)$", x, re.IGNORECASE | re.DOTALL)
    fn, x = ("collect_set", dm.group(1)) if dm else ("collect_list", x)
    cl = f"{fn}(named_struct('v', ({x}))){suffix}"
    if "OVER" in suffix.upper():
        cl = _frame_guard(cl, suffix)
    return (
        f"(CASE WHEN count(*){suffix} = 0 THEN NULL "
        f"ELSE transform({cl}, __s -> __s.v) END)"
    )


_emit_list_plain._window_aware = True


def _emit_kahan_sum(args: list[str]) -> str:
    (x,) = args
    return f"sum(CAST(({x}) AS DOUBLE))"


def _emit_fdiv(args: list[str]) -> str:
    a, b = args
    return f"CAST(floor(CAST(({a}) AS DOUBLE) / ({b})) AS DOUBLE)"


def _emit_fmod(args: list[str]) -> str:
    # DuckDB fmod is FLOORED modulo (sign follows the divisor, paired with
    # fdiv's floor division — measured: fmod(-7.5, 2) = 0.5); Spark's %
    # truncates, so emit a - floor(a/b)*b
    a, b = args
    return (
        f"(CAST(({a}) AS DOUBLE) - floor(CAST(({a}) AS DOUBLE) / ({b})) * ({b}))"
    )


def _emit_strip_accents(args: list[str]) -> str:
    """Latin-1 accent folding via translate() — covers the à..ÿ range
    (DuckDB does full Unicode NFD; beyond-Latin-1 codepoints pass through
    unchanged here, a documented approximation)."""
    (x,) = args
    return f"translate({x}, '{_ACCENTS_FROM}', '{_ACCENTS_TO}')"


def _emit_grade_up(args: list[str]) -> str:
    """list_grade_up: 1-based indices that would sort the list ascending,
    NULLs last (DuckDB order) — struct sort on (is-null, value, index)."""
    (x,) = args
    return (
        f"transform(array_sort(zip_with(({x}), sequence(1, size({x})),"
        f" (__v, __i) -> struct((__v IS NULL) AS nl, __v AS v, __i AS i))),"
        f" __s -> __s.i)"
    )


def _emit_list_zip(args: list[str]) -> str:
    """DuckDB list_zip, n-ary (measured 1.x semantics): struct fields named
    list_1..list_n, shorter lists padded with NULL (a NULL list acts as
    empty-but-padded: list_zip(NULL, [1]) = [(NULL, 1)]), and an optional
    trailing BOOLEAN literal truncates to the shortest list instead.

    Emission: index-generated transform — `arrays_zip` would take the
    Spark-chosen field names and `zip_with` is binary-only. `sequence(1, 0)`
    DESCENDS in Spark, so the sequence is floored at 1 and the result
    sliced back to the true length (slice keeps the element type where a
    bare `array()` would not)."""
    if not args:
        raise UnsupportedDialect("list_zip needs at least one list")
    trunc = False
    tail = args[-1].strip().lower()
    if tail in ("true", "false"):
        trunc = tail == "true"
        args = args[:-1]
        if not args:
            raise UnsupportedDialect("list_zip needs at least one list")
    sizes = [f"coalesce(size({a}), 0)" for a in args]
    n = (
        sizes[0]
        if len(sizes) == 1
        else f"{'least' if trunc else 'greatest'}({', '.join(sizes)})"
    )
    fields = ", ".join(
        f"({a})[__i - 1] AS list_{k + 1}" for k, a in enumerate(args)
    )
    return (
        f"slice(transform(sequence(1, greatest({n}, 1)), "
        f"__i -> struct({fields})), 1, greatest({n}, 0))"
    )


def _emit_list_has_all(args: list[str]) -> str:
    a, b = args
    return f"(size(array_except({b}, {a})) = 0)"


def _emit_list_any_value(args: list[str]) -> str:
    (x,) = args
    return f"element_at(filter({x}, __v -> __v IS NOT NULL), 1)"


def _emit_pop_back(args: list[str]) -> str:
    (x,) = args
    return f"slice({x}, 1, greatest(size({x}) - 1, 0))"


def _emit_pop_front(args: list[str]) -> str:
    (x,) = args
    return f"slice({x}, 2, greatest(size({x}) - 1, 0))"


def _emit_list_select(args: list[str]) -> str:
    l, idx = args
    return f"transform({idx}, __i -> element_at({l}, __i))"


def _emit_list_where(args: list[str]) -> str:
    l, m = args
    return (
        f"transform(filter(zip_with({l}, {m}, (__v, __m) ->"
        f" struct(__v AS v, __m AS m)), __s -> __s.m), __s -> __s.v)"
    )


def _emit_list_reduce(args: list[str]) -> str:
    """DuckDB list_reduce seeds with the FIRST element and folds the rest."""
    if len(args) != 2:
        raise UnsupportedDialect("list_reduce expects (list, lambda)")
    l, lam = args
    return (
        f"aggregate(slice({l}, 2, greatest(size({l}) - 1, 0)),"
        f" element_at({l}, 1), {lam})"
    )


def _emit_json_valid(args: list[str]) -> str:
    (x,) = args
    return (
        f"(CASE WHEN ({x}) IS NULL THEN NULL"
        f" ELSE get_json_object({x}, '$') IS NOT NULL END)"
    )


def _emit_json_arr_len(args: list[str]) -> str:
    # DuckDB returns 0 for valid non-array JSON where Spark returns NULL
    # (measured: json_array_length('{"k":1}') = 0); NULL input stays NULL
    if len(args) == 1:
        x = args[0]
        return (
            f"(CASE WHEN ({x}) IS NULL THEN CAST(NULL AS BIGINT) "
            f"ELSE CAST(coalesce(json_array_length({x}), 0) AS BIGINT) END)"
        )
    s2, path = args
    return (
        f"(CASE WHEN get_json_object({s2}, {path}) IS NULL "
        f"THEN CAST(NULL AS BIGINT) ELSE CAST(coalesce("
        f"json_array_length(get_json_object({s2}, {path})), 0) AS BIGINT) END)"
    )


def _emit_log(args: list[str]) -> str:
    """DuckDB log(x) is LOG BASE 10 (measured: log(2.5)=0.3979, = log10);
    Spark's 1-arg log is ln — a silent wrong answer if passed through.
    The 2-arg log(b, x) agrees between engines."""
    if len(args) == 1:
        return f"log10({args[0]})"
    if len(args) == 2:
        return f"log({args[0]}, {args[1]})"
    raise UnsupportedDialect("log expects 1 or 2 arguments")


def _emit_gen_series_list(args: list[str]) -> str:
    """Scalar (LIST-returning) generate_series: INCLUSIVE bounds, 1-arg
    starts at 0, wrong-direction returns [] (measured — unlike the FROM
    TVF form, which errors). Emitted empty-safe: k = max(floor((b-a)/s),0)
    terms past the start, sliced to the true length."""
    if len(args) == 1:
        a, b, s = "0", args[0], "1"
    elif len(args) == 2:
        a, b, s = args[0], args[1], "1"
    elif len(args) == 3:
        a, b, s = args
    else:
        raise UnsupportedDialect("generate_series expects 1-3 arguments")
    k = f"greatest(CAST(floor((({b}) - ({a})) / ({s})) AS BIGINT), 0)"
    length = (
        f"(CASE WHEN (({b}) - ({a})) / ({s}) >= 0 THEN {k} + 1 ELSE 0 END)"
    )
    return (
        f"slice(sequence(({a}), ({a}) + {k} * ({s}), ({s})), 1, {length})"
    )


def _emit_range_list(args: list[str]) -> str:
    """Scalar (LIST-returning) range: EXCLUSIVE stop, 1-arg starts at 0,
    wrong-direction returns [] (measured). n = max(ceil((b-a)/s), 0)."""
    if len(args) == 1:
        a, b, s = "0", args[0], "1"
    elif len(args) == 2:
        a, b, s = args[0], args[1], "1"
    elif len(args) == 3:
        a, b, s = args
    else:
        raise UnsupportedDialect("range expects 1-3 arguments")
    n = f"greatest(CAST(ceil((({b}) - ({a})) / ({s})) AS BIGINT), 0)"
    return (
        f"slice(sequence(({a}), ({a}) + greatest({n} - 1, 0) * ({s}), "
        f"({s})), 1, {n})"
    )


def _emit_regexp_extract_all(args: list[str]) -> str:
    """DuckDB's default group is 0 (full matches); Spark's is 1 — which
    errors on group-less patterns and silently extracts the wrong thing on
    grouped ones."""
    if len(args) == 2:
        return f"regexp_extract_all({args[0]}, {args[1]}, 0)"
    return f"regexp_extract_all({', '.join(args)})"


def _emit_named_arith(op: str):
    def emit(args: list[str]) -> str:
        if len(args) != 2:
            raise UnsupportedDialect(f"named arithmetic expects 2 arguments")
        return f"(({args[0]}) {op} ({args[1]}))"

    return emit


def _emit_divide_named(args: list[str]) -> str:
    raise UnsupportedDialect(
        "divide(): DuckDB's named divide is integer division for integer "
        "inputs and float division otherwise — type-dependent dispatch a "
        "text rewrite cannot do; use // or / explicitly"
    )


def _emit_one_or_variadic(fname: str):
    """greatest/least accept a single argument in DuckDB (identity)."""

    def emit(args: list[str]) -> str:
        if len(args) == 1:
            return f"({args[0]})"
        return f"{fname}({', '.join(args)})"

    return emit


def _emit_trunc_numeric(args: list[str]) -> str:
    """DuckDB trunc(x) is NUMERIC truncation toward zero (Spark's trunc is
    date-only)."""
    if len(args) != 1:
        raise UnsupportedDialect(
            "trunc: only the 1-arg numeric form exists in DuckDB "
            "(use date_trunc for dates)"
        )
    x = args[0]
    return f"(CASE WHEN ({x}) >= 0 THEN floor({x}) ELSE ceil({x}) END)"


def _emit_map_ctor(args: list[str]) -> str:
    """DuckDB map(keys_list, values_list); Spark's variadic map() differs —
    route the 2-list form to map_from_arrays. Bare map() stays empty."""
    if len(args) == 2:
        return f"map_from_arrays({args[0]}, {args[1]})"
    if len(args) == 0 or (len(args) == 1 and not args[0].strip()):
        return "map()"
    raise UnsupportedDialect("map(): only the (keys, values) list form is supported")


def _emit_struct_pack(args: list[str]) -> str:
    parts = []
    for a in args:
        m = re.match(r"\s*(\w+)\s*:=\s*(.+)$", a, re.DOTALL)
        if not m:
            raise UnsupportedDialect("struct_pack expects name := expr arguments")
        parts.append(f"'{m.group(1)}', {m.group(2).strip()}")
    return f"named_struct({', '.join(parts)})"


def _emit_format(args: list[str]) -> str:
    """DuckDB fmt-style format('{}/{}', ...) → printf. Literal format
    strings; `{}` slots plus the common numeric specs `{:.Nf}` / `{:d}`
    (→ %.Nf / %d with the argument cast accordingly). Positional {0} and
    other spec forms raise — no printf equivalent here."""
    if not args or not re.fullmatch(r"\s*'[^']*'\s*", args[0]):
        raise UnsupportedDialect("format(): only a literal format string is supported")
    fmt = args[0].strip()[1:-1]
    slots = re.findall(r"\{(:\.(\d+)f|:d)?\}", fmt)
    if re.search(r"\{(?!(:\.\d+f|:d)?\})[^}]*\}", fmt):
        raise UnsupportedDialect(
            "format(): positional/spec placeholders beyond {} {:.Nf} {:d} "
            "are not supported"
        )
    if len(slots) != len(args) - 1:
        raise UnsupportedDialect("format(): placeholder/argument count mismatch")
    out = fmt.replace("%", "%%")
    cast_args = []
    for (spec, prec), a in zip(slots, args[1:]):
        if spec.startswith(":."):
            out = out.replace("{" + spec + "}", f"%.{prec}f", 1)
            cast_args.append(f"CAST({a} AS DOUBLE)")
        elif spec == ":d":
            out = out.replace("{:d}", "%d", 1)
            cast_args.append(f"CAST({a} AS BIGINT)")
        else:
            out = out.replace("{}", "%s", 1)
            cast_args.append(f"CAST({a} AS STRING)")
    if cast_args:
        return f"printf('{out}', {', '.join(cast_args)})"
    return f"'{out.replace('%%', '%')}'"


def _emit_trim_family(fn: str, args: list[str]) -> str:
    """DuckDB [lr]?trim(string, charset): Spark's two-arg ltrim/rtrim take
    (trimStr, str) — swapped — and two-arg trim is btrim(str, trimStr)."""
    if len(args) == 1:
        return f"{fn}({args[0]})"
    if len(args) != 2:
        raise UnsupportedDialect(f"{fn} expects 1 or 2 arguments")
    a, chars = args
    if fn == "trim":
        return f"btrim({a}, {chars})"
    return f"{fn}({chars}, {a})"


def _emit_date_sub3(args: list[str]) -> str:
    """DuckDB date_sub/datesub('unit', a, b): COMPLETE elapsed units
    (timestampdiff semantics — unlike date_diff's boundary crossings).
    The 2-arg form is Spark's own date_sub(date, days) — passthrough."""
    if len(args) == 2:
        return f"date_sub({args[0]}, {args[1]})"
    if len(args) != 3:
        raise UnsupportedDialect("date_sub expects 2 or 3 arguments")
    unit = args[0].strip().strip("'\"").upper()
    if unit not in (
        "YEAR", "QUARTER", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE", "SECOND",
    ):
        raise UnsupportedDialect(f"date_sub: unsupported unit {unit!r}")
    return (
        f"timestampdiff({unit}, CAST({args[1]} AS TIMESTAMP),"
        f" CAST({args[2]} AS TIMESTAMP))"
    )


def _emit_like_escape(args: list[str], lower: bool = False, neg: bool = False) -> str:
    if len(args) != 3:
        raise UnsupportedDialect("like_escape expects (string, pattern, escape)")
    a, pat, esc = args
    if lower:
        a, pat = f"lower({a})", f"lower({pat})"
    op = "NOT LIKE" if neg else "LIKE"
    return f"(({a}) {op} ({pat}) ESCAPE {esc})"


def _emit_list_dot(args: list[str]) -> str:
    """list_dot_product: left-fold in element order — the same
    accumulation order DuckDB uses, so doubles are bit-identical."""
    if len(args) != 2:
        raise UnsupportedDialect("list_dot_product expects (list, list)")
    a, b = args
    return (
        f"aggregate(zip_with({a}, {b}, (__x, __y) -> __x * __y), "
        f"CAST(0 AS DOUBLE), (__s, __v) -> __s + __v)"
    )


def _emit_list_cos(args: list[str]) -> str:
    if len(args) != 2:
        raise UnsupportedDialect("list_cosine_similarity expects (list, list)")
    a, b = args
    dot = _emit_list_dot([a, b])
    na = f"sqrt({_emit_list_dot([a, a])})"
    nb = f"sqrt({_emit_list_dot([b, b])})"
    return f"({dot} / ({na} * {nb}))"


def _emit_quantile_disc(args: list[str]) -> str:
    """quantile_disc(x, q): the element at ceil(q·n) of the sorted values
    (DuckDB's discrete quantile — verified: q=0.5 over [1,2,3,4] → 2).
    collect_list keeps this an aggregate expression; fine for moderate
    groups, not for billion-row ones (use approx quantiles there)."""
    if len(args) != 2:
        raise UnsupportedDialect("quantile_disc expects (value, fraction)")
    x, qf = args
    lst = f"array_sort(collect_list({x}))"
    return (
        f"element_at({lst}, greatest(1, CAST(ceil(({qf}) * size({lst})) AS INT)))"
    )


def _emit_histogram(args: list[str]) -> str:
    """histogram(x) → key-sorted map of value→count (DuckDB returns keys
    sorted; map_from_entries over the sorted distinct list reproduces the
    order, so to_json output is byte-identical)."""
    if len(args) != 1:
        raise UnsupportedDialect("histogram expects (value)")
    x = args[0]
    lst = f"collect_list({x})"
    return (
        f"map_from_entries(transform(array_sort(array_distinct({lst})), "
        f"__v -> struct(__v, CAST(size(filter({lst}, __y -> __y = __v)) AS BIGINT))))"
    )


def _emit_gcd(args: list[str]) -> str:
    """Euclid's algorithm as a bounded expression fold (no Spark built-in).
    96 iterations covers the 64-bit worst case (consecutive Fibonacci
    numbers need ~92 steps); each step is a cheap codegen struct swap and
    the fold short-circuits semantically once b = 0. gcd(0,0) = 0 and
    negative inputs take |x|, matching DuckDB."""
    if len(args) != 2:
        raise UnsupportedDialect("gcd expects (a, b)")
    a, b = args
    return (
        f"aggregate(sequence(1, 96), "
        f"named_struct('a', abs(CAST(({a}) AS BIGINT)), "
        f"'b', abs(CAST(({b}) AS BIGINT))), "
        f"(acc, i) -> IF(acc.b = 0, acc, "
        f"named_struct('a', acc.b, 'b', acc.a % acc.b)), "
        f"acc -> acc.a)"
    )


def _emit_lcm(args: list[str]) -> str:
    """lcm = |a| / gcd * |b| (divide FIRST so the product stays in range);
    lcm with any zero argument is 0, matching DuckDB."""
    if len(args) != 2:
        raise UnsupportedDialect("lcm expects (a, b)")
    a, b = args
    aa = f"abs(CAST(({a}) AS BIGINT))"
    bb = f"abs(CAST(({b}) AS BIGINT))"
    return (
        f"(CASE WHEN {aa} = 0 OR {bb} = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE ({aa} div {_emit_gcd(args)}) * {bb} END)"
    )


def _emit_hamming(args: list[str]) -> str:
    """hamming/mismatches: positional differences of two EQUAL-length
    strings. DuckDB raises on length mismatch and on empty strings —
    reproduced with raise_error so the contract is identical."""
    if len(args) != 2:
        raise UnsupportedDialect("hamming expects (s1, s2)")
    a, b = args
    return (
        f"(CASE WHEN length({a}) <> length({b}) THEN "
        f"CAST(raise_error('Mismatch Function: Strings must be of equal length!') AS BIGINT) "
        f"WHEN length({a}) = 0 THEN "
        f"CAST(raise_error('Mismatch Function: Strings must be of length > 0!') AS BIGINT) "
        f"ELSE aggregate(sequence(1, length({a})), CAST(0 AS BIGINT), "
        f"(acc, i) -> acc + IF(substring({a}, i, 1) = substring({b}, i, 1), 0, 1)) END)"
    )


# ---- round-8 function emitters (semantics verified against DuckDB 1.x) ----

_PATH_SEP_CLASS = r"[/\\\\]"  # both_slash (DuckDB default separator mode)


def _path_sep_ok(args: list[str]) -> None:
    """parse_* accept an optional separator mode; only the default
    both-slash behaviors are emitted (a 'system' mode is OS-dependent)."""
    for a in args[1:]:
        v = a.strip().strip("'").lower()
        if v in ("both_slash", "forward_slash", "true", "false"):
            continue
        raise UnsupportedDialect(
            f"parse_* separator mode {a!r} is not supported (both_slash only)"
        )


def _emit_parse_path(args: list[str]) -> str:
    """['/', 'a', 'b', 'c.txt'] — leading separator is its own component,
    empty components collapse (measured: parse_path('/a//b/c'))."""
    _path_sep_ok(args)
    x = args[0]
    lead = (
        f"CASE WHEN ({x}) RLIKE '^{_PATH_SEP_CLASS}' "
        f"THEN array(substring(({x}), 1, 1)) ELSE array() END"
    )
    rest = (
        f"filter(split(regexp_replace(({x}), '^{_PATH_SEP_CLASS}', ''), "
        f"'{_PATH_SEP_CLASS}'), __p -> __p <> '')"
    )
    return f"concat(CAST({lead} AS ARRAY<STRING>), {rest})"


def _emit_parse_dirpath(args: list[str]) -> str:
    """Strip the final component and ONE trailing separator (measured:
    '/a//b/c' -> '/a//b', 'a//' -> 'a/', 'a/b/' -> 'a/b', '/a' -> '',
    'c.txt' -> ''); separator-only strings keep the root ('/' -> '/',
    '//' -> '/')."""
    _path_sep_ok(args)
    x = args[0]
    stripped = (
        f"regexp_replace(({x}), "
        f"'{_PATH_SEP_CLASS}[^/\\\\\\\\]*$|^[^/\\\\\\\\]*$', '')"
    )
    return (
        f"(CASE WHEN ({x}) RLIKE '^{_PATH_SEP_CLASS}+$' THEN "
        f"substring(({x}), 1, greatest(length({x}) - 1, 1)) "
        f"ELSE {stripped} END)"
    )


def _emit_parse_dirname(args: list[str]) -> str:
    """First path component when the path has a directory part: more than
    one component, OR a trailing separator that makes the single component
    a directory (measured: 'a/' -> 'a', '../' -> '..', '/a' -> '/',
    'c.txt' -> '')."""
    _path_sep_ok(args)
    x = args[0]
    pp = _emit_parse_path([x])
    return (
        f"(CASE WHEN size({pp}) >= 2 OR "
        f"(size({pp}) >= 1 AND ({x}) RLIKE '{_PATH_SEP_CLASS}$') "
        f"THEN element_at({pp}, 1) ELSE '' END)"
    )


def _emit_parse_filename(args: list[str]) -> str:
    """Last component ('' after a trailing separator); optional second arg
    true trims ONE extension (measured: 'c.tar.gz' -> 'c.tar')."""
    _path_sep_ok(args)
    base = f"element_at(split(({args[0]}), '{_PATH_SEP_CLASS}'), -1)"
    trim = len(args) >= 2 and args[1].strip().strip("'").lower() == "true"
    if trim:
        return f"regexp_replace({base}, '\\\\.[^.]*$', '')"
    return base


def _format_size(arg: str, step: int, units: list[str]) -> str:
    """Shared format_bytes/formatReadableDecimalSize shape: '<int> bytes'
    below one unit step, else value/step^k TRUNCATED (toward zero —
    measured: 1234567 -> '1.1 MiB', -1234567 -> '-1.1 MiB', DuckDB rounds
    down not half-even) to ONE decimal. The tenths digit is computed in
    integer space ((|n|*10) div step^k via DECIMAL(38)) — a double divide
    mis-truncates when n/step^k*10 lands one ulp above an integer
    (observed: 497,223,270 bytes -> 474.3 MiB instead of 474.2)."""
    a = f"abs(CAST(({arg}) AS BIGINT))"
    out = (
        f"concat(CAST(CAST(({arg}) AS BIGINT) AS STRING), "
        f"CASE WHEN {a} = 1 THEN ' byte' ELSE ' bytes' END)"
    )
    for i, u in enumerate(units):
        lo = step ** (i + 1)
        hi = step ** (i + 2)
        # DuckDB divides by `step` ITERATIVELY with integer truncation and
        # takes the tenth from the pre-final value — measured: 62,075,701
        # bytes = 59.1 MiB (60620//1024 KiB first), where a single
        # division by step^k gives 59.2
        pre = f"(CAST({a} AS DECIMAL(38,0)) div {step ** i})"
        tenths = f"(({pre}) * 10) div {step}"
        val = (
            f"concat(CASE WHEN ({arg}) < 0 THEN '-' ELSE '' END, "
            f"CAST(({tenths}) div 10 AS STRING), '.', "
            f"CAST(({tenths}) % 10 AS STRING), ' {u}')"
        )
        cond = f"{a} >= {lo}" + ("" if i == len(units) - 1 else f" AND {a} < {hi}")
        out = f"CASE WHEN {cond} THEN {val} ELSE {out} END"
    return f"({out})"


def _emit_format_bytes(args: list[str]) -> str:
    return _format_size(args[0], 1024, ["KiB", "MiB", "GiB", "TiB", "PiB"])


def _emit_format_dec_size(args: list[str]) -> str:
    return _format_size(args[0], 1000, ["kB", "MB", "GB", "TB", "PB"])


def _emit_regexp_escape(args: list[str]) -> str:
    # DuckDB = RE2 QuoteMeta (measured): EVERY ASCII char outside
    # [A-Za-z0-9_] is escaped — including space/tab/comma/slash — while
    # non-ASCII (é, ö) passes through. The class below is exactly ASCII
    # minus word chars (0x5F '_' excluded from the 0x5B-0x5E run).
    return (
        f"regexp_replace(({args[0]}), "
        f"'([\\\\x00-\\\\x2f\\\\x3a-\\\\x40\\\\x5b-\\\\x5e\\\\x60\\\\x7b-\\\\x7f])',"
        f" '\\\\\\\\$1')"
    )


def _emit_tz_part(args: list[str]) -> str:
    # session timezone is pinned UTC (sources/tables.py), so the offset
    # components are 0 for every timestamp — matching DuckDB under its
    # default UTC TimeZone setting
    return f"(CASE WHEN ({args[0]}) IS NULL THEN NULL ELSE CAST(0 AS BIGINT) END)"


def _emit_julian(args: list[str]) -> str:
    # JDN with .0 at midnight: 2440588 at 1970-01-01 00:00 (measured:
    # julian(DATE '2024-01-01') = 2460311.0, 18:00 -> .75)
    return (
        f"(CAST(2440588 AS DOUBLE) + "
        f"unix_micros(CAST(({args[0]}) AS TIMESTAMP_LTZ)) / 86400000000.0)"
    )


def _emit_era(args: list[str]) -> str:
    return (
        f"(CASE WHEN ({args[0]}) IS NULL THEN NULL "
        f"WHEN year({args[0]}) > 0 THEN CAST(1 AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
    )


def _emit_make_tstz(args: list[str]) -> str:
    """make_timestamptz under the engine's pinned-UTC session: 6-arg
    (y,m,d,h,mi,s) or 1-arg (epoch micros) — both land on the same instant
    DuckDB produces with TimeZone=UTC."""
    if len(args) == 6:
        # LTZ result: DuckDB reports TIMESTAMP WITH TIME ZONE here
        return f"CAST(make_timestamp({', '.join(args)}) AS TIMESTAMP_LTZ)"
    if len(args) == 1:
        return f"timestamp_micros(CAST({args[0]} AS BIGINT))"
    raise UnsupportedDialect("make_timestamptz expects 1 or 6 arguments")


_TYPEOF_CASES = [
    ("tinyint", "TINYINT"), ("smallint", "SMALLINT"), ("int", "INTEGER"),
    ("bigint", "BIGINT"), ("float", "FLOAT"), ("double", "DOUBLE"),
    ("string", "VARCHAR"), ("boolean", "BOOLEAN"), ("date", "DATE"),
    ("binary", "BLOB"), ("timestamp_ntz", "TIMESTAMP"),
    ("timestamp", "TIMESTAMP WITH TIME ZONE"),
]

# DuckDB's canonical spellings for declared UNION variant types (the
# ::UNION(f T, ...) cast text is user-written: INT -> INTEGER etc.)
_DUCK_TYPE_CANON = {
    "int": "INTEGER", "int4": "INTEGER", "integer": "INTEGER",
    "signed": "INTEGER", "int1": "TINYINT", "tinyint": "TINYINT",
    "int2": "SMALLINT", "smallint": "SMALLINT", "short": "SMALLINT",
    "int8": "BIGINT", "bigint": "BIGINT", "long": "BIGINT",
    "float4": "FLOAT", "float": "FLOAT", "real": "FLOAT",
    "float8": "DOUBLE", "double": "DOUBLE",
    "varchar": "VARCHAR", "text": "VARCHAR", "string": "VARCHAR",
    "bool": "BOOLEAN", "boolean": "BOOLEAN", "logical": "BOOLEAN",
    "date": "DATE", "timestamp": "TIMESTAMP", "datetime": "TIMESTAMP",
    "timestamptz": "TIMESTAMP WITH TIME ZONE", "blob": "BLOB",
}


def _union_shim_fields(expr: str) -> "list[tuple[str, str]] | None":
    """[(variant name, DuckDB type text)] when ``expr`` is the union
    shim constructor named_struct('tag', '<t>', <name>, <value>, ...)
    emitted by _rewrite_union_values; None otherwise. Variant types come
    from the CAST targets (the ::UNION(...) form) or the value's literal
    shape (bare constructors), so typeof() can print DuckDB's
    ``UNION(num INTEGER)`` instead of leaking the struct shim."""
    s = expr.strip()
    while s.startswith("(") and close_of(s, 0) == len(s):
        s = s[1:-1].strip()
    m = re.match(r"^named_struct\s*\(", s, re.IGNORECASE)
    if not m or close_of(s, m.end() - 1) != len(s):
        return None
    parts = split_top(s[m.end(): -1])
    if len(parts) < 4 or len(parts) % 2 or parts[0].strip() != "'tag'":
        return None
    out: list[tuple[str, str]] = []
    for i in range(2, len(parts), 2):
        nm = re.match(r"^\s*'(\w+)'\s*$", parts[i])
        if not nm:
            return None
        val = parts[i + 1].strip()
        cm = re.match(
            r"^CAST\s*\(.*\s+AS\s+([A-Za-z_0-9()\s,]+?)\s*\)$",
            val, re.IGNORECASE | re.DOTALL,
        )
        if cm:
            t = cm.group(1).strip()
            canon = _DUCK_TYPE_CANON.get(t.lower(), t.upper())
        elif re.match(r"^-?\d+$", val):
            canon = "INTEGER"
        elif re.match(r"^-?\d+\.\d+$", val):
            dm = re.match(r"^-?(\d+)\.(\d+)$", val)
            units = len(dm.group(1).lstrip("0"))
            canon = f"DECIMAL({units + len(dm.group(2))},{len(dm.group(2))})"
        elif re.match(r"^'(?:[^']|'')*'$", val):
            canon = "VARCHAR"
        elif re.match(r"^(TRUE|FALSE)$", val, re.IGNORECASE):
            canon = "BOOLEAN"
        elif re.match(r"^DATE\s*'", val, re.IGNORECASE):
            canon = "DATE"
        elif re.match(r"^TIMESTAMP\s*'", val, re.IGNORECASE):
            canon = "TIMESTAMP"
        else:
            return None
        out.append((nm.group(1), canon))
    return out


def _emit_typeof(args: list[str]) -> str:
    """Spark type names -> DuckDB names (measured: typeof(1.5::FLOAT) =
    'FLOAT', typeof(1.5) = 'DECIMAL(2,1)'); unmapped names (decimal(p,s),
    array<...>) ride upper(). Union-shim shapes constant-fold to DuckDB's
    UNION(...) / ENUM(...) names (measured r13: typeof(union_value(num :=
    2)) = 'UNION(num INTEGER)', typeof(union_tag(...)) = 'ENUM(''num'')')."""
    arg = args[0].strip()
    # union_tag resolves after typeof in the emitter sequence, so both
    # the marker form and the emitted .tag access can appear here
    tag_of = re.match(
        r"^(?:\((.*)\)\s*\.\s*tag|__duck_union_tag\s*\((.*)\))$",
        arg, re.DOTALL | re.IGNORECASE,
    )
    fields = _union_shim_fields(
        (tag_of.group(1) or tag_of.group(2)) if tag_of else arg
    )
    if fields is not None:
        if tag_of:
            names = ", ".join(f"''{n}''" for n, _ in fields)
            return f"'ENUM({names})'"
        body = ", ".join(f"{n} {t}" for n, t in fields)
        return f"'UNION({body})'"
    whens = " ".join(f"WHEN '{s}' THEN '{d}'" for s, d in _TYPEOF_CASES)
    # composite shapes (array/map/struct) translate through the Arrow
    # duck_type_name UDF (typeof([1,2]) = 'INTEGER[]', measured r13);
    # a bare upper() printed Spark's ARRAY<INT> spelling
    return (
        f"(CASE typeof({args[0]}) {whens} "
        f"ELSE duck_type_name(typeof({args[0]})) END)"
    )


def _emit_pg_typeof(args: list[str]) -> str:
    return f"lower({_emit_typeof(args)})"


def _emit_like_escape(args: list[str], op: str = "LIKE", neg: bool = False) -> str:
    if len(args) != 3:
        raise UnsupportedDialect("like_escape expects (string, pattern, escape)")
    s, p, e = args
    inner = f"(({s}) {op} ({p}) ESCAPE {e})"
    return f"(NOT {inner})" if neg else inner


def _emit_skewness(args: list[str], suffix: str = "") -> str:
    """DuckDB skewness is the bias-corrected SAMPLE statistic
    (G1 = g1 * sqrt(n(n-1))/(n-2), NULL below n=3 or at zero variance —
    measured); Spark's skewness is the population g1. Passing the name
    through silently returns differently-normalized values."""
    x = args[0]
    n = f"count({x}){suffix}"
    return (
        f"(CASE WHEN {n} >= 3 AND var_samp({x}){suffix} > 0 THEN "
        f"skewness({x}){suffix} * sqrt(CAST({n} * ({n} - 1) AS DOUBLE)) / ({n} - 2) "
        f"ELSE NULL END)"
    )


_emit_skewness._window_aware = True


def _emit_kurtosis(args: list[str], suffix: str = "") -> str:
    """DuckDB kurtosis is the bias-corrected sample EXCESS kurtosis
    (G2 = ((n+1)g2 + 6)(n-1)/((n-2)(n-3)), NULL below n=4 — measured);
    Spark's kurtosis is the population g2 (= DuckDB's kurtosis_pop)."""
    x = args[0]
    n = f"count({x}){suffix}"
    return (
        f"(CASE WHEN {n} >= 4 AND var_samp({x}){suffix} > 0 THEN "
        f"(({n} + 1) * kurtosis({x}){suffix} + 6) * ({n} - 1) "
        f"/ (({n} - 2) * ({n} - 3)) ELSE NULL END)"
    )


_emit_kurtosis._window_aware = True


def _emit_entropy(args: list[str], suffix: str = "") -> str:
    """Shannon entropy (log2) of the value distribution, NULLs skipped
    (measured: entropy(1,1,2,NULL) = 0.918…). Computed from the collected
    group: H = log2(n) - Σ c·log2(c) / n over distinct-value counts.
    O(d·n) per group and O(group) memory — same trade as the documented
    collect-based rewrites (COVERAGE.md guard note)."""
    x = args[0]
    cl = f"collect_list({x}){suffix}"
    counts = (
        f"transform(array_distinct({cl}), __v -> "
        f"CAST(size(filter({cl}, __e -> __e <=> __v)) AS DOUBLE))"
    )
    return (
        f"(CASE WHEN size({cl}) > 0 THEN "
        f"log2(CAST(size({cl}) AS DOUBLE)) - "
        f"aggregate({counts}, CAST(0 AS DOUBLE), "
        f"(__a, __c) -> __a + __c * log2(__c)) / size({cl}) "
        f"ELSE NULL END)"
    )


_emit_entropy._window_aware = True


def _median_of(sorted_arr: str, n: str) -> str:
    return (
        f"(element_at({sorted_arr}, CAST(ceil(({n}) / 2.0) AS INT)) + "
        f"element_at({sorted_arr}, CAST(floor(({n}) / 2.0) AS INT) + 1)) / 2.0"
    )


def _emit_mad(args: list[str], suffix: str = "") -> str:
    """Median absolute deviation, median-interpolated like DuckDB's
    (measured: mad(1,3,7,20) = 3.0). Two nested medians over the collected
    group (no nested-aggregate form exists); result rides DOUBLE — the
    documented stats-family trade (DuckDB returns the input's decimal
    type). Each sorted array is bound once as a lambda variable
    (``transform(array(e), __mad_a -> ...)``): Spark evaluates an outer
    expression inside a lambda once per element, so naming the sorted
    group inside ``transform`` re-sorted it for every element (measured:
    a 6,000-row mad ran 200 s on a 4-core box)."""
    x = args[0]
    arr = f"array_sort(collect_list(CAST({x} AS DOUBLE)){suffix})"
    devs = "array_sort(transform(__mad_a, __v -> abs(__v - "
    devs += f"{_median_of('__mad_a', 'size(__mad_a)')})))"
    med_devs = f"element_at(transform(array({devs}), __mad_d -> "
    med_devs += f"{_median_of('__mad_d', 'size(__mad_d)')}), 1)"
    return (
        f"element_at(transform(array({arr}), __mad_a -> CASE WHEN "
        f"size(__mad_a) > 0 THEN {med_devs} ELSE NULL END), 1)"
    )


_emit_mad._window_aware = True


def _emit_bitstring_agg(args: list[str]) -> str:
    """bitstring_agg(x, lo, hi) → '0'/'1' string with 1-bits at the
    positions of x relative to lo (measured: (1,3,8) over [1,8] =
    '10100001') — the engine's BIT representation. The 1-arg form needs
    column statistics in DuckDB itself (errors without them) and raises
    here too."""
    if len(args) != 3:
        raise UnsupportedDialect(
            "bitstring_agg needs explicit bounds: bitstring_agg(x, min, max)"
        )
    x, lo, hi = args
    return (
        f"array_join(transform(sequence({lo}, {hi}), __p -> "
        f"CASE WHEN array_contains(collect_set({x}), __p) THEN '1' ELSE '0' "
        f"END), '')"
    )


def _md5_half_le(args: list[str], first_half: bool) -> str:
    """md5_number_lower/upper: UBIGINT halves of md5(s), LITTLE-ENDIAN
    byte interpretation (measured: lower = LE(bytes 8..16), upper =
    LE(bytes 0..8)). Byte-swap the hex pairs, then conv base-16; rides
    DECIMAL(20,0) — UBIGINT exceeds BIGINT's range."""
    if len(args) != 1:
        raise UnsupportedDialect("md5_number_* expects one argument")
    h = f"md5({args[0]})"
    start = 1 if first_half else 17
    pairs = ", ".join(
        f"substring({h}, {start + 2 * i}, 2)" for i in reversed(range(8))
    )
    return f"CAST(conv(concat({pairs}), 16, 10) AS DECIMAL(20,0))"


def _emit_timezone(args: list[str]) -> str:
    """DuckDB timezone(): 1-arg = UTC offset seconds of the session zone
    (pinned UTC -> 0); 2-arg timezone('tz', naive_ts) interprets the naive
    timestamp IN that zone and yields the session-zone instant (measured:
    timezone('America/New_York', 12:00) = 16:00 UTC) = to_utc_timestamp.
    On a TIMESTAMPTZ input DuckDB CONVERTS instead (instant -> naive wall
    clock in the zone — the ``AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/
    Tokyo'`` round-trip idiom); tz-typed inputs are only produced by a
    timezone() emission here (tz values ride NTZ, SURVEY §1.3), so the
    chain is detected textually and flipped to from_utc_timestamp
    (measured r12: matches DuckDB's chain value)."""
    if len(args) == 1:
        return (
            f"(CASE WHEN ({args[0]}) IS NULL THEN NULL "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    if len(args) == 2:
        if _tz_input_aware(args[1]):
            # tz-aware -> naive wall clock: DuckDB reports TIMESTAMP
            return (
                f"CAST(from_utc_timestamp({args[1]}, {args[0]}) "
                f"AS TIMESTAMP_NTZ)"
            )
        # naive -> instant: DuckDB reports TIMESTAMP WITH TIME ZONE (LTZ)
        return f"to_utc_timestamp({args[1]}, {args[0]})"
    raise UnsupportedDialect("timezone expects 1 or 2 arguments")


def _tz_input_aware(expr: str) -> bool:
    """Whether a timezone() operand is tz-aware — alternates down a chain:
    to_utc_timestamp yields an aware instant, from_utc_timestamp a naive
    wall clock, and a (not-yet-emitted) timezone()/marker call flips
    whatever its own operand is. Atomic operands are naive (tz values
    ride NTZ, SURVEY §1.3)."""
    s = expr.strip()
    while s.startswith("("):
        close = close_of(s, 0)
        if close == len(s):
            s = s[1:-1].strip()
        else:
            break
    # explicit tz-typed shapes: TIMESTAMP_LTZ literal/cast (the rewritten
    # TIMESTAMPTZ), now()/current_timestamp, make_timestamptz
    if re.match(
        r"^(?:TIMESTAMP_LTZ\s*'|CAST\s*\(.*\s+AS\s+TIMESTAMP_LTZ\s*\)$"
        r"|.*::\s*TIMESTAMP_LTZ$|(?:now|current_timestamp"
        r"|__duck_make_tstz|make_timestamptz)\s*\("
        # the bare keyword form (no parens) is TIMESTAMPTZ in DuckDB too:
        # CAST(current_timestamp AS VARCHAR) renders '+00' (ADVICE r13;
        # current_localtimestamp() stays naive — measured TIMESTAMP)
        r"|current_timestamp\s*$)",
        s, re.IGNORECASE | re.DOTALL,
    ):
        return True
    m = re.match(
        r"^(to_utc_timestamp|from_utc_timestamp|__duck_timezone|timezone)"
        r"\s*\(",
        s, re.IGNORECASE,
    )
    if not m:
        return False
    fn = m.group(1).lower()
    if fn == "to_utc_timestamp":
        return True
    if fn == "from_utc_timestamp":
        return False
    close = close_of(s, m.end() - 1)
    if close == -1:
        return False
    args = split_top(s[m.end(): close - 1])
    if len(args) != 2:
        return False
    return not _tz_input_aware(args[1])


_TRUNC_DATEISH_RE = re.compile(
    r"(?:^\s*DATE\s*'|::\s*DATE\s*\)?\s*$|AS\s+DATE\s*\)\s*$)", re.IGNORECASE
)


def _emit_date_trunc(args: list[str]) -> str:
    """date_trunc with DuckDB's extra parts (decade/century/millennium —
    floor-division convention, measured: century of 2024 -> 2000-01-01)
    and DATE return type for date-typed args (textual detection, same as
    time_bucket)."""
    if len(args) != 2:
        raise UnsupportedDialect("date_trunc expects (part, source)")
    part = args[0].strip().strip("'").lower()
    src = args[1]
    if part in ("decade", "century", "millennium"):
        n = {"decade": 10, "century": 100, "millennium": 1000}[part]
        return f"make_date((year({src}) div {n}) * {n}, 1, 1)"
    out = f"date_trunc('{part}', {src})"
    # DuckDB returns DATE for day-or-coarser parts REGARDLESS of input
    # type (measured: week of a TIMESTAMP is a DATE); sub-day parts stay
    # timestamps
    if part in ("day", "week", "month", "quarter", "year", "isoyear"):
        return f"CAST({out} AS DATE)"
    return out


def _emit_epoch_ms_dual(args: list[str]) -> str:
    """DuckDB epoch_ms is bidirectional: an INTEGER argument builds a
    timestamp from epoch millis, a timestamp argument extracts millis.
    Static dispatch on the argument text (numeric literal / int-cast →
    build); non-literal integer COLUMNS take the extract path — pass
    timestamp_millis(col) explicitly for the build direction."""
    if len(args) != 1:
        raise UnsupportedDialect("epoch_ms expects one argument")
    a = args[0].strip()
    if re.fullmatch(r"-?\d+", a) or re.search(
        r"::\s*(?:U?BIGINT|INTEGER|INT)\s*$|AS\s+(?:U?BIGINT|INTEGER|INT)\s*\)\s*$",
        a,
        re.IGNORECASE,
    ):
        # DuckDB's build direction returns naive TIMESTAMP
        return f"CAST(timestamp_millis(CAST({a} AS BIGINT)) AS TIMESTAMP_NTZ)"
    return f"unix_millis(CAST({a} AS TIMESTAMP_LTZ))"


def _emit_millennium(args: list[str]) -> str:
    # ordinal millennium (measured: 2024 -> 3); century() uses the same
    # (y-1) div convention
    return f"CAST(((year({args[0]}) - 1) div 1000) + 1 AS BIGINT)"


def _emit_make_time(args: list[str]) -> str:
    """TIME rides VARCHAR 'HH:MM:SS[.ffffff]' in this engine (fn_time);
    make_time(h, m, s_with_fraction) formats the same text DuckDB prints."""
    if len(args) != 3:
        raise UnsupportedDialect("make_time expects (hour, minute, seconds)")
    h, m, sec = args
    return (
        f"concat(lpad(CAST({h} AS STRING), 2, '0'), ':', "
        f"lpad(CAST({m} AS STRING), 2, '0'), ':', "
        f"lpad(CAST(CAST(floor({sec}) AS INT) AS STRING), 2, '0'), "
        f"CASE WHEN ({sec}) = floor({sec}) THEN '' ELSE "
        f"concat('.', rpad(CAST(CAST(round((({sec}) - floor({sec})) * 1000000) "
        f"AS INT) AS STRING), 6, '0')) END)"
    )


def _emit_list_resize(args: list[str]) -> str:
    """list_resize(l, n [, fill]): truncate or pad. The pad rides
    try_element_at PAST the end for a correctly-TYPED NULL (array_repeat
    of a bare NULL is void-typed and breaks the concat); explicit fill
    values substitute directly."""
    if len(args) not in (2, 3):
        raise UnsupportedDialect("list_resize expects (list, size [, fill])")
    lst, n = args[0], args[1]
    fill = args[2] if len(args) == 3 else f"try_element_at({lst}, size({lst}) + __i)"
    # Spark sequence(1, 0) counts DOWN ([1, 0]) — the pad must be emitted
    # only when the target is longer than the list
    pad = (
        f"(CASE WHEN ({n}) > size({lst}) THEN "
        f"transform(sequence(1, ({n}) - size({lst})), __i -> {fill}) "
        f"ELSE slice({lst}, 1, 0) END)"
    )
    return f"concat(slice({lst}, 1, {n}), {pad})"


def _emit_map_extract(args: list[str]) -> str:
    """DuckDB map extraction returns a LIST: [value] on hit, [] on miss
    (measured) — not the bare value Spark's element_at gives."""
    if len(args) != 2:
        raise UnsupportedDialect("map_extract expects (map, key)")
    m, k = args
    return (
        f"(CASE WHEN map_contains_key({m}, {k}) "
        f"THEN array(element_at({m}, {k})) ELSE array() END)"
    )


def _emit_struct_extract(args: list[str]) -> str:
    if len(args) != 2:
        raise UnsupportedDialect("struct_extract expects (struct, 'name')")
    km = re.fullmatch(r"'(\w+)'", args[1].strip())
    if not km:
        raise UnsupportedDialect("struct_extract needs a literal field name")
    return f"(({args[0]}).{km.group(1)})"


def _emit_list_agg_named(args: list[str], name: str) -> str:
    return _emit_list_aggregate([args[0], f"'{name}'"])


def _emit_json_extract(args: list[str]) -> str:
    """json_extract(j, 'path') — JSON-typed result, same semantics as the
    ``->`` operator (string leaves keep quotes, json-null → SQL NULL)."""
    if len(args) != 2:
        raise UnsupportedDialect("json_extract expects (json, path)")
    path = _json_path_of(args[1])
    if path is None:
        raise UnsupportedDialect("json_extract needs a literal path")
    p = path.replace("'", "''")
    return (
        f"nullif(to_json(variant_get(parse_json({args[0]}), '{p}')), 'null')"
    )


_JSON_TX_TYPES = {
    "VARCHAR": "STRING", "TEXT": "STRING", "STRING": "STRING",
    "JSON": "STRING",
    "TINYINT": "TINYINT", "SMALLINT": "SMALLINT", "INTEGER": "INT",
    "INT": "INT", "BIGINT": "BIGINT", "HUGEINT": "DECIMAL(38,0)",
    "UTINYINT": "SMALLINT", "USMALLINT": "INT", "UINTEGER": "BIGINT",
    "UBIGINT": "DECIMAL(20,0)",
    "FLOAT": "FLOAT", "REAL": "FLOAT", "DOUBLE": "DOUBLE",
    "BOOLEAN": "BOOLEAN", "DATE": "DATE", "TIMESTAMP": "TIMESTAMP",
    "TIME": "STRING",
}


def _json_tx_ddl(node) -> str:
    """DuckDB json_transform structure node -> Spark DDL type text."""
    if isinstance(node, str):
        t = node.strip().upper()
        m = re.match(r"^(?:DECIMAL|NUMERIC)\s*\(\s*\d+\s*(?:,\s*\d+)?\s*\)$", t)
        if m:
            return t.replace(" ", "")
        out = _JSON_TX_TYPES.get(t)
        if out is None:
            raise UnsupportedDialect(
                f"json_transform: unsupported leaf type {node!r}"
            )
        return out
    if isinstance(node, list):
        if len(node) != 1:
            raise UnsupportedDialect(
                "json_transform: array structure must have one element"
            )
        return f"ARRAY<{_json_tx_ddl(node[0])}>"
    if isinstance(node, dict):
        fields = ", ".join(
            f"`{k}`: {_json_tx_ddl(v)}" for k, v in node.items()
        )
        return f"STRUCT<{fields}>"
    raise UnsupportedDialect("json_transform: unsupported structure node")


def _emit_json_transform(args: list[str], strict: bool = False) -> str:
    """DuckDB json_transform(json, structure) -> typed STRUCT/LIST via
    Spark from_json with the structure literal compiled to a DDL schema
    (measured r12: uncastable leaves go NULL in the non-strict form —
    from_json's PERMISSIVE mode matches; the root '"TYPE"' form is a
    plain cast). The structure must be a string LITERAL (DuckDB allows
    expressions; no Spark twin exists for a runtime schema). The strict
    form raises — DuckDB errors on any failed leaf cast, which
    from_json cannot reproduce leaf-by-leaf."""
    if len(args) != 2:
        raise UnsupportedDialect("json_transform expects (json, structure)")
    if strict:
        raise UnsupportedDialect(
            "json_transform_strict is not supported; use json_transform "
            "(NULL on failed leaf casts)"
        )
    sm = re.match(r"^\s*'((?:[^']|'')*)'\s*$", args[1])
    if not sm:
        raise UnsupportedDialect(
            "json_transform: the structure argument must be a string "
            "literal"
        )
    import json as _json

    try:
        node = _json.loads(sm.group(1).replace("''", "'"))
    except ValueError as exc:
        raise UnsupportedDialect(
            f"json_transform: unparsable structure literal ({exc})"
        ) from None
    if isinstance(node, str):
        if node.strip().upper() in ("VARCHAR", "TEXT", "STRING", "JSON"):
            # DuckDB minifies the JSON text for the string root form
            return f"to_json(parse_json({args[0]}))"
        leaf = _json_tx_ddl(node)
        return f"CAST({args[0]} AS {leaf})"
    ddl = _json_tx_ddl(node)
    return f"from_json({args[0]}, '{ddl}')"


def _emit_json_quote(args: list[str]) -> str:
    # to_json(array(x)) = '[<json of x>]' — strip the brackets (measured:
    # json_quote('abc') = '"abc"', json_quote(1.5) = '1.5')
    a = f"to_json(array({args[0]}))"
    return f"substring({a}, 2, length({a}) - 2)"


def _emit_json_array(args: list[str]) -> str:
    """Per-element JSON then assemble — a single to_json(array(...)) would
    let Spark coerce mixed element types to one type (measured: duck
    json_array(1, 'x') = '[1,"x"]', the coerced form gives '["1","x"]').
    NULL elements render as json null (concat_ws would drop them)."""
    if not args or (len(args) == 1 and not args[0].strip()):
        return "'[]'"  # json_array() = empty JSON array (measured)
    parts = []
    for a in args:
        one = f"to_json(array({a}))"
        parts.append(
            f"coalesce(substring({one}, 2, length({one}) - 2), 'null')"
        )
    return f"concat('[', concat_ws(',', {', '.join(parts)}), ']')"


def _emit_json_object(args: list[str]) -> str:
    """json_object(k1, v1, ...) with literal keys → to_json(named_struct)
    — a map() form would coerce mixed value types to one type, losing
    JSON number-ness (measured: {"k":"txt","m":2} keeps the int)."""
    if len(args) % 2:
        raise UnsupportedDialect("json_object expects key/value pairs")
    for k in args[::2]:
        if not re.fullmatch(r"'(?:[^']|'')*'", k.strip(), re.DOTALL):
            raise UnsupportedDialect("json_object needs literal keys")
    return f"to_json(named_struct({', '.join(a.strip() for a in args)}))"


def _emit_json_type(args: list[str]) -> str:
    """DuckDB json_type names (measured): OBJECT/ARRAY/VARCHAR/BOOLEAN/
    DOUBLE, UBIGINT for non-negative ints vs BIGINT for negatives, 'NULL'
    for json null, SQL NULL for missing paths. Derived from
    schema_of_variant + a sign check on the extracted text."""
    if len(args) == 1:
        j, path = args[0], "$"
    elif len(args) == 2:
        p2 = _json_path_of(args[1])
        if p2 is None:
            raise UnsupportedDialect("json_type needs a literal path")
        j, path = args[0], p2
    else:
        raise UnsupportedDialect("json_type expects (json [, path])")
    p = path.replace("'", "''")
    v = f"variant_get(parse_json({j}), '{p}')"
    sv = f"schema_of_variant({v})"
    txt = f"to_json({v})"
    return (
        f"(CASE WHEN {txt} IS NULL THEN NULL "
        f"WHEN {sv} = 'VOID' THEN 'NULL' "
        f"WHEN {sv} LIKE 'OBJECT%' THEN 'OBJECT' "
        f"WHEN {sv} LIKE 'ARRAY%' THEN 'ARRAY' "
        f"WHEN {sv} = 'STRING' THEN 'VARCHAR' "
        f"WHEN {sv} = 'BOOLEAN' THEN 'BOOLEAN' "
        f"WHEN {sv} = 'BIGINT' THEN "
        f"(CASE WHEN startswith({txt}, '-') THEN 'BIGINT' ELSE 'UBIGINT' END) "
        f"ELSE 'DOUBLE' END)"
    )


def _emit_unsupported_json(args: list[str]) -> str:
    raise UnsupportedDialect("this JSON function has no exact Spark equivalent")


def _emit_json_merge(args: list[str]) -> str:
    """json_merge_patch(a, b, ...) — left-to-right fold over the binary
    Arrow UDF (functions/json_udfs.py), matching DuckDB's n-ary NULL fold
    (a NULL right operand wipes, a NULL left yields the right)."""
    if len(args) < 2:
        raise UnsupportedDialect(
            "json_merge_patch requires at least two parameters"
        )
    acc = args[0]
    for nxt in args[1:]:
        acc = f"duck_json_merge_patch({acc}, {nxt})"
    return acc


def _emit_array_to_string(args: list[str]) -> str:
    """array_join, except DuckDB returns NULL for an EMPTY list (measured:
    array_to_string([], '|') IS NULL; Spark's array_join gives '')."""
    joined = f"array_join({', '.join(args)})"
    return f"(CASE WHEN size({args[0]}) = 0 THEN NULL ELSE {joined} END)"


_ALIAS_CALL_RE = re.compile(r"\balias\s*\(", re.IGNORECASE)


def _alias_display(arg: str) -> "str | None":
    """DuckDB display name of an alias() argument — identifiers and
    literals only (measured: t.c -> 'c', 42 -> '42', NULL -> 'NULL',
    'hello' -> "'hello'" quotes kept); compound expressions need
    DuckDB's AST printer and return None (the caller leaves the call
    for the marker pass's clean raise)."""
    a = arg.strip()
    if re.fullmatch(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*", a):
        return a.split(".")[-1]
    if re.fullmatch(r"-?\d+(?:\.\d+)?", a) or a.upper() == "NULL":
        return a
    if re.fullmatch(r"'(?:[^']|'')*'", a):
        return a
    return None


def _rewrite_alias_fn(sql: str) -> str:
    """DuckDB ``alias(expr)`` returns the SELECT ITEM's output name as a
    string (measured): with an explicit/implicit alias the user name wins
    (``alias(c1) AS v`` -> 'v'); a bare whole-item call returns the
    argument's display name and names the column ``alias(arg)``; NESTED
    calls (``upper(alias(c1))``) always use the argument's display name.
    Identifiers/literals handled; compound arguments keep the documented
    clean raise (marker pass)."""
    if not _ALIAS_CALL_RE.search(sql):
        return sql
    while True:
        mask = literal_mask(sql)
        m = None
        for cand in _ALIAS_CALL_RE.finditer(sql):
            # skip string literals AND the backticked `alias(...)` column
            # names this pass itself emits
            if not mask[cand.start()] and (
                cand.start() == 0 or sql[cand.start() - 1] != "`"
            ):
                m = cand
                break
        if m is None:
            return sql
        close = close_of(sql, m.end() - 1)
        if close == -1:
            return sql
        arg = sql[m.end() : close - 1]
        disp = _alias_display(arg)
        if disp is None:
            return sql  # compound: leave for the marker raise
        lit = "'" + disp.replace("'", "''") + "'"
        before = sql[: m.start()].rstrip()
        after = sql[close:]
        whole_item_start = (
            not before
            or before.endswith(",")
            or re.search(r"\bSELECT(\s+DISTINCT)?$", before, re.IGNORECASE)
        )
        am = re.match(
            r"\s*(AS\s+)?([A-Za-z_]\w*)", after, re.IGNORECASE
        )
        boundary = re.match(r"\s*(,|$|FROM\b)", after, re.IGNORECASE)
        # the candidate token is a user alias only with an explicit AS,
        # or when a select-item boundary follows it — expression
        # continuations (alias(c1) IS NULL / IN (...) / BETWEEN ...)
        # must fall through to the nested-call branch
        is_user_alias = bool(am) and am.group(2).upper() not in (
            "FROM", "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION",
            "WINDOW", "QUALIFY", "IS", "IN", "NOT", "LIKE", "ILIKE", "AND",
            "OR", "BETWEEN", "COLLATE",
        ) and (
            bool(am.group(1))
            or bool(re.match(
                r"\s*(,|$|FROM\b|WHERE\b|GROUP\b|ORDER\b|LIMIT\b|"
                r"HAVING\b|UNION\b|WINDOW\b|QUALIFY\b)",
                after[am.end():], re.IGNORECASE,
            ))
        )
        if whole_item_start and is_user_alias:
            # whole select item WITH a user alias: the user name wins
            sql = sql[: m.start()] + "'" + am.group(2) + "' " + sql[close:]
            continue
        if whole_item_start and boundary:
            # bare whole item: display-name value, duck-style column name
            sql = (
                sql[: m.start()]
                + f"{lit} AS `alias({arg.strip()})`"
                + sql[close:]
            )
            continue
        # nested: just the display-name literal
        sql = sql[: m.start()] + lit + sql[close:]


def _emit_alias(args: list[str]) -> str:
    """alias(expr): DuckDB returns the expression's DISPLAY NAME as a
    string (measured: bare column -> its name, t.c -> leaf 'c',
    42 -> '42', 4.5 -> '4.5', NULL -> 'NULL', 'hello' -> "'hello'"
    with quotes kept). Identifiers and literals are textually knowable
    and emitted as that literal; arbitrary expressions would need
    DuckDB's own AST printer ('(c1 + 1)' canonical spacing) and keep
    the documented clean raise."""
    if len(args) != 1:
        raise UnsupportedDialect("alias expects one argument")
    a = args[0].strip()
    if re.fullmatch(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*", a):
        leaf = a.split(".")[-1]
        return "'" + leaf + "'"
    if re.fullmatch(r"-?\d+(?:\.\d+)?", a) or a.upper() == "NULL":
        return "'" + a + "'"
    if re.fullmatch(r"'(?:[^']|'')*'", a):
        # string literal: duck keeps the quotes in the display name
        inner = a
        return "'" + inner.replace("'", "''") + "'"
    raise UnsupportedDialect(
        "alias() of a compound expression needs DuckDB's AST printer; "
        "supported: identifiers and literals"
    )


def _emit_geomean(args: list[str]) -> str:
    return f"exp(avg(ln({args[0]})))"


def _emit_md5_number(args: list[str]) -> str:
    """md5_number(s): DuckDB's HUGEINT (SIGNED 128-bit) little-endian
    interpretation of all 16 md5 bytes (measured: value = signed(lower) *
    2^64 + upper, with lower = LE(bytes 8..16) = md5_number_lower and
    upper = LE(bytes 0..8) = md5_number_upper; 'abc' → 1.5219…e38,
    'world' → −3.2950…e37). The signed value fits DECIMAL(38,0) iff
    |v| < 1e38 (~59% of the hash space) — composable values are computed
    exactly from the half emitters, TRUE overflow raises at runtime with
    the halves as the escape hatch (r09 verdict task 8; previously every
    call raised at translate time)."""
    if len(args) != 1:
        raise UnsupportedDialect("md5_number expects one argument")
    lo = _md5_half_le(args, False)  # LE(bytes 8..16) = bits 64..127
    up = _md5_half_le(args, True)  # LE(bytes 0..8)  = bits 0..63
    two64 = "CAST(18446744073709551616 AS DECIMAL(38,0))"
    signed_lo = (
        f"(CASE WHEN {lo} >= 9223372036854775808 "
        f"THEN CAST({lo} AS DECIMAL(38,0)) - {two64} "
        f"ELSE CAST({lo} AS DECIMAL(38,0)) END)"
    )
    # |v| < 1e38 boundaries, exact: divmod(±(1e38-1), 2^64)
    fits = (
        f"(({signed_lo} < 5421010862427522170 OR "
        f"({signed_lo} = 5421010862427522170 AND "
        f"{up} <= 687399551400673279)) AND "
        f"({signed_lo} > -5421010862427522171 OR "
        f"({signed_lo} = -5421010862427522171 AND "
        f"{up} >= 17759344522308878337)))"
    )
    val = f"({signed_lo} * {two64} + CAST({up} AS DECIMAL(38,0)))"
    return (
        f"(CASE WHEN ({args[0]}) IS NULL THEN CAST(NULL AS DECIMAL(38,0)) "
        f"WHEN {fits} THEN {val} "
        f"ELSE CAST(raise_error('md5_number: HUGEINT value exceeds "
        f"DECIMAL(38) - use md5_number_lower/md5_number_upper') "
        f"AS DECIMAL(38,0)) END)"
    )


def _emit_unsupported_fn(args: list[str]) -> str:
    raise UnsupportedDialect(
        "this DuckDB function has no exact Spark equivalent "
        "(alias family)"
    )


def _emit_unsupported_introspect(args: list[str]) -> str:
    raise UnsupportedDialect(
        "engine-introspection or unrepresentable-type function "
        "(stats/vector_type/in_search_path/txid_current/create_sort_key/"
        "bit_position)"
    )


# ---- round-8 batch-3 emitters (semantics measured against DuckDB 1.x) ----


def _emit_bare_aggregate(args: list[str]) -> str:
    """Bare aggregate()/array_aggregate(): DuckDB's (list, 'fname'[, ...])
    form routes to the list_aggregate emitter; Spark's native
    (expr, start, merge[, finish]) lambda form — which EARLIER rewrite
    passes emit into the statement — must round-trip verbatim."""
    if len(args) >= 2 and re.fullmatch(r"\s*'[^']*'\s*", args[1]):
        return _emit_list_aggregate(args)
    return f"aggregate({', '.join(args)})"


def _emit_bare_reduce(args: list[str]) -> str:
    """Bare reduce(): DuckDB's 2-arg (list, lambda) folds from the first
    element (list_reduce semantics); Spark's 3/4-arg form passes through."""
    if len(args) == 2:
        return _emit_list_reduce(args)
    return f"reduce({', '.join(args)})"


def _emit_jaccard(args: list[str]) -> str:
    """Character-SET Jaccard similarity, case-sensitive (measured:
    jaccard('aab','ab') = 1.0, jaccard('ab','AB') = 0.0). DuckDB errors on
    empty inputs; here 0/0 yields NULL instead."""
    if len(args) != 2:
        raise UnsupportedDialect("jaccard expects (s1, s2)")
    chars = [
        f"array_distinct(filter(split({s}, ''), __c -> __c <> ''))" for s in args
    ]
    return (
        f"(CAST(size(array_intersect({chars[0]}, {chars[1]})) AS DOUBLE)"
        f" / size(array_union({chars[0]}, {chars[1]})))"
    )


def _emit_constant_or_null(args: list[str]) -> str:
    """constant_or_null(v, c1[, c2...]): v, unless ANY ci is NULL."""
    if len(args) < 2:
        raise UnsupportedDialect("constant_or_null expects (value, cond...)")
    cond = " OR ".join(f"(({c}) IS NULL)" for c in args[1:])
    return f"(CASE WHEN {cond} THEN NULL ELSE ({args[0]}) END)"


def _emit_decode(args: list[str]) -> str:
    """DuckDB decode(blob) -> VARCHAR is UTF-8 decoding."""
    if len(args) != 1:
        raise UnsupportedDialect("decode expects one BLOB argument")
    return f"decode({args[0]}, 'UTF-8')"


def _emit_get_bit(args: list[str]) -> str:
    """BIT values are validated '0'/'1' strings in this engine (see
    _emit_bit); get_bit indexes from the MOST significant bit, 0-based."""
    if len(args) != 2:
        raise UnsupportedDialect("get_bit expects (bits, index)")
    b, i = args
    return f"CAST(substring({b}, ({i}) + 1, 1) AS INT)"


def _emit_set_bit(args: list[str]) -> str:
    if len(args) != 3:
        raise UnsupportedDialect("set_bit expects (bits, index, value)")
    b, i, v = args
    return (
        f"concat(substring({b}, 1, ({i})), CAST(({v}) AS STRING), "
        f"substring({b}, ({i}) + 2))"
    )


def _emit_list_dist(args: list[str]) -> str:
    """Euclidean distance between equal-length numeric lists."""
    if len(args) != 2:
        raise UnsupportedDialect("list_distance expects (list, list)")
    a, b = args
    return (
        f"sqrt(aggregate(zip_with({a}, {b}, "
        f"(__x, __y) -> CAST(__x - __y AS DOUBLE) * (__x - __y)), "
        f"CAST(0.0 AS DOUBLE), (__a, __v) -> __a + __v))"
    )


def _emit_cross3(args: list[str]) -> str:
    """3-element cross product (DuckDB array_cross_product)."""
    if len(args) != 2:
        raise UnsupportedDialect("array_cross_product expects (list, list)")
    a, b = args

    def g(arr: str, i: int) -> str:
        return f"element_at({arr}, {i})"

    return (
        f"array({g(a, 2)} * {g(b, 3)} - {g(a, 3)} * {g(b, 2)}, "
        f"{g(a, 3)} * {g(b, 1)} - {g(a, 1)} * {g(b, 3)}, "
        f"{g(a, 1)} * {g(b, 2)} - {g(a, 2)} * {g(b, 1)})"
    )


def _emit_bar(args: list[str]) -> str:
    """DuckDB bar(x, min, max[, width=80]): eighth-block unicode bar.
    Measured quirks replicated exactly: partial blocks are FLOOR(frac*8)
    eighths ('▏▎▍▌▋▊▉'); the space padding is computed against the UTF-8
    BYTE length (each block char is 3 bytes), so bar(3,0,10,10) is
    '███' + ONE space; min >= max yields all spaces."""
    if len(args) == 3:
        args = args + ["80"]
    if len(args) != 4:
        raise UnsupportedDialect("bar expects (x, min, max[, width])")
    x, mn, mx, w = args
    frac = (
        f"GREATEST(LEAST((CAST(({x}) AS DOUBLE) - ({mn})) / (({mx}) - ({mn})),"
        f" CAST(1.0 AS DOUBLE)), CAST(0.0 AS DOUBLE))"
    )
    blocks = f"({frac} * ({w}))"
    full = f"CAST(FLOOR({blocks}) AS INT)"
    e = f"CAST(FLOOR(({blocks} - FLOOR({blocks})) * 8) AS INT)"
    partial = f"CASE WHEN {e} > 0 THEN substring('▏▎▍▌▋▊▉', {e}, 1) ELSE '' END"
    pad = (
        f"repeat(' ', GREATEST(CAST(({w}) AS INT)"
        f" - 3 * ({full} + IF({e} > 0, 1, 0)), 0))"
    )
    return (
        f"(CASE WHEN ({mx}) > ({mn}) THEN "
        f"concat(repeat('█', {full}), {partial}, {pad}) "
        f"ELSE repeat(' ', CAST(({w}) AS INT)) END)"
    )


def _emit_duck_bin(args: list[str]) -> str:
    """DuckDB bin()/to_binary(): numeric -> minimal binary digits (Spark
    bin matches exactly); STRING input is the per-byte 8-bit pattern of
    the UTF-8 encoding — computed here for literals; non-literal string
    columns fall through to Spark bin's numeric semantics (declared
    divergence, COVERAGE.md)."""
    if len(args) != 1:
        raise UnsupportedDialect("bin expects one argument")
    (x,) = args
    m = re.fullmatch(r"\s*'([^']*)'\s*", x)
    if m:
        bits = "".join(format(byte, "08b") for byte in m.group(1).encode("utf-8"))
        return f"'{bits}'"
    return f"bin({x})"


def _emit_from_binary(args: list[str]) -> str:
    """Parse a '0'/'1' string into a BLOB (measured: from_binary('1010')
    -> x'0A', i.e. ceil(len/8) bytes, left-zero-padded). conv is 64-bit —
    longer inputs raise at runtime instead of silently overflowing."""
    if len(args) != 1:
        raise UnsupportedDialect("from_binary expects one argument")
    (x,) = args
    return (
        f"CASE WHEN length({x}) > 64 THEN "
        f"CAST(raise_error('from_binary: input exceeds 64 bits') AS BINARY) "
        f"ELSE unhex(lpad(conv(({x}), 2, 16), "
        f"CAST(2 * ceil(length({x}) / 8.0) AS INT), '0')) END"
    )


_ROUND5_EMITTERS = {
    "__duck_epoch_sec": _emit_epoch_sec,
    "__duck_rsort": _emit_rsort,
    "__duck_monthname": _emit_monthname,
    "__duck_dayname": _emit_dayname,
    "__duck_isodow": _emit_isodow,
    "__duck_to_base": _emit_to_base,
    "__duck_even": _emit_even,
    "__duck_sign": _emit_sign,
    "__duck_signbit": _emit_signbit,
    "__duck_isfinite": _emit_isfinite,
    "__duck_isinf": _emit_isinf,
    "__duck_age": _emit_age,
    "__duck_time_bucket": _emit_time_bucket,
    "__duck_list_aggregate": _emit_list_aggregate,
    "__duck_list_unique": _emit_list_unique,
    "__duck_regexp_extract": _emit_regexp_extract,
    "__duck_date_diff": _emit_date_diff,
    "__duck_epoch_ms": _emit_epoch_ms,
    "__duck_epoch_us": _emit_epoch_us,
    "__duck_string_agg": _emit_string_agg,
    "__duck_arg_min": lambda a: _emit_arg_minmax("min_by", a),
    "__duck_arg_max": lambda a: _emit_arg_minmax("max_by", a),
    # arg_*_null: Spark's native NULL-keeping semantics, via marker so the
    # max_by/min_by -> arg_max/arg_min rename cannot re-capture them
    "__duck_arg_max_keepnull": lambda a: f"max_by({a[0]}, {a[1]})",
    "__duck_arg_min_keepnull": lambda a: f"min_by({a[0]}, {a[1]})",
    "__duck_list_plain": _emit_list_plain,
    **{
        f"__duck_regr_{f}": (
            lambda a, f=f: f"regr_{f}(CAST(({a[0]}) AS DOUBLE), "
            f"CAST(({a[1]}) AS DOUBLE))"
        )
        for f in ("avgx", "avgy", "slope", "intercept", "r2", "sxx", "syy", "sxy")
    },
    "__duck_sem": _emit_sem,
    "__duck_count0": _emit_count0,
    "__duck_product": _emit_product,
    "__duck_kahan_sum": _emit_kahan_sum,
    "__duck_fdiv": _emit_fdiv,
    "__duck_fmod": _emit_fmod,
    "__duck_strip_accents": _emit_strip_accents,
    "__duck_grade_up": _emit_grade_up,
    "__duck_list_zip": _emit_list_zip,
    "__duck_list_has_all": _emit_list_has_all,
    "__duck_list_any_value": _emit_list_any_value,
    "__duck_pop_back": _emit_pop_back,
    "__duck_pop_front": _emit_pop_front,
    "__duck_list_select": _emit_list_select,
    "__duck_list_where": _emit_list_where,
    "__duck_list_reduce": _emit_list_reduce,
    "__duck_json_valid": _emit_json_valid,
    "__duck_json_arr_len": _emit_json_arr_len,
    "__duck_map_ctor": _emit_map_ctor,
    "__duck_struct_pack": _emit_struct_pack,
    "__duck_xor": lambda a: f"(({a[0]}) ^ ({a[1]}))",
    "__duck_format": _emit_format,
    "__duck_dayofweek": lambda a: f"CAST(dayofweek({a[0]}) - 1 AS BIGINT)",
    "__duck_yearweek": lambda a: (
        f"CAST(extract(YEAROFWEEK FROM {a[0]}) * 100 "
        f"+ weekofyear({a[0]}) AS BIGINT)"
    ),
    "__duck_century": lambda a: f"CAST(((year({a[0]}) - 1) div 100) + 1 AS BIGINT)",
    "__duck_decade": lambda a: f"CAST(year({a[0]}) div 10 AS BIGINT)",
    "__duck_epoch_ns": lambda a: f"(unix_micros(CAST({a[0]} AS TIMESTAMP_LTZ)) * 1000)",
    # DuckDB micro/millisecond are SUB-MINUTE components (seconds included;
    # measured: 30.123456s -> 30123456 / 30123)
    "__duck_microsecond": lambda a: (
        f"pmod(unix_micros(CAST({a[0]} AS TIMESTAMP_LTZ)), 60000000)"
    ),
    "__duck_millisecond": lambda a: (
        f"(pmod(unix_micros(CAST({a[0]} AS TIMESTAMP_LTZ)), 60000000) div 1000)"
    ),
    "__duck_date_sub": _emit_date_sub3,
    "__duck_sha256": lambda a: f"sha2({a[0]}, 256)",
    "__duck_encode": lambda a: (
        f"encode({a[0]}, 'UTF-8')" if len(a) == 1 else f"encode({a[0]}, {a[1]})"
    ),
    "__duck_ltrim": lambda a: _emit_trim_family("ltrim", a),
    "__duck_rtrim": lambda a: _emit_trim_family("rtrim", a),
    "__duck_trim": lambda a: _emit_trim_family("trim", a),
    "__duck_like_escape": lambda a: _emit_like_escape(a),
    "__duck_ilike_escape": lambda a: _emit_like_escape(a, lower=True),
    "__duck_not_like_escape": lambda a: _emit_like_escape(a, neg=True),
    "__spark_map": lambda a: f"map({', '.join(a)})",
    "__duck_to_days": lambda a: _emit_interval_builder("days", a),
    "__duck_to_hours": lambda a: _emit_interval_builder("hours", a),
    "__duck_to_minutes": lambda a: _emit_interval_builder("minutes", a),
    "__duck_to_seconds": lambda a: _emit_interval_builder("seconds", a),
    "__duck_to_millis": lambda a: _emit_interval_builder("millis", a),
    "__duck_to_micros": lambda a: _emit_interval_builder("micros", a),
    "__duck_to_years": lambda a: _emit_interval_builder("years", a),
    "__duck_to_months": lambda a: _emit_interval_builder("months", a),
    "__duck_list_dot": _emit_list_dot,
    "__duck_list_cos": _emit_list_cos,
    "__duck_quantile_disc": _emit_quantile_disc,
    "__duck_histogram": _emit_histogram,
    # round-8
    "__duck_parse_path": _emit_parse_path,
    "__duck_parse_dirpath": _emit_parse_dirpath,
    "__duck_parse_dirname": _emit_parse_dirname,
    "__duck_parse_filename": _emit_parse_filename,
    "__duck_format_bytes": _emit_format_bytes,
    "__duck_format_dec_size": _emit_format_dec_size,
    "__duck_regexp_escape": _emit_regexp_escape,
    "__duck_tz_part": _emit_tz_part,
    "__duck_julian": _emit_julian,
    "__duck_era": _emit_era,
    "__duck_make_tstz": _emit_make_tstz,
    "__duck_typeof": _emit_typeof,
    "__duck_pg_typeof": _emit_pg_typeof,
    "__duck_like_escape": lambda a: _emit_like_escape(a, "LIKE", False),
    "__duck_not_like_escape": lambda a: _emit_like_escape(a, "LIKE", True),
    "__duck_ilike_escape": lambda a: _emit_like_escape(a, "ILIKE", False),
    "__duck_not_ilike_escape": lambda a: _emit_like_escape(a, "ILIKE", True),
    "__duck_unsupported_fn": _emit_unsupported_fn,
    "__duck_unsupported_introspect": _emit_unsupported_introspect,
    "__spark_element_at": lambda a: f"element_at({', '.join(a)})",
    "__duck_bare_aggregate": _emit_bare_aggregate,
    "__duck_bare_reduce": _emit_bare_reduce,
    "__duck_jaccard": _emit_jaccard,
    "__duck_constant_or_null": _emit_constant_or_null,
    "__duck_decode": _emit_decode,
    "__duck_get_bit": _emit_get_bit,
    "__duck_set_bit": _emit_set_bit,
    "__duck_list_dist": _emit_list_dist,
    "__duck_cross3": _emit_cross3,
    "__duck_bar": _emit_bar,
    "__duck_bin": _emit_duck_bin,
    "__duck_from_binary": _emit_from_binary,
    "__duck_to_weeks": lambda a: _emit_interval_builder("weeks", a),
    "__duck_to_quarters": lambda a: _emit_interval_builder("quarters", a),
    "__duck_to_centuries": lambda a: _emit_interval_builder("centuries", a),
    "__duck_to_decades": lambda a: _emit_interval_builder("decades", a),
    "__duck_to_millennia": lambda a: _emit_interval_builder("millennia", a),
    "__duck_skewness": _emit_skewness,
    "__duck_kurtosis": _emit_kurtosis,
    "__duck_entropy": _emit_entropy,
    "__duck_mad": _emit_mad,
    "__duck_bitstring_agg": _emit_bitstring_agg,
    "__duck_geomean": _emit_geomean,
    "__duck_array_to_string": _emit_array_to_string,
    "__duck_json_extract": _emit_json_extract,
    "__duck_alias": _emit_alias,
    "__duck_md5_number": _emit_md5_number,
    "__duck_md5_num_lower": lambda a: _md5_half_le(a, False),
    "__duck_md5_num_upper": lambda a: _md5_half_le(a, True),
    "__duck_timezone": _emit_timezone,
    "__duck_isoyear": lambda a: f"CAST(extract(YEAROFWEEK FROM {a[0]}) AS BIGINT)",
    "__duck_date_trunc": _emit_date_trunc,
    "__duck_epoch_ms_dual": _emit_epoch_ms_dual,
    "__duck_millennium": _emit_millennium,
    "__duck_make_time": _emit_make_time,
    "__duck_list_resize": _emit_list_resize,
    "__duck_map_extract": _emit_map_extract,
    "__duck_struct_extract": _emit_struct_extract,
    "__duck_list_sum": lambda a: _emit_list_agg_named(a, "sum"),
    "__duck_list_avg": lambda a: _emit_list_agg_named(a, "avg"),
    "__duck_list_min": lambda a: _emit_list_agg_named(a, "min"),
    "__duck_list_max": lambda a: _emit_list_agg_named(a, "max"),
    "__duck_json_quote": _emit_json_quote,
    "__duck_json_array": _emit_json_array,
    "__duck_json_object": _emit_json_object,
    "__duck_log10_or_base": _emit_log,
    "__duck_gen_series_list": _emit_gen_series_list,
    "__duck_range_list": _emit_range_list,
    "__duck_re_extract_all": _emit_regexp_extract_all,
    "__duck_named_add": _emit_named_arith("+"),
    "__duck_named_sub": _emit_named_arith("-"),
    "__duck_named_mul": _emit_named_arith("*"),
    "__duck_named_div": _emit_divide_named,
    "__duck_greatest1": _emit_one_or_variadic("greatest"),
    "__duck_least1": _emit_one_or_variadic("least"),
    "__duck_trunc_numeric": _emit_trunc_numeric,
    "__duck_json_type": _emit_json_type,
    "__duck_unsupported_json": _emit_unsupported_json,
    "__duck_json_merge": _emit_json_merge,
    "__duck_json_transform": _emit_json_transform,
    "__duck_union_tag": _emit_union_tag,
    "__duck_union_extract": _emit_union_extract,
    "__duck_instr_big": _emit_instr_big,
    "__duck_cardinality": lambda a: f"CAST(size({a[0]}) AS BIGINT)",
    "__duck_leven_big": _emit_leven_big,
    "__duck_array_len": _emit_array_len_big,
    "__duck_strlen_big": _emit_strlen_big,
    "__duck_bitlen_big": _emit_bitlen_big,
    "__duck_dp_year": lambda a: f"CAST(year({a[0]}) AS BIGINT)",
    "__duck_dp_month": lambda a: f"CAST(month({a[0]}) AS BIGINT)",
    "__duck_dp_day": lambda a: f"CAST(day({a[0]}) AS BIGINT)",
    "__duck_dp_hour": lambda a: f"CAST(hour({a[0]}) AS BIGINT)",
    "__duck_dp_minute": lambda a: f"CAST(minute({a[0]}) AS BIGINT)",
    "__duck_dp_second": lambda a: f"CAST(second({a[0]}) AS BIGINT)",
    "__duck_dp_quarter": lambda a: f"CAST(quarter({a[0]}) AS BIGINT)",
    "__duck_dp_dayofyear": lambda a: f"CAST(dayofyear({a[0]}) AS BIGINT)",
    "__duck_dp_week": lambda a: f"CAST(weekofyear({a[0]}) AS BIGINT)",
    "__duck_rank_rn": _mk_rank_big("row_number"),
    "__duck_rank_rk": _mk_rank_big("rank"),
    "__duck_rank_dr": _mk_rank_big("dense_rank"),
    "__duck_rank_nt": _mk_rank_big("ntile"),
    "__duck_json_transform_strict": (
        lambda a: _emit_json_transform(a, strict=True)
    ),
    "__duck_gcd": _emit_gcd,
    "__duck_lcm": _emit_lcm,
    "__duck_hamming": _emit_hamming,
}


def _emit_slice(args: list[str]) -> str:
    """DuckDB list_slice(l, b, e) is INCLUSIVE-END; Spark slice(l, b, n)
    takes a LENGTH. n = e - b + 1 (emitted as arithmetic so non-literal
    bounds work)."""
    if len(args) != 2 + 1:
        raise UnsupportedDialect("list_slice expects (list, begin, end)")
    lst, b, e = args
    return f"slice({lst}, {b}, ({e}) - ({b}) + 1)"


# bounded: every caller passes a literal marker
@functools.cache
def _call_re(marker: str) -> re.Pattern:
    return re.compile(rf"\b{marker}\s*\(")


def _rewrite_balanced_call(sql: str, marker: str, emit) -> str:
    """Replace every `marker(...)` call with emit(top_level_args).

    Emitters flagged ``_window_aware`` additionally consume a trailing
    ``FILTER (WHERE ...)`` and/or ``OVER (spec)`` / ``OVER name`` clause and
    receive it as a second positional argument (a verbatim suffix); their
    expansions contain bare aggregate calls that each need the clause
    attached INSIDE the expression — leaving it after the whole expansion
    is a Spark parse/analysis error (the r08 SPARK-ERR class: product/
    skewness/sem/mad/entropy OVER w)."""
    if marker not in sql:  # the pattern is case-sensitive: exact
        return sql
    rx = _call_re(marker)
    out, i = [], 0
    while True:
        m = rx.search(sql[i:])
        if not m:
            out.append(sql[i:])
            break
        start = i + m.start()
        open_at = i + m.end()
        j = close_of(sql, open_at - 1)
        if j == -1:
            raise UnsupportedDialect("unbalanced parentheses in a call")
        inner = _rewrite_balanced_call(sql[open_at : j - 1], marker, emit)
        args = split_top(inner)
        suffix = ""
        if getattr(emit, "_window_aware", False):
            fm = re.match(r"\s*FILTER\s*\(", sql[j:], re.IGNORECASE)
            if fm:
                fclose = close_of(sql, j + fm.end() - 1)
                if fclose != -1:
                    suffix += " " + sql[j + fm.start() : fclose].strip()
                    j = fclose
            # \b after OVER: an implicit (no-AS) alias starting with
            # "over" (e.g. ``product(x) overall``) must NOT be consumed
            # as a named-window reference (mirrors the FILTER-OVER pass).
            om = re.match(r"\s*OVER\b\s*", sql[j:], re.IGNORECASE)
            if om:
                k = j + om.end()
                if k < len(sql) and sql[k] == "(":
                    oclose = close_of(sql, k)
                    if oclose != -1:
                        suffix += " OVER " + sql[k:oclose]
                        j = oclose
                else:
                    im = re.match(r"[A-Za-z_]\w*", sql[k:])
                    if im:
                        suffix += " OVER " + im.group()
                        j = k + im.end()
        out.append(sql[i:start])
        try:
            out.append(emit(args, suffix) if suffix else emit(args))
        except IndexError:
            # an emitter indexed past the supplied argument list (e.g.
            # json_quote() with zero args) — surface a clean dialect error
            # instead of a raw IndexError traceback
            raise UnsupportedDialect(
                f"{marker.replace('__duck_', '')}: wrong argument count "
                f"({len(args)})"
            ) from None
        i = j
    return "".join(out)


# DuckDB len() is polymorphic (strings AND lists); Spark splits it into
# length() vs size(). No runtime dispatch exists at the SQL-string level, so
# resolve per call site from the argument's shape: list constructors,
# array-returning functions, and known array-typed fixture columns get
# size(); everything else gets length().
_ARRAY_ARG_RE = re.compile(
    r"^\s*(\[|array\s*\(|array_\w+\s*\(|split\s*\(|collect_list\s*\(|collect_set\s*\(|"
    r"slice\s*\(|sequence\s*\(|map_keys\s*\(|map_values\s*\(|transform\s*\(|"
    r"filter\s*\(|flatten\s*\(|sort_array\s*\(|embedding\b)",
    re.IGNORECASE,
)


def _rewrite_len(sql: str) -> str:
    out = []
    i = 0
    while True:
        m = re.search(r"\b__duck_len\s*\(", sql[i:])
        if not m:
            out.append(sql[i:])
            break
        start = i + m.start()
        open_at = i + m.end()
        j = close_of(sql, open_at - 1)
        if j == -1:
            raise UnsupportedDialect("unbalanced parentheses in a call")
        arg = _rewrite_len(sql[open_at : j - 1])  # handle nested len()
        fn = "size" if _ARRAY_ARG_RE.match(arg) else "length"
        out.append(sql[i:start])
        # BIGINT like DuckDB's length/len (Spark's is INT — serialized
        # width parity, measured r12)
        out.append(f"CAST({fn}({arg}) AS BIGINT)")
        i = j
    return "".join(out)
