"""Statement executor: classify → route → run (SURVEY §3.1/3.2 Spark
equivalents).

Write path (reference: HTTP → Raft → DuckDB Exec, http/service.go:196-243):
here `execute(sql)` runs once on the driver — single-writer discipline
replaces consensus, which also fixes the reference's nondeterministic-
function divergence bug (README.md:28).

Read path (reference: local DuckDB Query, http/service.go:246-289):
`query(sql)` → dialect shim → spark.sql over catalog views.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog
from .dialect import translate
from . import dml
from .sql_routing import memoize_from_probes
from .sqltext import close_of, find_top, literal_mask, split_top, strip_outer_parens


@dataclass
class ExecuteOutcome:
    rows_affected: int
    # RETURNING clause result (DuckDB: INSERT/UPDATE/DELETE ... RETURNING):
    # affected rows with the select list applied; serialized as a query
    # result by the HTTP layer when present
    returning: "DataFrame | None" = None


# trailing PARTITION BY (cols) is an engine extension for hive-style
# partitioned tables (partition-pruned scans + partition-scoped DML);
# matched FIRST — in the plain pattern the greedy body would swallow it
_CREATE_TABLE_PART_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\((.*)\)\s*"
    r"PARTITION\s+BY\s*\(([^)]*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COLUMN_RE = re.compile(
    r"^\s*(\w+)\s+("
    r"MAP\s*\(\s*\w+\s*,\s*\w+\s*\)"  # MAP(key_type, value_type)
    r"|[A-Za-z0-9_]+(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?(?:\s*\[\])?"
    r")(.*)$",
    re.DOTALL | re.IGNORECASE,
)


_DEFAULT_CLAUSE_RE = re.compile(
    # DEFAULT <literal | parenthesized expr | call | bare token>, lazily up
    # to the next constraint keyword or end of the column definition
    r"\bDEFAULT\s+("
    r"'(?:[^']|'')*'"          # string literal ('' escapes)
    r"|\([^()]*(?:\([^()]*\)[^()]*)*\)"  # (expr) one nesting level
    r"|[A-Za-z_][\w.]*\s*\([^()]*\)"     # call like now()
    r"|[^\s,]+"               # bare token (number, TRUE, NULL, ident)
    r")",
    re.IGNORECASE,
)


def _extract_check(rest: str) -> str | None:
    """Balanced-paren CHECK (...) body from a column-definition tail."""
    m = re.search(r"\bCHECK\s*\(", rest, re.IGNORECASE)
    if not m:
        return None
    i = close_of(rest, m.end() - 1)
    if i == -1:
        raise ValueError(f"unbalanced CHECK constraint: {rest!r}")
    return rest[m.end() : i - 1].strip()


def parse_create_table(sql: str, enums: dict | None = None):
    m = _CREATE_TABLE_PART_RE.match(sql)
    partition_spec = m.group(4) if m else None
    if m is None:
        m = _CREATE_TABLE_RE.match(sql)
    if not m:
        return None
    if_not_exists, name, body = bool(m.group(1)), m.group(2), m.group(3)
    partition_cols = [c.strip() for c in (partition_spec or "").split(",") if c.strip()]
    columns, table_pk = [], []
    table_checks: list[str] = []
    unique_sets: list[list[str]] = []
    fk_clauses: list[tuple[str, str, str | None]] = []
    for part in split_top(body):
        pk_m = re.match(r"^PRIMARY\s+KEY\s*\(([^)]*)\)$", part, re.IGNORECASE)
        if pk_m:
            table_pk = [c.strip() for c in pk_m.group(1).split(",")]
            continue
        um = re.match(r"^UNIQUE\s*\(([^)]*)\)$", part, re.IGNORECASE)
        if um:
            unique_sets.append([c.strip() for c in um.group(1).split(",")])
            continue
        if re.match(r"^CHECK\s*\(", part, re.IGNORECASE):
            table_checks.append(_extract_check(part))
            continue
        fm = re.match(
            r"^FOREIGN\s+KEY\s*\(\s*(\w+)\s*\)\s*REFERENCES\s+(\w+)\s*(?:\(\s*(\w+)\s*\))?$",
            part,
            re.IGNORECASE,
        )
        if fm:
            fk_clauses.append((fm.group(1), fm.group(2), fm.group(3)))
            continue
        gm = re.match(
            r"^(\w+)(?:\s+([A-Za-z0-9_]+(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?))?"
            r"\s+GENERATED\s+ALWAYS\s+AS\s*\(",
            part,
            re.IGNORECASE,
        )
        if gm:
            i = close_of(part, gm.end() - 1)
            if i == -1:
                raise ValueError(f"unbalanced generated column: {part!r}")
            columns.append(
                {
                    "name": gm.group(1),
                    # untyped generated columns get their type inferred by
                    # the executor (needs a SparkSession) — marker for now
                    "type": gm.group(2) or "__INFER__",
                    "not_null": False,
                    "primary_key": False,
                    "generated": part[gm.end() : i - 1].strip(),
                }
            )
            continue
        cm = _COLUMN_RE.match(part)
        if not cm:
            raise ValueError(f"cannot parse column definition: {part!r}")
        cname, ctype, rest_raw = cm.group(1), cm.group(2), cm.group(3)
        rest = rest_raw.upper()
        col = {
            "name": cname,
            "type": ctype,
            "not_null": "NOT NULL" in rest,
            "primary_key": "PRIMARY KEY" in rest,
        }
        dm = _DEFAULT_CLAUSE_RE.search(rest_raw)
        if dm:
            col["default"] = dm.group(1).strip()
        ck = _extract_check(rest_raw)
        if ck:
            col["check"] = ck
        if re.search(r"\bUNIQUE\b", rest):
            col["unique"] = True
        rm = re.search(
            r"\bREFERENCES\s+(\w+)\s*(?:\(\s*(\w+)\s*\))?", rest_raw, re.IGNORECASE
        )
        if rm:
            col["fk"] = {"table": rm.group(1), "column": rm.group(2)}
        if enums and ctype in enums:
            # user-defined ENUM type: stored as VARCHAR with a value-set
            # constraint checked on write (DuckDB stores a dictionary; the
            # relational semantics are identical)
            col["type"] = "VARCHAR"
            col["enum_type"] = ctype
            col["enum_values"] = list(enums[ctype])
        columns.append(col)
    for c in columns:
        if c["name"] in table_pk:
            c["primary_key"] = True
        for fk_col, fk_table, fk_ref in fk_clauses:
            if c["name"] == fk_col:
                c["fk"] = {"table": fk_table, "column": fk_ref}
    return if_not_exists, name, columns, partition_cols, table_checks, unique_sets


@functools.lru_cache(maxsize=64)
def _schema_ref_re(names: tuple[str, ...]) -> re.Pattern:
    """`sch . tbl` for any of the given schema names (sorted, so one
    catalog state maps to one pattern)."""
    return re.compile(
        r"\b(" + "|".join(re.escape(n) for n in names) + r")\s*\.\s*(\w+)",
        re.IGNORECASE,
    )


class Engine:
    """One SparkSession + one Catalog = the service's execution core."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self._pragmas: dict[str, str] = {}
        self._prepared: dict[str, str] = {}
        self.catalog = Catalog(spark, warehouse_dir, self.query_df)

    def refresh(self) -> None:
        """Read-replica catch-up: re-read warehouse sidecars committed by
        another engine instance on the same directory (catalog.refresh).
        The reference serves reads from any node once the log applies
        (store/store.go:196-199); here the parquet warehouse IS the log —
        a replica refreshes instead of replaying."""
        self.catalog.refresh()

    def _resolve_schemas(self, sql: str) -> str:
        """schema-qualified names: `sch.tbl` flattens to the catalog's
        `sch__tbl` key for every registered schema; DuckDB's default
        schema prefix `main.` strips to the bare name. Literal-masked so
        string contents survive; table ALIASES shadowing a schema name are
        the documented edge (alias your tables something else)."""
        rx = _schema_ref_re(tuple(sorted(set(self.catalog.schemas) | {"main"})))
        if not rx.search(sql):
            return sql
        mask = literal_mask(sql)
        out = []
        pos = 0
        for m in rx.finditer(sql):
            if mask[m.start()]:
                continue
            sch = m.group(1)
            repl = m.group(2) if sch.lower() == "main" else f"{sch}__{m.group(2)}"
            out.append(sql[pos : m.start()])
            out.append(repl)
            pos = m.end()
        out.append(sql[pos:])
        return "".join(out)

    def _infer_generated_types(self, columns: list[dict]) -> None:
        """Type an untyped GENERATED column from its expression, evaluated
        against an empty frame of the base columns (DuckDB infers too)."""
        from .catalog import parse_type
        from .dialect import translate

        pending = [c for c in columns if c.get("generated") and c["type"] == "__INFER__"]
        if not pending:
            return
        from pyspark.sql import types as T

        base = T.StructType(
            [
                T.StructField(c["name"], parse_type(c["type"]), True)
                for c in columns
                if not c.get("generated")
            ]
        )
        empty = self.spark.createDataFrame([], base)
        spark_to_duck = {
            "int": "INTEGER", "bigint": "BIGINT", "smallint": "SMALLINT",
            "double": "DOUBLE", "float": "FLOAT", "string": "VARCHAR",
            "boolean": "BOOLEAN", "date": "DATE", "timestamp": "TIMESTAMP",
        }
        from pyspark.sql import functions as F

        for c in pending:
            dt = empty.select(F.expr(translate(c["generated"]))).schema[0].dataType
            simple = dt.simpleString()
            if simple.startswith("decimal"):
                c["type"] = simple.upper().replace("DECIMAL", "DECIMAL")
            elif simple in spark_to_duck:
                c["type"] = spark_to_duck[simple]
            else:
                raise ValueError(
                    f"cannot infer a storable type for generated column "
                    f"{c['name']} ({simple}); declare the type explicitly"
                )

    def _bind_execute_stmt(self, stripped: str):
        """If `stripped` is EXECUTE name(args), return the bound SQL text;
        None otherwise. Shared by the read and write paths (a prepared
        statement may be a SELECT or an INSERT)."""
        m = re.match(r"^EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*$", stripped, re.IGNORECASE | re.DOTALL)
        if m is None:
            return None
        from .macros import bind_prepared

        name = m.group(1).lower()
        if name not in self._prepared:
            raise ValueError(f"prepared statement {m.group(1)} does not exist")
        return bind_prepared(self._prepared[name], split_top(m.group(2) or ""))

    # ---- sequences -------------------------------------------------------

    def _substitute_sequences(self, sql: str) -> str:
        """Replace each nextval('seq') occurrence with its next value.

        Driver-side by design (sequences are inherently serial); each
        TEXTUAL occurrence gets one value — multi-row VALUES lists should
        call nextval once per row literal, matching how the reference's
        write path would behave under per-statement execution."""

        def sub(m: re.Match) -> str:
            return str(self.catalog.nextval(m.group(1)))

        return re.sub(r"\bnextval\s*\(\s*'(\w+)'\s*\)", sub, sql, flags=re.IGNORECASE)

    # ---- read path -------------------------------------------------------

    _UNION_BY_NAME_RE = re.compile(r"\bUNION\s+(ALL\s+)?BY\s+NAME\b", re.IGNORECASE)

    def _union_by_name(self, sql: str):
        """DuckDB `a UNION [ALL] BY NAME b`: no Spark SQL equivalent, but the
        DataFrame API has unionByName — split at the top-level operator
        (paren-depth 0), run each side, combine. Returns None if the
        statement has no top-level UNION BY NAME."""
        m = find_top(sql, self._UNION_BY_NAME_RE)
        if m is None:
            return None
        left = self.query_df(sql[: m.start()])
        right = self.query_df(sql[m.end() :])
        out = left.unionByName(right, allowMissingColumns=True)
        return out if m.group(1) else out.distinct()

    def _resolve_view(self, name: str) -> DataFrame:
        if name in self.catalog.tables:
            return self.catalog.read(name)
        return self.spark.table(name)

    _LIMIT_PERCENT_RE = re.compile(
        r"\bLIMIT\s+(\d+(?:\.\d+)?)\s*(?:%|PERCENT)\s*$", re.IGNORECASE
    )

    @memoize_from_probes
    def query_df(self, sql: str) -> DataFrame:
        sql = self._route_introspection(sql)
        sql = self._resolve_schemas(sql)
        sql = self._substitute_current_setting(sql)
        sub = self._bind_execute_stmt(sql.strip().rstrip(";"))
        if sub is not None:
            return self.query_df(sub)
        pm = self._LIMIT_PERCENT_RE.search(sql.strip().rstrip(";"))
        if pm:
            # DuckDB percent limit: floor(n * pct/100) rows (measured:
            # 15 rows LIMIT 10% -> 1, 50% -> 7, 99% -> 14). The row count
            # needs a real pass, so this is a two-job statement — the
            # same cost DuckDB pays (it buffers to count before cutting).
            base = self.query_df(sql.strip().rstrip(";")[: pm.start()])
            k = int(base.count() * float(pm.group(1)) / 100.0)
            return base.limit(k)
        if self.catalog.macros:
            from .macros import expand_macros

            sql = expand_macros(sql, self.catalog.macros)
        if self._UNION_BY_NAME_RE.search(sql):
            out = self._union_by_name(sql.strip().rstrip(";"))
            if out is not None:
                return out
        # constructs with no Spark-SQL equivalent route to DataFrame
        # operators before the dialect shim (which raises on them)
        from .sql_routing import (
            rewrite_bool_compare,
            rewrite_columns_expr,
            rewrite_list_concat_cols,
            rewrite_branch_expr_types,
            rewrite_cast_contract,
            rewrite_list_literal_types,
            rewrite_in_list_types,
            rewrite_map_comparisons,
            rewrite_ordered_stat_decimals,
            rewrite_postfix_factorial_terms,
            rewrite_string_list_casts,
            rewrite_numeric_date_lanes,
            rewrite_setop_branch_types,
            rewrite_values_typing,
            rewrite_float_floordiv,
            rewrite_from_first,
            rewrite_map_subscripts,
            rewrite_read_files,
            rewrite_series_tvf,
            route_asof_join,
            route_pivot_statement,
            route_star_replace,
            route_unpivot_statement,
            route_with_recursive,
        )

        stripped = rewrite_read_files(self.spark, sql.strip().rstrip(";"))
        stripped = rewrite_series_tvf(stripped)
        stripped = rewrite_from_first(stripped)
        stripped = rewrite_columns_expr(self.spark, stripped, translate)
        stripped = rewrite_map_subscripts(self.spark, stripped, translate)
        stripped = rewrite_float_floordiv(self.spark, stripped, translate)
        stripped = rewrite_bool_compare(self.spark, stripped, translate)
        stripped = rewrite_list_concat_cols(self.spark, stripped, translate)
        stripped = rewrite_numeric_date_lanes(self.spark, stripped, translate)
        stripped = rewrite_list_literal_types(self.spark, stripped, translate)
        # string-composite folds FIRST so factorial/branch operands like
        # (CAST('[3]' AS INTEGER[]))[1] LIMIT-0-probe on folded text;
        # factorial BEFORE the branch fold so COALESCE(3!, '7') sees a
        # typed lane (r14)
        stripped = rewrite_string_list_casts(self.spark, stripped, translate)
        stripped = rewrite_postfix_factorial_terms(self.spark, stripped, translate)
        stripped = rewrite_map_comparisons(self.spark, stripped, translate)
        stripped = rewrite_branch_expr_types(self.spark, stripped, translate)
        stripped = rewrite_in_list_types(self.spark, stripped, translate)
        stripped = rewrite_ordered_stat_decimals(self.spark, stripped, translate)
        # a second fold pass: the branch/factorial rewrites above can
        # emit fresh string-composite casts (r14 — the pass is
        # idempotent on already-folded text)
        stripped = rewrite_string_list_casts(self.spark, stripped, translate)
        stripped = rewrite_cast_contract(self.spark, stripped, translate)
        # after the cast contract: the emitted inline-table CASTs must stay
        # plain (Spark can't evaluate raise_error guards in VALUES rows)
        stripped = rewrite_values_typing(self.spark, stripped, translate)
        stripped = rewrite_setop_branch_types(self.spark, stripped, translate)
        routed = route_pivot_statement(self.spark, stripped, self._resolve_view, translate)
        if routed is None:
            routed = route_unpivot_statement(
                self.spark, stripped, self._resolve_view, translate
            )
        if routed is None:
            routed = route_star_replace(self.spark, stripped, translate)
        if routed is None:
            routed = route_asof_join(self.spark, stripped, self.spark.table, translate)
        if routed is None:
            routed = route_with_recursive(self.spark, stripped, translate)
        if routed is not None:
            return self._tag_logical_types(routed, stripped)
        return self._tag_logical_types(
            self.spark.sql(translate(self._substitute_sequences(stripped))),
            stripped,
        )

    # DuckDB logical types with no Spark twin: JSON rides STRING and
    # UBIGINT rides BIGINT — /db/query reports the DuckDB name via the
    # serializer's column-metadata override when the OUTERMOST select
    # item is one of these producers (measured r12 type names).
    _JSON_FN_RE = re.compile(
        r"^\s*(?:json_extract|json_object|json_array|json_merge_patch"
        r"|json_quote|json_structure|json_group_structure"
        r"|json_group_array|json_group_object|to_json|row_to_json"
        r"|array_to_json|json)\s*\(",
        re.IGNORECASE,
    )
    _UBIGINT_FN_RE = re.compile(
        r"^\s*(?:cardinality|json_array_length)\s*\(", re.IGNORECASE
    )

    def _tag_logical_types(self, df: DataFrame, stripped: str) -> DataFrame:
        if not re.search(r"json|cardinality|->|union_tag", stripped,
                         re.IGNORECASE):
            return df
        from pyspark.sql import types as T

        from .sql_routing import _top_select_items

        items = _top_select_items(stripped)
        if not items:
            return df
        for expr, name in items:
            if name is None or name not in df.columns:
                continue
            body = expr.strip()
            # '->' is the JSON extract operator ONLY outside string
            # literals, with a quoted-path / index RHS, and not a DuckDB
            # lambda (list_transform(l, x -> upper(x)) /
            # (a, b) -> ... param lists) — ADVICE r13: the bare search
            # mis-tagged lambda results and '->' inside literals as JSON
            bmask = literal_mask(body)
            is_arrow = False
            if not re.search(r"->>", body):
                for am in re.finditer(r"->(?!>)", body):
                    if bmask[am.start()]:
                        continue
                    rhs = body[am.end():].lstrip()
                    if not rhs or rhs[0] not in "'0123456789$":
                        continue  # lambda body / expression RHS
                    lhs = body[: am.start()].rstrip()
                    if re.search(r"\(\s*[A-Za-z_]\w*"
                                 r"(?:\s*,\s*[A-Za-z_]\w*)*\s*\)$", lhs):
                        continue  # (a, b) -> ... param list
                    is_arrow = True
                    break
            dtype = dict(df.dtypes).get(name)
            if (self._JSON_FN_RE.match(body) or is_arrow) and dtype == "string":
                df = df.withMetadata(name, {"duckdb_type": "JSON"})
            elif self._UBIGINT_FN_RE.match(body) and dtype == "bigint":
                df = df.withMetadata(name, {"duckdb_type": "UBIGINT"})
            elif re.match(r"^union_tag\s*\(", body, re.IGNORECASE) and (
                dtype == "string"
            ):
                # DuckDB types union_tag as the variant-name ENUM
                # (measured r13: ENUM('num')); variants come from the
                # ::UNION(...) cast or the constructor's own tag
                um = re.search(r"::\s*UNION\s*\(([^()]*)\)", body,
                               re.IGNORECASE)
                if um:
                    names = [
                        fm.group(1)
                        for f in split_top(um.group(1))
                        if (fm := re.match(r"^\s*(\w+)\s+", f))
                    ]
                else:
                    vm = re.search(r"union_value\s*\(\s*(\w+)\s*:=",
                                   body, re.IGNORECASE)
                    names = [vm.group(1)] if vm else []
                if names:
                    enum = ", ".join(f"'{n}'" for n in names)
                    df = df.withMetadata(
                        name, {"duckdb_type": f"ENUM({enum})"}
                    )
        return df

    _INTROSPECT_RE = re.compile(
        r"\b(duckdb_tables|duckdb_views|duckdb_columns|duckdb_schemas"
        r"|duckdb_settings|duckdb_sequences|duckdb_constraints)\s*\(\s*\)"
        r"|\bpragma_version\s*\(\s*\)"
        r"|\bpragma_table_info\s*\("
        r"|\binformation_schema\s*\.\s*(tables|columns)\b"
        r"|\bcurrent_schema\s*\(\s*\)|\bcurrent_database\s*\(\s*\)",
        re.IGNORECASE,
    )

    def _route_introspection(self, sql: str) -> str:
        """DuckDB catalog introspection (duckdb_tables()/duckdb_views()/
        duckdb_columns(), information_schema.tables/columns,
        current_schema()/current_database()) — the reference passes these
        straight through to DuckDB's catalog; here they materialize from
        the engine catalog as temp views with DuckDB's column names. The
        engine presents one database named 'main' (schema-qualified tables
        are keyed schema__name in the catalog)."""
        if not self._INTROSPECT_RE.search(sql):
            return sql

        def split_name(key: str) -> tuple[str, str]:
            if "__" in key:
                sch, _, nm = key.partition("__")
                if sch in self.catalog.schemas:
                    return sch, nm
            return "main", key

        comments = self.catalog.load_comments()

        def comment_of(kind: str, name: str):
            return comments.get(f"{kind}:{name}")

        low = sql.lower()
        if re.search(r"\bduckdb_tables\s*\(\s*\)", low) or re.search(
            r"\binformation_schema\s*\.\s*tables\b", low
        ):
            rows = []
            for i, (key, meta) in enumerate(sorted(self.catalog.tables.items())):
                sch, nm = split_name(key)
                rows.append(
                    (
                        "main", 0, sch, 0, nm, i, comment_of("table", key),
                        False, False, bool(meta.pk_cols),
                        self.spark.table(key).count(), len(meta.columns),
                        sum(1 for x in self.catalog.indexes.values() if x["table"] == key),
                        sum(1 for c in meta.columns if c.get("check")),
                    )
                )
            self.spark.createDataFrame(
                rows,
                "database_name string, database_oid long, schema_name string, "
                "schema_oid long, table_name string, table_oid long, "
                "comment string, internal boolean, temporary boolean, "
                "has_primary_key boolean, estimated_size long, "
                "column_count long, index_count long, "
                "check_constraint_count long",
            ).createOrReplaceTempView("__duckdb_tables")
            info = [
                ("main", split_name(k)[0], split_name(k)[1], "BASE TABLE")
                for k in sorted(self.catalog.tables)
            ] + [
                ("main", split_name(k)[0], split_name(k)[1], "VIEW")
                for k in sorted(self.catalog.views)
            ]
            self.spark.createDataFrame(
                info,
                "table_catalog string, table_schema string, table_name string, "
                "table_type string",
            ).createOrReplaceTempView("__info_schema_tables")
        if re.search(r"\bduckdb_views\s*\(\s*\)", low):
            vrows = [
                ("main", 0, split_name(k)[0], 0, split_name(k)[1], i,
                 comment_of("view", k), False, False, v)
                for i, (k, v) in enumerate(sorted(self.catalog.views.items()))
            ]
            self.spark.createDataFrame(
                vrows,
                "database_name string, database_oid long, schema_name string, "
                "schema_oid long, view_name string, view_oid long, "
                "comment string, internal boolean, temporary boolean, sql string",
            ).createOrReplaceTempView("__duckdb_views")
        if re.search(r"\bduckdb_columns\s*\(\s*\)", low) or re.search(
            r"\binformation_schema\s*\.\s*columns\b", low
        ):
            crows = []
            for ti, (key, meta) in enumerate(sorted(self.catalog.tables.items())):
                sch, nm = split_name(key)
                for ci, c in enumerate(meta.columns):
                    crows.append(
                        (
                            "main", 0, sch, 0, nm, ti, c["name"], ci + 1,
                            comment_of("column", f"{key}.{c['name']}"),
                            False, c.get("default"),
                            not (c.get("not_null") or c["name"] in meta.pk_cols),
                            c.get("type", ""),
                        )
                    )
            self.spark.createDataFrame(
                crows,
                "database_name string, database_oid long, schema_name string, "
                "schema_oid long, table_name string, table_oid long, "
                "column_name string, column_index long, comment string, "
                "internal boolean, column_default string, is_nullable boolean, "
                "data_type string",
            ).createOrReplaceTempView("__duckdb_columns")
            self.spark.sql(
                "SELECT database_name AS table_catalog, schema_name AS "
                "table_schema, table_name, column_name, column_index AS "
                "ordinal_position, column_default, CASE WHEN is_nullable "
                "THEN 'YES' ELSE 'NO' END AS is_nullable, data_type "
                "FROM __duckdb_columns"
            ).createOrReplaceTempView("__info_schema_columns")
        if re.search(r"\bduckdb_schemas\s*\(\s*\)", low):
            srows = [(i, "main", 0, s, None, False, None)
                     for i, s in enumerate(["main"] + sorted(self.catalog.schemas))]
            self.spark.createDataFrame(
                srows,
                "oid long, database_name string, database_oid long, "
                "schema_name string, comment string, internal boolean, "
                "sql string",
            ).createOrReplaceTempView("__duckdb_schemas")
        if re.search(r"\bduckdb_settings\s*\(\s*\)", low):
            pr = [
                (k, str(v), None, "VARCHAR", "GLOBAL")
                for k, v in sorted(self._pragmas.items())
            ] + [
                ("threads",
                 str(self.spark.conf.get("spark.sql.shuffle.partitions", "32")),
                 "executor parallelism", "BIGINT", "GLOBAL"),
                ("TimeZone",
                 str(self.spark.conf.get("spark.sql.session.timeZone", "UTC")),
                 "session timezone", "VARCHAR", "LOCAL"),
                ("access_mode", "automatic", "access mode", "VARCHAR", "GLOBAL"),
            ]
            self.spark.createDataFrame(
                pr,
                "name string, value string, description string, "
                "input_type string, scope string",
            ).createOrReplaceTempView("__duckdb_settings")
        if re.search(r"\bduckdb_sequences\s*\(\s*\)", low):
            qrows = [
                ("main", 0, "main", 0, name, i, None, False,
                 1, -9223372036854775807, 9223372036854775807, 1, False,
                 (val if val else None),
                 f"CREATE SEQUENCE {name};")
                for i, (name, val) in enumerate(sorted(self.catalog.sequences.items()))
            ]
            self.spark.createDataFrame(
                qrows,
                "database_name string, database_oid long, schema_name string, "
                "schema_oid long, sequence_name string, sequence_oid long, "
                "comment string, temporary boolean, start_value long, "
                "min_value long, max_value long, increment_by long, "
                "cycle boolean, last_value long, sql string",
            ).createOrReplaceTempView("__duckdb_sequences")
        if re.search(r"\bduckdb_constraints\s*\(\s*\)", low):
            krows = []
            for ti, (key, meta) in enumerate(sorted(self.catalog.tables.items())):
                sch, nm = split_name(key)
                ci = 0
                if meta.pk_cols:
                    krows.append(("main", 0, sch, 0, nm, ti, ci, "PRIMARY KEY",
                                  f"PRIMARY KEY({', '.join(meta.pk_cols)})",
                                  None, meta.pk_cols)); ci += 1
                for c in meta.columns:
                    if c.get("not_null") or c["name"] in meta.pk_cols:
                        krows.append(("main", 0, sch, 0, nm, ti, ci, "NOT NULL",
                                      "NOT NULL", None, [c["name"]])); ci += 1
                    if c.get("check"):
                        krows.append(("main", 0, sch, 0, nm, ti, ci, "CHECK",
                                      f"CHECK({c['check']})", c["check"],
                                      [c["name"]])); ci += 1
                    if c.get("unique"):
                        krows.append(("main", 0, sch, 0, nm, ti, ci, "UNIQUE",
                                      f"UNIQUE({c['name']})", None,
                                      [c["name"]])); ci += 1
                    if c.get("references"):
                        krows.append(("main", 0, sch, 0, nm, ti, ci, "FOREIGN KEY",
                                      f"FOREIGN KEY ({c['name']})", None,
                                      [c["name"]])); ci += 1
                for expr in meta.table_checks:
                    krows.append(("main", 0, sch, 0, nm, ti, ci, "CHECK",
                                  f"CHECK({expr})", expr, [])); ci += 1
                for us in meta.unique_sets:
                    cols = list(us) if not isinstance(us, str) else [us]
                    krows.append(("main", 0, sch, 0, nm, ti, ci, "UNIQUE",
                                  f"UNIQUE({', '.join(cols)})", None, cols)); ci += 1
            self.spark.createDataFrame(
                krows,
                "database_name string, database_oid long, schema_name string, "
                "schema_oid long, table_name string, table_oid long, "
                "constraint_index long, constraint_type string, "
                "constraint_text string, expression string, "
                "constraint_column_names array<string>",
            ).createOrReplaceTempView("__duckdb_constraints")
        ti_m = re.search(
            r"\bpragma_table_info\s*\(\s*'([^']+)'\s*\)", sql, re.IGNORECASE
        )
        if ti_m:
            key = ti_m.group(1)
            meta = self.catalog.tables.get(key) or self.catalog.tables.get(
                key.replace(".", "__")
            )
            if meta is None:
                raise ValueError(f"pragma_table_info: no such table {key!r}")
            tirows = [
                (ci, c["name"], c.get("type", "").upper(),
                 bool(c.get("not_null") or c["name"] in meta.pk_cols),
                 c.get("default"), c["name"] in meta.pk_cols)
                for ci, c in enumerate(meta.columns)
            ]
            self.spark.createDataFrame(
                tirows,
                "cid long, name string, type string, notnull boolean, "
                "dflt_value string, pk boolean",
            ).createOrReplaceTempView("__pragma_table_info")
            sql = re.sub(
                r"\bpragma_table_info\s*\(\s*'[^']+'\s*\)",
                "__pragma_table_info", sql, flags=re.IGNORECASE,
            )
        if re.search(r"\bpragma_version\s*\(\s*\)", low):
            ver = self.spark.version
            self.spark.createDataFrame(
                [(f"spark-{ver}", "duckdb_service_spark")],
                "library_version string, source_id string",
            ).createOrReplaceTempView("__pragma_version")
            sql = re.sub(
                r"\bpragma_version\s*\(\s*\)", "__pragma_version",
                sql, flags=re.IGNORECASE,
            )
        sql = re.sub(
            r"\bduckdb_(tables|views|columns|schemas|settings|sequences"
            r"|constraints)\s*\(\s*\)",
            lambda m: f"__duckdb_{m.group(1).lower()}",
            sql,
            flags=re.IGNORECASE,
        )
        sql = re.sub(
            r"\binformation_schema\s*\.\s*(tables|columns)\b",
            lambda m: f"__info_schema_{m.group(1).lower()}",
            sql,
            flags=re.IGNORECASE,
        )
        sql = re.sub(
            r"\bcurrent_schema\s*\(\s*\)", "'main'", sql, flags=re.IGNORECASE
        )
        sql = re.sub(
            r"\bcurrent_database\s*\(\s*\)", "'main'", sql, flags=re.IGNORECASE
        )
        return sql

    _CURRENT_SETTING_RE = re.compile(
        r"\bcurrent_setting\s*\(\s*'(\w+)'\s*\)", re.IGNORECASE
    )

    def _substitute_current_setting(self, sql: str) -> str:
        """``current_setting('key')`` → the session's value as a literal
        (DuckDB resolves it against its config at bind time — db/db.go
        passes statements straight through, so the reference supports it).
        Keys previously set via PRAGMA/SET win; otherwise a small built-in
        map covers the settings the engine actually pins. Numeric values
        stay numeric (DuckDB types threads as BIGINT)."""
        if "current_setting" not in sql.lower():
            return sql

        def repl(m: re.Match) -> str:
            key = m.group(1).lower()
            if key in self._pragmas:
                val = self._pragmas[key]
            elif key == "threads":
                val = self.spark.conf.get("spark.sql.shuffle.partitions", "32")
            elif key == "timezone":
                val = self.spark.conf.get("spark.sql.session.timeZone", "UTC")
            elif key in ("access_mode",):
                val = "automatic"
            else:
                raise ValueError(f"unsupported current_setting key: {key}")
            if re.fullmatch(r"-?\d+", str(val)):
                return f"CAST({val} AS BIGINT)"
            return "'" + str(val).replace("'", "''") + "'"

        return self._CURRENT_SETTING_RE.sub(repl, sql)

    # ---- write path ------------------------------------------------------

    def execute(self, sql: str) -> ExecuteOutcome:
        # DuckDB's Exec accepts semicolon-separated statement scripts
        # (reference passthrough reach, db/db.go:52) — run sequentially,
        # sum rows_affected
        stmts = split_top(sql, ";")
        if len(stmts) > 1:
            total = 0
            for s in stmts:
                total += self.execute(s).rows_affected
            return ExecuteOutcome(total)
        stripped = self._resolve_schemas(sql.strip().rstrip(";"))
        upper = stripped.upper()

        m = re.match(
            r"^CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)$", stripped, re.IGNORECASE
        )
        if m:
            self.catalog.create_schema(m.group(2), if_not_exists=bool(m.group(1)))
            return ExecuteOutcome(0)
        m = re.match(
            r"^DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?(\w+)(\s+CASCADE)?$",
            stripped,
            re.IGNORECASE,
        )
        if m:
            self.catalog.drop_schema(
                m.group(2), if_exists=bool(m.group(1)), cascade=bool(m.group(3))
            )
            return ExecuteOutcome(0)

        # -- macros / prepared statements / attach (bind-time surface) -----
        from .macros import expand_macros, parse_create_macro, parse_drop_macro

        mac = parse_create_macro(stripped)
        if mac is not None:
            or_replace = bool(re.match(r"^CREATE\s+OR\s+REPLACE\b", stripped, re.IGNORECASE))
            self.catalog.create_macro(mac, or_replace=or_replace)
            return ExecuteOutcome(0)
        dm = parse_drop_macro(stripped)
        if dm is not None:
            self.catalog.drop_macro(dm[0], if_exists=dm[1])
            return ExecuteOutcome(0)

        m = re.match(r"^PREPARE\s+(\w+)\s+AS\s+(.+)$", stripped, re.IGNORECASE | re.DOTALL)
        if m:
            # session-scoped, like DuckDB prepared statements (not persisted)
            self._prepared[m.group(1).lower()] = m.group(2).strip()
            return ExecuteOutcome(0)
        m = re.match(r"^DEALLOCATE\s+(?:PREPARE\s+)?(\w+)$", stripped, re.IGNORECASE)
        if m:
            if self._prepared.pop(m.group(1).lower(), None) is None:
                raise ValueError(f"prepared statement {m.group(1)} does not exist")
            return ExecuteOutcome(0)
        sub = self._bind_execute_stmt(stripped)
        if sub is not None:
            return self.execute(sub)

        m = re.match(
            r"^ATTACH\s+(?:DATABASE\s+)?'([^']+)'(?:\s+AS\s+(\w+))?\s*"
            r"(\(\s*READ_ONLY\s*\))?$",
            stripped,
            re.IGNORECASE,
        )
        if m:
            path, alias = m.group(1), m.group(2)
            self.catalog.attach(path, alias)
            return ExecuteOutcome(0)
        m = re.match(r"^DETACH\s+(?:DATABASE\s+)?(\w+)$", stripped, re.IGNORECASE)
        if m:
            self.catalog.detach(m.group(1))
            return ExecuteOutcome(0)

        if self.catalog.macros:
            stripped = expand_macros(stripped, self.catalog.macros)
            upper = stripped.upper()

        m = re.match(
            r"^CREATE\s+OR\s+REPLACE\s+TABLE\s+(\w+)\s*(.*)$",
            stripped,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            self.catalog.drop_table(m.group(1), if_exists=True)
            return self.execute(f"CREATE TABLE {m.group(1)} {m.group(2)}")

        m = re.match(r"^DROP\s+SEQUENCE\s+(IF\s+EXISTS\s+)?(\w+)$", stripped, re.IGNORECASE)
        if m:
            name = m.group(2)
            if name not in self.catalog.sequences and not m.group(1):
                raise ValueError(f"sequence {name} does not exist")
            self.catalog.sequences.pop(name, None)
            self.catalog._save("sequences")
            return ExecuteOutcome(0)

        m = re.match(
            r"^CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+AS\s+(SELECT\s+.+|WITH\s+.+|VALUES\s*.+)$",
            stripped,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # CTAS: infer column defs from the query's Spark schema
            # (serializer's reverse type map), then create with the rows
            from .serializer import duckdb_type_name

            if_not_exists, name, select_sql = bool(m.group(1)), m.group(2), m.group(3)
            if name in self.catalog.tables:
                if if_not_exists:
                    return ExecuteOutcome(0)
                raise ValueError(f"table {name} already exists")
            df = self.query_df(select_sql)
            # TZ-aware timestamps are stored NTZ (the engine-wide convention,
            # sources/tables.py) so the written data matches the declared type
            from pyspark.sql import types as T

            for f in df.schema.fields:
                if isinstance(f.dataType, T.TimestampType):
                    df = df.withColumn(f.name, F.col(f.name).cast("timestamp_ntz"))
            # validate EVERY inferred type round-trips through the catalog's
            # type system BEFORE creating any state — a complex result type
            # must fail cleanly, not leave an orphan warehouse directory
            from .catalog import parse_type

            columns = []
            for f in df.schema.fields:
                tname = duckdb_type_name(f.dataType)
                try:
                    parse_type(tname)
                except ValueError as ex:
                    raise ValueError(
                        f"CTAS: unsupported result column type {f.name} {tname}"
                    ) from ex
                columns.append(
                    {"name": f.name, "type": tname, "not_null": False, "primary_key": False}
                )
            try:
                self.catalog.create_table(name, columns, rows=df)
                # single execution: rows_affected comes from the written
                # files (the cache fill's count), so a nondeterministic
                # source can't disagree
                n = self.catalog.row_count(name)
            except Exception:
                self.catalog.drop_table(name, if_exists=True)
                raise
            return ExecuteOutcome(n)

        m = re.match(
            r"^CREATE\s+TYPE\s+(\w+)\s+AS\s+ENUM\s*\(([^)]*)\)$",
            stripped,
            re.IGNORECASE,
        )
        if m:
            vals = [
                v.strip()[1:-1].replace("''", "'")
                for v in m.group(2).split(",")
                if v.strip()
            ]
            self.catalog.create_type(m.group(1), vals)
            return ExecuteOutcome(0)
        m = re.match(
            r"^DROP\s+TYPE\s+(IF\s+EXISTS\s+)?(\w+)$", stripped, re.IGNORECASE
        )
        if m:
            self.catalog.drop_type(m.group(2), if_exists=bool(m.group(1)))
            return ExecuteOutcome(0)

        parsed = parse_create_table(stripped, enums=self.catalog.types)
        if parsed is not None:
            if_not_exists, name, columns, partition_cols, table_checks, unique_sets = parsed
            self._infer_generated_types(columns)
            self.catalog.create_table(
                name,
                columns,
                if_not_exists=if_not_exists,
                partition_cols=partition_cols,
                table_checks=table_checks,
                unique_sets=unique_sets,
            )
            return ExecuteOutcome(0)

        m = re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+ADD\s+(?:COLUMN\s+)?(\w+)\s+([A-Za-z0-9_]+(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?)(?:\s+DEFAULT\s+(.+))?$",
            stripped,
            re.IGNORECASE,
        )
        if m:
            self.catalog.alter_table(
                m.group(1), "add", column=m.group(2), type=m.group(3),
                default=(m.group(4) or "").strip() or None,
            )
            return ExecuteOutcome(0)
        m = re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+DROP\s+(?:COLUMN\s+)?(\w+)$", stripped, re.IGNORECASE
        )
        if m:
            self.catalog.alter_table(m.group(1), "drop", column=m.group(2))
            return ExecuteOutcome(0)
        m = re.match(
            r"^ALTER\s+TABLE\s+(\w+)\s+RENAME\s+(?:COLUMN\s+)?(\w+)\s+TO\s+(\w+)$",
            stripped,
            re.IGNORECASE,
        )
        if m:
            self.catalog.alter_table(m.group(1), "rename", column=m.group(2), to=m.group(3))
            return ExecuteOutcome(0)

        m = re.match(r"^DROP\s+(TABLE|VIEW)\s+(IF\s+EXISTS\s+)?(\w+)$", stripped, re.IGNORECASE)
        if m:
            self.catalog.drop_table(m.group(3), if_exists=bool(m.group(2)))
            return ExecuteOutcome(0)

        m = re.match(
            r"^CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(.*)$",
            stripped,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            self.catalog.create_view(m.group(1), m.group(2))
            return ExecuteOutcome(0)

        m = re.match(r"^CREATE\s+SEQUENCE\s+(\w+)(?:\s+START\s+(\d+))?$", stripped, re.IGNORECASE)
        if m:
            self.catalog.create_sequence(m.group(1), int(m.group(2) or 1))
            return ExecuteOutcome(0)

        m = re.match(
            r"^CREATE\s+(UNIQUE\s+)?INDEX\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+"
            r"ON\s+(\w+)\s*\(([^)]*)\)$",
            stripped,
            re.IGNORECASE,
        )
        if m:
            self.catalog.create_index(
                m.group(3),
                m.group(4),
                [c.strip() for c in m.group(5).split(",") if c.strip()],
                unique=bool(m.group(1)),
                if_not_exists=bool(m.group(2)),
            )
            return ExecuteOutcome(0)
        m = re.match(r"^DROP\s+INDEX\s+(IF\s+EXISTS\s+)?(\w+)$", stripped, re.IGNORECASE)
        if m:
            self.catalog.drop_index(m.group(2), if_exists=bool(m.group(1)))
            return ExecuteOutcome(0)

        if upper.startswith(("INSERT", "UPDATE", "DELETE", "MERGE", "TRUNCATE")):
            n, returning = dml.execute(self, stripped)
            return ExecuteOutcome(n, returning=returning)

        m = re.match(
            r"^COPY\s+(?:(\w+)|\((.+)\))\s+TO\s+'([^']+)'\s*(?:\(\s*(.*)\))?$",
            stripped,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            table, select_sql, path, opts = m.groups()
            return ExecuteOutcome(self._copy_to(table, select_sql, path, opts))

        m = re.match(
            r"^COPY\s+(\w+)\s+FROM\s+'([^']+)'\s*(?:\(\s*(.*)\))?$",
            stripped,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            return ExecuteOutcome(self._copy_from(m.group(1), m.group(2), m.group(3)))

        m = re.match(r"^EXPORT\s+DATABASE\s+'([^']+)'", stripped, re.IGNORECASE)
        if m:
            return ExecuteOutcome(self.catalog.export_database(m.group(1)))

        m = re.match(r"^IMPORT\s+DATABASE\s+'([^']+)'$", stripped, re.IGNORECASE)
        if m:
            return ExecuteOutcome(self.catalog.import_database(m.group(1)))

        m = re.match(r"^(?:PRAGMA|SET)\s+(\w+)\s*=\s*(.+)$", stripped, re.IGNORECASE)
        if m:
            # map onto spark confs where a real equivalent exists; accept the
            # common DuckDB tuning pragmas as recorded no-ops (they tune a
            # single-process engine; the Spark analogues are cluster/submit
            # settings); reject unknown keys loudly
            key, val = m.group(1).lower(), m.group(2).strip().strip("'")
            mapped = {"threads": "spark.sql.shuffle.partitions"}
            accepted_noop = {
                "memory_limit",
                "temp_directory",
                "enable_progress_bar",
                "enable_object_cache",
                "preserve_insertion_order",
                "checkpoint_threshold",
            }
            if key == "window_frame_element_bound":
                # runtime bound for the O(frame) collect-based window
                # rewrites (dialect._frame_guard); <= 0 disables the
                # guard. PROCESS-WIDE: translate() is a module-level
                # pipeline with no engine context, so the bound applies
                # to every Engine in the process (like a Spark conf).
                from . import dialect as _dialect

                try:
                    bound = int(val)
                except ValueError:
                    raise ValueError(
                        f"SET window_frame_element_bound: expected an "
                        f"integer, got {val!r}"
                    ) from None
                _dialect.WINDOW_FRAME_ELEMENT_BOUND = bound
                self._pragmas[key] = val
                return ExecuteOutcome(0)
            if key in mapped:
                self.spark.conf.set(mapped[key], val)
                self._pragmas[key] = val
                return ExecuteOutcome(0)
            if key in accepted_noop:
                self._pragmas[key] = val
                return ExecuteOutcome(0)
            raise ValueError(f"unsupported PRAGMA/SET: {key}")

        if upper == "CHECKPOINT":
            return ExecuteOutcome(0)
        if re.match(r"^(INSTALL|LOAD|FORCE\s+INSTALL)\s+\w+\s*$", stripped, re.IGNORECASE):
            # DuckDB extension management: the capabilities the reference's
            # linked extensions provide (json, parquet, httpfs paths) are
            # built into this engine, so INSTALL/LOAD succeed as no-ops —
            # matching DuckDB, where re-LOADing a built-in is also a no-op
            return ExecuteOutcome(0)
        m = re.match(
            r"^COMMENT\s+ON\s+(TABLE|VIEW|COLUMN|INDEX|SEQUENCE|MACRO)\s+"
            r"([\w.]+)\s+IS\s+(?:'((?:[^']|'')*)'|(NULL))\s*$",
            stripped,
            re.IGNORECASE,
        )
        if m:
            # DuckDB >= 0.10 COMMENT ON: catalog metadata (duckdb_comments());
            # persisted and surfaced via /status
            kind, target = m.group(1), m.group(2)
            comment = None if m.group(4) else m.group(3).replace("''", "'")
            self.catalog.set_comment(kind, target, comment)
            return ExecuteOutcome(0)

        if upper == "VACUUM" or upper.startswith("VACUUM "):
            # DuckDB VACUUM is a stats/space maintenance no-op for parquet-
            # backed tables (copy-on-write rewrites already compact); accept
            # like CHECKPOINT so maintenance scripts run end-to-end
            return ExecuteOutcome(0)
        if upper == "ANALYZE" or re.match(r"^ANALYZE\s+\w+$", stripped, re.IGNORECASE):
            # DuckDB ANALYZE recomputes optimizer statistics; Spark derives
            # file-level stats from parquet footers at plan time, so this is
            # a metadata no-op (AQE re-plans from RUNTIME sizes anyway)
            return ExecuteOutcome(0)
        if upper in ("BEGIN", "BEGIN TRANSACTION", "START TRANSACTION"):
            # real snapshot transaction (catalog.begin_txn): records every
            # table's manifest; goes beyond the reference, whose
            # own transactions are an unshipped TODO (README.md:21) while
            # linked DuckDB supports them (db/db.go:52)
            self.catalog.begin_txn()
            return ExecuteOutcome(0)
        if upper in ("COMMIT", "END"):
            # DuckDB errors on COMMIT outside a transaction; but a bare
            # auto-commit COMMIT from bracketing clients predates round 6
            # here, so keep that acceptance only when nothing is active
            if self.catalog.in_txn:
                self.catalog.commit_txn()
            return ExecuteOutcome(0)
        if upper in ("ROLLBACK", "ABORT"):
            if not self.catalog.in_txn:
                # a no-op ROLLBACK would silently KEEP data DuckDB would
                # discard — error like DuckDB (VERDICT r02 #2)
                raise ValueError("cannot rollback - no transaction is active")
            self.catalog.rollback_txn()
            return ExecuteOutcome(0)

        raise ValueError(f"unrecognized write statement: {stripped[:80]}")

    # ---- COPY TO/FROM ----------------------------------------------------
    #
    # Reference reach: the passthrough accepts DuckDB's full COPY statement
    # (db/db.go:52). Spark-side semantics: COPY TO writes a directory of
    # part-files (the scalable layout — a single file would funnel 100 TB
    # through one task); COPY FROM accepts both directories and single files.

    @staticmethod
    def _copy_options(opts: str | None, path: str) -> dict:
        out = {"format": None, "header": True, "delimiter": ",", "partition_by": []}
        for part in split_top(opts or ""):
            om = re.match(r"^(\w+)\s*(.*)$", part.strip())
            if not om:
                raise ValueError(f"cannot parse COPY option: {part!r}")
            key, val = om.group(1).upper(), om.group(2).strip().strip("'").lower()
            if key == "FORMAT":
                out["format"] = val
            elif key == "HEADER":
                out["header"] = val not in ("false", "0")
            elif key in ("DELIMITER", "DELIM", "SEP"):
                out["delimiter"] = om.group(2).strip().strip("'")
            elif key == "PARTITION_BY":
                out["partition_by"] = [
                    c.strip() for c in om.group(2).strip().strip("()").split(",") if c.strip()
                ]
            else:
                raise ValueError(f"unsupported COPY option: {key}")
        if out["format"] is None:
            ext = path.rsplit(".", 1)[-1].lower() if "." in path else ""
            out["format"] = {"csv": "csv", "parquet": "parquet", "json": "json", "ndjson": "json"}.get(
                ext, "csv"
            )
        if out["format"] not in ("csv", "parquet", "json"):
            raise ValueError(f"unsupported COPY format: {out['format']}")
        return out

    def _copy_to(self, table: str | None, select_sql: str | None, path: str, opts: str | None) -> int:
        o = self._copy_options(opts, path)
        df = self.catalog.read(table) if table else self.query_df(select_sql)
        n = df.count()
        w = df.write.mode("overwrite")
        if o["partition_by"]:
            # DuckDB's partitioned COPY TO (hive layout) ≅ write.partitionBy
            w = w.partitionBy(*o["partition_by"])
        if o["format"] == "csv":
            w.option("header", str(o["header"]).lower()).option("sep", o["delimiter"]).csv(path)
        elif o["format"] == "json":
            w.json(path)
        else:
            w.parquet(path)
        return n

    def _copy_from(self, table: str, path: str, opts: str | None) -> int:
        from .dml import _check_constraints

        if table not in self.catalog.tables:
            raise ValueError(f"table {table} does not exist")
        o = self._copy_options(opts, path)
        schema = self.catalog.tables[table].spark_schema()
        if o["format"] == "csv":
            src = (
                self.spark.read.schema(schema)
                .option("header", str(o["header"]).lower())
                .option("sep", o["delimiter"])
                .csv(path)
            )
        elif o["format"] == "json":
            src = self.spark.read.schema(schema).json(path)
        else:
            src = self.spark.read.parquet(path).select(
                *[F.col(f.name).cast(f.dataType) for f in schema.fields]
            )
        n = _check_constraints(self, table, src)
        self.catalog.append(table, src)
        return n

    # ---- query entry (returns reference-shaped result dict) --------------

    def is_query(self, sql: str) -> bool:
        stripped = sql.strip()
        head = stripped.split(None, 1)
        if not head:
            return False
        # query-style PRAGMA (no '='): PRAGMA show_tables / table_info('t')
        # / version / database_size return result sets (DuckDB behavior)
        if head[0].upper() == "PRAGMA" and "=" not in stripped:
            return True
        # EXECUTE classifies as whatever its PREPAREd template is — a
        # prepared SELECT queried over HTTP must return a result set
        if head[0].upper() == "EXECUTE":
            m = re.match(r"EXECUTE\s+(\w+)", stripped, re.IGNORECASE)
            tmpl = self._prepared.get(m.group(1).lower()) if m else None
            return tmpl is not None and self.is_query(tmpl)
        return head[0].upper() in {
            "SELECT",
            "WITH",
            "SHOW",
            "DESCRIBE",
            "DESC",
            "EXPLAIN",
            "VALUES",
            "TABLE",
            "SUMMARIZE",
            "PIVOT",
            "UNPIVOT",
            "FROM",
        }

    def summarize(self, df: DataFrame) -> DataFrame:
        """DuckDB `SUMMARIZE`: per-column profile with DuckDB 1.0's exact
        output schema (column_name..null_percentage). ONE aggregation pass
        over the relation — every per-column statistic (min/max/approx-
        distinct/avg/std/quartile sketch/null count) rides the same
        map-side partial agg, so a 100 TB profile costs a single scan +
        one-row shuffle. Quartiles use percentile_approx and uniqueness
        uses HLL, matching DuckDB's own approximate SUMMARIZE semantics
        (ref reach: passthrough db/db.go:70)."""
        import decimal

        from pyspark.sql import types as T

        from .serializer import duckdb_type_name

        numeric = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType,
        )
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, f in enumerate(df.schema.fields):
            c = F.col(f"`{f.name}`")
            is_num = isinstance(f.dataType, numeric)
            null_str = F.lit(None).cast("string")
            aggs += [
                F.min(c).cast("string").alias(f"mn_{i}"),
                F.max(c).cast("string").alias(f"mx_{i}"),
                F.approx_count_distinct(c).alias(f"uq_{i}"),
                (F.avg(c).cast("double").cast("string") if is_num else null_str).alias(f"av_{i}"),
                (F.stddev(c).cast("string") if is_num else null_str).alias(f"sd_{i}"),
                (
                    F.percentile_approx(c.cast("double"), F.lit([0.25, 0.5, 0.75]))
                    if is_num
                    else F.lit(None).cast("array<double>")
                ).alias(f"q_{i}"),
                F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"nu_{i}"),
            ]
        row = df.agg(*aggs).collect()[0]
        n = row["__n"]
        rows = []
        for i, f in enumerate(df.schema.fields):
            qs = row[f"q_{i}"] or [None, None, None]
            pct = (
                decimal.Decimal(100 * (row[f"nu_{i}"] or 0) / n).quantize(decimal.Decimal("0.01"))
                if n
                else None
            )
            rows.append(
                (
                    f.name, duckdb_type_name(f.dataType), row[f"mn_{i}"], row[f"mx_{i}"],
                    row[f"uq_{i}"], row[f"av_{i}"], row[f"sd_{i}"],
                    None if qs[0] is None else str(qs[0]),
                    None if qs[1] is None else str(qs[1]),
                    None if qs[2] is None else str(qs[2]),
                    n, pct,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "column_name string, column_type string, min string, max string, "
            "approx_unique bigint, avg string, std string, q25 string, q50 string, "
            "q75 string, count bigint, null_percentage decimal(9,2)",
        )

    def describe(self, sql: str) -> DataFrame:
        stripped = sql.strip().rstrip(";")
        m = re.match(r"^(?:DESCRIBE|DESC)\s+(\w+)$", stripped, re.IGNORECASE)
        if m and m.group(1) in self.catalog.tables:
            meta = self.catalog.tables[m.group(1)]
            rows = [
                (c["name"], c["type"].upper(), "NO" if (c["not_null"] or c["primary_key"]) else "YES",
                 "PRI" if c["primary_key"] else "")
                for c in meta.columns
            ]
            return self.spark.createDataFrame(
                rows, "column_name string, column_type string, `null` string, key string"
            )
        # DESCRIBE <view> describes the view's stored query
        query = self.catalog.views.get(m.group(1)) if m else None
        m = re.match(r"^(?:DESCRIBE|DESC)\s+(SELECT\s+.+|WITH\s+.+|\(.+\))$",
                     stripped, re.IGNORECASE | re.DOTALL)
        if m:
            query = strip_outer_parens(m.group(1))
        if query is not None:
            # DESCRIBE <query>: analysis only, nothing executes
            from .serializer import duckdb_type_name

            df = self.query_df(query)
            rows = [
                (f.name, duckdb_type_name(f.dataType), "YES" if f.nullable else "NO", "")
                for f in df.schema.fields
            ]
            return self.spark.createDataFrame(
                rows, "column_name string, column_type string, `null` string, key string"
            )
        if re.match(r"^(?:SHOW\s+TABLES|PRAGMA\s+show_tables)$", stripped, re.IGNORECASE):
            names = sorted(set(self.catalog.tables) | set(self.catalog.views))
            return self.spark.createDataFrame([(n,) for n in names], "name string")
        if re.match(r"^SHOW\s+ALL\s+TABLES$", stripped, re.IGNORECASE):
            # DuckDB's wide listing: database/schema/name + column names
            # and DuckDB type names per table/view
            from .serializer import duckdb_type_name

            rows = []
            for key, meta in sorted(self.catalog.tables.items()):
                sch, _, nm = key.partition("__") if "__" in key else ("main", "", key)
                if sch != "main" and sch not in self.catalog.schemas:
                    sch, nm = "main", key
                rows.append(
                    ("main", sch, nm,
                     [c["name"] for c in meta.columns],
                     [c["type"].upper() for c in meta.columns], False)
                )
            for key in sorted(self.catalog.views):
                try:
                    df = self.query_df(self.catalog.views[key])
                    cols = [f.name for f in df.schema.fields]
                    types = [duckdb_type_name(f.dataType) for f in df.schema.fields]
                except Exception:  # noqa: BLE001 — stale view: list name only
                    cols, types = [], []
                rows.append(("main", "main", key, cols, types, False))
            return self.spark.createDataFrame(
                rows,
                "database string, schema string, name string, "
                "column_names array<string>, column_types array<string>, "
                "temporary boolean",
            )
        m = re.match(r"^PRAGMA\s+table_info\s*\(\s*'?(\w+)'?\s*\)$", stripped, re.IGNORECASE)
        if m and m.group(1) in self.catalog.tables:
            meta = self.catalog.tables[m.group(1)]
            rows = [
                (i, c["name"], c["type"].upper(), bool(c["not_null"] or c["primary_key"]),
                 None, bool(c["primary_key"]))
                for i, c in enumerate(meta.columns)
            ]
            return self.spark.createDataFrame(
                rows,
                "cid int, name string, type string, notnull boolean, "
                "dflt_value string, pk boolean",
            )
        if re.match(r"^PRAGMA\s+version$", stripped, re.IGNORECASE):
            return self.spark.createDataFrame(
                [(f"duckdb_service_spark (Spark {self.spark.version})", "spark")],
                "library_version string, source_id string",
            )
        if re.match(r"^PRAGMA\s+database_size$", stripped, re.IGNORECASE):
            st = self.catalog.status()
            return self.spark.createDataFrame(
                [("main", str(st["warehouse_bytes"]))],
                "database_name string, database_size string",
            )
        m = re.match(r"^PRAGMA\s+(\w+)$", stripped, re.IGNORECASE)
        if m and m.group(1).lower() in self._pragmas:
            # read back a previously-set pragma value
            return self.spark.createDataFrame(
                [(self._pragmas[m.group(1).lower()],)], "value string"
            )
        m = re.match(r"^SUMMARIZE\s+(.+)$", stripped, re.IGNORECASE | re.DOTALL)
        if m:
            target = m.group(1).strip()
            if re.fullmatch(r"\w+", target):
                target = f"SELECT * FROM {target}"
            return self.summarize(self.query_df(target))
        if stripped.upper().startswith("EXPLAIN"):
            inner = stripped[len("EXPLAIN") :].strip()
            analyze = False
            if inner.upper().startswith("ANALYZE"):
                analyze, inner = True, inner[len("ANALYZE") :].strip()
            # query_df, not spark.sql: EXPLAIN over ROUTED constructs (ASOF
            # JOIN, PIVOT, recursive, read_*, FROM-first) must show the plan
            # the engine would actually run
            df = self.query_df(inner)
            if analyze:
                # EXPLAIN ANALYZE: execute, then report the AQE-finalized
                # physical plan (runtime-chosen joins/partitions included)
                df.collect()
                plan = df._jdf.queryExecution().executedPlan().toString()
            else:
                plan = df._jdf.queryExecution().explainString(
                    self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            return self.spark.createDataFrame([(line,) for line in plan.split("\n")], "plan string")
        return None

    def run_statement(self, sql: str):
        """(kind, payload): 'query' → DataFrame, 'execute' → ExecuteOutcome."""
        if self.is_query(sql):
            special = self.describe(sql)
            if special is not None:
                return "query", special
            df = self.query_df(sql)
            # nextval() support inside SELECT (sequences are driver-side)
            return "query", df
        return "execute", self.execute(sql)


__all__ = ["Engine", "ExecuteOutcome", "parse_create_table"]
