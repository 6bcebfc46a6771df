"""DML layer: INSERT append, UPDATE/DELETE copy-on-write, constraint
enforcement (SURVEY §7.5).

rows_affected semantics match db/db.go:57-62 (count of rows the statement
changed). Constraint violations surface as raised errors → the HTTP layer's
{"error": ...} envelope, the same behavior the reference shows for DuckDB
errors (http/service.go:236-237).

Scale: INSERT appends parquet files (no read of existing data except the PK
anti-join); UPDATE/DELETE rewrite only because parquet is immutable — the
rewrite is a full-scan copy-on-write, the documented cost (SURVEY §7.4 item
1). PK checks are an aggregate + broadcast-able anti-join, not a collect.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dialect import _FROM_KW_RE, translate
from .serializer import duckdb_type_name
from .sqltext import close_of, find_top, iter_top, split_top, strip_outer_parens

if TYPE_CHECKING:
    from .executor import Engine


class ConstraintViolation(Exception):
    pass


_RETURNING_RE = re.compile(r"\bRETURNING\b", re.IGNORECASE)
_WORD_RE = re.compile(r"\w+")


def split_returning(sql: str) -> tuple[str, str | None]:
    """Split a trailing top-level ``RETURNING <select-list>`` off a DML
    statement (DuckDB supports RETURNING on INSERT/UPDATE/DELETE; reference
    reach: passthrough db/db.go:52). Paren-depth and string-literal aware so
    ``VALUES ('RETURNING')`` or a subquery containing the word stays intact.
    Returns (body, returning_list | None)."""
    m = find_top(sql, _RETURNING_RE)
    if m is None:
        return sql, None
    return sql[: m.start()].rstrip(), sql[m.end() :].strip() or "*"


def _apply_returning(affected: DataFrame, returning: str) -> DataFrame:
    """Evaluate the RETURNING select list against the affected-row relation
    (which carries exactly the table's columns). Eagerly checkpointed by the
    caller BEFORE the table write, so serializing the result after the
    overwrite/append cannot re-read mutated files."""
    items = [translate(item) for item in split_top(returning)]
    return affected.selectExpr(*items)


def _unique_col_sets(meta) -> list[list[str]]:
    sets = [list(u) for u in getattr(meta, "unique_sets", [])]
    sets += [[c["name"]] for c in meta.columns if c.get("unique")]
    return sets


def _checks(meta) -> list[tuple[str | None, str]]:
    """(column or None for a table-level CHECK, expression) of every CHECK
    constraint, in declaration order."""
    checks = [(c["name"], c["check"]) for c in meta.columns if c.get("check")]
    return checks + [(None, x) for x in getattr(meta, "table_checks", [])]


def _check_failed(table: str, cname: str | None, expr: str) -> ConstraintViolation:
    where = f"{table}.{cname}" if cname else table
    return ConstraintViolation(f"CHECK constraint failed: {where} ({expr})")


def _check_checks(table: str, df: DataFrame, checks: list) -> None:
    """CHECK constraints: a row violates when the expression is FALSE
    (NULL passes — SQL three-valued CHECK semantics, same as DuckDB)."""
    for cname, expr in checks:
        if df.filter(F.expr(translate(expr)) == F.lit(False)).limit(1).count():
            raise _check_failed(table, cname, expr)


def _check_fk_children(engine: "Engine", table: str, incoming: DataFrame) -> None:
    """Child-side FOREIGN KEY: every non-NULL fk value must exist in the
    parent (unnamed target column defaults to the parent's PK)."""
    meta = engine.catalog.tables[table]
    for c in meta.columns:
        fk = c.get("fk")
        if not fk:
            continue
        ref = engine.catalog.tables.get(fk["table"])
        if ref is None:
            raise ConstraintViolation(f"FOREIGN KEY references unknown table {fk['table']}")
        ref_col = fk.get("column") or (ref.pk_cols[0] if ref.pk_cols else None)
        if ref_col is None:
            raise ConstraintViolation(
                f"FOREIGN KEY on {table}.{c['name']}: {fk['table']} has no PRIMARY KEY"
            )
        parent = engine.catalog.read(fk["table"]).select(F.col(ref_col).alias("__pv"))
        if fk["table"] == table and ref_col in incoming.columns:
            # DuckDB validates against END-of-statement state: a batch row
            # may reference another row of the same batch (self-ref FK)
            parent = parent.unionByName(
                incoming.select(F.col(ref_col).alias("__pv"))
            )
        bad = (
            incoming.select(F.col(c["name"]).alias("__cv"))
            .filter(F.col("__cv").isNotNull())
            .join(parent, F.col("__cv") == F.col("__pv"), "left_anti")
            .limit(1)
            .count()
        )
        if bad:
            raise ConstraintViolation(
                f"FOREIGN KEY constraint failed: {table}.{c['name']} -> "
                f"{fk['table']}.{ref_col}"
            )


def _check_fk_parents(
    engine: "Engine", table: str, new_state: DataFrame, touched=lambda cols: True
) -> None:
    """Parent-side FOREIGN KEY: after a DELETE/UPDATE of ``table``, every
    child row referencing it must still resolve against the new state
    (only references to a column ``touched`` accepts)."""
    for child_name, child_meta in engine.catalog.tables.items():
        for c in child_meta.columns:
            fk = c.get("fk")
            if not fk or fk["table"] != table:
                continue
            meta = engine.catalog.tables[table]
            ref_col = fk.get("column") or (meta.pk_cols[0] if meta.pk_cols else None)
            if ref_col is None or not touched([ref_col]):
                continue
            parent = new_state.select(F.col(ref_col).alias("__pv"))
            bad = (
                engine.catalog.read(child_name)
                .select(F.col(c["name"]).alias("__cv"))
                .filter(F.col("__cv").isNotNull())
                .join(parent, F.col("__cv") == F.col("__pv"), "left_anti")
                .limit(1)
                .count()
            )
            if bad:
                raise ConstraintViolation(
                    f"FOREIGN KEY constraint failed: {child_name}.{c['name']} still "
                    f"references deleted/updated rows of {table}.{ref_col}"
                )


def _has_extra_constraints(meta) -> bool:
    return bool(
        getattr(meta, "table_checks", [])
        or getattr(meta, "unique_sets", [])
        or any(c.get("check") or c.get("unique") or c.get("fk") for c in meta.columns)
    )


def _within_one_split(engine: "Engine", df: DataFrame) -> bool:
    """Whether the optimizer's size estimate of ``df`` is within one scan
    split (``spark.sql.files.maxPartitionBytes``)."""
    jss = engine.spark._jsparkSession  # noqa: SLF001
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return size <= jss.sessionState().conf().filesMaxPartitionBytes()


def _check_constraints(engine: "Engine", table: str, incoming: DataFrame) -> int:
    """Check the rows an INSERT adds against the table's constraints and
    return how many there are. One aggregate query over the rows, left
    joined to the stored PRIMARY KEY and UNIQUE tuples, counts every kind
    of violation; the first one raises, in this order: NOT NULL, enum,
    CHECK, FOREIGN KEY (its own query against the parent), then each
    UNIQUE set and the PRIMARY KEY, a duplicate within the rows before a
    clash with a stored row."""
    meta = engine.catalog.tables[table]
    pk = meta.pk_cols
    enums = [c for c in meta.columns if c.get("enum_values")]
    checks = _checks(meta)
    keysets = _unique_col_sets(meta) + ([pk] if pk else [])
    empty = engine.catalog.is_empty(table)
    # Rows within one scan split are checked as one partition, and so is a
    # table within one split (Catalog.read): the joins and the aggregate
    # then need no exchange and the check runs as one job. A merge join
    # keeps a broadcast of the stored keys from running as a job of its own.
    one = _within_one_split(engine, incoming)
    rows = incoming.coalesce(1) if one else incoming
    for i, cols in enumerate([] if empty else keysets):
        # stored key tuples are unique, so the join adds no rows; a NULL
        # key matches nothing, as NULLs are distinct for UNIQUE
        stored = engine.catalog.read(table).select(*cols, F.lit(True).alias(f"__hit{i}"))
        rows = rows.join(stored.hint("merge") if one else stored, cols, "left")
    aggs = [F.count(F.lit(1))]
    aggs += [F.count_if(F.col(c).isNull()) for c in meta.not_null_cols]
    for c in enums:
        col = F.col(c["name"])
        aggs.append(F.first(F.when(~col.isin(c["enum_values"]), col), ignorenulls=True))
    aggs += [F.count_if(F.expr(translate(expr)) == F.lit(False)) for _, expr in checks]
    for i, cols in enumerate(keysets):
        # only fully non-NULL tuples take part; count(DISTINCT a, b) skips
        # a tuple with a NULL in it
        aggs.append(F.count_if(functools_reduce(lambda a, b: a & b,
                                                [F.col(c).isNotNull() for c in cols])))
        aggs.append(F.count_distinct(*[F.col(c) for c in cols]))
        aggs.append(F.lit(0) if empty else F.count_if(F.col(f"__hit{i}").isNotNull()))
    counts = iter(rows.agg(*aggs).first())
    n = next(counts)
    for col in meta.not_null_cols:
        if next(counts):
            raise ConstraintViolation(f"NOT NULL constraint failed: {table}.{col}")
    for c in enums:
        bad = next(counts)
        if bad is not None:
            raise ConstraintViolation(
                f"could not convert string {bad!r} to enum "
                f"{c.get('enum_type')} (allowed: {', '.join(c['enum_values'])})"
            )
    for cname, expr in checks:
        if next(counts):
            raise _check_failed(table, cname, expr)
    _check_fk_children(engine, table, incoming)
    for cols in keysets:
        n_keyed, n_distinct, n_hit = next(counts), next(counts), next(counts)
        names = ", ".join(cols)
        if n_distinct != n_keyed:
            raise ConstraintViolation(
                f"duplicate key in inserted rows for PRIMARY KEY ({names})" if cols is pk
                else f"UNIQUE constraint failed in inserted rows: {table} ({names})"
            )
        if n_hit:
            kind = "PRIMARY KEY" if cols is pk else "UNIQUE"
            raise ConstraintViolation(f"{kind} constraint failed: {table} ({names})")
    return n


_INSERT_RE = re.compile(
    r"^INSERT\s+INTO\s+(\w+)\s*(?:\(\s*(\w+(?:\s*,\s*\w+)*)\s*\))?\s*(BY\s+NAME\s+)?(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_VALUES_HEAD_RE = re.compile(r"^VALUES\b\s*", re.IGNORECASE)
_DEFAULT_VALUES_RE = re.compile(r"^DEFAULT\s+VALUES$", re.IGNORECASE)


def _targets(meta, names: list[str] | None) -> list[str]:
    """The table columns an INSERT writes, in the order its values come:
    the listed ``names`` (matched case-insensitively, as DuckDB binds
    them), or every insertable (non-generated) column."""
    if names is None:
        return [c["name"] for c in meta.columns if not c.get("generated")]
    by_lower = {c["name"].lower(): c["name"] for c in meta.columns}
    out: list[str] = []
    for n in names:
        col = by_lower.get(n.lower())
        if col is None:
            raise ValueError(f'Table "{meta.name}" does not have a column with name "{n}"')
        if col in out:
            raise ValueError(f'Duplicate column name "{n}" in INSERT')
        out.append(col)
    return out


def _aligned(engine: "Engine", table: str, src_cols: list[str], src: DataFrame) -> DataFrame:
    """``src`` (one value per ``src_cols`` entry) widened to the table's
    columns, the unlisted ones filled with their defaults. Each value is
    cast to its column's type under DuckDB's cast error contract: a value
    that does not fit raises DuckDB's conversion error where Spark's cast
    would wrap it or make it NULL."""
    from .sql_routing import cast_contract

    meta = engine.catalog.tables[table]
    schema = meta.spark_schema()
    generated = {c["name"] for c in meta.columns if c.get("generated")}
    bad_gen = [c for c in src_cols if c in generated]
    if bad_gen:
        raise ValueError(f"cannot insert into generated column(s): {', '.join(bad_gen)}")
    given = {name: (f"__v{i}", f.dataType) for i, (name, f) in enumerate(zip(src_cols, src.schema))}
    out = []
    for field in schema.fields:
        if field.name not in given:
            out.append(_default_expr(meta, field.name).cast(field.dataType).alias(field.name))
            continue
        ref, src_type = given[field.name]
        guarded = None
        if src_type != field.dataType:
            guarded = cast_contract(
                ref, src_type.simpleString(), duckdb_type_name(field.dataType)
            )
        value = F.expr(translate(guarded)) if guarded else F.col(ref)
        out.append(value.cast(field.dataType).alias(field.name))
    return src.toDF(*[ref for ref, _ in given.values()]).select(*out)


def _default_expr(meta, name: str):
    """Declared column DEFAULT (NULL when none) — omitted INSERT columns
    must fill it like DuckDB does, not silently NULL."""
    for c in meta.columns:
        if c["name"] == name:
            d = c.get("default")
            return F.expr(translate(d)) if d else F.lit(None)
    return F.lit(None)


_OPEN_PAREN_RE = re.compile(r"\(")


def _typed_values(values: str, targets: list[str], meta) -> str:
    """A bare ``VALUES`` list with every cell cast to the type its target
    column stores, and a ``DEFAULT`` cell replaced by the column's declared
    default (NULL when none). DuckDB casts each cell to its column and
    never unifies the rows first: ``('3.5')`` into an INTEGER column stores
    4, and ``(1), ('2.5')`` into a DOUBLE column stores both. The cast names
    the stored type as DuckDB names it, so an unsigned or BIT column casts
    to the wider or plain type it is stored as, which the front end can
    cast to inside VALUES. Text that is not a plain list of rows, or a row
    whose width does not match ``targets``, is left as written, for the
    query and the alignment to report."""
    rows_text = values[_VALUES_HEAD_RE.match(values).end() :]
    rows, at = [], 0
    for m in iter_top(rows_text, _OPEN_PAREN_RE):
        close = close_of(rows_text, m.start())
        if close == -1 or rows_text[at : m.start()].strip() not in ("", ","):
            return values
        rows.append(split_top(rows_text[m.end() : close - 1]))
        at = close
    if rows_text[at:].strip():
        return values
    schema = meta.spark_schema()
    if any(len(row) != len(targets) for row in rows) or any(t not in schema.names for t in targets):
        return values
    defaults = {c["name"]: c.get("default") or "NULL" for c in meta.columns}
    out_rows = []
    for row in rows:
        cells = []
        for item, name in zip(row, targets):
            if item.strip().upper() == "DEFAULT":
                item = defaults[name]
            cells.append(f"CAST({item} AS {duckdb_type_name(schema[name].dataType)})")
        out_rows.append(f"({', '.join(cells)})")
    return "VALUES " + ", ".join(out_rows)


_ON_CONFLICT_NOTHING_RE = re.compile(
    r"\s+ON\s+CONFLICT(?:\s*\((?P<target>[^)]*)\))?\s+DO\s+NOTHING\s*$", re.IGNORECASE
)


def _check_conflict_target(engine: "Engine", table: str, target: str | None) -> None:
    """The dedup key is always the table PK; a named conflict target that is
    anything else would be silently honored on the wrong columns — raise."""
    if not target or not target.strip():
        return
    named = [c.strip().strip('"').lower() for c in target.split(",") if c.strip()]
    pk = [c.lower() for c in engine.catalog.tables[table].pk_cols]
    if sorted(named) != sorted(pk):
        raise ValueError(
            f"ON CONFLICT target {named} must match the primary key {pk} of {table}; "
            "arbitrary unique-index targets are not supported"
        )


def _drop_conflicts(engine: "Engine", table: str, aligned: DataFrame) -> DataFrame:
    """ON CONFLICT DO NOTHING: keep the first row per PK within the batch,
    anti-join away rows whose PK already exists. Both steps hash on the PK —
    no collect, broadcastable incoming batch."""
    from pyspark.sql.window import Window

    pk = engine.catalog.tables[table].pk_cols
    if not pk:
        return aligned
    w = Window.partitionBy(*pk).orderBy(F.monotonically_increasing_id())
    uniq = aligned.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop(
        "__rn"
    )
    existing = engine.catalog.read(table).select(*pk)
    return uniq.join(existing, pk, "left_anti")


_NEXTVAL_RE = re.compile(r"\bnextval\s*\(\s*'(\w+)'\s*\)", re.IGNORECASE)
_NEXTVAL_ITEM_RE = re.compile(
    r"^nextval\s*\(\s*'(\w+)'\s*\)(?:\s+AS\s+(\w+))?$", re.IGNORECASE
)


def _select_with_sequences(engine: "Engine", select_sql: str) -> DataFrame:
    """INSERT…SELECT with nextval('s'): DuckDB increments per ROW, not per
    textual occurrence. One driver-side block reservation sized by the row
    count, then distributed assignment via a global row position (range-
    partitioned numbering, operators.asof._with_global_pos — no single-task
    sort). Supported shape: nextval as a bare select-list item; embedded
    expressions raise rather than silently stamping one value everywhere.
    Row→value order follows the engine's partition order (the SELECT's row
    order is unspecified anyway); values are contiguous and unique."""
    from ..operators.asof import _with_global_pos

    head = re.match(r"^SELECT\s+", select_sql.strip(), re.IGNORECASE)
    if not head:
        raise ValueError("per-row nextval is only supported in plain SELECT form")
    body = select_sql.strip()[head.end() :]
    # select list ends at the top-level FROM (or the end for FROM-less)
    fm = find_top(body, _FROM_KW_RE)
    from_at = len(body) if fm is None else fm.start()
    select_list, rest = body[:from_at], body[from_at:]

    items = split_top(select_list)
    seq_items: dict[int, tuple[str, str]] = {}  # position -> (seq, colname)
    inner_items = []
    for idx, item in enumerate(items):
        im = _NEXTVAL_ITEM_RE.match(item.strip())
        if im:
            name = im.group(2) or f"__seq_{idx}"
            seq_items[idx] = (im.group(1), name)
            inner_items.append(f"CAST(0 AS BIGINT) AS {name}")
        else:
            if _NEXTVAL_RE.search(item):
                raise ValueError(
                    "per-row nextval inside a larger expression is not supported; "
                    "use it as a bare select-list item"
                )
            inner_items.append(item)
    inner_sql = f"SELECT {', '.join(inner_items)} {rest}"
    src = engine.query_df(inner_sql)
    pos = _with_global_pos(src, [F.monotonically_increasing_id()])
    n = pos.count()
    for idx, (seq, colname) in seq_items.items():
        start = engine.catalog.reserve(seq, n)
        pos = pos.withColumn(colname, (F.lit(start - 1) + F.col("__pos")).cast("long"))
    return pos.select(*[c for c in src.columns])


def _incoming(engine: "Engine", head: str) -> tuple[str, DataFrame]:
    """``INSERT INTO name [(cols)] [BY NAME] <body>`` → (table, the rows to
    insert aligned to the table's columns). The body is a bare VALUES list
    (each cell typed to its column), DEFAULT VALUES, or any query."""
    m = _INSERT_RE.match(head.strip())
    if not m:
        raise ValueError(f"cannot parse INSERT: {head.strip()[:80]}")
    table, cols_spec, by_name, body = m.groups()
    meta = engine.catalog.tables[table]
    targets = _targets(meta, [c.strip() for c in cols_spec.split(",")] if cols_spec else None)
    body = body.strip()
    if _DEFAULT_VALUES_RE.match(body):
        body = "VALUES (" + ", ".join("DEFAULT" for _ in targets) + ")"
    if _VALUES_HEAD_RE.match(body):
        # one value per textual nextval occurrence: each row literal calls
        # nextval itself
        src = engine.query_df(engine._substitute_sequences(_typed_values(body, targets, meta)))
    elif _NEXTVAL_RE.search(body):
        # nextval must increment PER ROW: a reserved contiguous block
        src = _select_with_sequences(engine, body)
    else:
        src = engine.query_df(body)
    if by_name:
        # DuckDB `INSERT INTO t BY NAME <query>`: the source's output names
        # (not positions) pick the target columns; the rest fill defaults
        targets = _targets(meta, src.columns)
    if len(src.columns) != len(targets):
        raise ValueError(
            f"Column name/value mismatch for insert on {table}: expected "
            f"{len(targets)} columns but {len(src.columns)} values were supplied"
            if cols_spec
            else f"table {table} has {len(targets)} columns but "
            f"{len(src.columns)} values were supplied"
        )
    return table, _aligned(engine, table, targets, src)


def insert_rows(engine: "Engine", sql: str, returning: str | None = None):
    """INSERT INTO ... [ON CONFLICT [(target)] DO NOTHING] [RETURNING ...]
    (RETURNING already split off into ``returning``)."""
    stmt = sql.strip()
    conflict = _ON_CONFLICT_NOTHING_RE.search(stmt)
    table, aligned = _incoming(engine, stmt[: conflict.start()] if conflict else stmt)
    if conflict:
        _check_conflict_target(engine, table, conflict.group("target"))
        aligned = _drop_conflicts(engine, table, aligned).localCheckpoint(eager=True)
    n = _check_constraints(engine, table, aligned)
    if returning is not None:
        # pin the inserted rows BEFORE the append: `INSERT INTO t SELECT
        # ... FROM t` would otherwise re-read the appended files
        aligned = aligned.localCheckpoint(eager=True)
    engine.catalog.append(table, aligned)
    if returning is not None:
        return n, _apply_returning(aligned, returning)
    return n


_UPDATE_RE = re.compile(
    r"^UPDATE\s+(\w+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?$", re.IGNORECASE | re.DOTALL
)


def _affected_partitions(engine: "Engine", table: str, df: DataFrame, pred) -> list[tuple]:
    """Distinct partition-column tuples containing rows the predicate hits.
    When the WHERE constrains the partition column, the scan underneath is
    partition-pruned by Spark — the pruning IS the point: an UPDATE touching
    one day of a date-partitioned 100 TB table must read one day."""
    pcols = engine.catalog.tables[table].partition_cols
    return [tuple(r) for r in df.filter(pred).select(*pcols).distinct().collect()]


def _partition_membership(engine: "Engine", table: str, parts: list[tuple]):
    import functools

    pcols = engine.catalog.tables[table].partition_cols
    if not parts:
        return F.lit(False)
    conds = [
        functools.reduce(
            lambda a, b: a & b,
            [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(pcols, tup)],
        )
        for tup in parts
    ]
    return functools.reduce(lambda a, b: a | b, conds)


def update_rows(engine: "Engine", sql: str, returning: str | None = None):
    m = _UPDATE_RE.match(sql.strip())
    if not m:
        raise ValueError(f"cannot parse UPDATE: {sql[:80]}")
    table, set_clause, where = m.groups()
    meta = engine.catalog.tables[table]
    df = engine.catalog.read(table)
    pred = F.expr(translate(where)) if where else F.lit(True)
    n = df.filter(pred).count()
    ret_df: DataFrame | None = None
    assignments = {}
    for part in split_top(set_clause):
        if "=" not in part:
            raise ValueError(f"cannot parse UPDATE assignment (missing '='): {part!r}")
        col, expr = part.split("=", 1)
        if any(c["name"] == col.strip() and c.get("generated") for c in meta.columns):
            raise ValueError(f"cannot UPDATE generated column {col.strip()}")
        if expr.strip().upper() == "DEFAULT":
            assignments[col.strip()] = _default_expr(meta, col.strip())
        else:
            assignments[col.strip()] = F.expr(translate(expr.strip()))
    if meta.partition_cols and any(c in meta.partition_cols for c in assignments):
        raise ValueError("UPDATE of a partition column is not supported; DELETE+INSERT instead")

    def apply_set(src: DataFrame) -> DataFrame:
        out = src
        for col, expr in assignments.items():
            field = meta.spark_schema()[col]
            out = out.withColumn(
                col, F.when(pred, expr.cast(field.dataType)).otherwise(F.col(col))
            )
        return out

    if returning is not None:
        # post-update images of the hit rows, pinned before the rewrite
        ret_df = (
            apply_set(df.filter(F.coalesce(pred, F.lit(False))))
            .localCheckpoint(eager=True)
        )
    if meta.partition_cols:
        parts = _affected_partitions(engine, table, df, pred)
        if not parts:
            return (n, _apply_returning(ret_df, returning)) if ret_df is not None else n
        member = _partition_membership(engine, table, parts)
        scoped = apply_set(df.filter(member))
        checked = scoped
        if meta.pk_cols or _has_extra_constraints(meta):
            # key and foreign-key checks are global: check against the
            # untouched partitions too
            checked = scoped.unionByName(df.filter(~F.coalesce(member, F.lit(False))))
        _check_constraints_update(engine, table, checked, set(assignments))
        engine.catalog.overwrite_partitions(table, scoped)
        return (n, _apply_returning(ret_df, returning)) if ret_df is not None else n
    out = apply_set(df)
    _check_constraints_update(engine, table, out, set(assignments))
    engine.catalog.overwrite(table, out)
    return (n, _apply_returning(ret_df, returning)) if ret_df is not None else n


def _check_constraints_update(
    engine: "Engine", table: str, updated: DataFrame, assigned: set[str] | None = None
) -> None:
    """Check the table's state after an UPDATE-like write. With
    ``assigned`` (the columns the statement sets) only the constraints
    that name one of them are checked, as DuckDB does: the other columns
    keep values that were checked when they were written."""
    meta = engine.catalog.tables[table]
    if assigned is not None:
        assigned = {c.lower() for c in assigned}

    def touched(cols) -> bool:
        return assigned is None or any(c.lower() in assigned for c in cols)

    for col in meta.not_null_cols:
        if touched([col]) and updated.filter(F.col(col).isNull()).limit(1).count():
            raise ConstraintViolation(f"NOT NULL constraint failed: {table}.{col}")
    pk = meta.pk_cols
    if pk and touched(pk) and updated.groupBy(*pk).count().filter(F.col("count") > 1).limit(1).count():
        raise ConstraintViolation(f"PRIMARY KEY constraint failed: {table} ({', '.join(pk)})")
    _check_checks(table, updated, [
        (cname, expr) for cname, expr in _checks(meta)
        if touched([cname or "", *_WORD_RE.findall(expr)])
    ])
    if touched(c["name"] for c in meta.columns if c.get("fk")):
        _check_fk_children(engine, table, updated)
    _check_fk_parents(engine, table, updated, touched)
    for cols in _unique_col_sets(meta):
        if not touched(cols):
            continue
        nn = updated
        for c in cols:
            nn = nn.filter(F.col(c).isNotNull())
        if nn.groupBy(*cols).count().filter(F.col("count") > 1).limit(1).count():
            raise ConstraintViolation(
                f"UNIQUE constraint failed: {table} ({', '.join(cols)})"
            )


_DELETE_RE = re.compile(r"^DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+))?$", re.IGNORECASE | re.DOTALL)


def delete_rows(engine: "Engine", sql: str, returning: str | None = None):
    m = _DELETE_RE.match(sql.strip())
    if not m:
        raise ValueError(f"cannot parse DELETE: {sql[:80]}")
    table, where = m.groups()
    meta = engine.catalog.tables[table]
    df = engine.catalog.read(table)
    pred = F.expr(translate(where)) if where else F.lit(True)
    n = df.filter(pred).count()
    ret_df: DataFrame | None = None
    if returning is not None:
        # the doomed rows, pinned before the rewrite removes their files
        ret_df = df.filter(F.coalesce(pred, F.lit(False))).localCheckpoint(eager=True)
    # SQL three-valued logic: DELETE removes only rows where the predicate is
    # TRUE; rows where it evaluates NULL are retained (filter(~pred) would
    # silently drop them).
    keep = ~F.coalesce(pred, F.lit(False))
    if n:
        # parent-side FOREIGN KEY: refuse while child rows reference the
        # doomed keys (DuckDB's delete-order contract)
        _check_fk_parents(engine, table, df.filter(keep))
    if meta.partition_cols:
        parts = _affected_partitions(engine, table, df, pred)
        if not parts:
            return (n, _apply_returning(ret_df, returning)) if ret_df is not None else n
        member = _partition_membership(engine, table, parts)
        kept_scoped = df.filter(member).filter(keep)
        surviving = {tuple(r) for r in kept_scoped.select(*meta.partition_cols).distinct().collect()}
        engine.catalog.overwrite_partitions(table, kept_scoped)
        # fully-drained partitions get no files from the dynamic overwrite —
        # their old directories must go too
        engine.catalog.drop_partition_dirs(table, [p for p in parts if p not in surviving])
        return (n, _apply_returning(ret_df, returning)) if ret_df is not None else n
    engine.catalog.overwrite(table, df.filter(keep))
    return (n, _apply_returning(ret_df, returning)) if ret_df is not None else n


# ---- upsert + join-powered DML (VERDICT r02 missing #2) --------------------
#
# Reference reach: full Exec passthrough (db/db.go:52) accepts DuckDB's
# `INSERT ... ON CONFLICT DO UPDATE`, `UPDATE ... FROM`, `DELETE ... USING`.
# All three become JOIN-shaped copy-on-write: one shuffle on the join keys,
# no driver-side row loops, broadcast-eligible small sides via AQE — the
# shape that survives a 100 TB target table.

_ON_CONFLICT_UPDATE_RE = re.compile(
    r"\s+ON\s+CONFLICT(?:\s*\((?P<target>[^)]*)\))?\s+DO\s+UPDATE\s+SET\s+"
    r"(?P<set>.+?)(?:\s+WHERE\s+(?P<where>.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_EXCLUDED_RE = re.compile(r"\bexcluded\.(\w+)\b", re.IGNORECASE)


def _resolve_relation(engine: "Engine", name: str) -> DataFrame:
    if name in engine.catalog.tables:
        return engine.catalog.read(name)
    return engine.spark.table(name)


def upsert_values(engine: "Engine", sql: str) -> int | None:
    """INSERT ... ON CONFLICT [(pk)] DO UPDATE SET ... [WHERE ...].

    DuckDB semantics: conflicting rows are updated in place (``excluded.c``
    names the incoming value), non-conflicting rows are appended;
    rows_affected counts both. Several incoming rows conflicting on the same
    key is an error in DuckDB ("can not update the same row twice") — same
    here. Returns None when the statement has no DO UPDATE clause."""
    from .dialect import _rewrite_code

    m = _ON_CONFLICT_UPDATE_RE.search(sql)
    if m is None:
        return None
    table, aligned = _incoming(engine, sql[: m.start()])
    meta = engine.catalog.tables[table]
    pk = meta.pk_cols
    if not pk:
        raise ValueError(f"ON CONFLICT DO UPDATE requires a primary key on {table}")
    _check_conflict_target(engine, table, m.group("target"))
    if aligned.groupBy(*pk).count().filter(F.col("count") > 1).limit(1).count():
        raise ValueError(
            "ON CONFLICT DO UPDATE can not update the same row twice: "
            "incoming batch has duplicate keys"
        )

    # incoming side renamed __exc_<col>; `excluded.c` in SET/WHERE text maps
    # there, bare names keep resolving to the existing row (DuckDB scoping)
    exc = aligned.select(
        *[F.col(c).alias(f"__exc_{c}") for c in aligned.columns],
        F.lit(True).alias("__exc_match"),
    )
    existing = engine.catalog.read(table)
    on = [F.col(c).eqNullSafe(F.col(f"__exc_{c}")) for c in pk]
    joined = existing.join(exc, functools_reduce(lambda a, b: a & b, on), "left")

    def _xlate(text: str) -> str:
        return translate(_rewrite_code(text, lambda c: _EXCLUDED_RE.sub(r"__exc_\1", c)))

    upd_pred = F.col("__exc_match").isNotNull()
    if m.group("where"):
        upd_pred = upd_pred & F.coalesce(F.expr(_xlate(m.group("where"))), F.lit(False))

    assignments: dict[str, "F.Column"] = {}
    for part in split_top(m.group("set")):
        if "=" not in part:
            raise ValueError(f"cannot parse DO UPDATE assignment: {part!r}")
        col, expr = part.split("=", 1)
        col = col.strip()
        if col in pk or col in meta.partition_cols:
            raise ValueError(f"DO UPDATE may not reassign key/partition column {col}")
        assignments[col] = F.expr(_xlate(expr.strip()))

    updated = joined
    for col, expr in assignments.items():
        field = meta.spark_schema()[col]
        updated = updated.withColumn(
            col, F.when(upd_pred, expr.cast(field.dataType)).otherwise(F.col(col))
        )
    n_updated = joined.filter(upd_pred).count()
    tcols = [c["name"] for c in meta.columns]
    new_existing = updated.select(*tcols)

    to_insert = aligned.join(existing.select(*pk), pk, "left_anti").localCheckpoint(
        eager=True
    )
    n_insert = _check_constraints(engine, table, to_insert)
    _check_constraints_update(engine, table, new_existing, set(assignments))

    if meta.partition_cols:
        parts = [
            tuple(r)
            for r in joined.filter(upd_pred)
            .select(*meta.partition_cols)
            .distinct()
            .collect()
        ]
        if parts:
            member = _partition_membership(engine, table, parts)
            engine.catalog.overwrite_partitions(table, new_existing.filter(member))
    elif n_updated:
        engine.catalog.overwrite(table, new_existing)
    if n_insert:
        engine.catalog.append(table, to_insert)
    return n_updated + n_insert


_UPDATE_FROM_RE = re.compile(
    r"^UPDATE\s+(?P<t>\w+)(?:\s+(?:AS\s+)?(?P<ta>\w+))?\s+SET\s+(?P<set>.+?)\s+"
    r"FROM\s+(?P<u>\w+)(?:\s+(?:AS\s+)?(?P<ua>\w+))?(?:\s+WHERE\s+(?P<where>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_USING_RE = re.compile(
    r"^DELETE\s+FROM\s+(?P<t>\w+)(?:\s+(?:AS\s+)?(?P<ta>\w+))?\s+"
    r"USING\s+(?P<u>\w+)(?:\s+(?:AS\s+)?(?P<ua>\w+))?(?:\s+WHERE\s+(?P<where>.+))?$",
    re.IGNORECASE | re.DOTALL,
)


def _qualified_rewrite(text: str, t_names: set[str], u_names: set[str]) -> str:
    """Rewrite `t.col` → `col` and `u.col` → `__src_col` (literal-aware)."""
    from .dialect import _rewrite_code

    def _fix(code: str) -> str:
        for al in u_names:
            code = re.sub(rf"\b{al}\.(\w+)\b", r"__src_\1", code, flags=re.IGNORECASE)
        for al in t_names:
            code = re.sub(rf"\b{al}\.", "", code, flags=re.IGNORECASE)
        return code

    return _rewrite_code(text, _fix)


def _join_src(engine: "Engine", name: str) -> DataFrame:
    src = _resolve_relation(engine, name)
    return src.select(
        *[F.col(c).alias(f"__src_{c}") for c in src.columns],
        F.lit(True).alias("__src_match"),
    )


_SUBQ_SRC_RE = re.compile(
    r"^(?P<head>UPDATE\s+\w+(?:\s+(?:AS\s+)?\w+)?\s+SET\s+.+?\s+FROM\s+"
    r"|DELETE\s+FROM\s+\w+(?:\s+(?:AS\s+)?\w+)?\s+USING\s+)\(",
    re.IGNORECASE | re.DOTALL,
)


def _materialize_subquery_source(engine: "Engine", sql: str) -> str:
    """``UPDATE ... FROM (SELECT ...) alias`` / ``DELETE ... USING (...)``:
    run the subquery through the full query router and swap a temp view
    name into the statement so the plain-identifier grammar below applies
    (DuckDB accepts arbitrary derived sources here)."""
    m = _SUBQ_SRC_RE.match(sql.strip())
    if m is None:
        return sql
    s = sql.strip()
    open_at = m.end()
    j = close_of(s, open_at - 1)
    if j == -1:
        raise ValueError("unbalanced parentheses in the DML source subquery")
    inner = s[open_at : j - 1]
    view = "__dml_subq_src"
    engine.query_df(inner).createOrReplaceTempView(view)
    return s[: m.end() - 1] + view + s[j:]


def update_from(engine: "Engine", sql: str) -> int | None:
    """UPDATE t SET ... FROM u WHERE <join cond> — join-powered copy-on-write.

    Each target row with ≥1 matching source row gets the SET applied; more
    than one match is ambiguous (which source row wins?) and raises rather
    than picking one silently. Returns None when there is no FROM clause."""
    sql = _materialize_subquery_source(engine, sql)
    m = _UPDATE_FROM_RE.match(sql.strip())
    if m is None:
        return None
    table, ta = m.group("t"), m.group("ta") or m.group("t")
    uname, ua = m.group("u"), m.group("ua") or m.group("u")
    meta = engine.catalog.tables[table]
    target = engine.catalog.read(table).withColumn(
        "__tid", F.monotonically_increasing_id()
    )
    src = _join_src(engine, uname)
    t_names, u_names = {ta, table}, {ua, uname}
    cond = (
        F.expr(translate(_qualified_rewrite(m.group("where"), t_names, u_names)))
        if m.group("where")
        else F.lit(True)
    )
    joined = target.join(src, cond, "left")
    dup = (
        joined.filter(F.col("__src_match").isNotNull())
        .groupBy("__tid")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "UPDATE ... FROM: a target row matches multiple source rows; "
            "the result would depend on which one wins — deduplicate the source"
        )
    assignments = {}
    for part in split_top(m.group("set")):
        if "=" not in part:
            raise ValueError(f"cannot parse UPDATE assignment: {part!r}")
        col, expr = part.split("=", 1)
        col = col.strip()
        if col in meta.partition_cols:
            raise ValueError("UPDATE of a partition column is not supported")
        assignments[col] = F.expr(
            translate(_qualified_rewrite(expr.strip(), t_names, u_names))
        )
    upd = F.col("__src_match").isNotNull()
    out = joined
    for col, expr in assignments.items():
        field = meta.spark_schema()[col]
        out = out.withColumn(
            col, F.when(upd, expr.cast(field.dataType)).otherwise(F.col(col))
        )
    n = joined.filter(upd).count()
    tcols = [c["name"] for c in meta.columns]
    new_df = out.select(*tcols, "__tid").dropDuplicates(["__tid"]).select(*tcols)
    _check_constraints_update(engine, table, new_df, set(assignments))
    if meta.partition_cols:
        parts = [
            tuple(r)
            for r in joined.filter(upd).select(*meta.partition_cols).distinct().collect()
        ]
        if parts:
            member = _partition_membership(engine, table, parts)
            engine.catalog.overwrite_partitions(table, new_df.filter(member))
        return n
    if n:
        engine.catalog.overwrite(table, new_df)
    return n


def delete_using(engine: "Engine", sql: str) -> int | None:
    """DELETE FROM t USING u WHERE <cond> — anti-join copy-on-write.
    Returns None when there is no USING clause."""
    sql = _materialize_subquery_source(engine, sql)
    m = _DELETE_USING_RE.match(sql.strip())
    if m is None:
        return None
    table, ta = m.group("t"), m.group("ta") or m.group("t")
    uname, ua = m.group("u"), m.group("ua") or m.group("u")
    meta = engine.catalog.tables[table]
    target = engine.catalog.read(table)
    src = _join_src(engine, uname)
    t_names, u_names = {ta, table}, {ua, uname}
    cond = (
        F.expr(translate(_qualified_rewrite(m.group("where"), t_names, u_names)))
        if m.group("where")
        else F.lit(True)
    )
    doomed = target.join(src, cond, "left_semi")
    n = doomed.count()
    kept = target.join(src, cond, "left_anti")
    if meta.partition_cols:
        parts = [
            tuple(r)
            for r in doomed.select(*meta.partition_cols).distinct().collect()
        ]
        if not parts:
            return n
        member = _partition_membership(engine, table, parts)
        kept_scoped = kept.filter(member)
        surviving = {
            tuple(r)
            for r in kept_scoped.select(*meta.partition_cols).distinct().collect()
        }
        engine.catalog.overwrite_partitions(table, kept_scoped)
        engine.catalog.drop_partition_dirs(
            table, [p for p in parts if p not in surviving]
        )
        return n
    if n:
        engine.catalog.overwrite(table, kept)
    return n


def functools_reduce(fn, seq):
    import functools

    return functools.reduce(fn, seq)


# ---- MERGE INTO (DuckDB 1.4 surface) ---------------------------------------
#
# Reference reach: full Exec passthrough (db/db.go:52) accepts DuckDB's
# `MERGE INTO target USING source ON cond WHEN ...` (DuckDB >= 1.4). Spark
# has no native MERGE outside Delta, so this compiles to the same join-
# powered copy-on-write the other upsert forms use: ONE left join of the
# target on the merge condition resolves every matched/not-matched-by-source
# clause per target row (chained, first-match-wins), one anti join resolves
# the insert side — two shuffles on the join keys total, broadcast-eligible
# small sources via AQE, no driver-side row loops.

_MERGE_CLAUSE_RE = re.compile(
    r"^(?:(?P<not>NOT)\s+)?MATCHED(?:\s+BY\s+(?P<by>SOURCE|TARGET))?"
    r"(?:\s+AND\s+(?P<cond>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


_ON_RE = re.compile(r"\bON\b", re.IGNORECASE)
_WHEN_RE = re.compile(r"\bWHEN\b", re.IGNORECASE)
_THEN_RE = re.compile(r"\bTHEN\b", re.IGNORECASE)


def _parse_merge(sql: str):
    """Parse MERGE INTO into (target, t_alias, source_text, u_alias, on_cond,
    clauses). clauses = list of (kind, cond_text, action_text) where kind is
    'matched' | 'not_by_target' | 'not_by_source'."""
    m = re.match(
        r"^MERGE\s+INTO\s+(?P<t>\w+)(?:\s+(?:AS\s+)?(?P<ta>\w+))?\s+USING\s+",
        sql,
        re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse MERGE INTO statement: {sql[:80]}")
    table, ta = m.group("t"), m.group("ta") or m.group("t")
    rest = sql[m.end() :]
    on_m = find_top(rest, _ON_RE)
    if on_m is None:
        raise ValueError("MERGE INTO requires an ON condition")
    src_text = rest[: on_m.start()].strip()
    rest = rest[on_m.end() :]
    when_m = find_top(rest, _WHEN_RE)
    if when_m is None:
        raise ValueError("MERGE INTO requires at least one WHEN clause")
    on_cond = rest[: when_m.start()].strip()
    clauses = []
    body = rest[when_m.start() :]
    while body:
        assert body[:4].upper() == "WHEN"
        body = body[4:]
        nxt = find_top(body, _WHEN_RE)
        clause, body = (body[: nxt.start()], body[nxt.start() :]) if nxt else (body, "")
        then_m = find_top(clause, _THEN_RE)
        if then_m is None:
            raise ValueError(f"MERGE WHEN clause without THEN: {clause[:60]}")
        head, action = clause[: then_m.start()].strip(), clause[then_m.end() :].strip()
        hm = _MERGE_CLAUSE_RE.match(head)
        if not hm:
            raise ValueError(f"cannot parse MERGE WHEN clause: {head[:60]}")
        if hm.group("not"):
            by = (hm.group("by") or "TARGET").upper()
            kind = "not_by_source" if by == "SOURCE" else "not_by_target"
        else:
            if hm.group("by"):
                raise ValueError("WHEN MATCHED takes no BY qualifier")
            kind = "matched"
        clauses.append((kind, hm.group("cond"), action))
    # source: bare table/view name or parenthesized subquery, optional alias
    sm = re.match(
        r"^(?:(?P<name>\w+)|(?P<subq>\(.+\)))(?:\s+(?:AS\s+)?(?P<ua>\w+))?$",
        src_text,
        re.IGNORECASE | re.DOTALL,
    )
    if not sm:
        raise ValueError(f"cannot parse MERGE source: {src_text[:60]}")
    return table, ta, sm.group("name"), sm.group("subq"), sm.group("ua"), on_cond, clauses


def merge_into(engine: "Engine", sql: str, returning: str | None = None):
    """MERGE INTO t USING s ON cond WHEN [NOT] MATCHED [BY SOURCE] [AND c]
    THEN UPDATE SET ... | UPDATE | DELETE | DO NOTHING | INSERT [(cols)
    VALUES (...)] | INSERT — first matching clause wins per row, DuckDB
    semantics. rows_affected = updates + deletes + inserts. A target row
    matching multiple source rows raises (the winner would be arbitrary).

    RETURNING exposes the affected rows plus ``merge_action``
    ('UPDATE' | 'DELETE' | 'INSERT'), mirroring DuckDB's merge_action()."""
    table, ta, src_name, src_subq, ua, on_cond, clauses = _parse_merge(sql.strip())
    if table not in engine.catalog.tables:
        raise ValueError(f"table {table} does not exist")
    meta = engine.catalog.tables[table]
    tcols = [c["name"] for c in meta.columns]

    if src_subq is not None:
        src_raw = engine.query_df(strip_outer_parens(src_subq))
        u_names = {ua} if ua else set()
    else:
        src_raw = _resolve_relation(engine, src_name)
        u_names = {ua or src_name, src_name}
    src_cols = src_raw.columns
    t_names = {ta, table}
    src = src_raw.select(
        *[F.col(c).alias(f"__src_{c}") for c in src_cols],
        F.lit(True).alias("__src_match"),
    )

    # bare identifiers naming a SOURCE-only column must resolve against the
    # prefixed source side of the join (target-name collisions keep DuckDB's
    # target-first scoping via the plain column)
    src_only = [c for c in src_cols if c not in tcols]

    def _cond_expr(text: str) -> "F.Column":
        from .dialect import _rewrite_code

        code = _qualified_rewrite(text, t_names, u_names)

        def _fix(chunk: str) -> str:
            for c in src_only:
                chunk = re.sub(rf"\b{c}\b(?!\s*\()", f"__src_{c}", chunk)
            return chunk

        return F.expr(translate(_rewrite_code(code, _fix)))

    target = engine.catalog.read(table).withColumn("__tid", F.monotonically_increasing_id())
    cond = _cond_expr(on_cond)

    target_clauses = [c for c in clauses if c[0] in ("matched", "not_by_source")]
    insert_clauses = [c for c in clauses if c[0] == "not_by_target"]

    n_upd = n_del = n_ins = 0
    ret_parts: list[DataFrame] = []
    new_existing = None
    act = None
    joined = None
    if target_clauses:
        joined = target.join(src, cond, "left")
        matched = F.col("__src_match").isNotNull()
        if any(k == "matched" for k, _, _ in target_clauses):
            dup = (
                joined.filter(matched)
                .groupBy("__tid")
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "MERGE can not update the same row twice: a target row "
                    "matches multiple source rows — deduplicate the source"
                )
        else:
            # No WHEN MATCHED clause: matched rows can only be tagged 'keep',
            # but the left join still fans a target row out once per matching
            # source row — collapse back to one row per target id so the
            # rewrite doesn't duplicate untouched rows. Safe because the
            # matched flag and every referenced column are identical across a
            # target row's duplicates (NOT MATCHED BY SOURCE rows join to
            # nothing, so their source columns are uniformly NULL).
            joined = joined.dropDuplicates(["__tid"])
        # first-match-wins action tag per target row
        act = F.lit("keep")
        tags: list[tuple[str, dict | None]] = []  # (tag, assignments|None=delete)
        chain = None
        for i, (kind, ctext, action) in enumerate(target_clauses):
            base = matched if kind == "matched" else ~matched
            if ctext:
                base = base & F.coalesce(_cond_expr(ctext), F.lit(False))
            au = action.upper()
            if au.startswith("UPDATE"):
                tag = f"u{i}"
                rest = action[len("UPDATE") :].strip()
                if rest:
                    sm = re.match(r"^SET\s+(.+)$", rest, re.IGNORECASE | re.DOTALL)
                    if not sm:
                        raise ValueError(f"cannot parse MERGE UPDATE action: {action[:60]}")
                    assignments = {}
                    for part in split_top(sm.group(1)):
                        col, expr = part.split("=", 1)
                        assignments[col.strip()] = _cond_expr(expr.strip())
                else:
                    if kind == "not_by_source":
                        raise ValueError(
                            "WHEN NOT MATCHED BY SOURCE THEN UPDATE requires SET "
                            "(there is no source row to copy from)"
                        )
                    # shorthand: every common non-key column from the source
                    keys = set(meta.pk_cols) | set(meta.partition_cols)
                    assignments = {
                        c: F.col(f"__src_{c}")
                        for c in tcols
                        if c in src_cols and c not in keys
                    }
                for col in assignments:
                    if col in meta.partition_cols:
                        raise ValueError(
                            f"MERGE may not reassign partition column {col}"
                        )
            elif au == "DELETE":
                tag, assignments = "d", None
            elif re.fullmatch(r"DO\s+NOTHING", au):
                tag, assignments = "keep", {}
            else:
                raise ValueError(
                    f"unsupported MERGE action for {kind} clause: {action[:60]}"
                )
            tags.append((tag, assignments))
            chain = chain.when(base, tag) if chain is not None else F.when(base, tag)
        act = chain.otherwise(F.lit("keep")) if chain is not None else F.lit("keep")
        out = joined.withColumn("__act", act)
        for i, (tag, assignments) in enumerate(tags):
            if not assignments:
                continue
            for col, expr in assignments.items():
                field = meta.spark_schema()[col]
                out = out.withColumn(
                    col,
                    F.when(F.col("__act") == tag, expr.cast(field.dataType)).otherwise(
                        F.col(col)
                    ),
                )
        # eager checkpoint BEFORE any table write: the RETURNING frames and
        # the final overwrite both derive from this plan, and a lazy plan
        # would re-read the mutated table files after overwrite/append
        out = out.localCheckpoint(eager=True)
        n_upd = out.filter(F.col("__act").startswith("u")).count()
        n_del = out.filter(F.col("__act") == "d").count()
        new_existing = out.filter(F.col("__act") != "d").select(*tcols, "__act")
        if returning is not None:
            ret_parts.append(
                out.filter(F.col("__act").startswith("u"))
                .select(*tcols)
                .withColumn("merge_action", F.lit("UPDATE"))
            )
            ret_parts.append(
                out.filter(F.col("__act") == "d")
                .select(*tcols)
                .withColumn("merge_action", F.lit("DELETE"))
            )

    to_insert = None
    if insert_clauses:
        # source rows with no target match, restored to their natural names
        ins0 = src.join(target, cond, "left_anti").select(
            *[F.col(f"__src_{c}").alias(c) for c in src_cols]
        )

        def _ins_expr(text: str) -> "F.Column":
            # inside an insert clause bare/qualified names are SOURCE columns
            return F.expr(translate(_qualified_rewrite(text, u_names, set())))

        chain_pred = F.lit(False)
        pieces = []
        for kind, ctext, action in insert_clauses:
            pred = F.coalesce(_ins_expr(ctext), F.lit(False)) if ctext else F.lit(True)
            pred = pred & ~chain_pred
            chain_pred = chain_pred | pred
            au = action.upper()
            if re.fullmatch(r"DO\s+NOTHING", au):
                continue
            im = re.match(
                r"^INSERT\s*(?:\*|(?:\((?P<cols>[^)]*)\)\s*)?(?:VALUES\s*\((?P<vals>.+)\))?)?$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            if not im:
                raise ValueError(f"unsupported MERGE INSERT action: {action[:60]}")
            rows = ins0.filter(pred)
            if im.group("vals"):
                vals = [
                    _ins_expr(v.strip()) for v in split_top(im.group("vals"))
                ]
                cols = (
                    [c.strip() for c in im.group("cols").split(",")]
                    if im.group("cols")
                    else tcols
                )
                if len(vals) != len(cols):
                    raise ValueError("MERGE INSERT column/value count mismatch")
                named = dict(zip(cols, vals))
                sel = [
                    (
                        named[c]
                        if c in named
                        else F.lit(None)
                    ).cast(meta.spark_schema()[c].dataType).alias(c)
                    for c in tcols
                ]
            else:
                # INSERT / INSERT *: align by name, missing columns NULL
                sel = [
                    (
                        F.col(c) if c in src_cols else F.lit(None)
                    ).cast(meta.spark_schema()[c].dataType).alias(c)
                    for c in tcols
                ]
            pieces.append(rows.select(*sel))
        if pieces:
            to_insert = pieces[0]
            for p in pieces[1:]:
                to_insert = to_insert.unionByName(p)
            to_insert = to_insert.localCheckpoint(eager=True)
            n_ins = _check_constraints(engine, table, to_insert)
            if returning is not None and n_ins:
                ret_parts.append(
                    to_insert.withColumn("merge_action", F.lit("INSERT"))
                )

    if new_existing is not None and (n_upd or n_del):
        final_rows = new_existing.select(*tcols)
        _check_constraints_update(engine, table, final_rows)
        if meta.partition_cols:
            touched = (
                out.filter(F.col("__act") != "keep")
                .select(*meta.partition_cols)
                .distinct()
            )
            parts = [tuple(r) for r in touched.collect()]
            if parts:
                member = _partition_membership(engine, table, parts)
                kept_scoped = final_rows.filter(member)
                surviving = {
                    tuple(r)
                    for r in kept_scoped.select(*meta.partition_cols)
                    .distinct()
                    .collect()
                }
                engine.catalog.overwrite_partitions(table, kept_scoped)
                engine.catalog.drop_partition_dirs(
                    table, [p for p in parts if p not in surviving]
                )
        else:
            engine.catalog.overwrite(table, final_rows)
    if to_insert is not None and n_ins:
        engine.catalog.append(table, to_insert)

    n = n_upd + n_del + n_ins
    if returning is not None:
        if not ret_parts:
            ret_parts.append(
                engine.catalog.read(table).limit(0)
                .withColumn("merge_action", F.lit(None).cast("string"))
            )
        affected = ret_parts[0]
        for p in ret_parts[1:]:
            affected = affected.unionByName(p)
        returning = re.sub(r"\bmerge_action\s*\(\s*\)", "merge_action", returning,
                          flags=re.IGNORECASE)
        return n, _apply_returning(affected, returning)
    return n
