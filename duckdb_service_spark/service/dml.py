"""DML layer: every row-changing statement (INSERT, UPDATE, DELETE,
TRUNCATE, MERGE) compiled to one shape and applied by one copy-on-write
writer, with constraint enforcement (SURVEY §7.5).

rows_affected semantics match db/db.go:57-62 (count of rows the statement
changed). Constraint violations surface as raised errors → the HTTP layer's
{"error": ...} envelope, the same behavior the reference shows for DuckDB
errors (http/service.go:236-237).

Scale: a statement that only adds rows appends parquet files (no read of
existing data except the key checks); one that updates or deletes rewrites
the table, or its touched partitions, because parquet is immutable — a
full-scan copy-on-write, the documented cost (SURVEY §7.4 item 1). Key
checks are an aggregate + broadcast-able join, not a collect.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dialect import _FROM_KW_RE, _rewrite_code, translate
from .serializer import duckdb_type_name
from .sqltext import close_of, find_top, iter_top, split_top, strip_outer_parens

if TYPE_CHECKING:
    from .executor import Engine


class ConstraintViolation(ValueError):
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


def _check_fk_parents(engine: "Engine", table: str, new_state: DataFrame, touched) -> None:
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


def _within_one_split(engine: "Engine", df: DataFrame) -> bool:
    """Whether the optimizer's size estimate of ``df`` is within one scan
    split (``spark.sql.files.maxPartitionBytes``)."""
    jss = engine.spark._jsparkSession  # noqa: SLF001
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return size <= jss.sessionState().conf().filesMaxPartitionBytes()


def _join(engine: "Engine", left: DataFrame, right: DataFrame, on, how: str) -> DataFrame:
    """``left.join(right, on, how)``. When both sides are within one scan
    split, each is read as one partition and an equi-join is merge-joined:
    it then needs no exchange and no broadcast job of its own."""
    if not (_within_one_split(engine, left) and _within_one_split(engine, right)):
        return left.join(right, on, how)
    left, right = left.coalesce(1), right.coalesce(1)
    if how != "left_anti":
        return left.join(right.hint("merge"), on, how)
    # the optimizer pushes an anti join below the left side's coalesce;
    # a left join that keeps the unmatched rows stays above it
    hit = right.withColumn("__hit", F.lit(True)).hint("merge")
    return left.join(hit, on, "left").filter(F.col("__hit").isNull()).select(*left.columns)


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
        aggs.append(F.count_if(_not_null(cols)))
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


def _not_null(cols: list[str]):
    return reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in cols])


def _check_constraints_update(
    engine: "Engine", table: str, state: DataFrame, assigned: set[str], deleted: bool = False
) -> None:
    """Check the table's state after an update or a delete. Only the
    constraints that name a column in ``assigned`` are checked, as DuckDB
    does: the other columns keep values that were checked when they were
    written. After a delete (``deleted``) every FOREIGN KEY that references
    the table is checked against the surviving rows."""
    meta = engine.catalog.tables[table]
    assigned = {c.lower() for c in assigned}

    def touched(cols) -> bool:
        return any(c.lower() in assigned for c in cols)

    for col in meta.not_null_cols:
        if touched([col]) and state.filter(F.col(col).isNull()).limit(1).count():
            raise ConstraintViolation(f"NOT NULL constraint failed: {table}.{col}")
    _check_checks(table, state, [
        (cname, expr) for cname, expr in _checks(meta)
        if touched([cname or "", *_WORD_RE.findall(expr)])
    ])
    if touched(c["name"] for c in meta.columns if c.get("fk")):
        _check_fk_children(engine, table, state)
    _check_fk_parents(engine, table, state, lambda cols: deleted or touched(cols))
    pk = meta.pk_cols
    for cols in _unique_col_sets(meta) + ([pk] if pk else []):
        if not touched(cols):
            continue
        # NULLs are distinct for UNIQUE
        keyed = state.filter(_not_null(cols))
        if keyed.groupBy(*cols).count().filter(F.col("count") > 1).limit(1).count():
            kind = "PRIMARY KEY" if cols is pk else "UNIQUE"
            raise ConstraintViolation(f"{kind} constraint failed: {table} ({', '.join(cols)})")


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
    no collect; a batch within one scan split is read as one partition, so
    neither needs an exchange."""
    from pyspark.sql.window import Window

    pk = engine.catalog.tables[table].pk_cols
    if not pk:
        return aligned
    if _within_one_split(engine, aligned):
        aligned = aligned.coalesce(1)
    w = Window.partitionBy(*pk).orderBy(F.monotonically_increasing_id())
    uniq = aligned.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop(
        "__rn"
    )
    return _join(engine, uniq, engine.catalog.read(table).select(*pk), pk, "left_anti")


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


# ---- one shape for every row-changing statement ----------------------------
#
# Reference reach: full Exec passthrough (db/db.go:52) accepts DuckDB's
# INSERT [ON CONFLICT …], UPDATE [FROM], DELETE [USING], TRUNCATE and
# MERGE INTO. Each compiles to a _Change: the target table's rows, each
# tagged with an action (keep, update or delete) and carrying its new
# values, plus the rows to insert. Join-powered forms join the target to
# their source once (broadcast-eligible small sides via AQE, no driver-side
# row loops). One writer (_write) then counts, checks, takes the RETURNING
# rows and makes the table write.


@dataclass
class _Change:
    table: str
    # the table's rows: its columns (new values on updated rows) and __act
    # ('keep' | 'u' | 'd')
    target: DataFrame | None = None
    # rows to add, aligned to the table's columns
    inserts: DataFrame | None = None
    # columns an update assigns: the constraints naming them are checked
    assigned: set[str] = field(default_factory=set)
    # raised when a target row matches more than one source row (the
    # target then carries __tid and __src_match)
    twice: str | None = None
    # RETURNING rows carry merge_action
    merge: bool = False


def _tagged(frame: DataFrame, cases: list) -> DataFrame:
    """``frame`` with ``__act``, the action of the first case whose
    condition holds ('keep' when none does), and every column a case
    assigns set to its value on that case's rows. ``cases`` are
    (condition, 'u' | 'd' | 'keep', {column: value}). All values read the
    row as it was, so ``SET a = b, b = a`` swaps."""
    pick = F.lit(None)
    for i, (cond, _, _) in reversed(list(enumerate(cases))):
        pick = F.when(cond, F.lit(i)).otherwise(pick)
    frame = frame.withColumn("__case", pick)
    case = F.col("__case")
    act, new = F.lit("keep"), {}
    for i, (_, action, sets) in enumerate(cases):
        act = F.when(case == i, F.lit(action)).otherwise(act)
        for col, value in sets.items():
            new[col] = F.when(case == i, value).otherwise(new.get(col, F.col(col)))
    return frame.withColumns({**new, "__act": act})


def _bind_set(meta, text: str, value, keys=()) -> dict:
    """A SET list bound as DuckDB binds it: each target names a column of
    the table (case-insensitively) once, and may not be a generated
    column, a partition column or one of ``keys``. ``DEFAULT`` stores the
    column's declared default; any other value is the Column ``value``
    makes of its text, cast to the column's type."""
    by_lower = {c["name"].lower(): c for c in meta.columns}
    schema = meta.spark_schema()
    out: dict = {}
    for item in split_top(text):
        name, eq, expr = (s.strip() for s in item.partition("="))
        if not eq or not name or not expr:
            raise ValueError(f'Parser Error: syntax error at or near "{item.strip()}"')
        col = by_lower.get(name.strip('"').lower())
        if col is None:
            raise ValueError(f"Referenced update column {name} not found in table!")
        cname = col["name"]
        if col.get("generated"):
            raise ValueError(f'Cant update column "{cname}" because it is a generated column!')
        if cname in keys:
            raise ValueError(
                f"Can not assign to column '{name}' because it has a UNIQUE/PRIMARY KEY constraint"
            )
        if cname in meta.partition_cols:
            raise ValueError(
                f"UPDATE of partition column {cname} is not supported; DELETE+INSERT instead"
            )
        if cname in out:
            raise ValueError(f'Multiple assignments to same column "{cname}"')
        v = _default_expr(meta, cname) if expr.upper() == "DEFAULT" else value(expr)
        out[cname] = v.cast(schema[cname].dataType)
    return out


def _expr(text: str):
    return F.expr(translate(text))


def _meta(engine: "Engine", table: str):
    meta = engine.catalog.tables.get(table)
    if meta is None:
        raise ValueError(f"Catalog Error: Table with name {table} does not exist!")
    return meta


def _split_at(text: str, keyword: "re.Pattern[str]") -> tuple[str, str | None]:
    """(text before the first top-level ``keyword``, text after it or None)."""
    m = find_top(text, keyword)
    if m is None:
        return text.strip(), None
    return text[: m.start()].strip(), text[m.end() :].strip()


# ---- sources of UPDATE…FROM, DELETE…USING and MERGE ------------------------

_SOURCE_RE = re.compile(
    r"^(?:(?P<name>\w+)|(?P<subq>\(.+\)))(?:\s+(?:AS\s+)?(?P<alias>\w+))?$",
    re.IGNORECASE | re.DOTALL,
)


@dataclass
class _Join:
    target: DataFrame  # the table's rows with a row id, __tid
    src: DataFrame  # the source's columns as __src_<c>, and __src_match
    src_cols: list[str]
    on: "F.Column"
    value: Callable  # text over the target and the source → Column
    src_value: Callable  # text over the source's own columns → Column


def _qualified_rewrite(text: str, t_names: set[str], u_names: set[str]) -> str:
    """Rewrite `t.col` → `col` and `u.col` → `__src_col` (literal-aware)."""

    def _fix(code: str) -> str:
        for al in u_names:
            code = re.sub(rf"\b{al}\.(\w+)\b", r"__src_\1", code, flags=re.IGNORECASE)
        for al in t_names:
            code = re.sub(rf"\b{al}\.", "", code, flags=re.IGNORECASE)
        return code

    return _rewrite_code(text, _fix)


def _join_source(engine: "Engine", table: str, alias: str, src_text: str, on: str | None) -> _Join:
    """Bind a statement's source (a table, a view or a parenthesized query,
    with an optional alias) and its join condition ``on``. A qualified name
    resolves by its alias; a bare name resolves to the target's column
    first and then to a source-only column, as DuckDB scopes them."""
    m = _SOURCE_RE.match(src_text.strip())
    if not m:
        raise ValueError(f"cannot parse DML source: {src_text.strip()[:60]}")
    name, subq, ua = m.group("name", "subq", "alias")
    if subq is not None:
        raw = engine.query_df(strip_outer_parens(subq))
        u_names = {ua} if ua else set()
    else:
        raw = engine._resolve_view(name)
        u_names = {ua or name, name}
    t_names = {alias, table}
    tcols = {c["name"].lower() for c in engine.catalog.tables[table].columns}
    src_only = [c for c in raw.columns if c.lower() not in tcols]

    def value(text: str) -> "F.Column":
        def _fix(chunk: str) -> str:
            for c in src_only:
                chunk = re.sub(rf"\b{c}\b(?!\s*\()", f"__src_{c}", chunk)
            return chunk

        return _expr(_rewrite_code(_qualified_rewrite(text, t_names, u_names), _fix))

    def src_value(text: str) -> "F.Column":
        return _expr(_qualified_rewrite(text, u_names, set()))

    src = raw.select(
        *[F.col(c).alias(f"__src_{c}") for c in raw.columns], F.lit(True).alias("__src_match")
    )
    target = engine.catalog.read(table).withColumn("__tid", F.monotonically_increasing_id())
    return _Join(target, src, raw.columns, value(on) if on else F.lit(True), value, src_value)


# ---- compilers --------------------------------------------------------------

_ON_CONFLICT_RE = re.compile(
    r"\s+ON\s+CONFLICT(?:\s*\((?P<target>[^)]*)\))?\s+DO\s+(?:(?P<nothing>NOTHING)"
    r"|UPDATE\s+SET\s+(?P<set>.+?))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_EXCLUDED_RE = re.compile(r"\bexcluded\.(\w+)\b", re.IGNORECASE)
_OR_SHORTHAND_RE = re.compile(r"^INSERT\s+OR\s+(IGNORE|REPLACE)\s+INTO\s+(\w+)\b(.*)$",
                              re.IGNORECASE | re.DOTALL)


def _expand_or_shorthand(engine: "Engine", sql: str) -> str:
    """DuckDB shorthands (verified): INSERT OR IGNORE ≡ ON CONFLICT DO
    NOTHING; INSERT OR REPLACE ≡ ON CONFLICT DO UPDATE SET <every non-key
    column> = excluded.<col>."""
    m = _OR_SHORTHAND_RE.match(sql)
    if not m:
        return sql
    mode, table, rest = m.group(1).upper(), m.group(2), m.group(3)
    meta = _meta(engine, table)
    keys = set(meta.pk_cols) | set(meta.partition_cols)
    sets = ", ".join(
        f"{c['name']} = excluded.{c['name']}"
        for c in meta.columns
        if c["name"] not in keys and not c.get("generated")
    )
    action = f"DO UPDATE SET {sets}" if mode == "REPLACE" and sets else "DO NOTHING"
    return f"INSERT INTO {table}{rest} ON CONFLICT {action}"


def _compile_insert(engine: "Engine", sql: str, returning: bool) -> _Change:
    """INSERT INTO … [ON CONFLICT [(target)] DO NOTHING | DO UPDATE SET …
    [WHERE …]]. DO UPDATE updates the stored row of each incoming key in
    place (``excluded.c`` names the incoming value, a bare name the stored
    one) and inserts the other rows."""
    stmt = _expand_or_shorthand(engine, sql.strip())
    m = _ON_CONFLICT_RE.search(stmt)
    table, rows = _incoming(engine, stmt[: m.start()] if m else stmt)
    if m is None:
        return _Change(table, inserts=rows)
    _check_conflict_target(engine, table, m.group("target"))
    if m.group("nothing"):
        return _Change(table, inserts=_drop_conflicts(engine, table, rows))
    if returning:
        # DuckDB 1.0 returns the incoming tuple, not the stored row
        raise ValueError("RETURNING is not supported with ON CONFLICT DO UPDATE")
    meta = engine.catalog.tables[table]
    pk = meta.pk_cols
    if not pk:
        raise ValueError(f"ON CONFLICT DO UPDATE requires a primary key on {table}")
    stored = engine.catalog.read(table)
    exc = rows.select(*[F.col(c).alias(f"__exc_{c}") for c in rows.columns],
                      F.lit(True).alias("__src_match"))
    on = reduce(lambda a, b: a & b, [F.col(c).eqNullSafe(F.col(f"__exc_{c}")) for c in pk])
    stored_ids = stored.withColumn("__tid", F.monotonically_increasing_id())
    joined = _join(engine, stored_ids, exc, on, "left")

    def value(text: str) -> "F.Column":
        return _expr(_rewrite_code(text, lambda c: _EXCLUDED_RE.sub(r"__exc_\1", c)))

    sets_text, where = _split_at(m.group("set"), _WHERE_RE)
    cond = F.col("__src_match").isNotNull()
    if where:
        cond = cond & value(where)
    sets = _bind_set(meta, sets_text, value, keys=pk)
    return _Change(
        table,
        _tagged(joined, [(cond, "u", sets)]),
        _join(engine, rows, stored.select(*pk), pk, "left_anti"),
        set(sets),
        twice="ON CONFLICT DO UPDATE can not update the same row twice in the same command: "
              "the incoming rows repeat a key",
    )


_UPDATE_RE = re.compile(
    r"^UPDATE\s+(?P<t>\w+)(?:\s+(?:AS\s+)?(?!SET\b)(?P<ta>\w+))?\s+SET\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^DELETE\s+FROM\s+(?P<t>\w+)(?:\s+(?:AS\s+)?(?!USING\b|WHERE\b)(?P<ta>\w+))?"
    r"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_TRUNCATE_RE = re.compile(r"^TRUNCATE\s+(?:TABLE\s+)?(\w+)$", re.IGNORECASE)
_WHERE_RE = re.compile(r"\bWHERE\b", re.IGNORECASE)
_USING_RE = re.compile(r"\bUSING\b", re.IGNORECASE)


def _compile_update(engine: "Engine", sql: str) -> _Change:
    """UPDATE t [alias] SET … [FROM source] [WHERE …]. With FROM, each
    target row the condition matches to a source row is updated; a row
    matching several is an error rather than an arbitrary pick."""
    m = _UPDATE_RE.match(sql.strip())
    if not m:
        raise ValueError(f"cannot parse UPDATE: {sql.strip()[:80]}")
    table = m.group("t")
    meta = _meta(engine, table)
    rest, where = _split_at(m.group("rest"), _WHERE_RE)
    sets_text, src = _split_at(rest, _FROM_KW_RE)
    if src is None:
        sets = _bind_set(meta, sets_text, _expr)
        cond = _expr(where) if where else F.lit(True)
        return _Change(table, _tagged(engine.catalog.read(table), [(cond, "u", sets)]),
                       assigned=set(sets))
    j = _join_source(engine, table, m.group("ta") or table, src, where)
    sets = _bind_set(meta, sets_text, j.value)
    return _Change(
        table,
        _tagged(_join(engine, j.target, j.src, j.on, "left"),
                [(F.col("__src_match"), "u", sets)]),
        assigned=set(sets),
        twice="UPDATE ... FROM: a target row matches multiple source rows; "
              "the result would depend on which one wins — deduplicate the source",
    )


def _compile_delete(engine: "Engine", sql: str) -> _Change:
    """DELETE FROM t [alias] [USING source] [WHERE …], and TRUNCATE. A row
    whose condition is NULL stays (SQL three-valued logic)."""
    stmt = sql.strip()
    t = _TRUNCATE_RE.match(stmt)
    m = _DELETE_RE.match(f"DELETE FROM {t.group(1)}" if t else stmt)
    if not m:
        raise ValueError(f"cannot parse DELETE: {stmt[:80]}")
    table = m.group("t")
    _meta(engine, table)
    rest, where = _split_at(m.group("rest"), _WHERE_RE)
    head, src = _split_at(rest, _USING_RE)
    if head:
        raise ValueError(f"cannot parse DELETE: {stmt[:80]}")
    if src is None:
        cond = _expr(where) if where else F.lit(True)
        return _Change(table, _tagged(engine.catalog.read(table), [(cond, "d", {})]))
    j = _join_source(engine, table, m.group("ta") or table, src, where)
    # a row matching several source rows is deleted once
    joined = _join(engine, j.target, j.src, j.on, "left").dropDuplicates(["__tid"])
    return _Change(table, _tagged(joined, [(F.col("__src_match"), "d", {})]))


# MERGE INTO (DuckDB 1.4 surface; Spark has no native MERGE outside Delta):
# one left join of the target on the merge condition resolves every
# matched / not-matched-by-source clause per target row (first match wins),
# one anti join of the source resolves the insert side.

_MERGE_CLAUSE_RE = re.compile(
    r"^(?:(?P<not>NOT)\s+)?MATCHED(?:\s+BY\s+(?P<by>SOURCE|TARGET))?"
    r"(?:\s+AND\s+(?P<cond>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_HEAD_RE = re.compile(
    r"^MERGE\s+INTO\s+(?P<t>\w+)(?:\s+(?:AS\s+)?(?P<ta>\w+))?\s+USING\s+", re.IGNORECASE
)
_ON_RE = re.compile(r"\bON\b", re.IGNORECASE)
_WHEN_RE = re.compile(r"\bWHEN\b", re.IGNORECASE)
_THEN_RE = re.compile(r"\bTHEN\b", re.IGNORECASE)
_DO_NOTHING_RE = re.compile(r"DO\s+NOTHING", re.IGNORECASE)
_MERGE_UPDATE_RE = re.compile(r"^UPDATE(?:\s+SET\s+(?P<set>.+))?$", re.IGNORECASE | re.DOTALL)
_MERGE_INSERT_RE = re.compile(
    r"^INSERT\s*(?:\*|(?:\((?P<cols>[^)]*)\)\s*)?(?:VALUES\s*\((?P<vals>.+)\))?)?$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_merge(sql: str):
    """MERGE INTO → (target, alias, source text, ON condition, clauses);
    a clause is (kind, condition text or None, action text), kind one of
    'matched' | 'not_by_target' | 'not_by_source'."""
    m = _MERGE_HEAD_RE.match(sql)
    if not m:
        raise ValueError(f"cannot parse MERGE INTO statement: {sql[:80]}")
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
    for clause in split_top(rest[when_m.end() :], _WHEN_RE):
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
    return m.group("t"), m.group("ta") or m.group("t"), src_text, on_cond, clauses


def _compile_merge(engine: "Engine", sql: str) -> _Change:
    """MERGE INTO t USING s ON cond WHEN [NOT] MATCHED [BY SOURCE|TARGET]
    [AND c] THEN UPDATE [SET …] | DELETE | DO NOTHING | INSERT [(cols)]
    [VALUES (…)] — the first matching clause wins per row. A target row
    matching several source rows is an error when a MATCHED clause could
    act on it. RETURNING rows carry ``merge_action``."""
    table, alias, src_text, on_cond, clauses = _parse_merge(sql.strip())
    meta = _meta(engine, table)
    j = _join_source(engine, table, alias, src_text, on_cond)
    schema = meta.spark_schema()
    change = _Change(table, merge=True)
    matched = F.col("__src_match").isNotNull()
    cases = []
    for kind, ctext, action in clauses:
        if kind == "not_by_target":
            continue
        cond = matched if kind == "matched" else ~matched
        if ctext:
            cond = cond & j.value(ctext)
        um = _MERGE_UPDATE_RE.match(action)
        if um and um.group("set"):
            cases.append((cond, "u", _bind_set(meta, um.group("set"), j.value)))
        elif um:
            if kind == "not_by_source":
                raise ValueError("WHEN NOT MATCHED BY SOURCE THEN UPDATE requires SET "
                                 "(there is no source row to copy from)")
            # shorthand: every common non-key column from the source
            keys = set(meta.pk_cols) | set(meta.partition_cols)
            cases.append((cond, "u", {
                c["name"]: F.col(f"__src_{c['name']}").cast(schema[c["name"]].dataType)
                for c in meta.columns
                if c["name"] in j.src_cols and c["name"] not in keys and not c.get("generated")
            }))
        elif action.upper() == "DELETE":
            cases.append((cond, "d", {}))
        elif _DO_NOTHING_RE.fullmatch(action):
            cases.append((cond, "keep", {}))
        else:
            raise ValueError(f"unsupported MERGE action for {kind} clause: {action[:60]}")
        change.assigned |= set(cases[-1][2])
    if cases:
        joined = _join(engine, j.target, j.src, j.on, "left")
        if any(kind == "matched" for kind, _, _ in clauses):
            change.twice = ("MERGE can not update the same row twice: a target row "
                            "matches multiple source rows — deduplicate the source")
        else:
            # only NOT MATCHED BY SOURCE acts: a matched row is kept once
            joined = joined.dropDuplicates(["__tid"])
        change.target = _tagged(joined, cases)

    # source rows with no target match, under their own names; inside an
    # insert clause bare and qualified names are source columns
    unmatched = _join(engine, j.src, j.target, j.on, "left_anti").select(
        *[F.col(f"__src_{c}").alias(c) for c in j.src_cols]
    )
    taken = F.lit(False)
    pieces = []
    for kind, ctext, action in clauses:
        if kind != "not_by_target":
            continue
        pred = (F.coalesce(j.src_value(ctext), F.lit(False)) if ctext else F.lit(True)) & ~taken
        taken = taken | pred
        if _DO_NOTHING_RE.fullmatch(action):
            continue
        im = _MERGE_INSERT_RE.match(action)
        if not im:
            raise ValueError(f"unsupported MERGE INSERT action: {action[:60]}")
        if im.group("vals"):
            vals = [j.src_value(v.strip()) for v in split_top(im.group("vals"))]
            names = im.group("cols")
            cols = _targets(meta, [c.strip() for c in names.split(",")] if names else None)
            if len(vals) != len(cols):
                raise ValueError("MERGE INSERT column/value count mismatch")
            named = dict(zip(cols, vals))
        else:
            # INSERT / INSERT *: by name
            named = {c: F.col(c) for c in schema.names if c in j.src_cols}
        # an unnamed column takes its declared default
        pieces.append(unmatched.filter(pred).select(*[
            named.get(f.name, _default_expr(meta, f.name)).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]))
    if pieces:
        change.inserts = reduce(DataFrame.unionByName, pieces)
    return change


# ---- the one writer ----------------------------------------------------------


def _pinned(engine: "Engine", df: DataFrame) -> DataFrame:
    """``df``'s rows as a local relation: collected once, read later with
    no job and unchanged by the write that follows."""
    jdf = df._jdf
    local = engine.spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema())
    return DataFrame(local, engine.spark)


def _returning_rows(engine: "Engine", ch: _Change, tcols: list[str], returning: str) -> DataFrame:
    """The RETURNING list over the rows the statement changes: updated
    rows as they become, deleted rows as they were, inserted rows, each
    with its generated columns as the write stores them."""
    action = F.when(F.col("__act") == "u", "UPDATE").otherwise("DELETE")
    parts = []
    if ch.target is not None:
        parts.append(ch.target.filter(F.col("__act") != "keep")
                     .select(*tcols, action.alias("merge_action")))
    if ch.inserts is not None:
        parts.append(ch.inserts.select(*tcols, F.lit("INSERT").alias("merge_action")))
    if parts:
        affected = engine.catalog._apply_generated(
            engine.catalog.tables[ch.table], reduce(DataFrame.union, parts), "merge_action")
    else:
        affected = engine.catalog.read(ch.table).select(
            *tcols, F.lit(None).cast("string").alias("merge_action")).limit(0)
    if not ch.merge:
        affected = affected.drop("merge_action")
    returning = _MERGE_ACTION_RE.sub("merge_action", returning)
    return _pinned(engine, affected.selectExpr(*[translate(i) for i in split_top(returning)]))


_MERGE_ACTION_RE = re.compile(r"\bmerge_action\s*\(\s*\)", re.IGNORECASE)


def _write(engine: "Engine", ch: _Change, returning: str | None):
    """Apply a compiled statement to its table: one aggregate counts the
    updates and deletes (per partition of a partitioned table), the
    inserted rows are checked with ``_check_constraints`` and the new state
    with ``_check_constraints_update``, the RETURNING rows are taken, and
    the catalog is called once: ``append`` when only rows are added,
    otherwise a rewrite of the surviving and new rows, scoped to the
    touched partitions of a partitioned table. Returns rows_affected and
    the RETURNING rows (None without RETURNING)."""
    meta = engine.catalog.tables[ch.table]
    tcols = [c["name"] for c in meta.columns]
    pcols = meta.partition_cols
    n_upd = n_del = 0
    touched: list[tuple] = []
    if ch.target is not None:
        act = F.col("__act")
        aggs = [F.count_if(act == "u").alias("__u"), F.count_if(act == "d").alias("__d")]
        if ch.twice:
            hit = F.col("__src_match").isNotNull()
            aggs += [F.count_if(hit), F.count_distinct(F.when(hit, F.col("__tid")))]
        # only changed rows, so a WHERE on partition columns prunes the
        # scan; partition values as Spark names their directories
        scan = ch.target if ch.twice else ch.target.filter(act != "keep")
        keys = [F.col(c).cast("string").alias(c) for c in pcols]
        rows = scan.groupBy(*keys).agg(*aggs).collect()
        if ch.twice and any(r[-2] != r[-1] for r in rows):
            raise ValueError(ch.twice)
        n_upd, n_del = sum(r["__u"] for r in rows), sum(r["__d"] for r in rows)
        touched = [tuple(r[: len(pcols)]) for r in rows if r["__u"] or r["__d"]]
    n_ins = 0 if ch.inserts is None else _check_constraints(engine, ch.table, ch.inserts)
    added = ch.inserts if n_ins else None
    if n_upd or n_del:
        survivors = ch.target.filter(F.col("__act") != "d").select(*tcols)
        state = survivors if added is None else survivors.unionByName(added)
        _check_constraints_update(engine, ch.table, state, ch.assigned if n_upd else set(),
                                  deleted=bool(n_del))
    result = None if returning is None else _returning_rows(engine, ch, tcols, returning)
    if (n_upd or n_del) and pcols:
        scoped = survivors.filter(_membership(pcols, touched))
        engine.catalog.overwrite_partitions(
            ch.table, scoped if added is None else scoped.unionByName(added), touched
        )
    elif n_upd or n_del:
        engine.catalog.overwrite(ch.table, state)
    elif added is not None:
        engine.catalog.append(ch.table, added)
    return n_upd + n_del + n_ins, result


def _membership(pcols: list[str], parts: list[tuple]):
    """Whether a row lies in one of ``parts`` (partition values as
    strings, None for NULL)."""
    return reduce(lambda a, b: a | b, [
        reduce(lambda a, b: a & b,
               [F.col(c).cast("string").eqNullSafe(F.lit(v)) for c, v in zip(pcols, tup)])
        for tup in parts
    ], F.lit(False))


def execute(engine: "Engine", sql: str):
    """Run an INSERT, UPDATE, DELETE, TRUNCATE or MERGE statement, with an
    optional trailing RETURNING list. Returns rows_affected and the
    RETURNING rows (None without RETURNING)."""
    body, returning = split_returning(sql.strip())
    verb = body.split(None, 1)[0].upper()
    if verb == "INSERT":
        change = _compile_insert(engine, body, returning is not None)
    elif verb == "UPDATE":
        change = _compile_update(engine, body)
    elif verb == "MERGE":
        change = _compile_merge(engine, body)
    else:
        change = _compile_delete(engine, body)
    return _write(engine, change, returning)
