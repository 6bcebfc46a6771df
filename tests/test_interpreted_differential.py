"""Interpreted execution answers exactly as compiled execution does.

``serializer.interpreted`` turns off whole-stage codegen and expression
code generation for reads of small in-memory data, which covers every
FROM-less and VALUES statement. A fixed sample of the statements of the
four DuckDB-differential sweeps (``tools/sweep_aggwin.py``,
``sweep_branch_types.py``, ``sweep_casts.py`` and ``sweep_coercion.py``)
is bound once and runs once inside the scope and once outside it, each
time planned afresh: the result types, the rows and the error texts must
be identical.
"""

from __future__ import annotations

import importlib.util
import pathlib
import random
import re
import tempfile

import duckdb
import pytest

TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"
SWEEPS = ["sweep_aggwin", "sweep_branch_types", "sweep_casts", "sweep_coercion"]
SAMPLE = 30  # statements per sweep; the four take ~45 s on 4 cores

# the ids of one run in a task failure's text: JVM object, stage, task
_RUN_IDS_RE = re.compile(r"\bo\d+\.|\b(?:stage|task|TID) \d+(?:\.\d+)?")


def _sample(name: str) -> list[str]:
    spec = importlib.util.spec_from_file_location(name, TOOLS / f"{name}.py")
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    if name == "sweep_aggwin":
        con = duckdb.connect()
        statements = tool.statements(con)
        con.close()
    else:
        statements = tool.statements()
    return random.Random(name).sample(statements, SAMPLE)


@pytest.fixture(scope="module")
def eng(spark):
    from duckdb_service_spark.service.executor import Engine

    return Engine(spark, tempfile.mkdtemp(prefix="warehouse_differential_"))


def _error_text(ex: Exception) -> str:
    text = str(getattr(ex, "java_exception", None) or ex).splitlines()[0]
    return _RUN_IDS_RE.sub("#", text)


def _outcome(df, in_scope: bool, ordered: bool):
    """(result types, rows or error text) of the statement bound as ``df``,
    planned afresh and collected inside or outside the scope. Rows of a
    statement without ORDER BY are sorted."""
    from duckdb_service_spark.service.serializer import interpreted

    df = df.alias("run")  # a query execution of its own
    types = [f.dataType.simpleString() for f in df.schema.fields]
    try:
        if in_scope:
            with interpreted(df):
                rows = df.collect()
        else:
            rows = df.collect()
    except Exception as ex:  # noqa: BLE001 — compared as text
        return types, _error_text(ex)
    rows = [repr(tuple(r)) for r in rows]
    return types, rows if ordered else sorted(rows)


@pytest.mark.parametrize("sweep", SWEEPS)
def test_interpreted_matches_compiled(eng, sweep):
    from duckdb_service_spark.service.serializer import _small_in_memory

    differ = []
    for sql in _sample(sweep):
        try:
            df = eng.query_df(sql)
        except Exception:  # noqa: BLE001 — the front end runs before any scope
            continue
        assert _small_in_memory(df), sql
        ordered = " ORDER BY " in sql
        compiled = _outcome(df, in_scope=False, ordered=ordered)
        interpreted = _outcome(df, in_scope=True, ordered=ordered)
        if interpreted != compiled:
            differ.append(f"{sql}\n  compiled:    {compiled}\n  interpreted: {interpreted}")
    assert differ == [], "\n".join(differ)
