"""Seeded DML-sequence differential fuzzer (round 7): the same random
CREATE/INSERT/UPDATE/DELETE script executes on this engine and on DuckDB
verbatim, with full-table content compared after every mutating statement.
Statements that violate constraints must fail on BOTH engines (outcome
compared as a boolean; error classes differ by design).

This exercises the hand-written DML surface as a SEQUENCE — default fill,
explicit column lists, DEFAULT tokens, ON CONFLICT DO NOTHING, predicate
UPDATE/DELETE, PK enforcement — where individual-statement tests can't see
state-dependent interactions.
"""

from __future__ import annotations

import random
import tempfile

import duckdb
import pytest


@pytest.fixture()
def pair(spark):
    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, tempfile.mkdtemp(prefix="wh_dmlfuzz_"))
    con = duckdb.connect()
    ddl = (
        "CREATE TABLE t (id INTEGER PRIMARY KEY, a INTEGER, "
        "b TEXT DEFAULT 'x', c DOUBLE DEFAULT 1.5)"
    )
    eng.execute(ddl)
    con.execute(ddl)
    return eng, con


def _rows(eng):
    return [
        tuple(r)
        for r in eng.query_df("SELECT id, a, b, c FROM t ORDER BY id").collect()
    ]


def _duck_rows(con):
    return con.execute("SELECT id, a, b, c FROM t ORDER BY id").fetchall()


def _gen_statement(rng, used_ids):
    kind = rng.randint(0, 9)
    if kind <= 3:  # INSERT (sometimes conflicting, sometimes partial columns)
        n = rng.randint(1, 3)
        ids = []
        for _ in range(n):
            if used_ids and rng.random() < 0.25:
                ids.append(rng.choice(sorted(used_ids)))  # provoke PK conflict
            else:
                i = rng.randint(1, 60)
                while i in ids:
                    i = rng.randint(1, 60)
                ids.append(i)
        form = rng.randint(0, 3)
        if form == 0:
            vals = ", ".join(
                f"({i}, {rng.randint(-5, 5)}, 'v{rng.randint(0, 9)}', "
                f"{rng.randint(0, 20)} / 4.0)"
                for i in ids
            )
            return f"INSERT INTO t VALUES {vals}", ids
        if form == 1:  # DEFAULT tokens in positional values
            vals = ", ".join(
                f"({i}, DEFAULT, DEFAULT, {rng.randint(0, 8)}.25)" for i in ids
            )
            return f"INSERT INTO t VALUES {vals}", ids
        if form == 2:  # explicit column list, defaults fill the rest
            vals = ", ".join(f"({i}, {rng.randint(-9, 9)})" for i in ids)
            return f"INSERT INTO t (id, a) VALUES {vals}", ids
        vals = ", ".join(
            f"({i}, {rng.randint(-5, 5)}, 'c{rng.randint(0, 3)}', "
            f"{rng.randint(1, 9)}.5)"
            for i in ids
        )
        return (
            f"INSERT INTO t VALUES {vals} ON CONFLICT DO NOTHING",
            ids,
        )
    if kind <= 6:  # UPDATE
        pred = rng.choice(
            [
                f"id % {rng.randint(2, 5)} = 0",
                f"id > {rng.randint(5, 40)}",
                f"a < {rng.randint(-2, 4)}",
                "b = 'x'",
            ]
        )
        setter = rng.choice(
            [
                f"a = a + {rng.randint(1, 3)}",
                f"a = -a",
                f"b = b || '{rng.randint(0, 9)}'",
                f"c = c * 2",
                "a = DEFAULT",
            ]
        )
        return f"UPDATE t SET {setter} WHERE {pred}", []
    if kind <= 8:  # DELETE
        pred = rng.choice(
            [
                f"id % {rng.randint(3, 7)} = 1",
                f"id BETWEEN {rng.randint(1, 20)} AND {rng.randint(21, 50)}",
                f"c > {rng.randint(1, 4)}",
            ]
        )
        return f"DELETE FROM t WHERE {pred}", []
    # DEFAULT VALUES needs a fresh id? table has PK without default —
    # DuckDB errors (NULL pk), ours must too: exercised as a both-fail op
    return "INSERT INTO t DEFAULT VALUES", []


@pytest.mark.parametrize("seed", [5, 21, 63])
def test_random_dml_sequences_match_duckdb(pair, seed):
    eng, con = pair
    rng = random.Random(seed)
    used: set[int] = set()
    mutations = 0
    for step in range(30):
        stmt, ids = _gen_statement(rng, used)
        ok_spark = ok_duck = True
        err_s = err_d = None
        try:
            eng.execute(stmt)
        except Exception as e:  # noqa: BLE001 — outcome-compared below
            ok_spark, err_s = False, e
        try:
            con.execute(stmt)
        except Exception as e:  # noqa: BLE001
            ok_duck, err_d = False, e
        assert ok_spark == ok_duck, (
            f"step {step}: outcome mismatch for {stmt!r}: "
            f"spark={err_s!r} duck={err_d!r}"
        )
        if ok_spark:
            mutations += 1
            used.update(ids)
            got, want = _rows(eng), _duck_rows(con)
            assert got == want, f"step {step} after {stmt!r}"
    assert mutations >= 10  # the script must mostly execute


@pytest.fixture()
def pair_fk(spark):
    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, tempfile.mkdtemp(prefix="wh_dmlfuzz_fk_"))
    con = duckdb.connect()
    ddls = [
        "CREATE TABLE parent (id INTEGER PRIMARY KEY, "
        "cap INTEGER CHECK (cap >= 0), tag TEXT UNIQUE)",
        "CREATE TABLE child (id INTEGER PRIMARY KEY, "
        "pid INTEGER REFERENCES parent(id), q INTEGER, "
        "d INTEGER GENERATED ALWAYS AS (q * 2))",
    ]
    for ddl in ddls:
        eng.execute(ddl)
        con.execute(ddl)
    return eng, con


def _content(eng, con):
    g = [
        tuple(r)
        for r in eng.query_df(
            "SELECT id, cap, tag FROM parent ORDER BY id"
        ).collect()
    ], [
        tuple(r)
        for r in eng.query_df(
            "SELECT id, pid, q, d FROM child ORDER BY id"
        ).collect()
    ]
    w = (
        con.execute("SELECT id, cap, tag FROM parent ORDER BY id").fetchall(),
        con.execute("SELECT id, pid, q, d FROM child ORDER BY id").fetchall(),
    )
    return (tuple(g[0]), tuple(g[1])), (tuple(w[0]), tuple(w[1]))


def _gen_fk_statement(rng, pids, cids):
    kind = rng.randint(0, 9)
    if kind <= 2:  # parent insert (sometimes dup id / dup tag / bad CHECK)
        i = rng.randint(1, 25)
        cap = rng.randint(-2, 9)  # negative → CHECK violation on both
        tag = f"t{rng.randint(1, 12)}"  # small space → UNIQUE collisions
        return f"INSERT INTO parent VALUES ({i}, {cap}, '{tag}')", ("p", i)
    if kind <= 5:  # child insert (sometimes dangling pid)
        i = rng.randint(1, 40)
        pid = rng.randint(1, 28)  # may dangle → FK violation on both
        q = rng.randint(0, 9)
        return f"INSERT INTO child (id, pid, q) VALUES ({i}, {pid}, {q})", ("c", i)
    if kind == 6:  # parent delete (referenced → both must refuse)
        return f"DELETE FROM parent WHERE id = {rng.randint(1, 25)}", None
    if kind == 7:  # parent update incl. CHECK-violating
        return (
            f"UPDATE parent SET cap = cap - {rng.randint(1, 4)} "
            f"WHERE id % {rng.randint(2, 4)} = 0",
            None,
        )
    if kind == 8:  # child update — generated column must recompute
        return (
            f"UPDATE child SET q = q + {rng.randint(1, 3)} "
            f"WHERE pid % {rng.randint(2, 3)} = 0",
            None,
        )
    return f"DELETE FROM child WHERE q > {rng.randint(3, 8)}", None


@pytest.mark.parametrize("seed", [9, 48])
def test_random_constraint_sequences_match_duckdb(pair_fk, seed):
    """CHECK / UNIQUE / FOREIGN KEY / GENERATED columns as a random
    STATEMENT SEQUENCE: every statement must succeed-or-fail identically
    on both engines, and table contents (incl. the recomputed generated
    column) must match after every successful mutation."""
    eng, con = pair_fk
    rng = random.Random(seed)
    pids, cids = set(), set()
    mutations = failures = 0
    for step in range(28):
        stmt, new = _gen_fk_statement(rng, pids, cids)
        ok_s = ok_d = True
        err_s = err_d = None
        try:
            eng.execute(stmt)
        except Exception as e:  # noqa: BLE001
            ok_s, err_s = False, e
        try:
            con.execute(stmt)
        except Exception as e:  # noqa: BLE001
            ok_d, err_d = False, e
        assert ok_s == ok_d, (
            f"step {step}: outcome mismatch for {stmt!r}: "
            f"spark={err_s!r} duck={err_d!r}"
        )
        if ok_s:
            mutations += 1
            got, want = _content(eng, con)
            assert got == want, f"step {step} after {stmt!r}"
        else:
            failures += 1
    # the script must exercise BOTH paths meaningfully
    assert mutations >= 8 and failures >= 4, (mutations, failures)


@pytest.fixture()
def pair_join(spark):
    """The PRIMARY KEY table ``t`` for ON CONFLICT DO UPDATE, and a
    key-less ``n`` with a source ``s`` for UPDATE…FROM and DELETE…USING:
    DuckDB 1.0.0 raises a spurious duplicate-key error for UPDATE…FROM on
    a PRIMARY KEY table whose row was updated earlier in the session."""
    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, tempfile.mkdtemp(prefix="wh_dmlfuzz_join_"))
    con = duckdb.connect()
    for ddl in (
        "CREATE TABLE t (id INTEGER PRIMARY KEY, a INTEGER, "
        "b TEXT DEFAULT 'x', c DOUBLE DEFAULT 1.5)",
        "CREATE TABLE n (id INTEGER, a INTEGER, b TEXT DEFAULT 'x')",
        "CREATE TABLE s (id INTEGER, a INTEGER)",
        "INSERT INTO s SELECT i, i % 5 - 2 FROM range(1, 30, 2) r(i)",
    ):
        eng.execute(ddl)
        con.execute(ddl)
    return eng, con


def _gen_join_statement(rng):
    kind = rng.randint(0, 9)
    if kind <= 3:  # ON CONFLICT DO UPDATE, sometimes a repeated key
        ids = [rng.randint(1, 30) for _ in range(rng.randint(1, 3))]
        vals = ", ".join(f"({i}, {rng.randint(-5, 5)}, 'u{rng.randint(0, 9)}', "
                         f"{rng.randint(0, 8)}.5)" for i in ids)
        sets = rng.choice([
            "a = excluded.a",
            "a = a + excluded.a, b = b || excluded.b",
            "c = DEFAULT, b = excluded.b",
            "b = 'w' WHERE a < 0",
        ])
        return f"INSERT INTO t VALUES {vals} ON CONFLICT (id) DO UPDATE SET {sets}"
    if kind <= 5:  # rows for the key-less table
        vals = ", ".join(f"({rng.randint(1, 30)}, {rng.randint(-5, 5)}, 'v{rng.randint(0, 9)}')"
                         for _ in range(rng.randint(1, 4)))
        return f"INSERT INTO n VALUES {vals}"
    if kind <= 7:  # UPDATE…FROM
        sets = rng.choice(["a = s.a", "a = n.a + s.a, b = b || 'f'", "b = DEFAULT"])
        extra = rng.choice(["", f" AND s.a > {rng.randint(-3, 2)}",
                            f" AND n.a < {rng.randint(-2, 4)}"])
        return f"UPDATE n SET {sets} FROM s WHERE n.id = s.id{extra}"
    extra = rng.choice(["", f" AND s.a >= {rng.randint(-2, 2)}",
                        f" AND n.b = 'v{rng.randint(0, 9)}'"])
    return f"DELETE FROM n USING s WHERE n.id = s.id{extra}"


@pytest.mark.parametrize("seed", [3, 17, 40])
def test_random_upsert_and_join_dml_match_duckdb(pair_join, seed):
    eng, con = pair_join
    rng = random.Random(seed)
    mutations = 0
    for step in range(24):
        stmt = _gen_join_statement(rng)
        ok_spark = ok_duck = True
        err_s = err_d = None
        try:
            out_s = eng.execute(stmt).rows_affected
        except Exception as e:  # noqa: BLE001 — outcome-compared below
            ok_spark, err_s = False, e
        try:
            out_d = con.execute(stmt).fetchall()[0][0]
        except Exception as e:  # noqa: BLE001
            ok_duck, err_d = False, e
        assert ok_spark == ok_duck, (
            f"step {step}: outcome mismatch for {stmt!r}: spark={err_s!r} duck={err_d!r}"
        )
        if ok_spark:
            mutations += 1
            assert out_s == out_d, f"step {step}: rows affected of {stmt!r}"
            for table in ("t", "n"):
                sql = f"SELECT * FROM {table} ORDER BY ALL"
                got = [tuple(r) for r in eng.query_df(sql).collect()]
                assert got == con.execute(sql).fetchall(), f"step {step} after {stmt!r}"
    assert mutations >= 12
