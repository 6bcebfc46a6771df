"""Freeze the svc_tpch statement set.

Loads the ten fixture tables at sf0.01 through the service's DDL, sends the
DuckDB oracle SQL of bench.py's queries (`ORACLES[n] for n in BENCH`)
through /db/query `--passes` times, checks every answer against DuckDB, and
writes svc_tpch_statements.json: every string; six TPC-H ones the service
answers identically on every pass ("timed", sent by svc_tpch); the other
identically answered ones, left out to keep one run within the time budget
("identical_untimed"); and for the rest, the first line of the error or of
the answer difference ("excluded").

Usage: python3 perfbench/freeze_tpch.py [--passes 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import harness as h  # noqa: E402
import run as bench  # noqa: E402


# the TPC-H statements svc_tpch times; they read only these tables
TPCH = ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q18_large_volume_customer", "q4_order_priority", "q21_suppliers_waiting"]
TPCH_TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem"]
ALL_TABLES = TPCH_TABLES + ["part", "events", "documents", "embeddings"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args()
    sys.path.insert(0, h.ROOT)
    from duckdb_service_spark.plans import BENCH, ORACLES, load_all

    load_all()
    statements = {n: ORACLES[n] for n in BENCH}
    excluded: dict[str, str] = {}
    seconds: dict[str, list[float]] = {n: [] for n in statements}
    data = h.fixture_dir(bench.SF)
    con = h.duck_connect(data, ALL_TABLES)
    run = h.RunDir("freeze")
    try:
        svc = h.Service(run, traced=False)
        try:
            bench.load_tables(svc, data, ALL_TABLES)
            for i in range(args.passes):
                for n, sql in statements.items():
                    t0 = time.perf_counter()
                    _, _, env = svc.call("/db/query", sql)
                    seconds[n].append(time.perf_counter() - t0)
                    err = bench.check_envelope(sql, env, check.duckdb_answer(con, sql))
                    if err and n not in excluded:
                        excluded[n] = f"pass {i + 1}: {err.splitlines()[0][:300]}"
        finally:
            svc.stop()
    finally:
        run.close()
    con.close()
    identical = [n for n in statements if n not in excluded]
    out = {
        "about": __doc__.split("\n\n")[1].replace("\n", " "),
        "tables": TPCH_TABLES,
        "timed": [n for n in identical if n in TPCH],
        "identical_untimed": [n for n in identical if n not in TPCH],
        "excluded": excluded,
        "first_run_s": {n: round(min(v), 3) for n, v in seconds.items()},
        "statements": statements,
    }
    with open(bench.STATEMENTS, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps({k: out[k] for k in ("timed", "identical_untimed", "excluded")}, indent=1))


if __name__ == "__main__":
    main()
