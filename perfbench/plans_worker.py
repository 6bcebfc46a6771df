"""Plan-builder worker for the plans_bench workload.

Times the package's registered plan builders in-process, the way bench.py
does: each query is built and collected, DuckDB runs the query's oracle SQL
right after it on the same parquet files, and the Spark cache is cleared
between queries. Every collected result is checked against DuckDB's rows
with the oracle's SQL, so a top-level ORDER BY is checked too.

Prints `ready {...}` after the untimed warm pass and `result {...}` at the
end. With --trace, each query is one traced request (see tracer.py) and the
spans go to --spans.

Usage: python3 perfbench/plans_worker.py --data DIR --names a,b,...
       --passes N [--trace --spans OUT.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import harness  # noqa: E402
import tracer as tr  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description="plan-builder worker")
    ap.add_argument("--data", required=True)
    ap.add_argument("--names", required=True)
    ap.add_argument("--passes", type=int, required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--spans")
    args = ap.parse_args()
    names = args.names.split(",")

    t0 = time.perf_counter()
    from duckdb_service_spark.plans import ORACLES, QUERIES, load_all
    from duckdb_service_spark.session import get_spark
    from duckdb_service_spark.sources import TABLES, load_tables

    tracer = tr.Tracer() if args.trace else None
    if tracer:
        tr.install_spark(tracer)
    load_all()
    spark = get_spark("perfbench-plans")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    t1 = time.perf_counter()
    tables = load_tables(spark, args.data)
    for t in TABLES:
        tables[t]
    load_s = time.perf_counter() - t1

    con = harness.duck_connect(args.data, TABLES)
    expected = {n: check.duckdb_answer(con, ORACLES[n]) for n in names}

    def run_one(name: str, timed: bool) -> tuple[float, float | None, str | None]:
        rid = tracer.begin(name=name) if tracer else None
        if tracer:
            spark.sparkContext.setJobGroup(f"req{rid}", name, False)
        try:
            s0 = time.perf_counter()
            if tracer:
                df = tracer.call("plans.build", "plans", QUERIES[name], (spark, args.data))
            else:
                df = QUERIES[name](spark, args.data)
            rows = df.collect()
            spark_s = time.perf_counter() - s0
        finally:
            if tracer:
                tracer.note(took_ms=(time.perf_counter() - s0) * 1000)
                tracer.end(rid)
        spark.catalog.clearCache()
        err = check.compare(ORACLES[name], df.columns, rows, *expected[name])
        if not timed:
            return spark_s, None, err
        nonlocal duck_spent
        d0 = time.perf_counter()
        duck_s = harness.duck_time(con, ORACLES[name])
        duck_spent += time.perf_counter() - d0
        return spark_s, duck_s, err

    errors: list[str] = []
    duck_spent = 0.0
    for name in names:  # untimed warm pass
        _, _, err = run_one(name, False)
        if err:
            errors.append(f"warm {name}: {err}")
    print("ready " + json.dumps({"session_start_s": session_s, "sources_load_s": load_s}), flush=True)

    samples = {n: [] for n in names}
    duck = {n: [] for n in names}
    attempted = 0
    start, w0 = time.perf_counter(), time.time()
    for _ in range(args.passes):
        for name in names:
            attempted += 1
            try:
                s, d, err = run_one(name, True)
            except Exception as ex:  # noqa: BLE001 — a failed query is counted, not fatal
                errors.append(f"{name}: {str(ex).splitlines()[0]}")
                continue
            if err:
                errors.append(f"{name}: {err}")
                continue
            samples[name].append(s)
            duck[name].append(d)
    # the DuckDB reference runs are not the plans' work
    measure_s = time.perf_counter() - start - duck_spent
    out = {
        "samples": samples, "duck": duck, "errors": errors,
        "attempted": attempted, "measure_s": measure_s,
    }
    if tracer:
        dump = tracer.dump()
        dump["window"] = [w0, time.time()]
        dump["stages"] = {rid: tr.stage_stats(spark, f"req{rid}") for rid in dump["requests"]}
        dump["live_caches"] = tr.live_caches(spark)
        with open(args.spans, "w") as f:
            json.dump(dump, f)
    print("result " + json.dumps(out), flush=True)
    con.close()
    spark.stop()


if __name__ == "__main__":
    main()
