"""Benchmark harness — times headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. The driver records this per-round as
BENCH_r{N}.json and compares against BASELINE.md (within 2x of DuckDB
wall-clock on the same query set at the same sf).

Measurement protocol (VERDICT r06 task 1 — make the artifact trustworthy):
the earlier protocol timed all Spark queries in one phase and all DuckDB
oracles in a later phase, so a load spike inflated one engine's session and
the aggregate ratio carried machine noise, not plan signal. Now:

1. ONE untimed full-suite warm pass (Spark + DuckDB) absorbs JVM/codegen
   settling and parquet footer reads before anything is timed — the
   reference's `took` likewise excludes process startup (http/service.go:241).
2. PASSES (default 3) timed passes; within a pass each query runs
   Spark-then-DuckDB back to back, so the per-query ratio compares runs
   taken seconds apart under the same machine load.
3. `os.getloadavg()` is recorded at suite start and per pass; every pass's
   raw numbers are embedded in the JSON so a load spike is visible in the
   artifact instead of silently polluting the headline.
4. Headline per-query time = MINIMUM across passes (the standard
   noise-robust wall-clock estimator: load only ever adds time); the
   aggregate ratio uses the same minima for both engines. The
   minimum-load pass is also identified for cross-checking.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))


def _materialize(df):
    # collect() on the final (small) result mirrors what the service layer
    # does before JSON serialization; all heavy work happens distributed.
    return df.collect()


def _duck_connect(sf_dir: str):
    try:
        import duckdb
    except ImportError:
        return None
    from duckdb_service_spark.sources import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from duckdb_service_spark.plans import BENCH, ORACLES, QUERIES, load_all
    from duckdb_service_spark.session import get_spark

    load_all()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    con = _duck_connect(sf_dir)

    names = [n for n in BENCH if n in QUERIES]
    load_start = os.getloadavg()

    # Each QUERIES[name] call builds a FRESH plan with fresh persists; the
    # previous call's cached relations are never reused, only hoarded.
    # Across warm + timed passes that garbage measured as driver-heap GC
    # thrash inflating the 1-3s corpus-pipeline walls (r09 "what's wrong"
    # #1, mechanism isolated in SCALING.md r09). Clearing BETWEEN queries
    # (outside both engines' timers) keeps every timed run on the same
    # empty-cache footing as a scoped measurement — each run still pays
    # for its OWN persists inside the timer, exactly like the first run.
    def _clear_cache():
        # (measured r10: an explicit System.gc() here helps nothing and
        # adds jitter — plain clearCache is the right protocol)
        try:
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001
            pass

    # 1. untimed warm pass, full suite, both engines
    for name in names:
        _materialize(QUERIES[name](spark, sf_dir))
        _clear_cache()
        sql = ORACLES.get(name)
        if con is not None and sql is not None:
            try:
                con.execute(sql).fetchall()
            except Exception:  # noqa: BLE001 — oracle timing is informational
                pass

    # 2. timed passes, Spark and DuckDB interleaved per query
    passes: list[dict] = []
    for _ in range(PASSES):
        rec = {"loadavg": os.getloadavg(), "spark": {}, "duck": {}}
        for name in names:
            t0 = time.perf_counter()
            _materialize(QUERIES[name](spark, sf_dir))
            rec["spark"][name] = round(time.perf_counter() - t0, 4)
            sql = ORACLES.get(name)
            if con is not None and sql is not None:
                try:
                    t0 = time.perf_counter()
                    con.execute(sql).fetchall()
                    rec["duck"][name] = round(time.perf_counter() - t0, 4)
                except Exception:  # noqa: BLE001
                    pass
            _clear_cache()
        passes.append(rec)

    # 3. headline = per-query minimum across passes, both engines
    timings = {
        n: round(min(p["spark"][n] for p in passes), 4) for n in names
    }
    oracle_timings = {
        n: round(min(p["duck"][n] for p in passes), 4)
        for n in names
        if all(n in p["duck"] for p in passes)
    }
    ratios = {
        n: round(timings[n] / oracle_timings[n], 3)
        for n in oracle_timings
        if oracle_timings[n] > 0
    }

    # regex, not str.replace: the sf1 run's dir is ".sf1", which
    # replace("sf","") turned into ".1" and stamped sf=0.1 (ADVICE r12)
    sf_m = re.search(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    sf_val = float(sf_m.group(1)) if sf_m else os.path.basename(sf_dir.rstrip("/"))
    total = round(sum(timings.values()), 4)
    shared_total = round(sum(timings[n] for n in oracle_timings), 4)
    oracle_total = round(sum(oracle_timings.values()), 4) if oracle_timings else None
    min_load_pass = min(
        range(len(passes)), key=lambda i: passes[i]["loadavg"][0]
    )
    # The driver captures only the last ~2,000 chars of stdout; round 7's
    # artifact embedded every pass's raw numbers in the one JSON line and
    # overflowed that window, so the driver recorded parsed=null and the
    # round has no official performance record (VERDICT r07, task 1).
    # Now: ONE compact summary line (compact separators, 2-3 dp) for the
    # driver; the full record — raw per-pass numbers, per-engine oracle
    # timings — goes to the committed sidecar BENCH_DETAIL.json.
    summary = {
        "metric": (
            f"headline-query wall-clock (min of {PASSES} interleaved "
            "passes, warm)"
        ),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "oracle_duckdb_sec": oracle_total,
        "spark_over_duckdb": (
            round(shared_total / oracle_total, 3) if oracle_total else None
        ),
        "per_query_ratio": {n: round(r, 2) for n, r in ratios.items()},
        "per_query_ratio_median": (
            round(statistics.median(ratios.values()), 3) if ratios else None
        ),
        "loadavg": round(load_start[0], 2),
    }
    detail = dict(
        summary,
        oracle_queries=oracle_timings,
        loadavg_start=load_start,
        loadavg_end=os.getloadavg(),
        min_load_pass=min_load_pass,
        passes=passes,
    )
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json")
    try:
        with open(sidecar, "w") as f:
            json.dump(detail, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: the summary line still carries the result
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1900:  # hard guard — never overflow the driver's capture
        for drop in ("per_query_ratio", "queries"):
            summary.pop(drop, None)
            line = json.dumps(summary, separators=(",", ":"))
            if len(line) <= 1900:
                break
    print(line)


if __name__ == "__main__":
    main()
