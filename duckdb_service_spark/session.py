"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads), but
every setting here is chosen to also hold on a 1000-executor cluster:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting).
- Arrow on (vectorized Python<->JVM transfer for the few pandas-UDF paths).
- shuffle partitions sized by env so the same code scales from local[32]
  (32 partitions) to a cluster (thousands).
- UTC session timezone so timestamp semantics match the DuckDB oracle
  (naive/UTC parquet timestamps) regardless of host timezone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session.

    The correctness driver constructs its own SparkSession and passes it to
    ``queries()`` callables, so anything semantics-critical must be a runtime
    conf applied here (not only a builder conf).

    Memoized per SESSION via a conf flag (r16): load_tables calls tune() on
    every query build, so the ~10 conf.set py4j round trips plus four UDF
    re-registrations ran per query (measured 8-14 ms/call warm — part of
    the per-query driver floor, VERDICT r15 task 2). The flag lives in the
    session's own conf, so a fresh driver-provided session still gets the
    full treatment and nothing is cached across sessions or processes.

    The two confs answers depend on most, the UTC session time zone and
    ANSI off, are set again on every call, outside the memo: a caller that
    changed either one between builds gets it repaired.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Match DuckDB's ANSI-ish cast/overflow behaviour is NOT desired here:
    # the oracle comparison needs permissive casts (try_cast semantics are
    # exercised explicitly), so keep ANSI off.
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    except Exception:
        pass  # may be non-modifiable if set at startup; fine either way
    if getattr(spark, "_ddbs_tuned", False):  # same python object: free
        return spark
    if spark.conf.get("spark.duckdb_service_spark.tuned", None) == "1":
        spark._ddbs_tuned = True  # noqa: SLF001 — our own marker
        return spark
    # DuckDB's TIMESTAMP is timezone-naive: SQL TIMESTAMP literals/casts
    # must resolve to TIMESTAMP_NTZ so the LTZ type is reserved for
    # DuckDB's TIMESTAMP WITH TIME ZONE (serializer + typeof agree on
    # that mapping, r12); parquet reads already land NTZ via load_tables
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    # DuckDB-surface scalar functions Spark lacks (jaro*/damerau) — Arrow
    # pandas UDFs, registered idempotently on every session routed through
    # the engine (incl. the driver's vanilla session via load_tables→tune)
    from .functions.format_udfs import ensure_format_udfs
    from .functions.json_udfs import ensure_json_udfs
    from .functions.libm_udfs import ensure_libm_udfs
    from .functions.similarity_udfs import ensure_similarity_udfs

    ensure_similarity_udfs(spark)
    ensure_libm_udfs(spark)
    ensure_json_udfs(spark)
    ensure_format_udfs(spark)
    # TIME type (SURVEY §1.3 edge): feature-flagged in Spark 4.1
    spark.conf.set("spark.sql.timeType.enabled", "true")
    # nanos-as-long parquet read (events.ts in early fixture drops) — was a
    # separate per-call conf.set in load_tables; folded under this memo (r16)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Scan-split size. The local fixtures are SINGLE parquet files (10 MB
    # lineitem), so Spark's 128 MB default plans a ONE-task scan — scan-
    # bound queries then run serial while 31 cores idle (measured: agg_core
    # 0.51s -> 0.30s, q1 1.31s -> 1.03s at 2 MB, splits bounded by row
    # groups). On a real cluster the dataset is thousands of >=128 MB
    # files; set SPARK_GRAFT_MAX_PARTITION_BYTES=128m there — the env
    # default only emulates the multi-split scan production data has.
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes",
        os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "2m"),
    )
    spark.conf.set("spark.duckdb_service_spark.tuned", "1")
    spark._ddbs_tuned = True  # noqa: SLF001
    return spark


def get_spark(app_name: str = "duckdb-service-spark") -> SparkSession:
    cpus = default_parallelism()
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 16g: local[32] runs the whole engine in the driver JVM — at 8g the
        # bench suite's accumulated persists GC-thrash and evict each other
        # (measured: full 22-query suite Spark total 29.2s at 8g vs 21.0s at
        # 16g on the same quiet box; the corpus-pipeline queries' walls were
        # 2-2.5x their scoped values purely from cache pressure)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # keep stdout clean for the bench JSON line and shave the progress-
        # bar redraw overhead from per-query walls
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "32m")
    )
    return tune(builder.getOrCreate())
