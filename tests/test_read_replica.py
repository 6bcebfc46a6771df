"""Read-replica demonstration (VERDICT r09 task 6 — the reference's last
undemonstrated WHAT: "scales the cluster to enhance read performance",
/root/reference/README.md:13-15; reads served by any node once the log
applies, store/store.go:196-199).

Here the parquet warehouse IS the replicated log: a SECOND engine
instance (separate SparkSession via newSession() — its own temp-view
namespace and SQL conf, same JVM) on the SAME warehouse directory serves
queries over the first instance's committed writes. Writes that land
after the replica opened become visible after `Engine.refresh()` (the
replica's log-catch-up), including appends to tables the replica had
already read (exercising Spark's shared file-status cache
invalidation). The single-writer 301/501 contract is unchanged — the
replica only ever reads."""

from __future__ import annotations

import json
import tempfile
import urllib.request

import pytest


@pytest.fixture(scope="module")
def warehouse():
    return tempfile.mkdtemp(prefix="warehouse_replica_")


@pytest.fixture(scope="module")
def writer(spark, warehouse):
    from duckdb_service_spark.service.executor import Engine

    return Engine(spark, warehouse)


def test_replica_sees_committed_writes(spark, warehouse, writer):
    from duckdb_service_spark.service.executor import Engine

    writer.execute("CREATE TABLE rt (id INTEGER PRIMARY KEY, name VARCHAR)")
    writer.execute("INSERT INTO rt VALUES (1, 'alpha'), (2, 'beta')")

    # replica opens AFTER the write: bootstrap alone must see it
    replica_session = spark.newSession()
    replica = Engine(replica_session, warehouse)
    rows = sorted(tuple(r) for r in replica.query_df("SELECT * FROM rt").collect())
    assert rows == [(1, "alpha"), (2, "beta")]

    # writer commits MORE: an append to a table the replica already read
    # AND a brand-new table — both invisible until the replica refreshes
    writer.execute("INSERT INTO rt VALUES (3, 'gamma')")
    writer.execute("CREATE TABLE rt2 (k INTEGER)")
    writer.execute("INSERT INTO rt2 VALUES (42)")

    replica.refresh()
    rows = sorted(tuple(r) for r in replica.query_df("SELECT * FROM rt").collect())
    assert rows == [(1, "alpha"), (2, "beta"), (3, "gamma")]
    assert [tuple(r) for r in replica.query_df("SELECT * FROM rt2").collect()] == [(42,)]

    # replica temp views are session-scoped: the WRITER's session still
    # resolves its own registrations (no cross-session clobber)
    wrows = sorted(tuple(r) for r in writer.query_df("SELECT * FROM rt").collect())
    assert wrows == rows


def test_replica_serves_db_query_over_http(spark, warehouse, writer):
    """The full reference read path on the replica: GET/POST /db/query
    against a second EngineHTTPServer bound to the replica engine."""
    from duckdb_service_spark.service.executor import Engine
    from duckdb_service_spark.service.http_server import EngineHTTPServer

    writer.execute("CREATE TABLE ht (id INTEGER, v VARCHAR)")
    writer.execute("INSERT INTO ht VALUES (7, 'served-by-replica')")

    replica = Engine(spark.newSession(), warehouse)
    srv = EngineHTTPServer(replica).start()
    try:
        req = urllib.request.Request(
            f"http://{srv.host}:{srv.port}/db/query",
            data=json.dumps({"sql": "SELECT * FROM ht"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            r = json.loads(resp.read())
        assert r["result"]["columns"] == ["id", "v"]
        assert r["result"]["values"] == [[7, "served-by-replica"]]
    finally:
        srv.stop()


def test_replica_read_after_the_writer_overwrites_an_uncached_table(spark, tmp_path):
    """A table above the scan split is not cached, so the replica's frame
    names the writer's files. The writer's UPDATE rewrites the table and
    its commit deletes those files; the replica's next /db/query read
    catches up once and answers with the written row."""
    from duckdb_service_spark.service.executor import Engine
    from duckdb_service_spark.service.http_server import EngineHTTPServer

    key = "spark.sql.files.maxPartitionBytes"
    wh = str(tmp_path / "warehouse")
    replica_session = spark.newSession()
    old = spark.conf.get(key)
    for s in (spark, replica_session):
        s.conf.set(key, "1k")
    try:
        writer = Engine(spark, wh)
        writer.execute("CREATE TABLE big AS SELECT range AS id, md5(CAST(range AS VARCHAR)) AS h "
                       "FROM range(0, 5000)")
        replica = Engine(replica_session, wh)
        assert not replica.catalog.read("big").is_cached
        writer.execute("UPDATE big SET h = 'x' WHERE id = 1")
        srv = EngineHTTPServer(replica).start()
        try:
            req = urllib.request.Request(
                f"http://{srv.host}:{srv.port}/db/query",
                data=json.dumps({"sql": "SELECT h FROM big WHERE id = 1"}).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as resp:
                r = json.loads(resp.read())
        finally:
            srv.stop()
        assert r.get("result", {}).get("values") == [["x"]], r.get("error", r)[:300]
    finally:
        for s in (spark, replica_session):
            s.conf.set(key, old)
