"""Run environment, inputs, child processes, HTTP client, DuckDB reference
and statistics.

Every run reads the fixture tables under `fixture/` and gets a fresh
directory under `.perfbench/` in the checkout holding the service warehouse
and `SPARK_LOCAL_DIRS`; it is removed when the run ends.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")

# A DuckDB reference time is the minimum over runs of the statement taken
# right after the service (or plan) ran it: at least DUCK_MIN_RUNS runs and
# at least DUCK_MIN_S seconds of them. One rule for every workload; the time
# floor gives millisecond statements enough runs for a steady minimum.
DUCK_MIN_RUNS = 3
DUCK_MIN_S = 0.1


def fixture_dir(sf: float) -> str:
    """The fixture tables at scale `sf`: one parquet file per table."""
    return os.path.join(BENCH_DIR, "fixture", f"sf{sf}")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# Driver JVM heap. The inputs are sf0.01, so 1 GiB is ample; a heap cap the
# run actually reaches keeps peak RSS repeatable (with a 4 GiB cap it varied
# 1.6-2.6 GiB between runs of one workload, with lazy heap growth).
DRIVER_MEMORY_MB = 1024


class RunDir:
    """Fresh per-run directory: warehouse/, spark-local/."""

    def __init__(self, tag: str):
        self.path = os.path.join(ROOT, ".perfbench", f"{tag}-{os.getpid()}-{time.time_ns()}")
        self.warehouse = os.path.join(self.path, "warehouse")
        self.spark_local = os.path.join(self.path, "spark-local")
        os.makedirs(self.spark_local)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def pinned_env(run: RunDir) -> dict[str, str]:
    """Environment for every Spark process of a run (server or worker)."""
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=f"{DRIVER_MEMORY_MB}m",
        SPARK_LOCAL_DIRS=run.spark_local,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TZ="UTC",
    )
    return env


def environment_record() -> dict:
    return {
        "nproc": nproc(),
        "spark_graft_cpus": nproc(),
        "duckdb_threads": nproc(),
        "driver_memory_mb": DRIVER_MEMORY_MB,
        "python": sys.version.split()[0],
    }


def duck_connect(data_dir: str, tables: list[str]):
    """DuckDB with `nproc` threads and a view per fixture table."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={nproc()}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def duck_time(con, sql: str) -> float:
    """DuckDB's time for `sql`: the minimum over DUCK_MIN_RUNS or more runs
    lasting DUCK_MIN_S in all (load only ever adds time; bench.py reports
    minima the same way)."""
    ts: list[float] = []
    while len(ts) < DUCK_MIN_RUNS or sum(ts) < DUCK_MIN_S:
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        ts.append(time.perf_counter() - t0)
    return min(ts)


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


# ---- process tree ---------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, pgrp) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = (int(fields[1]), int(fields[2]))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
    except (OSError, StopIteration):
        return 0


def tree_pss_mb(root_pid: int) -> float:
    """Proportional set size of a process and its descendants: pages shared
    between processes (the forked Python workers) are counted once."""
    table = _proc_table()
    pids, frontier = {root_pid}, [root_pid]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in table.items():
            if ppid == parent and pid not in pids:
                pids.add(pid)
                frontier.append(pid)
    return sum(_pss_kb(p) for p in pids) / 1024


class MemorySampler:
    """Memory (PSS) of a process tree, sampled in a thread."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid, self.interval = pid, interval
        self.samples: list[tuple[float, float]] = []  # (perf_counter, MiB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), tree_pss_mb(self.pid)))
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def peak(self) -> float:
        return max(mb for _, mb in self.samples)

    def median_between(self, t0: float, t1: float) -> float:
        """Median over the samples taken in [t0, t1] (a run's measured
        window): steadier between runs than the peak, which catches one
        garbage-collection cycle or one forked worker more or less."""
        inside = [mb for t, mb in self.samples if t0 <= t <= t1]
        return median(inside or [mb for _, mb in self.samples])


class Child:
    """A child process in its own process group; `stop` ends the group and
    waits until every member has exited."""

    def __init__(self, argv: list[str], env: dict, log_path: str):
        self._log = open(log_path, "w")
        self.proc = subprocess.Popen(
            argv, env=env, cwd=ROOT, stdout=subprocess.PIPE, stderr=self._log,
            text=True, start_new_session=True,
        )

    def readline(self, timeout: float) -> str:
        """Next stdout line; raises on timeout or exit."""
        box: list[str] = []
        t = threading.Thread(target=lambda: box.append(self.proc.stdout.readline()), daemon=True)
        t.start()
        t.join(timeout)
        if not box or not box[0]:
            raise RuntimeError(f"child gave no output line (exit code {self.proc.poll()})")
        return box[0]

    def stop(self, grace: float = 30.0) -> None:
        pgid = self.proc.pid
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(grace)
            except subprocess.TimeoutExpired:
                pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            deadline = time.time() + 10
            while time.time() < deadline:
                members = [p for p, (_, g) in _proc_table().items() if g == pgid]
                if not members:
                    break
                try:
                    os.killpg(pgid, sig)
                except ProcessLookupError:
                    break
                time.sleep(0.2)
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self._log.close()


# ---- the service ---------------------------------------------------------

class Service:
    """The SQL service as a child process, started through the package's
    CLI or, for a traced run, through the benchmark's traced launcher."""

    def __init__(self, run: RunDir, traced: bool, spans_path: str | None = None):
        self.port = free_port()
        self.addr = f"127.0.0.1:{self.port}"
        if traced:
            argv = [sys.executable, os.path.join(BENCH_DIR, "traced_server.py"),
                    "--spans", spans_path]
        else:
            argv = [sys.executable, "-m", "duckdb_service_spark.service"]
        argv += ["--addr", self.addr, "--warehouse", run.warehouse]
        t0 = time.perf_counter()
        self.child = Child(argv, pinned_env(run), os.path.join(run.path, "server.log"))
        self.mem = MemorySampler(self.child.proc.pid)
        line = self.child.readline(timeout=150)
        if "listening on" not in line:
            raise RuntimeError(f"service did not start: {line!r}")
        self.start_s = time.perf_counter() - t0

    def call(self, path: str, sql: str) -> tuple[float, int, dict]:
        """(client latency s, response bytes, decoded envelope)."""
        body = json.dumps({"sql": sql})
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            conn.request("POST", path, body, {"Content-Type": "application/json"})
            raw = conn.getresponse().read()
        finally:
            conn.close()
        return time.perf_counter() - t0, len(raw), json.loads(raw)

    def execute(self, sql: str) -> dict:
        _, _, env = self.call("/db/execute", sql)
        if "error" in env:
            raise RuntimeError(f"{sql[:80]!r}: {env['error'].splitlines()[0]}")
        return env

    def stop(self) -> MemorySampler:
        """Stops the service; returns its memory samples."""
        self.mem.stop()
        self.child.stop()
        return self.mem


# ---- statistics -----------------------------------------------------------

def median(xs) -> float:
    s = sorted(xs)
    n = len(s)
    return (s[(n - 1) // 2] + s[n // 2]) / 2


def tail(xs) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return None
    return {"percentile": round(100 * (n - 10) / n, 2), "value": s[n - 11], "samples": n}


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]
