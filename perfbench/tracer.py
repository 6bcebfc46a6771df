"""Span recorder for traced runs.

The traced launchers (`traced_server.py`, `plans_worker.py --trace`) wrap
the package's public entry points with `Tracer.wrap` before any work runs.
Each wrapped call records a span: request id, span id, parent span id,
name, layer, start and end (perf_counter ns) and a few attributes. Spans
are kept in memory and written out as JSON when the process ends;
layers.py turns them into per-layer numbers.

Self time of a span is its duration minus the time its child spans cover.
A request's uncovered remainder is its `took` minus the time its top-level
spans cover, so its layer self times plus that remainder equal `took` by
definition. What can fail, and is checked per request: every span lies
inside its parent (a top-level span inside the request's body), siblings do
not overlap, and 0 <= uncovered <= took.
"""

from __future__ import annotations

import itertools
import os
import re
import threading
import time

_ns = time.perf_counter_ns

# front-end passes Engine.query_df runs, in order (module attributes of
# duckdb_service_spark.service.sql_routing; query_df imports them per call)
PASSES = [
    "rewrite_read_files", "rewrite_series_tvf", "rewrite_from_first",
    "rewrite_columns_expr", "rewrite_map_subscripts", "rewrite_float_floordiv",
    "rewrite_bool_compare", "rewrite_list_concat_cols", "rewrite_numeric_date_lanes",
    "rewrite_list_literal_types", "rewrite_string_list_casts",
    "rewrite_postfix_factorial_terms", "rewrite_map_comparisons",
    "rewrite_branch_expr_types", "rewrite_in_list_types",
    "rewrite_ordered_stat_decimals", "rewrite_cast_contract",
    "rewrite_values_typing", "rewrite_setop_branch_types",
    "route_pivot_statement", "route_unpivot_statement", "route_star_replace",
    "route_asof_join", "route_with_recursive",
]
FRONTEND_PASSES = PASSES + ["translate"]

# layers a span's self time is charged to
LAYERS = ["lock", "frontend", "catalyst", "exec", "serializer", "dml", "catalog", "plans"]

_PROBE_RE = re.compile(r"\bLIMIT\s+0\s*$", re.IGNORECASE)

# perf_counter and the service's time.time() clock for `took` may disagree
# by this much on one request
CLOCK_TOL_MS = 0.05


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.requests: dict[int, dict] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.overhead_ns: dict[int, int] = {}

    # ---- request scope -------------------------------------------------

    def begin(self, **attrs) -> int:
        rid = next(self._ids)
        self.requests[rid] = dict(attrs, start=_ns(), wall=time.time())
        self._local.req = rid
        self._local.stack = []
        return rid

    def end(self, rid: int) -> None:
        self.requests[rid]["end"] = _ns()
        self._local.req = None

    def current(self) -> int | None:
        return getattr(self._local, "req", None)

    def note(self, **attrs) -> None:
        rid = self.current()
        if rid is not None:
            self.requests[rid].update(attrs)

    # ---- spans -----------------------------------------------------------

    def record(self, name: str, layer: str, t0: int, t1: int, **attrs) -> None:
        rid = self.current()
        if rid is None:
            return
        stack = self._local.stack
        parent = stack[-1] if stack else None
        self.spans.append((rid, next(self._ids), parent, name, layer, t0, t1, attrs))

    def call(self, name: str, layer: str, fn, args=(), kwargs=None, describe=None):
        """fn(*args, **kwargs) as a span. `describe(args, kwargs, result)`
        returns extra span attributes."""
        kwargs = kwargs or {}
        rid = self.current()
        if rid is None:
            return fn(*args, **kwargs)
        t_in = _ns()
        stack = self._local.stack
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        stack.append(sid)
        result = None
        t0 = _ns()
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            t1 = _ns()
            stack.pop()
            extra = describe(args, kwargs, result) if describe else {}
            self.spans.append((rid, sid, parent, name, layer, t0, t1, extra))
            self.overhead_ns[rid] = self.overhead_ns.get(rid, 0) + (t0 - t_in) + (_ns() - t1)

    def wrap(self, owner, attr: str, name: str, layer: str, describe=None) -> None:
        """Replace owner.attr with a span-recording wrapper."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            return self.call(name, layer, fn, args, kwargs, describe)

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)

    def dump(self) -> dict:
        return {
            "requests": {str(k): v for k, v in self.requests.items()},
            "spans": [list(s) for s in self.spans],
            "overhead_ns": {str(k): v for k, v in self.overhead_ns.items()},
        }


class TimedLock:
    """Drop-in for the service's request lock that records the wait."""

    def __init__(self, tracer: Tracer):
        self._lock = threading.Lock()
        self._tracer = tracer

    def __enter__(self):
        t0 = _ns()
        self._lock.acquire()
        self._tracer.record("lock_wait", "lock", t0, _ns())
        return self

    def __exit__(self, *exc):
        self._lock.release()


# ---- wrappers shared by both launchers -------------------------------------

def _pass_changed(args, kwargs, result):
    text = next((a for a in args if isinstance(a, str)), None)
    if isinstance(result, str):
        return {"changed": result != text}
    return {"changed": result is not None}


def _sql_kind(args, kwargs, result):
    text = args[1] if len(args) > 1 else kwargs.get("sqlQuery", "")
    return {"probe": bool(_PROBE_RE.search(str(text).strip()))}


def _phases(df) -> dict:
    """Catalyst phase ms of a DataFrame's QueryExecution."""
    out = {}
    try:
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            e = it.next()
            out[e._1()] = e._2().durationMs()
    except Exception:  # noqa: BLE001 — a plan without a tracker has no phases
        pass
    return out


def install_spark(tracer: Tracer) -> None:
    """Spans around SparkSession.sql (probes counted) and DataFrame.collect."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame  # the class sessions return

    tracer.wrap(SparkSession, "sql", "spark.sql", "catalyst", _sql_kind)
    tracer.wrap(DataFrame, "collect", "collect", "exec",
                lambda a, k, r: {"phases": _phases(a[0]), "rows": len(r or [])})


def install_service(tracer: Tracer) -> None:
    from duckdb_service_spark.service import catalog, executor, http_server, sql_routing

    install_spark(tracer)
    for name in ("run_statement", "query_df", "describe"):
        tracer.wrap(executor.Engine, name, f"engine.{name}", "frontend")
    tracer.wrap(executor.Engine, "execute", "engine.execute", "dml")
    for name in PASSES:
        tracer.wrap(sql_routing, name, name, "frontend", _pass_changed)
    tracer.wrap(executor, "translate", "translate", "frontend", _pass_changed)
    tracer.wrap(http_server, "query_result", "query_result", "serializer",
                lambda a, k, r: {"rows": len((r or {}).get("values", ()))})

    for name in ("append", "overwrite", "overwrite_partitions"):
        _wrap_catalog_write(tracer, catalog.Catalog, name)


def _files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _wrap_catalog_write(tracer: Tracer, cls, name: str) -> None:
    """Catalog writes also record the bytes and files they left on disk."""
    fn = getattr(cls, name)

    def traced(self, table, df, *a, **kw):
        if tracer.current() is None:
            return fn(self, table, df, *a, **kw)
        path = self.tables[table].path
        before = _files(path)

        def written(args, kwargs, result):
            new = [v for p, v in _files(path).items() if before.get(p) != v]
            return {"bytes": sum(v[0] for v in new), "files": len(new)}

        return tracer.call(f"catalog.{name}", "catalog", fn, (self, table, df, *a), kw, written)

    setattr(cls, name, traced)


def stage_stats(spark, job_group: str) -> dict:
    """Jobs, stages, tasks, input and shuffle bytes of one job group."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "input_bytes": 0, "shuffle_bytes": 0}
    for jid in st.getJobIdsForGroup(job_group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in list(info.stageIds):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted from the status store
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
    return out


def live_caches(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


# ---- per-layer numbers ---------------------------------------------------

def request_breakdown(req: dict, spans: list) -> dict:
    """Self ms per layer for one request, Catalyst phases and counts."""
    children: dict = {}
    for s in spans:
        children.setdefault(s[2], []).append(s)
    self_ms = dict.fromkeys(LAYERS, 0.0)
    passes: dict[str, float] = {}
    changed = run = probes = 0
    probe_ms = 0.0
    phases = dict.fromkeys(["parsing", "analysis", "optimization", "planning"], 0.0)
    serializer_rows = 0
    for s in spans:
        _rid, sid, _parent, name, layer, t0, t1, attrs = s
        dur = (t1 - t0) / 1e6
        own = dur - sum((c[6] - c[5]) / 1e6 for c in children.get(sid, ()))
        if name == "spark.sql" and attrs.get("probe"):
            layer = "frontend"
            probes += 1
            probe_ms += dur
        self_ms[layer] += own
        if name in FRONTEND_PASSES:
            passes[name] = passes.get(name, 0.0) + own
            run += 1
            changed += bool(attrs.get("changed"))
        if name == "collect":
            for k, v in attrs.get("phases", {}).items():
                phases[k] = phases.get(k, 0.0) + v
        if name == "query_result":
            serializer_rows += attrs.get("rows", 0)
    # optimization and planning run lazily inside collect: charge them to
    # Catalyst, not execution (parsing and analysis sit in the spark.sql span)
    moved = min(self_ms["exec"], phases["optimization"] + phases["planning"])
    self_ms["exec"] -= moved
    self_ms["catalyst"] += moved
    top = [s for s in spans if s[2] is None]
    covered = sum((s[6] - s[5]) / 1e6 for s in top)
    took = req.get("took_ms") or covered
    uncovered = took - covered
    return {
        "self_ms": self_ms, "passes": passes, "changed": changed, "run": run,
        "probes": probes, "probe_ms": probe_ms, "phases": phases,
        "rows": serializer_rows, "uncovered_ms": uncovered, "took_ms": took,
        "span_violations": span_violations(req, spans, children),
        "uncovered_in_range": -CLOCK_TOL_MS <= uncovered <= took + CLOCK_TOL_MS,
        "catalog_bytes": sum(s[7].get("bytes", 0) for s in spans if s[4] == "catalog"),
        "catalog_files": sum(s[7].get("files", 0) for s in spans if s[4] == "catalog"),
    }


def span_violations(req: dict, spans: list, children: dict) -> int:
    """Spans of one request that leave their parent (top-level spans: the
    request's body, from the SQL read to the response) or overlap an
    earlier sibling."""
    lo, hi = req.get("body_start", req["start"]), req.get("body_end", req["end"])
    by_id = {s[1]: s for s in spans}
    bad = 0
    for s in spans:
        parent = by_id.get(s[2])
        p0, p1 = (parent[5], parent[6]) if parent else (lo, hi)
        bad += not (p0 <= s[5] <= s[6] <= p1)
    for kids in children.values():
        kids = sorted(kids, key=lambda c: c[5])
        bad += sum(b[5] < a[6] for a, b in zip(kids, kids[1:]))
    return bad
