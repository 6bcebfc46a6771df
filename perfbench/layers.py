"""Per-layer metrics from a traced run's spans (see tracer.py).

Every workload reports the same names; a layer that does no work on a
workload reports 0. Times are the median (p50) over the measured requests
of the layer's self time in one request; counts and bytes are means per
request unless the name says otherwise.
"""

from __future__ import annotations

import harness as h
import tracer as tr

PLAN_NAMES_KEY = "plans.{}_s"


def _names(plan_names: list[str]) -> list[tuple[str, str]]:
    out = [
        ("http.client_overhead_ms", "ms"), ("http.lock_wait_ms", "ms"),
        ("http.response_bytes", "bytes"), ("http.ms", "ms"),
        ("frontend.ms", "ms"),
    ]
    out += [(f"frontend.pass_ms.{p}", "ms") for p in tr.FRONTEND_PASSES]
    out += [
        ("frontend.passes_changed_ratio", "ratio"), ("frontend.probe_queries", "count"),
        ("frontend.probe_ms", "ms"),
        ("catalyst.ms", "ms"), ("catalyst.parsing_ms", "ms"), ("catalyst.analysis_ms", "ms"),
        ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
        ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
        ("exec.tasks", "count"), ("exec.shuffle_bytes", "bytes"), ("exec.input_bytes", "bytes"),
        ("exec.live_caches_after", "count"),
        ("serializer.ms", "ms"), ("serializer.rows", "count"),
        ("dml.ms", "ms"), ("dml.insert_ms", "ms"), ("dml.update_ms", "ms"), ("dml.delete_ms", "ms"),
        ("catalog.ms", "ms"), ("catalog.bytes_written", "bytes"), ("catalog.files_written", "count"),
        ("catalog.table_files", "count"), ("catalog.write_amp", "ratio"),
        ("catalog.space_amp", "ratio"),
        ("plans.build_ms", "ms"), ("plans.exec_ms", "ms"), ("plans.jobs", "count"),
    ]
    out += [(PLAN_NAMES_KEY.format(n), "s") for n in plan_names]
    out += [
        ("session.start_s", "s"), ("sources.load_s", "s"), ("duckdb.ms", "ms"),
        ("trace.uncovered_ms", "ms"), ("trace.overhead_ms", "ms"),
    ]
    return out


def _p50(xs) -> float:
    xs = list(xs)
    return h.median(xs) if xs else 0.0


def _breakdowns(dump: dict, window) -> list[tuple[str, dict, dict]]:
    by_req: dict[str, list] = {}
    for s in dump["spans"]:
        by_req.setdefault(str(s[0]), []).append(s)
    out = []
    for rid, req in dump["requests"].items():
        if window and not (window[0] <= req["wall"] <= window[1]):
            continue
        if "end" not in req:
            continue
        bd = tr.request_breakdown(req, by_req.get(rid, []))
        bd["overhead_ms"] = dump["overhead_ns"].get(rid, 0) / 1e6
        bd["duration_ms"] = (req["end"] - req["start"]) / 1e6
        bd["stages"] = dump["stages"].get(rid, {})
        out.append((rid, req, bd))
    return out


def _common(bds, dump, plan_names, start_s, load_s, duck_ms) -> tuple[dict, dict]:
    m = {name: 0.0 for name, _ in _names(plan_names)}
    if not bds:
        return m, {"requests": 0}
    self_of = lambda layer: [b["self_ms"][layer] for _, _, b in bds]  # noqa: E731
    m["frontend.ms"] = _p50(self_of("frontend"))
    fe = [b for _, _, b in bds if b["run"]]
    for p in tr.FRONTEND_PASSES:
        m[f"frontend.pass_ms.{p}"] = h.mean(b["passes"].get(p, 0.0) for b in fe) if fe else 0.0
    changed = sum(b["changed"] for _, _, b in bds)
    run = sum(b["run"] for _, _, b in bds)
    m["frontend.passes_changed_ratio"] = changed / run if run else 0.0
    m["frontend.probe_queries"] = h.mean(b["probes"] for _, _, b in bds)
    m["frontend.probe_ms"] = h.mean(b["probe_ms"] for _, _, b in bds)
    m["catalyst.ms"] = _p50(self_of("catalyst"))
    for ph in ("parsing", "analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = _p50(b["phases"].get(ph, 0.0) for _, _, b in bds)
    m["exec.ms"] = _p50(self_of("exec"))
    for k in ("jobs", "stages", "tasks", "shuffle_bytes", "input_bytes"):
        m[f"exec.{k}"] = h.mean(b["stages"].get(k, 0) for _, _, b in bds)
    m["exec.live_caches_after"] = float(dump.get("live_caches", 0))
    m["session.start_s"] = start_s
    m["sources.load_s"] = load_s
    m["duckdb.ms"] = duck_ms
    m["trace.uncovered_ms"] = _p50(b["uncovered_ms"] for _, _, b in bds)
    m["trace.overhead_ms"] = _p50(b["overhead_ms"] for _, _, b in bds)
    report = {
        "requests": len(bds),
        "self_ms_p50": {layer: round(_p50(self_of(layer)), 3) for layer in tr.LAYERS},
        "uncovered_ms_p50": round(m["trace.uncovered_ms"], 3),
        "took_ms_p50": round(_p50(b["took_ms"] for _, _, b in bds), 3),
        "tracing_overhead_ms_p50": round(m["trace.overhead_ms"], 3),
        "uncovered_share_p50": round(_p50(b["uncovered_ms"] / b["took_ms"]
                                          for _, _, b in bds if b["took_ms"] > 0), 4),
        "span_violations": sum(b["span_violations"] for _, _, b in bds),
        "uncovered_out_of_range": sum(not b["uncovered_in_range"] for _, _, b in bds),
        "passes_changed": f"{changed}/{run}",
        "probe_queries": f"{sum(b['probes'] for _, _, b in bds)}/{len(bds)} requests",
    }
    return m, report


def service_layers(dump: dict, window, ops: list[dict], plan_names: list[str], *,
                   start_s: float, load_s: float, duck_ms: float, write_amp: float = 0.0,
                   space_amp: float = 0.0, table_files: int = 0) -> dict:
    bds = _breakdowns(dump, window)
    m, report = _common(bds, dump, plan_names, start_s, load_s, duck_ms)
    m["http.client_overhead_ms"] = _p50(o["lat"] * 1000 - o["took_ms"] for o in ops)
    m["http.response_bytes"] = _p50(o["bytes"] for o in ops)
    m["http.lock_wait_ms"] = _p50(b["self_ms"]["lock"] for _, _, b in bds)
    m["http.ms"] = _p50(b["duration_ms"] - b["took_ms"] for _, _, b in bds)
    queries = [b for _, _, b in bds if b["self_ms"]["serializer"] > 0]
    m["serializer.ms"] = _p50(b["self_ms"]["serializer"] for b in queries)
    m["serializer.rows"] = h.mean(b["rows"] for b in queries)
    writes = [(req["sql"].split(None, 1)[0].upper(), b) for _, req, b in bds
              if req.get("execute") and req.get("sql")]
    m["dml.ms"] = _p50(b["self_ms"]["dml"] for _, b in writes)
    for verb in ("INSERT", "UPDATE", "DELETE"):
        m[f"dml.{verb.lower()}_ms"] = _p50(b["self_ms"]["dml"] for v, b in writes if v == verb)
    m["catalog.ms"] = _p50(b["self_ms"]["catalog"] for _, b in writes)
    m["catalog.bytes_written"] = h.mean(b["catalog_bytes"] for _, b in writes)
    m["catalog.files_written"] = h.mean(b["catalog_files"] for _, b in writes)
    m["catalog.table_files"] = float(table_files)
    m["catalog.write_amp"] = write_amp
    m["catalog.space_amp"] = space_amp
    report["client_overhead_base"] = "client latency - took, per request"
    report["writes"] = len(writes)
    return {"metrics": {k: (m[k], u) for k, u in _names(plan_names)}, "report": report}


def plans_layers(dump: dict, plan_names: list[str], *, start_s: float, load_s: float,
                 duck_ms: float) -> dict:
    bds = _breakdowns(dump, dump.get("window"))
    m, report = _common(bds, dump, plan_names, start_s, load_s, duck_ms)
    m["plans.build_ms"] = _p50(b["self_ms"]["plans"] for _, _, b in bds)
    m["plans.exec_ms"] = _p50(b["self_ms"]["exec"] for _, _, b in bds)
    m["plans.jobs"] = h.mean(b["stages"].get("jobs", 0) for _, _, b in bds)
    took: dict[str, list] = {}
    for _, req, b in bds:
        took.setdefault(req.get("name"), []).append(b["took_ms"] / 1000)
    for n in plan_names:
        m[PLAN_NAMES_KEY.format(n)] = _p50(took.get(n, []))
    return {"metrics": {k: (m[k], u) for k, u in _names(plan_names)}, "report": report}
