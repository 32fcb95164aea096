"""Per-layer metrics of a traced run: Spark's event log joined to spans.

Every job the benchmark triggers carries the job group
``pb|<request>|<pass>|<phase>``; SQL executions carry the same string
as their description. The parser maps tasks to stages to jobs to that
tag, maps SQL plan-node metrics (accumulator ids from the initial and
adaptive plans) to executions, and joins both to the in-memory spans
the worker recorded around the session start, each request phase and
the engine's planner / ingest / Valu1 entry points.

Layers are named after the engine's modules. Every per-layer value is
per pass (summed over the pass's requests), the median over the warm
traced passes unless noted.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

from worker import CANDIDATE_PASS

SDV_GROUPS = {
    "component_agg": (
        "sdv_dcp_numeric", "sdv_dcp_categorical", "sdv_dcd", "sdv_wta",
        "sdv_maxmin_max", "sdv_limiting_most", "sdv_pp_sum",
    ),
    "horizon_agg": ("sdv_hz_wta_wta", "sdv_hz_dcp_wta"),
    "month_agg": ("sdv_mo_wta", "sdv_mo_dcd"),
}
GEO_PREFIXES = ("spatial_", "raster_")
# candidate-generate-then-verify requests with one candidate join:
# request -> (layer, kept pairs, kept/candidate ratio). Their candidate pairs
# are the join's output rows in the worker's candidate run (predicate
# pushdown off); in the timed plan the refine is fused into the join
# condition and the candidates are not counted. docs_minhash_lsh is
# left out: its pairs pass through several joins.
PAIR_JOINS = {
    "spatial_join_overlap": ("geo", "hit_pairs", "hit_ratio"),
    "spatial_join_overlap_wkt": ("geo", "hit_pairs", "hit_ratio"),
    "spatial_join_points": ("geo", "hit_pairs", "hit_ratio"),
    "docs_simhash_pairs": ("dedup", "verified_pairs", "verify_ratio"),
}
JOIN_NODES = (
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)

# name -> unit for every per-layer metric this module reports
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.arrow_worker_start_s": "s",
    "q.construct_s": "s",
    "q.construct_jobs": "count",
    "q.plan_s": "s",
    "engine.exec_s": "s",
    "engine.exec_frac": "ratio",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.exchanges": "count",
    "engine.shuffle_write_bytes": "bytes",
    "engine.shuffle_read_bytes": "bytes",
    "engine.spill_bytes": "bytes",
    "engine.executor_cpu_s": "s",
    "engine.executor_run_s": "s",
    "engine.gc_s": "s",
    "engine.scan_bytes": "bytes",
    "engine.rows_in_per_row_out": "ratio",
    "engine.peak_exec_mem_mb": "MB",
    "engine.retained_storage_mb": "MB",
    "engine.first_pass_extra_s": "s",
    "operators.component_agg_s": "s",
    "operators.horizon_agg_s": "s",
    "operators.month_agg_s": "s",
    "plans.construct_s": "s",
    "plans.exec_s": "s",
    "valu1.exec_s": "s",
    "valu1.shuffle_bytes": "bytes",
    "ingest.export_s": "s",
    "ingest.export_bytes": "bytes",
    "ingest.load_rows": "count",
    "geo.python_run_s": "s",
    "geo.arrow_bytes_sent": "bytes",
    "geo.arrow_bytes_received": "bytes",
    "dedup.checkpoint_jobs": "count",
    **{
        f"{layer}.{req}.{m}": unit
        for req, (layer, kept, ratio) in PAIR_JOINS.items()
        for m, unit in (
            ("candidate_pairs", "count"), (kept, "count"), (ratio, "ratio")
        )
    },
    "request_p50_s": "s",
    "request_p95_s": "s",
    "peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.coverage_frac": "ratio",
    "failed_frac": "ratio",
}


def _tag(s: str | None):
    """``pb|req|pass|phase`` -> (req, pass, phase), else None."""
    if not s or not s.startswith("pb|"):
        return None
    parts = s.split("|")
    if len(parts) != 4:
        return None
    return parts[1], int(parts[2]), parts[3]


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)


class EventLog:
    """Per-tag totals parsed from one uncompressed JSON-lines log."""

    def __init__(self, path: str):
        self.task = defaultdict(lambda: defaultdict(float))  # tag -> counters
        self.jobs = defaultdict(set)  # tag -> job ids
        self.stages = defaultdict(set)  # tag -> completed stage ids
        self.exchanges = defaultdict(int)  # tag -> shuffle exchanges
        self.node_metric = defaultdict(lambda: defaultdict(float))
        stage_tag: dict[int, tuple] = {}
        exec_tag: dict[int, tuple] = {}
        final_plan: dict[int, dict] = {}
        acc_meta: dict[int, tuple] = {}  # acc id -> (exec id, node, metric, type)
        acc_val: dict[int, float] = defaultdict(float)

        def note_plan(eid: int, plan: dict) -> None:
            final_plan[eid] = plan
            for node in _walk(plan):
                for m in node.get("metrics", []):
                    acc_meta[m["accumulatorId"]] = (
                        eid, node["nodeName"], m["name"], m["metricType"],
                    )

        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    tag = _tag(ev.get("Properties", {}).get("spark.jobGroup.id"))
                    if tag:
                        self.jobs[tag].add(ev["Job ID"])
                        for s in ev["Stage IDs"]:
                            stage_tag.setdefault(s, tag)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    tag = stage_tag.get(info["Stage ID"])
                    if tag and "Failure Reason" not in info:
                        self.stages[tag].add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    self._task(ev, stage_tag.get(ev["Stage ID"]), acc_val, acc_meta)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    tag = _tag(ev.get("description"))
                    if tag:
                        exec_tag[ev["executionId"]] = tag
                    note_plan(ev["executionId"], ev["sparkPlanInfo"])
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    note_plan(ev["executionId"], ev["sparkPlanInfo"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for aid, v in ev["accumUpdates"]:
                        acc_val[aid] += v
        for eid, plan in final_plan.items():
            tag = exec_tag.get(eid)
            if tag:
                self.exchanges[tag] += sum(
                    1 for n in _walk(plan) if n["nodeName"] == "Exchange"
                )
        for aid, v in acc_val.items():
            meta = acc_meta.get(aid)
            tag = meta and exec_tag.get(meta[0])
            if tag:
                scale = {"nsTiming": 1e-9, "timing": 1e-3}.get(meta[3], 1.0)
                self.node_metric[tag][(meta[1], meta[2])] += v * scale

    def _task(self, ev, tag, acc_val, acc_meta) -> None:
        info = ev.get("Task Info", {})
        if info.get("Failed") or info.get("Killed"):
            return
        for a in info.get("Accumulables", []):
            if a["ID"] in acc_meta and isinstance(a.get("Update"), (int, float, str)):
                try:
                    acc_val[a["ID"]] += float(a["Update"])
                except ValueError:
                    pass
        if not tag:
            return
        m = ev.get("Task Metrics") or {}
        c = self.task[tag]
        c["tasks"] += 1
        c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["run_s"] += m.get("Executor Run Time", 0) / 1e3
        c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        c["spill"] += m.get("Disk Bytes Spilled", 0)
        c["peak_mem"] = max(c["peak_mem"], m.get("Peak Execution Memory", 0))
        inp = m.get("Input Metrics", {})
        c["scan_bytes"] += inp.get("Bytes Read", 0)
        c["rows_in"] += inp.get("Records Read", 0)
        sr = m.get("Shuffle Read Metrics", {})
        c["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        c["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)

    def sum_task(self, tags, key: str) -> float:
        return sum(self.task[t][key] for t in tags)

    def node_sum(self, tags, node_pred, metric: str) -> float:
        return sum(
            v
            for t in tags
            for (node, name), v in self.node_metric[t].items()
            if name == metric and node_pred(node)
        )


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    v = sorted(values)
    k = (len(v) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def pass_metrics(ev: EventLog, p: dict, spans: list[dict]) -> dict:
    """Per-layer metrics of one traced pass."""
    pno = p["pass"]
    reqs = p["requests"]
    tags = [t for t in ev.jobs.keys() | ev.node_metric.keys() if t[1] == pno]

    def ph(*phases, names=None):
        return [
            t for t in tags
            if t[2] in phases and (names is None or t[0] in names)
        ]

    exe, con = ph("execute"), ph("construct")
    every = ph("construct", "plan", "execute")
    names = [r["name"] for r in reqs]
    geo = [n for n in names if n.startswith(GEO_PREFIXES)]
    docs = [n for n in names if n.startswith("docs_")]
    planner = [n for n in names if n.startswith("planner_")]
    rows = {r["name"]: r.get("rows", 0) for r in reqs}

    def req_sum(key, names_=None):
        return sum(
            r.get(key, 0.0) for r in reqs if names_ is None or r["name"] in names_
        )

    def layer_span(layer):
        # outermost spans of the layer only: no double count of nesting
        own = [s for s in spans if s["pass"] == pno and s["layer"] == layer]
        return sum(
            s["t1"] - s["t0"]
            for s in own
            if not any(o is not s and o["t0"] <= s["t0"] and s["t1"] <= o["t1"] for o in own)
        )

    def is_python(node):
        return "Python" in node or "Arrow" in node or "Pandas" in node

    out = {
        "q.construct_s": req_sum("construct_s"),
        "q.construct_jobs": sum(len(ev.jobs[t]) for t in con),
        "q.plan_s": req_sum("plan_s"),
        "engine.exec_s": req_sum("exec_s"),
        "engine.jobs": sum(len(ev.jobs[t]) for t in exe),
        "engine.stages": sum(len(ev.stages[t]) for t in exe),
        "engine.tasks": ev.sum_task(exe, "tasks"),
        "engine.exchanges": sum(ev.exchanges[t] for t in exe),
        "engine.shuffle_write_bytes": ev.sum_task(exe, "shuffle_write"),
        "engine.shuffle_read_bytes": ev.sum_task(exe, "shuffle_read"),
        "engine.spill_bytes": ev.sum_task(exe, "spill"),
        "engine.executor_cpu_s": ev.sum_task(every, "cpu_s"),
        "engine.executor_run_s": ev.sum_task(every, "run_s"),
        "engine.gc_s": ev.sum_task(every, "gc_s"),
        "engine.scan_bytes": ev.sum_task(exe, "scan_bytes"),
        "engine.rows_in_per_row_out": _ratio(
            ev.sum_task(exe, "rows_in"), sum(rows.values())
        ),
        "engine.peak_exec_mem_mb": max(
            [ev.task[t]["peak_mem"] for t in every] or [0]
        ) / 2**20,
        "engine.retained_storage_mb": max(
            r.get("retained_storage_mb", 0.0) for r in reqs
        ),
        "plans.construct_s": layer_span("plans"),
        "plans.exec_s": req_sum("plan_s", planner) + req_sum("exec_s", planner),
        "ingest.export_s": layer_span("ingest.export"),
        "ingest.export_bytes": p.get("export_bytes", 0),
        "ingest.load_rows": p.get("export_lines", 0),
        "geo.python_run_s": ev.node_sum(
            ph("execute", names=geo), is_python, "time to run Python workers"
        ),
        "geo.arrow_bytes_sent": ev.node_sum(
            ph("execute", names=geo), is_python, "data sent to Python workers"
        ),
        "geo.arrow_bytes_received": ev.node_sum(
            ph("execute", names=geo), is_python, "data returned from Python workers"
        ),
        "dedup.checkpoint_jobs": sum(
            len(ev.jobs[t]) for t in ph("construct", names=docs)
        ),
    }
    valu1 = [n for n in names if n.startswith("valu1_")]
    out["valu1.exec_s"] = req_sum("exec_s", valu1)
    out["valu1.shuffle_bytes"] = ev.sum_task(
        ph("construct", "plan", "execute", names=valu1), "shuffle_write"
    )
    for group, members in SDV_GROUPS.items():
        out[f"operators.{group}_s"] = req_sum("latency_s", members)
    out["engine.exec_frac"] = _ratio(out["engine.exec_s"], p["wall_s"])
    out["trace.coverage_frac"] = _ratio(
        out["q.construct_s"] + out["q.plan_s"] + out["engine.exec_s"], p["wall_s"]
    )
    return out


def pair_metrics(ev: EventLog, recs: list[dict]) -> dict:
    """Per candidate-join request of the worker's candidate run: its
    candidate pairs, the pairs it keeps, and their ratio. Requests the
    workload does not run read 0."""
    out = {}
    done = {r["name"]: r for r in recs}
    for req, (layer, kept, ratio) in PAIR_JOINS.items():
        cand = ev.node_sum(
            [(req, CANDIDATE_PASS, "candidates")],
            JOIN_NODES.__contains__, "number of output rows",
        )
        pairs = done.get(req, {}).get("rows", 0)
        out[f"{layer}.{req}.candidate_pairs"] = cand
        out[f"{layer}.{req}.{kept}"] = pairs
        out[f"{layer}.{req}.{ratio}"] = _ratio(pairs, cand)
    return out


def per_layer(result: dict, event_log: str, probe_layers=()) -> dict:
    """Every per-layer metric of a traced worker result; the metrics of
    ``probe_layers`` come from its probe pass."""
    ev = EventLog(event_log)
    spans = result["spans"]
    passes = result["passes"]
    warm = passes[1:]
    per_pass = [pass_metrics(ev, p, spans) for p in warm]
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    if probe_layers:
        probe = pass_metrics(ev, result["probe"], spans)
        out.update((k, v) for k, v in probe.items() if k.split(".")[0] in probe_layers)
    out.update(pair_metrics(ev, result.get("candidates", {}).get("requests", [])))
    for name in ("start", "arrow_worker_start"):
        out[f"session.{name}_s"] = sum(
            s["t1"] - s["t0"] for s in spans if s["layer"] == "session" and s["name"] == name
        )
    lat = [r["latency_s"] for p in warm for r in p["requests"] if "latency_s" in r]
    out["request_p50_s"] = percentile(lat, 0.50)
    out["request_p95_s"] = percentile(lat, 0.95)
    out["peak_rss_mb"] = statistics.median(p["peak_rss_mb"] for p in warm)
    warm_wall = statistics.median(p["wall_s"] for p in warm)
    out["engine.first_pass_extra_s"] = passes[0]["wall_s"] - warm_wall
    untraced = statistics.median(p["wall_s"] for p in result["untraced_passes"])
    out["trace.overhead_frac"] = warm_wall / untraced - 1.0
    return out


def self_times(spans: list[dict]) -> list[dict]:
    """Each span with its self time: duration minus its direct
    children's (one thread records every span, so a span inside
    another's interval is nested in it)."""
    out = []
    for s in spans:
        inner = [
            o for o in spans
            if o is not s and s["t0"] <= o["t0"] and o["t1"] <= s["t1"]
        ]
        direct = [
            o for o in inner
            if not any(m is not o and o["t0"] >= m["t0"] and o["t1"] <= m["t1"] for m in inner)
        ]
        dur = s["t1"] - s["t0"]
        out.append(dict(s, dur_s=dur, self_s=dur - sum(o["t1"] - o["t0"] for o in direct)))
    return out
