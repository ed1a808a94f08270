"""Per-layer metrics of a traced run.

Sources, all recorded by the benchmark itself:

- the worker's spans around calls into the program's public functions
  (``tracing.py``), with per-call attributes such as memo hits and
  files written;
- the Spark event log (uncompressed JSON lines), whose SQL plan nodes
  carry the operator metrics and whose task records carry shuffle, GC,
  spill and cache figures;
- ``StreamingQueryListener`` progress, for trigger phases and state.

Every figure is computed per pass. Events are placed in a pass by their
timestamp. A metric ``m`` is reported as ``m.cold`` (the first pass) and
``m.warm`` (the median over the traced warm passes). Operator metrics go
to the layer of the module that emits the operator: file scans to
``sources``, exchanges, broadcasts, codegen stages and caches to
``operators``, Python-worker operators (MapInPandas, ArrowEvalPython,
TransformWithStateInPySpark, ...) to ``ext``.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import Counter, defaultdict
from datetime import datetime

from tracing import WRITERS

LAYERS = ("plans", "sources", "operators", "pipeline", "streaming", "sinks")

# operator metric -> (layer metric, scale to the reported unit)
SCAN_METRICS = {
    "scan time": ("sources.scan_s", 1e-3),
    "size of files read": ("sources.scan_bytes", 1),
    "number of output rows": ("sources.scan_rows", 1),
}
PYTHON_METRICS = {
    "time to start Python workers": ("ext.python_start_s", 1e-3),
    "time to initialize Python workers": ("ext.python_init_s", 1e-3),
    "time to run Python workers": ("ext.python_run_s", 1e-3),
    "data sent to Python workers": ("ext.python_bytes_sent", 1),
    "data returned from Python workers": ("ext.python_bytes_returned", 1),
    "number of output rows": ("ext.python_rows_out", 1),
}
BROADCAST_METRICS = {
    "time to build": ("operators.broadcast_build_s", 1e-3),
    "time to collect": ("operators.broadcast_collect_s", 1e-3),
}

# every per-pass metric, so that absent work reads as an exact 0
PASS_METRICS = (
    "session.jobs", "session.tasks", "session.gc_s",
    "plans.build_s", "plans.build_jobs", "plans.execute_s",
    "sources.load_table_calls", "sources.scan_memo_hit_ratio",
    "sources.scan_s", "sources.scan_bytes", "sources.scan_rows",
    "operators.memo_persist_calls", "operators.memo_hit_ratio",
    "operators.cached_bytes", "operators.shuffle_write_bytes",
    "operators.shuffle_write_s", "operators.shuffle_fetch_wait_s",
    "operators.broadcast_build_s", "operators.broadcast_collect_s",
    "operators.spill_bytes", "operators.codegen_stage_s",
    "pipeline.build_s", "pipeline.execute_s",
    "ext.python_start_s", "ext.python_init_s", "ext.python_run_s",
    "ext.python_rows_out", "ext.python_bytes_sent", "ext.python_bytes_returned",
    "streaming.runs", "streaming.run_s", "streaming.triggers",
    "streaming.query_planning_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.state_commit_ms", "streaming.state_rows", "streaming.start_stop_s",
    "sinks.append_s", "sinks.dedup_swap_s", "sinks.truncate_s",
    "sinks.bytes_written", "sinks.files_written", "sinks.dedup_keep_ratio",
    *(f"{layer}.self_s" for layer in LAYERS),
    "trace.span_coverage",
)
SETUP_METRICS = ("session.start_s", "plans.import_s", "session.trivial_job_s")
# session.peak_rss_mb is the traced worker's, added by run.py
RUN_METRICS = ("session.peak_rss_mb", "trace.warm_s")


def metric_names() -> list[str]:
    """Every per-layer metric name a traced run reports."""
    per_pass = [f"{m}.{k}" for m in PASS_METRICS for k in ("cold", "warm")]
    return [*SETUP_METRICS, *per_pass, *RUN_METRICS]


class Windows:
    """Maps a wall-clock time to the traced pass that contains it."""

    def __init__(self, passes):
        self.passes = passes

    def of(self, t_s: float):
        for p in self.passes:
            if p["start"] <= t_s <= p["end"]:
                return p["no"]
        return None


def _event_lines(log_dir: str):
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(root, name)) as f:
                yield from f


def _classify(node: dict) -> dict[int, tuple[str, float]]:
    """Accumulator id -> (layer metric, scale) for one plan node."""
    name = node["nodeName"]
    names = {m["name"] for m in node["metrics"]}
    if "number of files read" in names:
        table = SCAN_METRICS
    elif "data sent to Python workers" in names:  # every Python-worker operator
        table = PYTHON_METRICS
    elif name == "BroadcastExchange":
        table = BROADCAST_METRICS
    elif name.startswith("WholeStageCodegen"):
        table = {"duration": ("operators.codegen_stage_s", 1e-3)}
    else:
        table = {}
    return {m["accumulatorId"]: table[m["name"]] for m in node["metrics"] if m["name"] in table}


def _walk(plan: dict, out: dict) -> None:
    out.update(_classify(plan))
    for child in plan["children"]:
        _walk(child, out)


def event_log_metrics(log_dir: str, windows: Windows):
    """(per-pass Counter of metrics, per-pass job submission times)."""
    accs: dict[int, tuple[str, float]] = {}
    for line in _event_lines(log_dir):
        if '"sparkPlanInfo"' in line:
            _walk(json.loads(line)["sparkPlanInfo"], accs)
    per_pass: dict[int, Counter] = defaultdict(Counter)
    jobs: dict[int, list[float]] = defaultdict(list)
    exec_pass: dict[int, int | None] = {}
    current = None  # pass of the last job or task seen: block updates carry no time
    for line in _event_lines(log_dir):
        kind = line[10:80]
        if "SparkListenerBlockUpdated" in kind:
            info = json.loads(line)["Block Updated Info"]
            if current is not None and info["Block ID"].startswith("rdd_"):
                per_pass[current]["operators.cached_bytes"] += info["Memory Size"] + info["Disk Size"]
        elif "SparkListenerTaskEnd" in kind:
            ev = json.loads(line)
            p = current = windows.of(ev["Task Info"]["Launch Time"] / 1e3)
            if p is None or ev.get("Task Metrics") is None:
                continue
            c, tm = per_pass[p], ev["Task Metrics"]
            c["session.tasks"] += 1
            c["session.gc_s"] += tm["JVM GC Time"] / 1e3
            c["operators.shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            c["operators.shuffle_write_s"] += tm["Shuffle Write Metrics"]["Shuffle Write Time"] / 1e9
            c["operators.shuffle_fetch_wait_s"] += tm["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3
            c["operators.spill_bytes"] += tm["Memory Bytes Spilled"]
            for acc in ev["Task Info"]["Accumulables"]:
                hit = accs.get(acc["ID"])
                if hit is not None and "Update" in acc:
                    c[hit[0]] += float(acc["Update"]) * hit[1]
        elif "SparkListenerJobStart" in kind:
            ev = json.loads(line)
            p = current = windows.of(ev["Submission Time"] / 1e3)
            if p is not None:
                per_pass[p]["session.jobs"] += 1
                jobs[p].append(ev["Submission Time"] / 1e3)
        elif "SQLExecutionStart" in kind:
            ev = json.loads(line)
            exec_pass[ev["executionId"]] = windows.of(ev["time"] / 1e3)
        elif "DriverAccumUpdates" in kind:
            ev = json.loads(line)
            p = exec_pass.get(ev["executionId"])
            if p is None:
                continue
            for acc_id, value in ev["accumUpdates"]:
                hit = accs.get(acc_id)
                if hit is not None:
                    per_pass[p][hit[0]] += value * hit[1]
    return per_pass, jobs


def _pass_of_spans(spans):
    """pass number of every span (through its ancestors)."""
    out = []
    for s in spans:
        if s["name"] == "pass":
            out.append(s["attrs"]["pass_no"])
        else:
            out.append(out[s["parent"]] if s["parent"] is not None else None)
    return out


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_metrics(spans, job_times) -> dict[int, Counter]:
    per_pass: dict[int, Counter] = defaultdict(Counter)
    passes = _pass_of_spans(spans)
    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)
    hits = defaultdict(Counter)
    for i, s in enumerate(spans):
        p = passes[i]
        if p is None:
            continue
        c, name, attrs = per_pass[p], s["name"], s["attrs"]
        dur = s["end"] - s["start"]
        kids = [(spans[k]["start"], spans[k]["end"]) for k in children[i]]
        if name == "pass":
            c["pass_s"] += dur
            c["top_s"] += sum(e - b for b, e in kids)
            continue
        layer = name.split(".")[0]
        c[f"{layer}.self_s"] += dur - _covered(kids)
        if name in ("plans.build", "plans.execute"):
            c[f"{name}_s"] += dur
            if name == "plans.build":
                c["plans.build_jobs"] += sum(s["start"] <= t <= s["end"] for t in job_times.get(p, ()))
            if name == "plans.execute" and attrs["query"] == "pipeline_e2e":
                c["pipeline.execute_s"] += dur
        elif name == "pipeline.build_wide_fact":
            c["pipeline.build_s"] += dur
        elif name == "sources.load_table":
            c["sources.load_table_calls"] += 1
            hits[p]["scan"] += attrs["hit"]
        elif name == "operators.memo_persist":
            c["operators.memo_persist_calls"] += 1
            hits[p]["memo"] += attrs["hit"]
        elif name.startswith("streaming.run_"):
            c["streaming.runs"] += 1
            c["streaming.run_s"] += dur
        elif name == "sinks.flush":
            kid = {spans[k]["name"]: spans[k]["attrs"] for k in children[i]}
            if "sinks.append_table" in kid and "sinks.dedup_table_swap" in kid:
                app, swap = kid["sinks.append_table"], kid["sinks.dedup_table_swap"]
                c["sinks.rows_appended"] += app["rows_after"] - app["rows_before"]
                c["sinks.rows_kept"] += swap["rows_after"] - app["rows_before"]
        if name in WRITERS:
            short = {"sinks.append_table": "sinks.append_s",
                     "sinks.dedup_table_swap": "sinks.dedup_swap_s",
                     "sinks.truncate_staging": "sinks.truncate_s"}.get(name)
            if short:
                c[short] += dur
            parent = spans[s["parent"]]["name"] if s["parent"] is not None else ""
            if parent not in WRITERS:
                c["sinks.files_written"] += attrs["files"]
                c["sinks.bytes_written"] += attrs["bytes"]
    for p, c in per_pass.items():
        calls = c["sources.load_table_calls"]
        c["sources.scan_memo_hit_ratio"] = hits[p]["scan"] / calls if calls else 0.0
        calls = c["operators.memo_persist_calls"]
        c["operators.memo_hit_ratio"] = hits[p]["memo"] / calls if calls else 0.0
        appended = c.pop("sinks.rows_appended", 0)
        kept = c.pop("sinks.rows_kept", 0)
        c["sinks.dedup_keep_ratio"] = kept / appended if appended else 0.0
        c["trace.span_coverage"] = c.pop("top_s") / c.pop("pass_s")
    return per_pass


def progress_metrics(progress, windows: Windows) -> dict[int, Counter]:
    per_pass: dict[int, Counter] = defaultdict(Counter)
    last_rows: dict[int, dict] = defaultdict(dict)
    for pr in progress:
        t = datetime.fromisoformat(pr["timestamp"].replace("Z", "+00:00")).timestamp()
        p = windows.of(t)
        if p is None:
            continue
        c, d = per_pass[p], pr.get("durationMs", {})
        c["streaming.triggers"] += 1
        c["streaming.trigger_ms"] += d.get("triggerExecution", 0)
        c["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
        c["streaming.add_batch_ms"] += d.get("addBatch", 0)
        c["streaming.wal_commit_ms"] += d.get("walCommit", 0)
        c["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
        ops = pr.get("stateOperators", [])
        c["streaming.state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
        last_rows[p][pr["runId"]] = sum(o.get("numRowsTotal", 0) for o in ops)
    for p, c in per_pass.items():
        c["streaming.state_rows"] = sum(last_rows[p].values())
    return per_pass


def per_layer(result: dict, log_dir: str) -> dict[str, float]:
    passes = result["passes"]
    windows = Windows(passes)
    ev, job_times = event_log_metrics(log_dir, windows)
    sp = span_metrics(result["spans"], job_times)
    pr = progress_metrics(result["progress"], windows)
    merged: dict[int, Counter] = {}
    for p in windows.passes:
        c = Counter()
        for part in (ev, sp, pr):
            c.update(part.get(p["no"], Counter()))
        trig = c.pop("streaming.trigger_ms", 0)
        c["streaming.start_stop_s"] = c["streaming.run_s"] - trig / 1e3 if c["streaming.runs"] else 0.0
        merged[p["no"]] = c
    cold = [p["no"] for p in windows.passes if p["kind"] == "cold"]
    warm = [p["no"] for p in windows.passes if p["kind"] == "warm"]
    out: dict[str, float] = {
        "session.start_s": result["setup"]["start_s"],
        "plans.import_s": result["setup"]["import_s"],
        "session.trivial_job_s": result["setup"]["trivial_job_s"],
    }
    for m in PASS_METRICS:
        out[f"{m}.cold"] = float(merged[cold[0]].get(m, 0))
        out[f"{m}.warm"] = float(statistics.median(merged[p].get(m, 0) for p in warm))
    # as an untraced run's warm_s: the fastest warm pass
    out["trace.warm_s"] = min(p["seconds"] for p in passes if p["kind"] == "warm")
    return out
