"""The traced run: spans around the package's public functions, Spark job
groups, and the fold of Spark's event log into per-layer metrics.

Spans are recorded by patching module attributes of the package in this
process only (Spark's Python workers import the unpatched modules). Every
span sets the Spark job group to its own id, so each job, stage and SQL
execution in the event log names the innermost span that launched it.

Layers are the package's modules: ``session``, ``sources``, ``functions``,
``operators``, ``plans`` and ``jobs``; ``bench`` is the benchmark's own
time inside an operation (between calls into the package).
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import re
import sys
import time
from dataclasses import dataclass, field

LAYERS = ("bench", "session", "sources", "functions", "operators", "plans", "jobs")

# modules whose public functions get spans; the jobs contribute only main()
TRACED_MODULES = (
    "schema_inference_spark.session",
    "schema_inference_spark.sources.iceberg",
    "schema_inference_spark.sources.delimited",
    "schema_inference_spark.sources.tables",
    "schema_inference_spark.functions.json_shape",
    "schema_inference_spark.functions.type_inference",
    "schema_inference_spark.functions.text",
    "schema_inference_spark.functions.hashing",
    "schema_inference_spark.operators.shapes",
    "schema_inference_spark.operators.proto",
    "schema_inference_spark.operators.dedup",
    "schema_inference_spark.operators.packing",
    "schema_inference_spark.operators.sampling",
    "schema_inference_spark.operators.pq",
    "schema_inference_spark.operators.similarity",
    "schema_inference_spark.operators.pixels",
    "schema_inference_spark.operators.profile",
    "schema_inference_spark.operators.domain",
    "schema_inference_spark.operators.drift",
    "schema_inference_spark.operators.referential",
    "schema_inference_spark.operators.uniqueness",
    "schema_inference_spark.plans.validation",
    "schema_inference_spark.plans.checkpoint",
)
JOB_MODULES = ("jobs.validate_job", "jobs.schema_infer_job", "jobs.curate_job")

# the stages of each job, in order, each named by the package call that
# starts it: a stage runs until the next one starts, and the last until the
# write_table call after its marker returns
JOB_STAGES = {
    "curate": (
        ("pairs", "lsh_candidate_pairs"), ("components", "duplicate_components"),
        ("corpus", "leakage_safe_split"), ("signatures", "dedup_signatures"),
        ("packed", "pack_documents"),
    ),
    "schema_infer": (
        ("distinct", "shape_counts"), ("top_k", "top_shapes"), ("merge", "merge_schemas"),
        ("protos", "proto_hierarchy"),
    ),
}


def layer_of(module: str) -> str:
    parts = module.split(".")
    if parts[0] == "jobs":
        return "jobs"
    if parts[0] == "schema_inference_spark" and len(parts) > 1:
        return parts[1]
    return "bench"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0


@dataclass
class Tracer:
    """Spans kept in memory; ``sc`` is the SparkContext whose job group each
    span sets (None in the self-tests)."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def begin(self, name: str, layer: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), name, layer, parent.sid if parent else None, time.time())
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb{span.sid}", span.name)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # recursion (merge_schemas) stays inside its outermost span
            if self.stack and self.stack[-1].name == name:
                return fn(*args, **kwargs)
            span = self.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)

        return traced

    def install(self) -> None:
        """Wrap every public function defined in the traced modules, and
        rebind the names other package modules imported at load time."""
        import importlib

        originals: dict[int, object] = {}
        for modname in TRACED_MODULES + JOB_MODULES:
            mod = importlib.import_module(modname)
            short = modname.rsplit(".", 1)[-1]
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                if modname in JOB_MODULES and attr != "main":
                    continue
                wrapped = self.wrap(fn, f"{layer_of(modname)}.{short}.{attr}", layer_of(modname))
                originals[id(fn)] = wrapped
                self._patched.append((mod, attr, fn))
                setattr(mod, attr, wrapped)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(("schema_inference_spark", "jobs")):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in originals and getattr(mod, attr) is val:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, originals[id(val)])

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()


# ----------------------------------------------------------------- self time


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals, clipped to
    the span (children run sequentially on one thread, but clipping keeps
    the arithmetic right if one ever overlaps or outlives its parent)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.sid: (s.end - s.start) - _union([(c.start, c.end) for c in children.get(s.sid, [])],
                                          s.start, s.end)
        for s in spans
    }


def subtree(spans: list[Span], root_sid: int) -> list[Span]:
    """The spans under (and including) ``root_sid``."""
    by_sid = {s.sid: s for s in spans}
    out = []
    for s in spans:
        r = s
        while r.parent is not None and r.sid != root_sid:
            r = by_sid[r.parent]
        if r.sid == root_sid:
            out.append(s)
    return out


def layer_self_times(spans: list[Span], op_sid: int) -> dict[str, float]:
    """Self time per layer over the span tree rooted at ``op_sid``."""
    st = self_times(spans)
    out = {layer: 0.0 for layer in LAYERS}
    for s in subtree(spans, op_sid):
        out[s.layer] += st[s.sid]
    return out


# ----------------------------------------------------------------- event log


def udf_layers(package_root: str) -> dict[str, str]:
    """Function name -> layer, for every ``def`` in the package, so a Python
    UDF node (which shows its function's name) can be charged to the layer
    that defines it. A name defined in several layers maps to the layer
    that defines it most often."""
    counts: dict[str, dict[str, int]] = {}
    pat = re.compile(r"^\s*def\s+(\w+)\s*\(", re.M)
    for path in glob.glob(os.path.join(package_root, "schema_inference_spark", "*", "*.py")):
        layer = os.path.basename(os.path.dirname(path))
        with open(path, encoding="utf-8") as f:
            for name in pat.findall(f.read()):
                counts.setdefault(name, {}).setdefault(layer, 0)
                counts[name][layer] += 1
    return {n: max(c, key=lambda k: (c[k], k == "operators")) for n, c in counts.items()}


_PY_NODE = re.compile(r"Python|InPandas|InArrow|Pandas")
_UDF_NAME = re.compile(r"(\w+)\(")


@dataclass
class Fold:
    """Per-span sums of event-log metrics."""

    by_span: dict[int, dict[str, float]] = field(default_factory=dict)
    job_intervals: dict[int, list[tuple[float, float]]] = field(default_factory=dict)

    def add(self, sid: int, key: str, value: float) -> None:
        d = self.by_span.setdefault(sid, {})
        d[key] = d.get(key, 0.0) + value


def _node_walk(info: dict, nodes: dict[int, tuple[str, str, str, float]]) -> None:
    """accumulator id -> (node name, node string, metric name, seconds per
    unit for time metrics)."""
    for m in info.get("metrics", []):
        scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(m.get("metricType"), 1.0)
        nodes[m["accumulatorId"]] = (info["nodeName"], info["simpleString"], m["name"], scale)
    for child in info.get("children", []):
        _node_walk(child, nodes)


def _node_layer(node_name: str, simple: str, udf_layer: dict[str, str]) -> str | None:
    if _PY_NODE.search(node_name):
        names = _UDF_NAME.findall(simple.split("[", 1)[-1] if "[" in simple else simple)
        for n in names:
            if n in udf_layer:
                return udf_layer[n]
        return "operators"
    return None


def fold_event_log(lines, udf_layer: dict[str, str]) -> Fold:
    """Fold Spark listener events into per-span metrics. A span is named by
    the job group ``pb<sid>`` its jobs, stages and SQL executions carry.

    Keys: ``exec_run_s``, ``exec_cpu_s``, ``gc_s``, ``tasks``, ``task_retries``,
    ``jobs``, ``scan_bytes``, ``scan_s``, ``write_bytes``, ``files_written``,
    ``shuffle_write_bytes``, ``shuffle_read_bytes``, ``spill_bytes``,
    ``broadcast_bytes``, ``<layer>.py_run_s``, ``<layer>.py_start_s``,
    ``<layer>.py_bytes_in``, ``<layer>.py_bytes_out``, ``vector_scan_rows``."""
    fold = Fold()
    nodes: dict[int, tuple[str, str, str, float]] = {}
    exec_span: dict[int, int] = {}
    job_slot: dict[int, tuple[int, int]] = {}
    stage_span: dict[tuple[int, int], int] = {}

    def sid_of(group: str | None) -> int | None:
        g = group or ""
        return int(g[2:]) if g.startswith("pb") and g[2:].isdigit() else None

    def sql_metric(sid: int, acc_id: int, value: float) -> None:
        node = nodes.get(acc_id)
        if node is None:
            return
        node_name, simple, metric, scale = node
        layer = _node_layer(node_name, simple, udf_layer)
        if layer is not None:
            key = {
                "time to run Python workers": "py_run_s",
                "time to start Python workers": "py_start_s",
                "time to initialize Python workers": "py_start_s",
                "data sent to Python workers": "py_bytes_in",
                "data returned from Python workers": "py_bytes_out",
            }.get(metric)
            if key:
                fold.add(sid, f"{layer}.{key}", value * scale)
        elif "Scan" in node_name and metric == "scan time":
            fold.add(sid, "scan_s", value * scale)
        elif "Scan" in node_name and metric == "number of output rows" and "codes#" in simple \
                and "embedding#" not in simple:
            fold.add(sid, "vector_scan_rows", value)
        elif "BroadcastExchange" in node_name and metric == "data size":
            fold.add(sid, "broadcast_bytes", value)
        elif metric == "number of written files":
            fold.add(sid, "files_written", value)

    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            _node_walk(ev["sparkPlanInfo"], nodes)
            sid = sid_of(ev.get("jobGroupId"))
            if sid is not None:
                exec_span[ev["executionId"]] = sid
        elif kind == "SparkListenerDriverAccumUpdates":
            sid = exec_span.get(ev["executionId"])
            if sid is not None:
                for acc_id, value in ev["accumUpdates"]:
                    sql_metric(sid, acc_id, float(value))
        elif kind == "SparkListenerJobStart":
            sid = sid_of((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            if sid is not None:
                fold.add(sid, "jobs", 1)
                ivs = fold.job_intervals.setdefault(sid, [])
                job_slot[ev["Job ID"]] = (sid, len(ivs))
                ivs.append((ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0))
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_slot:
            sid, i = job_slot[ev["Job ID"]]
            lo = fold.job_intervals[sid][i][0]
            fold.job_intervals[sid][i] = (lo, ev["Completion Time"] / 1000.0)
        elif kind == "SparkListenerStageSubmitted":
            sid = sid_of((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            si = ev["Stage Info"]
            if sid is not None:
                stage_span[(si["Stage ID"], si["Stage Attempt ID"])] = sid
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if sid is None:
                continue
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            fold.add(sid, "tasks", 1)
            if info.get("Attempt", 0) > 0 or info.get("Failed"):
                fold.add(sid, "task_retries", 1)
            fold.add(sid, "exec_run_s", tm.get("Executor Run Time", 0) / 1000.0)
            fold.add(sid, "exec_cpu_s", tm.get("Executor CPU Time", 0) / 1e9)
            fold.add(sid, "gc_s", tm.get("JVM GC Time", 0) / 1000.0)
            fold.add(sid, "spill_bytes", tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0))
            fold.add(sid, "scan_bytes", (tm.get("Input Metrics") or {}).get("Bytes Read", 0))
            fold.add(sid, "write_bytes", (tm.get("Output Metrics") or {}).get("Bytes Written", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            fold.add(sid, "shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0))
            sr = tm.get("Shuffle Read Metrics") or {}
            fold.add(sid, "shuffle_read_bytes", sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0))
            for acc in info.get("Accumulables", []):
                if "Update" in acc and not str(acc.get("Name", "")).startswith("internal."):
                    try:
                        sql_metric(sid, acc["ID"], float(acc["Update"]))
                    except (TypeError, ValueError):
                        pass
    return fold


def read_event_log(log_dir: str) -> list[str]:
    lines: list[str] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))) + sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    ):
        with open(path, encoding="utf-8") as f:
            lines += [line for line in f if line.strip()]
    return lines


# fold keys -> per-layer metric names
FOLD_NAMES = {
    "jobs": "plans.jobs", "tasks": "plans.tasks", "task_retries": "plans.task_retries",
    "scan_bytes": "sources.scan_bytes", "scan_s": "sources.scan_s",
    "write_bytes": "sources.write_bytes", "files_written": "sources.files_written",
    **{f"{layer}.{key}": f"{layer}.{key}" for layer in ("functions", "operators")
       for key in ("py_run_s", "py_start_s", "py_bytes_in", "py_bytes_out")},
    **{key: f"operators.{key}" for key in
       ("shuffle_write_bytes", "shuffle_read_bytes", "broadcast_bytes", "spill_bytes")},
    "vector_scan_rows": "operators.rows_scanned_per_query",
    "exec_run_s": "spark.exec_run_s", "exec_cpu_s": "spark.exec_cpu_s", "gc_s": "spark.gc_s",
}


def op_layer_metrics(tracer: Tracer, fold: Fold, op_sid: int) -> dict[str, float]:
    """Every per-layer metric of one operation (the span tree at op_sid)."""
    in_op = subtree(tracer.spans, op_sid)
    sums: dict[str, float] = {}
    for s in in_op:
        for k, v in fold.by_span.get(s.sid, {}).items():
            sums[k] = sums.get(k, 0.0) + v
    op = next(s for s in in_op if s.sid == op_sid)
    wall = op.end - op.start
    out = {f"{layer}.self_s": t for layer, t in layer_self_times(tracer.spans, op_sid).items()}
    out["trace.reconcile_err"] = abs(sum(out.values()) - wall) / wall
    intervals = [iv for s in in_op for iv in fold.job_intervals.get(s.sid, [])]
    out["plans.planning_s"] = wall - _union(intervals, op.start, op.end)
    out["sources.write_s"] = sum(s.end - s.start for s in in_op if s.name.endswith(".write_table"))
    out.update({name: sums.get(key, 0.0) for key, name in FOLD_NAMES.items()})
    out.update(job_stage_times(in_op))
    return out


def job_stage_times(in_op: list[Span]) -> dict[str, float]:
    """``jobs.<job>.<stage>_s`` from the stage markers in ``JOB_STAGES``."""
    ordered = sorted(in_op, key=lambda s: s.start)
    out = {}
    for job, stages in JOB_STAGES.items():
        starts = []
        for stage, fn in stages:
            first = next((s for s in ordered if s.name.endswith(f".{fn}")), None)
            starts.append((stage, first))
        for i, (stage, first) in enumerate(starts):
            out[f"jobs.{job}.{stage}_s"] = 0.0
            if first is None:
                continue
            nxt = next((s for _, s in starts[i + 1:] if s is not None), None)
            if nxt is not None:
                end = nxt.start
            else:
                write = next((s for s in ordered if s.start >= first.start
                              and s.name.endswith(".write_table")), None)
                end = write.end if write else first.end
            out[f"jobs.{job}.{stage}_s"] = max(0.0, end - first.start)
    return out
