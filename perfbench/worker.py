"""One benchmark process: start Spark, set up the workload with one cold
operation, then run operations in a closed loop (one client) for the run's
duration. Started by ``run.py``, which times it from process start.

Protocol on stdout: one line ``PERFBENCH_RESULT <json>``, whose
``setup_done`` is the wall-clock time the cold operation finished.
``--prepare`` instead builds the inputs that need Spark and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.stats import tail  # noqa: E402


def start_spark(state: str, event_log: str | None = None):
    from schema_inference_spark.session import get_spark

    n = host.nproc()
    return get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n,
        extra_conf=host.spark_conf(state, event_log),
    )


def assert_cache_empty(spark) -> None:
    spark.catalog.clearCache()
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        raise RuntimeError("CacheManager still holds data before a timed operation")


class Runner:
    """Runs one workload's operations and records each one's outcome."""

    def __init__(self, spark, workload, state: str, tracer=None):
        self.spark, self.w, self.state, self.tracer = spark, workload, state, tracer
        self.times: list[float] = []
        self.op_spans: list[int] = []
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.n = 0

    def fresh_dir(self) -> str:
        self.n += 1
        prev = os.path.join(self.state, "out", f"op{self.n - 1}")
        shutil.rmtree(prev, ignore_errors=True)
        return os.path.join(self.state, "out", f"op{self.n}")

    def once(self, run, check, timed: bool = True):
        """One operation: ``run()`` is timed, ``check(result)`` is not. An
        operation fails if it raises or its check reports a problem."""
        assert_cache_empty(self.spark)
        span = self.tracer.begin("bench.op", "bench") if self.tracer and timed else None
        result, problems = None, []
        t0 = time.perf_counter()
        try:
            result = run()
        except Exception as e:  # the benchmark keeps running and counts it
            problems = [f"raised {type(e).__name__}: {e}"]
        finally:
            dt = time.perf_counter() - t0
            if span is not None:
                self.tracer.end(span)
        if not problems:
            try:
                problems = check(result)
            except Exception as e:
                problems = [f"check raised {type(e).__name__}: {e}"]
        if timed:
            self.attempted += 1
            self.failed += bool(problems)
            if not problems:
                self.times.append(dt)
                if span is not None:
                    self.op_spans.append(span.sid)
        self.problems += problems[:3]
        return result

    def job_op(self, timed: bool = True):
        out = self.fresh_dir()
        self.last_out = out
        self.once(lambda: self.w.run(out, self.n), lambda r: self.w.check(r, out), timed)

    def loop(self, seconds: float, op) -> None:
        end = time.perf_counter() + seconds
        while True:
            op()
            if time.perf_counter() >= end:
                return


def ann_setup(r: Runner):
    w = r.w
    out = r.fresh_dir()
    r.index_dir = out
    t0 = time.perf_counter()
    r.once(lambda: w.build(out), lambda _res: w.check_build(out), timed=False)
    r.build_s = time.perf_counter() - t0
    r.once(lambda: w.query(0), lambda res: w.check_query(0, res), timed=False)


def ann_batch(r: Runner) -> float:
    w = r.w
    t0 = time.perf_counter()
    r.once(w.batch, w.check_batch, timed=False)
    return time.perf_counter() - t0


def run_phase(spark, name, spec, inputs, cache, state, seconds, tracer=None) -> Runner:
    """Cold operation (set-up), untimed warm-up operations while the JIT and
    the Python worker pool settle, then the closed loop."""
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[name](spark, inputs, spec, cache)
    r = Runner(spark, w, state, tracer)
    if name == "ann_pq":
        ann_setup(r)
        r.setup_done = time.time()
        qid = iter(range(1, 10**9))

        def query(timed: bool = True):
            q = next(qid) % len(w.queries)
            r.once(lambda: w.query(q), lambda res: w.check_query(q, res), timed)

        for _ in range(spec["warmup_ops"]):
            query(timed=False)
        r.loop(seconds, query)
        r.batch_s = ann_batch(r)
        r.stored = r.index_dir
    else:
        r.job_op(timed=False)
        r.setup_done = time.time()
        for _ in range(spec["warmup_ops"]):
            r.job_op(timed=False)
        r.loop(seconds, r.job_op)
        r.stored = r.last_out
    return r


def e2e_metrics(r: Runner, peak_mb: float) -> dict:
    """Every end-to-end metric but ``setup_s``, which run.py measures."""
    from perfbench.workloads import dir_bytes

    w = r.w
    m = {
        "rows_per_s": (w.rows / statistics.median(r.times) if r.times else 0.0, "rows/s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "stored_bytes_per_row": (dir_bytes(r.stored) / w.rows, "B/row"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def details(r: Runner, name: str, session_s: float, load_start: float) -> dict:
    w = r.w
    d = {
        "workload": name, "rows": w.rows, "ops": len(r.times),
        "op_ms": [round(1000 * t, 1) for t in r.times],
        "session_start_s": session_s,
        "nproc": host.nproc(), "driver_mem_mb": host.driver_mem_mb(),
        "loadavg_1m_start": load_start, "loadavg_1m_end": host.loadavg_1m(),
        "versions": host.versions(), "problems": r.problems[:10],
    }
    t = tail(r.times)
    d["op_tail"] = None if t is None else {"ms": 1000 * t[0], "percentile": t[1], "samples": t[2]}
    if name == "ann_pq":
        d["build_s"] = r.build_s
        d["batch_qps"] = len(w.queries) / r.batch_s
        d["recall_at_10"] = statistics.mean(w.recalls) if w.recalls else None
    if name == "curate_dedup":
        d["planted_recall"] = w.recall
    return d


def traced_phase(name, spec, inputs, cache, state, seconds) -> tuple[dict, Runner]:
    """Restart Spark with the event log on, install spans, repeat the set-up
    and the loop, and fold the log into per-layer metrics per operation."""
    from perfbench import trace

    state = os.path.join(state, "traced")
    log_dir = os.path.join(state, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark = start_spark(state, event_log=log_dir)
    tracer = trace.Tracer(spark.sparkContext)
    tracer.install()
    try:
        r = run_phase(spark, name, spec, inputs, cache, state, seconds, tracer)
        w = r.w
        # outside every operation's span tree, so no per-op metric sees it
        verified_ratio = w.verified_ratio() if name == "curate_dedup" else 0.0
    finally:
        tracer.uninstall()
        spark.stop()
    fold = trace.fold_event_log(trace.read_event_log(log_dir), trace.udf_layers(ROOT))
    per_op = [trace.op_layer_metrics(tracer, fold, sid) for sid in r.op_spans]
    keys = per_op[0].keys() if per_op else []
    layer = {k: statistics.median(m[k] for m in per_op) for k in keys}
    layer["trace.reconcile_err"] = max((m["trace.reconcile_err"] for m in per_op), default=1.0)
    layer["operators.lsh_verified_ratio"] = verified_ratio
    layer["trace.rows_per_s"] = w.rows / statistics.median(r.times) if r.times else 0.0
    return layer, r


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--prepare", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as f:
        spec_all = json.load(f)
    spec = spec_all["workloads"][args.workload]
    os.makedirs(os.path.join(args.state, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(args.state, "tmp")

    if args.prepare:
        from perfbench.inputs import build_snapshot

        spark = start_spark(args.state)
        try:
            build_snapshot(spark, args.cache, spec)
        finally:
            spark.stop()
        return 0

    load_start = host.loadavg_1m()
    with host.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = start_spark(args.state)
        session_s = time.perf_counter() - t0
        try:
            r = run_phase(spark, args.workload, spec, args.inputs, args.cache, args.state,
                          args.seconds)
        finally:
            spark.stop()
    out = {
        "attempted": r.attempted, "failed": r.failed, "setup_done": r.setup_done,
        "metrics": e2e_metrics(r, rss.peak_mb),
        "details": details(r, args.workload, session_s, load_start),
    }
    if args.trace:
        layer, traced = traced_phase(args.workload, spec, args.inputs, args.cache, args.state,
                                     args.seconds)
        tol = spec_all["reconcile_tolerance"]
        layer["session.start_s"] = session_s
        layer["trace.overhead_ratio"] = (
            out["metrics"]["rows_per_s"]["value"] / layer["trace.rows_per_s"] - 1.0
            if layer["trace.rows_per_s"] else 0.0
        )
        out["layer"] = layer
        out["attempted"] += traced.attempted
        out["failed"] += traced.failed
        out["details"]["problems"] += traced.problems[:10]
        if layer["trace.reconcile_err"] > tol:
            out["details"]["problems"].append(
                f"layer self times miss op wall time by {layer['trace.reconcile_err']:.3%} > {tol:.0%}")
    print("PERFBENCH_RESULT " + json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
