#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed`` (and
cached under ``.perfbench/``), then one worker process (``worker.py``)
starts Spark, runs the cold operation that ends set-up, and runs the
workload's operation in a closed loop for ``--seconds``, checking every
output. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric of ``BENCHMARK.json`` (``--trace 0``) or every per-layer metric
(``--trace 1``, which adds a second, traced pass). The line before it holds
the run's details: host, load, versions, tail latency and per-workload
extras.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170  # the whole run must end within 180 s
PROGRAM_FILES = ("schema_inference_spark/__init__.py", "jobs/validate_job.py")


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the JVM and Python
    workers share its process group), and wait until all have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 5
        while time.time() < deadline:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                proc.wait()
                return
            time.sleep(0.05)
    proc.wait()


def run_worker(args: list[str], deadline: float, cwd: str) -> tuple[float, dict | None, str]:
    """Start ``worker.py`` and return (start time, result, stderr tail)."""
    from perfbench import host

    t0 = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=cwd,
        env=host.worker_env(os.environ), start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        out, err = "", "worker timed out"
    finally:
        stop_group(proc)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line.split(" ", 1)[1])
    return t0, result, err[-3000:]


def main(argv=None) -> int:
    start = time.time()
    # a terminated run still stops its worker (``run_worker``'s finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        return fail(f"the program is not in this checkout (missing {', '.join(missing)})")
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as f:
        spec = json.load(f)["workloads"].get(args.workload)
    if spec is None:
        return fail(f"unknown workload {args.workload}")

    sys.path.insert(0, ROOT)
    from perfbench import inputs, stats

    work = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(work, "inputs")
    state = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    deadline = start + TIMEOUT_S
    try:
        in_dir = inputs.ensure_inputs(cache, args.workload, spec, args.seed)
        common = ["--workload", args.workload, "--inputs", in_dir, "--cache", cache]
        if args.workload == "validate_images" and not os.path.exists(
            os.path.join(inputs.snapshot_dir(cache, spec), "_done")
        ):
            _, _, err = run_worker([*common, "--state", os.path.join(state, "prep"),
                                    "--seconds", "0", "--prepare"], deadline, state)
            if not os.path.exists(os.path.join(inputs.snapshot_dir(cache, spec), "_done")):
                return fail(f"could not build the snapshot profile:\n{err}")
        t0, res, err = run_worker(
            [*common, "--state", state, "--seconds", str(args.seconds), "--trace", str(args.trace)],
            deadline, state,
        )
    finally:
        shutil.rmtree(state, ignore_errors=True)
    if res is None:
        return fail(f"the worker produced no result:\n{err}")

    res["metrics"]["setup_s"] = {"value": res.pop("setup_done") - t0, "unit": "s"}
    if args.trace:
        layer = res.pop("layer")
        names = bench["per_layer"]
    else:
        layer = None
        names = bench["end_to_end"]
    metrics = {
        m["name"]: {"value": (layer.get(m["name"], 0.0) if layer is not None
                              else res["metrics"][m["name"]]["value"]), "unit": m["unit"]}
        for m in names
    }
    details = dict(res["details"], seed=args.seed, seconds=args.seconds, trace=args.trace,
                   wall_s=time.time() - start, end_to_end=res["metrics"],
                   fail_frac=stats.fail_frac(res["attempted"], res["failed"]))
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": res["failed"] == 0 and not details["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
