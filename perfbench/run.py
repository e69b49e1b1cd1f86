#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {refresh,serve} --seed N --seconds S --trace {0,1}

Run from the repository root. Makes the seeded inputs (``gen``), starts the
program's Spark session on ``local[<cpus>]`` from this one process, runs
untimed warm-up ops (the cold pass: JVM warm-up, code generation, memo
builds), then times ops for ``--seconds`` (at least one) and checks every
op's output.
``--trace 1`` then repeats the timed phase with layer spans and Spark
counters (``spans``) and reports the per-layer metrics instead.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``. A run record with host diagnostics (steal, CPU canary,
per-op CPU seconds) goes to stderr. Each run works in a fresh directory
under ``perfbench/.work/runs`` (model store, sink, warehouse, Spark local
and temp dirs) and removes it at exit; generated inputs are cached under
``perfbench/.work/inputs``.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import gen  # noqa: E402
import host  # noqa: E402
from spans import PKG, Tracer, spark_counters, wrap_layers  # noqa: E402
from workloads import SERVE_TYPES, WORKLOADS, Refresh  # noqa: E402

# driver JVM heap; it starts at its full size, as a server's would, so the
# GC's heap-growth steps (which depend on timing) do not move peak memory
DRIVER_MEM = "2g"
# latency recorded for a failed op: it misses any latency limit
MISS_S = 1e9

LAYER_COUNTERS = ("jobs", "tasks", "shuffle_bytes", "cpu_s")
REFRESH_LAYERS = (*Refresh.layers, *Refresh.own_layers)
SERVE_LAYERS = tuple(f"serve_{t}" for t in SERVE_TYPES)
END_TO_END = {"setup_s": "s", "latency_s_p50": "s", "ok_frac": "fraction", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, for both workloads."""
    units = {}
    for layer in (*REFRESH_LAYERS, *SERVE_LAYERS):
        units[f"{layer}_s_p50" if layer in SERVE_LAYERS else f"{layer}_s"] = "s"
        for c in LAYER_COUNTERS:
            units[f"{layer}.{c}"] = "s" if c.endswith("_s") else ("bytes" if c.endswith("bytes") else "count")
    units.update(
        {
            "serve_build_s": "s",
            "serve_collect_s": "s",
            "gc_s": "s",
            "spill_bytes": "bytes",
            "kept_frac": "fraction",
            "trace_overhead_s": "s",
        }
    )
    return units


def _env(work: str, trace: bool) -> None:
    """Point every file the program, Spark and the JVM write at ``work``."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [
        "--driver-java-options",
        f"{java_opts} -Xms{DRIVER_MEM}",
        "--conf",
        f"spark.sql.warehouse.dir={work}/warehouse",
        "--conf",
        "spark.ui.showConsoleProgress=false",
        "--conf",
        "spark.ui.retainedJobs=100000",
        "--conf",
        "spark.ui.retainedStages=100000",
        "pyspark-shell",
    ]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_STORE_DIR": f"{work}/store",
            "SPARK_GRAFT_UI_ENABLED": "true" if trace else "false",
            "SPARK_LOCAL_DIRS": f"{work}/local",
            "TMPDIR": tmp,
            "SPARK_LAUNCHER_OPTS": java_opts,  # the JVM that assembles spark-submit's command
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": shlex.join(submit),
        }
    )


def _stop(spark) -> None:
    """Stop Spark, end the JVM it launched and wait for every process this
    run started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while (left := host.descendants()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _op(wl, slot: int, tracer: Tracer | None) -> dict:
    """Run one op and return its record; a failed op is recorded, not raised."""
    if tracer is not None:
        tracer.op = slot
    cpu0, steal0 = host.tree_cpu_s(), host.steal_s()
    try:
        s, error = wl.op(slot, tracer), None
    except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
        s, error = None, f"{type(e).__name__}: {e}"[:300]
    return {
        "s": s,
        "cpu_s": round(host.tree_cpu_s() - cpu0, 2),
        "steal_s": round(host.steal_s() - steal0, 2),
        "error": error,
        **wl.detail,
    }


def timed(wl, seconds: float, tracer: Tracer | None = None) -> list[dict]:
    """Ops in the slots after the warm-up until ``seconds`` have passed
    (at least one)."""
    ops: list[dict] = []
    t0 = time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds:
        ops.append(_op(wl, wl.warm_ops + len(ops), tracer))
    return ops


def _p50(ops: list[dict]) -> float:
    return median(MISS_S if o["s"] is None else o["s"] for o in ops)


def trace_metrics(wl, tracer: Tracer, counters: dict, untraced: list[dict], traced: list[dict]) -> dict:
    """The per-layer metrics; ``untraced`` holds the untraced ops from
    before and after the traced phase."""
    m = dict.fromkeys(per_layer_units(), 0.0)
    own = REFRESH_LAYERS if isinstance(wl, Refresh) else SERVE_LAYERS
    for layer in own:
        m[f"{layer}_s_p50" if layer in SERVE_LAYERS else f"{layer}_s"] = tracer.layer_median(layer)
        for c in LAYER_COUNTERS:
            m[f"{layer}.{c}"] = tracer.layer_median(layer, {g: v[c] for g, v in counters.items()})
    for c in ("gc_s", "spill_bytes"):
        per_op: dict[int, float] = {}
        for s in tracer.spans:
            per_op[s["op"]] = per_op.get(s["op"], 0.0) + counters[s["group"]][c]
        m[c] = median(per_op.values()) if per_op else 0.0
    if isinstance(wl, Refresh):
        m["kept_frac"] = median(o.get("kept_frac", 0.0) for o in traced)
    else:
        m["serve_build_s"] = median(o["build_s"] for o in traced)
        m["serve_collect_s"] = median(o["collect_s"] for o in traced)
    m["trace_overhead_s"] = _p50(traced) - _p50(untraced)
    units = per_layer_units()
    return {k: {"value": round(v, 6), "unit": units[k]} for k, v in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if importlib.util.find_spec(PKG) is None:
        print(f"program package {PKG} not found next to perfbench/", file=sys.stderr)
        return 2

    inputs, manifest, gen_s = gen.generate(args.workload, args.seed)
    work = f"{HERE}/.work/runs/{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env(work, bool(args.trace))
    record = {"workload": args.workload, "seed": args.seed, "gen_s": round(gen_s, 3)}
    record["canary_before"] = host.canary()
    steal0 = host.steal_s()
    try:
        with host.PeakRss() as rss:
            t0 = time.perf_counter()
            session = importlib.import_module(f"{PKG}.session")
            spark = session.get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            try:
                wl = WORKLOADS[args.workload](spark, inputs, manifest, work, args.seed)
                warm = [_op(wl, slot, None) for slot in range(wl.warm_ops)]
                setup_s = time.perf_counter() - t0
                untraced = timed(wl, args.seconds)
                traced, after, tracer, counters = [], [], None, {}
                if args.trace:
                    tracer = Tracer(spark)
                    with wrap_layers(tracer, wl.layers):
                        traced = timed(wl, args.seconds, tracer)
                    # the untraced ops again, so trace_overhead_s compares the
                    # traced ops with untraced ops on both sides of them and
                    # warm-up drift between phases cancels
                    after = timed(wl, args.seconds)
                    counters = spark_counters(spark, {s["group"] for s in tracer.spans})
            finally:
                _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["canary_after"] = host.canary()
    record["steal_s"] = round(host.steal_s() - steal0, 2)
    record["peak_mb_by_process"] = rss.at_peak
    record["warm_up"] = warm
    record["timed"] = untraced + traced + after
    print("record: " + json.dumps(record), file=sys.stderr)

    ops = untraced + traced + after
    failed = sum(o["error"] is not None for o in ops)
    correct = failed == 0 and all(o["error"] is None for o in warm)
    if args.trace:
        metrics = trace_metrics(wl, tracer, counters, untraced + after, traced)
    else:
        values = {
            "setup_s": setup_s,
            "latency_s_p50": _p50(untraced),
            "ok_frac": (len(ops) - failed) / len(ops),
            "peak_rss_mb": rss.peak_mb,
        }
        metrics = {k: {"value": round(v, 6), "unit": END_TO_END[k]} for k, v in values.items()}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
