"""Layer spans for the traced run.

Each span is one call into a layer of the program: its wall time is taken
here, and every Spark job it launches is tagged with a job group named
after the span. After the run, ``spark_counters`` reads the Spark UI's
REST API (enabled for traced runs only, through the program's
``SPARK_GRAFT_UI_ENABLED`` setting) and sums the stage counters of each
span's jobs.

``wrap_layers`` puts spans around the program's own layer entry points, so
the traced run calls the same API as the untraced one; each wrapped call
drains its DataFrame output with an eager local checkpoint, which charges
the work to the layer that produced it instead of to its first consumer.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import time
import urllib.request
from statistics import median

PKG = "e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark"

COUNTERS = ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "gc_s", "cpu_s")
# how long spark_counters waits for the UI's status store to catch up
COUNTERS_WAIT_S = 20.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.op = 0
        self._open: str | None = None

    @contextlib.contextmanager
    def span(self, layer: str):
        """Time one layer call and tag its Spark jobs; yields whether a span
        was opened. A call made inside another span belongs to the outer
        one (its time is part of the outer layer's), so nested entry points
        are not counted twice."""
        if self._open is not None:
            yield False
            return
        sc = self.spark.sparkContext
        group = f"{layer}#{len(self.spans)}"
        sc.setJobGroup(group, layer)
        self._open = group
        t0 = time.perf_counter()
        try:
            yield True
        finally:
            self.spans.append(
                {"op": self.op, "layer": layer, "group": group, "s": time.perf_counter() - t0}
            )
            self._open = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def per_op(self, layer: str, values: dict[str, float] | None = None) -> list[float]:
        """Per-op sums of a layer's span seconds (or of ``values`` keyed by
        span group), one entry per op that entered the layer."""
        sums: dict[int, float] = {}
        for s in self.spans:
            if s["layer"] == layer:
                v = s["s"] if values is None else values.get(s["group"], 0.0)
                sums[s["op"]] = sums.get(s["op"], 0.0) + v
        return list(sums.values())

    def layer_median(self, layer: str, values: dict[str, float] | None = None) -> float:
        vals = self.per_op(layer, values)
        return median(vals) if vals else 0.0


def maybe_span(tracer: Tracer | None, layer: str):
    """``tracer.span(layer)``, or a no-op context in an untraced phase."""
    return contextlib.nullcontext(False) if tracer is None else tracer.span(layer)


def _drained(layer: str, fn, tracer: Tracer):
    from pyspark.sql import DataFrame

    def wrapper(*args, **kwargs):
        with tracer.span(layer) as opened:
            out = fn(*args, **kwargs)
            if opened and isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
        return out

    return wrapper


@contextlib.contextmanager
def wrap_layers(tracer: Tracer, entry_points: dict[str, list[tuple[str, str]]]):
    """Replace ``module.attr`` for each (module, attr) listed under a layer
    name with a spanned, draining wrapper; restore them on exit."""
    saved = []
    try:
        for layer, points in entry_points.items():
            for mod_name, attr in points:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, _drained(layer, orig, tracer))
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def spark_counters(spark, groups: set[str]) -> dict[str, dict[str, float]]:
    """{group: {counter: value}} summed over the stages each group's jobs ran.

    A stage reused by a later job (shown there as skipped) is charged to
    the first job that ran it. Waits until the status store has caught up
    with the listener bus (all jobs of the groups finished, totals stable)."""
    deadline = time.monotonic() + COUNTERS_WAIT_S
    prev = None
    while True:
        jobs = [j for j in _rest(spark, "jobs") if j.get("jobGroup") in groups]
        stages = {(s["stageId"], s["attemptId"]): s for s in _rest(spark, "stages")}
        done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
        snapshot = (len(jobs), len(stages), sum(s.get("numCompleteTasks", 0) for s in stages.values()))
        if (done and snapshot == prev) or time.monotonic() > deadline:
            break
        prev = snapshot
        time.sleep(0.5)
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    by_job = {j["jobId"]: j for j in jobs}
    out = {g: dict.fromkeys(COUNTERS, 0.0) for g in groups}
    for j in jobs:
        out[j["jobGroup"]]["jobs"] += 1
    for (sid, _), s in stages.items():
        job = by_job.get(owner.get(sid))
        if job is None or s.get("status") == "SKIPPED":
            continue
        c = out[job["jobGroup"]]
        c["tasks"] += s.get("numCompleteTasks", 0)
        c["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
        c["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        c["gc_s"] += s.get("jvmGcTime", 0) / 1e3
        c["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
    return out
