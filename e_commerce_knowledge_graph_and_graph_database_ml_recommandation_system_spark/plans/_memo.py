"""Per-process memo for expensive shared artifacts of one snapshot.

Several registry entries recompute identical heavyweight intermediates when
invoked back-to-back in one verification run (the driver calls every
``queries()`` entry in a single process):

- the property graph's nodes and edges (``api.property_graph``), the one
  graph build that EP1, EP2 and every graph registry entry read;
- ``random_walks`` / ``random_walks_flat`` / ``node2vec_embeddings`` all
  generate the SAME (num_walks=2, walk_len=6, seed=42) first-order walk set;
- five ML queries each reassemble the pair dataset and refit a model.

It also holds what a warm serving request would otherwise re-derive:

- table schemas (``sources.tables.load_table``), so a scan skips parquet
  schema inference, which is a Spark job;
- the serving prefixes (``plans.registry_serving``): the cohort, its
  purchase pairs, the scored catalog's global positions, and the prune
  bounds (the scored catalog itself, with its per-category positions, is
  the one flagship reads);
- the brute-ANN index (``operators.similarity.ann_topk``): the index row
  count and one broadcast (ids, matrix, norms) value.

This memo keys on ``(applicationId, tag)`` so a new SparkSession (tests spin
up their own) never sees stale DataFrames, and stores either a MATERIALIZED
DataFrame (``localCheckpoint(eager=True)`` — executor-side blocks, no driver
round-trip) or any other object as-is (a schema, a scalar, a broadcast, a
fitted model). No entry may grow with the product of two data-sized
dimensions: serving entries are O(|P| + cohort purchases), the ANN index
O(|embeddings|).

Contract: a snapshot path (an ``sf_dir`` and the table files under it) is
immutable for the life of a Spark app. A caller that rewrites a path in
place must call ``clear()`` before reading it again, or it reads the old
schema and the old prefixes. ``clear()`` also releases the blocks the
memo held, so it ends every memoized DataFrame and broadcast it handed
out.

At 100 TB this is exactly the "materialize the shared prefix once" pattern a
production pipeline uses (write the assembled dataset to parquet, fan out
consumers); in-process it is an RDD checkpoint instead of a table. Query
semantics are unchanged — each entry still computes the same result from the
same inputs; only repeated identical work within one process is elided.
Results are never cached: every request still builds and executes its own
plan over the memoized prefixes.
"""

from __future__ import annotations

import contextlib
from typing import Any, Callable

from pyspark import SparkContext
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[tuple, Any] = {}
_DISABLED = False


@contextlib.contextmanager
def disabled():
    """Bypass the memo entirely: ``build()`` runs fresh and its DataFrame is
    returned WITHOUT localCheckpoint materialization, so the captured query
    plan shows the real join/exchange dataflow instead of a scan of a
    checkpoint. Used by tools/plan_report.py and tests/test_plan_quality.py
    (round-5 advice: plan instruments passed vacuously for memoized
    entries). Not thread-safe — plan capture is a single-threaded tool."""
    global _DISABLED
    prev = _DISABLED
    _DISABLED = True
    try:
        yield
    finally:
        _DISABLED = prev


@contextlib.contextmanager
def capturing_checkpoints():
    """Record the formatted PHYSICAL plan of every DataFrame at the moment
    it is localCheckpoint'ed, yielding the list the plans land in. The
    eager iterative builders (pagerank/PPR/HITS power steps, k-core peel,
    landmark BFS, pointer-jumping CC, ...) execute their join/exchange
    dataflow inside the builder and return a checkpoint SCAN — so plan
    instruments that only look at the returned DataFrame see "joins: none,
    exchanges: 0" (r6 verdict #2: checkpoint vacuity). Under this context
    the per-iteration plans are visible to tools/plan_report.py and the
    cartesian gates in tests/test_plan_quality.py. Not thread-safe — plan
    capture is a single-threaded instrument."""
    # patch the CLASSIC implementation class: pyspark.sql.DataFrame is the
    # dispatch base in Spark 4 and instances resolve localCheckpoint on the
    # classic subclass, so patching the base would never intercept
    from pyspark.sql.classic.dataframe import DataFrame

    plans: list[str] = []
    orig = DataFrame.localCheckpoint

    def wrapper(self, eager: bool = True):
        try:
            plans.append(
                self.sparkSession._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
                    self._jdf.queryExecution(), "formatted"
                )
            )
        except Exception:  # noqa: BLE001 — capture must never fail the job
            pass
        return orig(self, eager=eager)

    DataFrame.localCheckpoint = wrapper
    try:
        yield plans
    finally:
        DataFrame.localCheckpoint = orig


def memo(spark: SparkSession, tag: tuple, build: Callable[[], Any]) -> Any:
    """Return the cached artifact for ``tag`` (scoped to this Spark app),
    building it once via ``build()``. DataFrame results are eagerly
    materialized with localCheckpoint so every consumer reads computed
    blocks instead of re-running the lineage. Entries from OTHER
    applicationIds are evicted on each call — they reference stopped
    SparkContexts and would otherwise leak for the process lifetime
    (session-churn workloads: test suites, notebooks)."""
    if _DISABLED:
        return build()
    app = spark.sparkContext.applicationId
    stale = [k for k in _CACHE if k[0] != app]
    for k in stale:
        del _CACHE[k]
    key = (app, *tag)
    if key not in _CACHE:
        out = build()
        if isinstance(out, DataFrame):
            out = out.localCheckpoint(eager=True)
        _CACHE[key] = out
    return _CACHE[key]


def clear() -> None:
    """Drop every memoized artifact and release the blocks this app's
    entries held: each materialized DataFrame's checkpoint blocks and each
    broadcast's value. A released local checkpoint cannot be recomputed
    (its lineage was truncated) and a destroyed broadcast cannot be read,
    so this ENDS every memoized DataFrame and broadcast the memo handed
    out: call it only when no caller still holds one, as at the start of
    a refresh pass over a new snapshot. Without the release every pass
    leaves its checkpoints behind for the life of the app."""
    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    for key, out in _CACHE.items():
        if key[0] != app:
            continue  # a stopped app's blocks went with its context
        if isinstance(out, Broadcast):
            out.destroy()
        elif isinstance(out, DataFrame):
            plan = out._jdf.queryExecution().logical()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)
    _CACHE.clear()
