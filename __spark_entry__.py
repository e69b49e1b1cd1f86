"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    -> flagship query on sf0.001 (smoke)
queries()       -> {name: fn(spark, sf_dir) -> DataFrame} per SURVEY.md §2 operator
oracle_sql()    -> {name: DuckDB SQL} for the t2 hash-match correctness gate
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# the driver may load this file from any cwd — make the package importable,
# in the driver and in its Python workers: pickled UDFs refer to the
# package by module name. A JVM started after this file loads inherits
# PYTHONPATH; a context already running passes its ``environment`` to
# every Python worker it starts.
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
_PATH = os.environ.get("PYTHONPATH", "")
if _REPO not in _PATH.split(os.pathsep):
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [_REPO, _PATH]))
if SparkContext._active_spark_context is not None:
    SparkContext._active_spark_context.environment["PYTHONPATH"] = os.environ["PYTHONPATH"]

from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans import registry  # noqa: E402
from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans.flagship import flagship  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
