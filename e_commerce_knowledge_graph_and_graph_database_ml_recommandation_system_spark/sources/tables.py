"""Parquet source layer for the driver-generated star-schema testdata.

Mirrors the reference's CSV scan stage (S1, ``First_Data_injection.py:33,55,84``)
but declaratively: parquet scans carry schemas, and Catalyst pushes filters
and column pruning into the scan. At 100 TB these tables would be
partitioned (orders/lineitem by date, events by ts); the loaders are
path-based so partition discovery is free when that layout exists.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events ``ts`` column to microsecond TIMESTAMP (ltz)
    regardless of how this Spark build surfaces parquet TIMESTAMP(NANOS):

    - older builds honor ``spark.sql.legacy.parquet.nanosAsLong`` and hand us
      epoch-nanos as BIGINT → integer-div to micros (float division of
      epoch-nanos exceeds double precision);
    - Spark >= 4.1 reads nanos natively as TIMESTAMP_NTZ (micros-truncated)
      and ignores the legacy conf → cast to TIMESTAMP, which with the UTC
      session timezone preserves the instant bit-for-bit.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _scan(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan of ``path`` with its schema resolved once per Spark app.

    Schema inference is a Spark job (a parquet footer read). A snapshot
    path is immutable for the life of an app (the plans/_memo contract),
    so the StructType is memoized under ``("table_schema", path)`` and
    ``_memo.clear()`` drops it. The DataFrame itself is never memoized:
    callers self-join loaded tables, and each call must return fresh
    attribute ids."""
    from ..plans._memo import memo

    schema = memo(spark, ("table_schema", path), lambda: spark.read.parquet(path).schema)
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan).

    ``events`` carries TIMESTAMP(NANOS); see normalize_event_ts for the
    version-robust conversion to Spark's native microsecond timestamp.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # harmless no-op on builds that dropped the conf; required on builds
        # whose vectorized reader rejects TIMESTAMP(NANOS) outright
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(_scan(spark, f"{sf_dir}/{name}.parquet"))
    return _scan(spark, f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the source yields fewer partitions
    than the session's parallelism. A dim-table-scale parquet file is often
    ONE row group, so every fused scan-side stage (tokenize+explode+partial
    aggregate, gemm, codec) runs as a single task regardless of cluster
    size — the defect class behind the r10 ann_brute fix. At production
    layouts (many splits) the condition is false and this is a structural
    no-op, so no gratuitous shuffle is added at scale; rows are unchanged
    either way (round-robin repartition, no keyed semantics).

    SCAN HEADS ONLY (r11 ADVICE): the ``df.rdd.getNumPartitions()`` probe
    converts the plan to an RDD a second time and reads the PRE-AQE
    partition count — correct for a raw file scan (the split count is
    fixed by the file layout), but on a shuffled/derived DataFrame it can
    both mis-read the post-AQE layout and pay a redundant planning pass.
    Apply it to freshly-loaded tables, never to join/aggregate outputs."""
    spark = df.sparkSession
    par = min_parallelism or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names=TABLES) -> dict[str, DataFrame]:
    """Load several tables at once: ``{name: DataFrame}``."""
    return {name: load_table(spark, name, sf_dir) for name in names}


def load_csv_table(
    spark: SparkSession, path: str, schema=None, header: bool = True, sep: str = ","
) -> DataFrame:
    """CSV scan (S1 — the reference's native ingest format,
    ``First_Data_injection.py:33,55,84`` reads CSVs via pandas).

    Schema-first when one is given (no inference pass over the data — at
    100 TB an inference scan is a full extra read); inferSchema only as the
    exploratory fallback. Malformed rows land in ``_corrupt_record`` via
    PERMISSIVE mode rather than failing the scan."""
    reader = spark.read.option("header", str(header).lower()).option("sep", sep).option(
        "mode", "PERMISSIVE"
    )
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", "true").csv(path)


def write_jsonl(df: DataFrame, path: str, partitions: int | None = None, compression: str | None = "gzip") -> None:
    """JSONL corpus sink — the interchange format LLM training-data
    pipelines actually exchange (one JSON object per line, gzip-sharded).
    Beyond-reference scope per BASELINE.json.

    Output is a directory of part files (the distributed layout — a 100-TB
    corpus is never one file); ``partitions`` optionally coalesces small
    outputs. Spark's json writer streams per-partition with no driver
    materialization."""
    if partitions is not None:
        df = df.coalesce(partitions)
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def load_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSONL corpus scan. Schema-first when given (no inference pass — at
    100 TB inference is a full extra read over every gzip shard, and gzip
    is not splittable, so the inference scan is also maximally skewed);
    PERMISSIVE mode lands malformed lines in ``_corrupt_record`` instead of
    failing the job."""
    reader = spark.read.option("mode", "PERMISSIVE")
    if schema is not None:
        return reader.schema(schema).json(path)
    return reader.json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed-table sink: pre-shuffles rows into ``n_buckets``
    hash buckets on ``bucket_col`` AT WRITE TIME so every later equi-join
    or aggregation on that key reads co-located data and skips its
    exchange entirely — the storage-side half of the 100-TB join story
    (the other half, runtime repartitioning, is what the query plans do
    for ad-hoc keys). ``sort_col`` additionally sorts within buckets,
    letting sort-merge joins skip their sort. Spark only persists bucket
    metadata through the catalog, so this is a saveAsTable, not a path
    write.

    Overwrite only drops tables the CURRENT session's catalog knows; a
    managed location left by a previous process (the in-memory derby
    catalog dies with it) makes saveAsTable fail with
    LOCATION_ALREADY_EXISTS — so stale locations are dropped explicitly
    before the write."""
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    known = spark.catalog.tableExists(table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # only clear a location the CURRENT catalog did NOT own: a known
    # managed table's files were just removed by the DROP above, and an
    # unconditional rmtree would delete a sibling app's in-flight table
    # (callers avoid cross-app name collisions via per-app prefixes)
    if not known:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
        loc = os.path.join(wh, table.lower())
        if os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Scan a bucketed managed table; the scan carries the bucket spec, so
    joins/aggregations on the bucket key report no Exchange in the plan
    (gated in tests/test_plans_and_sinks.py)."""
    return spark.table(table)
