"""Model lifecycle operators (SURVEY §2.11 M3/M6/M7, §2.1 S6).

M6 oversampling — the reference conditionally SMOTEs when imbalance > 5
(``xgboost_training_for_big_data.py:571-581``). ``smote_oversample`` keeps
those semantics: euclidean-KNN interpolation, broadcast minority + one gemm
per Arrow batch, deterministic md5-derived neighbor/λ choices.

M7 warm start — load-then-probe: the reference validates feature arity by
predicting on a probe row before reusing a model
(``xgboost_training_for_big_data.py:70-107,512-521``).

M3 multi-tower MLP — flat approximation via MultilayerPerceptronClassifier
(the exact tower architecture is out-of-MLlib-scope, SURVEY §2.11).

S6 perf-history JSON — append-only run-metrics record
(``xgboost_training_for_big_data.py:857-887``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def smote_oversample(
    ds: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    max_ratio: float = 5.0,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """M6, full semantics: conditional SMOTE — when neg/pos > ``max_ratio``,
    synthesize minority samples by interpolating toward one of the k
    euclidean nearest minority neighbors, x_new = x + λ·(x_nbr − x)
    (reference ``xgboost_training_for_big_data.py:571-581``: SMOTE applied
    only when imbalance exceeds 5; sklearn default k=5).

    Distributed shape: the minority class is by definition the SMALL side,
    so its feature matrix broadcasts and the KNN is one gemm per Arrow
    batch (the brute_topk_blas pattern; a minority too big to broadcast is
    not imbalanced enough to need SMOTE). Neighbor choice and λ derive
    from md5 of (row id, copy index, seed) — no RNG, two runs identical.
    Non-feature columns copy from the base row. No-op when balanced.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    counts = {r[label_col]: r["cnt"] for r in ds.groupBy(label_col).agg(F.count("*").alias("cnt")).collect()}
    n_pos, n_neg = counts.get(1, 0), counts.get(0, 0)
    if n_pos == 0 or n_neg / n_pos <= max_ratio:
        return ds

    frac = n_neg / max_ratio / n_pos - 1.0  # synthetic copies per minority row
    minority = ds.filter(F.col(label_col) == 1)
    local = minority.select([F.col(c).cast("double").alias(c) for c in feature_cols]).toPandas()
    mat = local.to_numpy(dtype=np.float64)
    spark = ds.sparkSession
    b_mat = spark.sparkContext.broadcast(mat)

    n_copies_base = int(frac)
    extra_prob = frac - n_copies_base
    out_fields = ds.schema.fieldNames()

    def synth(it):
        ref = b_mat.value
        kk = min(k, len(ref) - 1)
        for pdf in it:
            if len(pdf) == 0 or kk < 1:
                yield pdf.iloc[0:0]
                continue
            q = pdf[feature_cols].to_numpy(dtype=np.float64)
            # pairwise euclidean via ||a-b||² = |a|² + |b|² − 2ab (one gemm)
            d2 = (q * q).sum(1)[:, None] + (ref * ref).sum(1)[None, :] - 2.0 * (q @ ref.T)
            nbrs = np.argsort(d2, axis=1)[:, 1 : kk + 1]  # skip self (distance 0)

            # one md5 per base row; per-copy values derive arithmetically —
            # fully vectorized, no per-synthetic-row Python work
            if "customer_id" in pdf.columns and "product_id" in pdf.columns:
                rids = (pdf["customer_id"].astype(str) + "|" + pdf["product_id"].astype(str)).to_numpy()
            else:
                rids = pdf.index.astype(str).to_numpy()
            base_h = np.array(
                [int(hashlib.md5(f"{r}|{seed}".encode()).hexdigest()[:16], 16) for r in rids],
                dtype=np.uint64,
            )
            copies = n_copies_base + ((base_h % np.uint64(10_000)) < extra_prob * 10_000).astype(np.int64)
            idx = np.repeat(np.arange(len(pdf)), copies)
            if len(idx) == 0:
                yield pdf.iloc[0:0]
                continue
            starts = np.repeat(np.cumsum(copies) - copies, copies)
            copy_no = (np.arange(len(idx)) - starts).astype(np.uint64)
            h = base_h[idx] * np.uint64(0x9E3779B97F4A7C15) + (copy_no + np.uint64(1)) * np.uint64(2654435761)
            j = nbrs[idx, (h % np.uint64(kk)).astype(np.int64)]
            lam = ((h // np.uint64(kk)) % np.uint64(10_000)).astype(np.float64) / 10_000.0
            out = pdf.iloc[idx].copy()
            out[feature_cols] = q[idx] + lam[:, None] * (ref[j] - q[idx])
            yield out

    # run the generator over the minority rows with feature cols as double
    cast_min = minority
    for c in feature_cols:
        cast_min = cast_min.withColumn(c, F.col(c).cast("double"))
    synth_df = cast_min.mapInPandas(synth, schema=cast_min.schema)

    base = ds
    for c in feature_cols:
        base = base.withColumn(c, F.col(c).cast("double"))
    return base.select(out_fields).unionByName(synth_df.select(out_fields))


def compatibility_probe(model, assembler, probe_df: DataFrame) -> bool:
    """M7: True when the saved model transforms a 1-row probe without error
    (feature-arity compatibility check before warm-starting)."""
    try:
        model.transform(assembler.transform(probe_df.limit(1))).collect()
        return True
    except Exception:
        return False


#: M3/M4 tower blocks — the reference's five-tower input split
#: (``Neural_network_multi_towered_training.py:62-147``; per-tower
#: StandardScaler at :608-628). Keys are tower names, values the feature
#: columns feeding that tower.
TOWER_BLOCKS = {
    "customer": ["cust_degree", "cust_log_degree", "cust_degree_pct", "cust_cat_count"],
    "product": ["prod_degree", "prod_log_degree", "prod_degree_pct"],
    "behavior": ["recency_days", "frequency", "pref_cat_match"],
    "attributes": ["price", "stock", "target_enc"],
    "interaction": ["degree_product", "degree_ratio"],
}


def fit_block_scalers(df: DataFrame, blocks: dict[str, list[str]] | None = None) -> dict:
    """M4: per-block standardization stats — mean + stddev_pop for every
    column of every tower block, computed in ONE aggregate pass (the
    reference fits one sklearn StandardScaler per tower block,
    ``Neural_network_multi_towered_training.py:608-628``; StandardScaler
    is per-dimension, so per-column z-scoring grouped by block is its
    exact distributed analog — with centering, which the round-1 single
    withMean=False scaler lacked)."""
    blocks = blocks or TOWER_BLOCKS
    cols = [c for cs in blocks.values() for c in cs]
    aggs = []
    for c in cols:
        aggs.append(F.avg(F.col(c).cast("double")).alias(f"{c}__mean"))
        aggs.append(F.coalesce(F.stddev_pop(F.col(c).cast("double")), F.lit(0.0)).alias(f"{c}__std"))
    row = df.agg(*aggs).collect()[0]
    return {c: (float(row[f"{c}__mean"] or 0.0), float(row[f"{c}__std"] or 0.0)) for c in cols}


def apply_block_scalers(df: DataFrame, stats: dict) -> DataFrame:
    """Standardize with pre-fit block stats: (x − mean)/std, zero-variance
    columns pass through centered. Pure column expressions — whole-stage
    codegen, no UDF, reusable on any split without refitting (test-time
    uses TRAIN stats, never its own)."""
    out = df
    for c, (m, s) in stats.items():
        out = out.withColumn(c, (F.col(c).cast("double") - F.lit(m)) / F.lit(s if s > 0 else 1.0))
    return out


def train_mlp(train: DataFrame, feature_cols: list[str], layers: list[int] | None = None, seed: int = 42, max_iter: int = 40):
    """M3 (flat approximation): MultilayerPerceptronClassifier over
    per-block standardized features (M4) — [n_features, 16, 8, 2] by
    default, the MLlib stand-in for the reference's five-tower torch
    network (exact tower topology is out-of-MLlib-scope, SURVEY §2.11).
    Returns (model, assembler, scaler_stats); score new data with
    ``model.transform(assembler.transform(apply_block_scalers(df, stats)))``."""
    from pyspark.ml.classification import MultilayerPerceptronClassifier
    from pyspark.ml.feature import VectorAssembler

    blocks = {t: [c for c in cs if c in feature_cols] for t, cs in TOWER_BLOCKS.items()}
    blocks = {t: cs for t, cs in blocks.items() if cs}
    leftover = [c for c in feature_cols if not any(c in cs for cs in blocks.values())]
    if leftover:
        blocks["other"] = leftover
    stats = fit_block_scalers(train, blocks)
    data = apply_block_scalers(train, stats)

    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features", handleInvalid="keep")
    layers = layers or [len(feature_cols), 16, 8, 2]
    mlp = MultilayerPerceptronClassifier(
        labelCol="label", featuresCol="features", layers=layers, seed=seed, maxIter=max_iter
    )
    model = mlp.fit(assembler.transform(data))
    return model, assembler, stats


def append_perf_history(path: str, record: dict) -> list[dict]:
    """S6: append run metrics to a JSON history file; returns full history.
    Driver-side by design — this is run *metadata*, not row-scale data."""
    history: list[dict] = []
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            history = json.load(fh)
    history.append(record)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(history, fh, indent=2)
    return history
