"""M3: multi-tower neural network with REAL tower semantics (SURVEY §2.11).

The reference trains a five-tower torch network — each tower is a small MLP
over its own feature block, towers concatenate into a shared head
(``Neural_network_multi_towered_training.py:62-147``), per-tower
StandardScaler at :608-628. MLlib's MultilayerPerceptronClassifier cannot
express a block-diagonal first layer, so round 1 shipped a flat
approximation; this module implements the architecture itself:

    tower t:  h_t = relu(W_t · x_t + b_t)          (x_t = tower's block)
    head:     z  = relu(W2 · concat(h_1..h_T) + b2)
              p  = sigmoid(w3 · z + b3)

trained with full-batch Adam. Distribution shape: parameters broadcast
(tiny — hundreds of floats), DATA stays distributed; each Arrow batch
computes its loss + gradient contribution with numpy and the driver sums
partial gradients and applies the Adam step. That is the standard
data-parallel synchronous-SGD layout (parameter-server with one server);
one boosting-style Spark job per iteration, shuffle-free (mapInPandas +
a sum). Deviation from the reference, documented: full-batch instead of
minibatches (deterministic — no RNG ordering), Adam on the driver.

Everything is seeded/deterministic: init from a seeded RandomState, no
dropout, fixed iteration count with early plateau exit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lifecycle import TOWER_BLOCKS, apply_block_scalers, fit_block_scalers


#: bump when this trainer's persisted params/stats/metrics change (r10):
#: folded into the mt store tag via recsys_store.versioned_tag.
ALGO_VERSION = 1


def _init_params(blocks: dict[str, list[str]], tower_hidden: int, head_hidden: int, seed: int):
    import numpy as np

    rng = np.random.RandomState(seed)
    params = {}
    for t, cols in blocks.items():
        params[f"W_{t}"] = rng.randn(tower_hidden, len(cols)) * np.sqrt(2.0 / len(cols))
        params[f"b_{t}"] = np.zeros(tower_hidden)
    n_cat = tower_hidden * len(blocks)
    params["W2"] = rng.randn(head_hidden, n_cat) * np.sqrt(2.0 / n_cat)
    params["b2"] = np.zeros(head_hidden)
    params["w3"] = rng.randn(head_hidden) * np.sqrt(2.0 / head_hidden)
    params["b3"] = np.zeros(1)
    return params


def _pack(params: dict):
    import numpy as np

    keys = sorted(params)
    return np.concatenate([params[k].ravel() for k in keys]), [(k, params[k].shape) for k in keys]


def _unpack(flat, shapes):
    import numpy as np

    out, off = {}, 0
    for k, shp in shapes:
        n = int(np.prod(shp))
        out[k] = flat[off : off + n].reshape(shp)
        off += n
    return out


def _forward(params: dict, blocks: dict[str, list[str]], X: dict):
    """Returns (p, cache) — per-tower relu, concat, head relu, sigmoid."""
    import numpy as np

    hs = {}
    for t in blocks:
        hs[t] = np.maximum(0.0, X[t] @ params[f"W_{t}"].T + params[f"b_{t}"])
    h = np.concatenate([hs[t] for t in sorted(blocks)], axis=1)
    z = np.maximum(0.0, h @ params["W2"].T + params["b2"])
    logit = z @ params["w3"] + params["b3"][0]
    p = 1.0 / (1.0 + np.exp(-np.clip(logit, -30, 30)))
    return p, (hs, h, z)


def _batch_grad(params, blocks, X, y, w):
    """Weighted-BCE loss + full gradient for one batch (sum, not mean)."""
    import numpy as np

    p, (hs, h, z) = _forward(params, blocks, X)
    eps = 1e-12
    loss = -np.sum(w * (y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)))
    dlogit = w * (p - y)  # (n,)

    g = {k: np.zeros_like(v) for k, v in params.items()}
    g["w3"] = dlogit @ z
    g["b3"] = np.array([dlogit.sum()])
    dz = np.outer(dlogit, params["w3"]) * (z > 0)
    g["W2"] = dz.T @ h
    g["b2"] = dz.sum(0)
    dh = dz @ params["W2"]
    off = 0
    for t in sorted(blocks):
        k = params[f"W_{t}"].shape[0]
        dht = dh[:, off : off + k] * (hs[t] > 0)
        g[f"W_{t}"] = dht.T @ X[t]
        g[f"b_{t}"] = dht.sum(0)
        off += k
    return loss, g


def train_multi_tower(
    train: DataFrame,
    blocks: dict[str, list[str]] | None = None,
    tower_hidden: int = 4,
    head_hidden: int = 8,
    max_iter: int = 60,
    lr: float = 0.05,
    l2: float = 1e-4,
    seed: int = 42,
    label_col: str = "label",
    tol: float = 1e-5,
    grad_clip: float | None = None,
    plateau_lr_decay: float | None = None,
):
    """Fit the tower network; returns (params, scaler_stats, history).

    Per iteration: broadcast packed params → mapInPandas computes per-batch
    (loss, gradient, count) partial sums → driver reduces and takes an Adam
    step with L2 decay. Stops early when the relative loss improvement
    drops below ``tol``. Class imbalance handled with n_neg/n_pos weights
    on positives (M5, same as train_gbt).

    Regularization knobs mirroring the reference trainer's overfit
    controls (``Neural_network_multi_towered_training.py:62-147,703-807``):
    ``l2`` weight decay (always on), ``grad_clip`` caps the GLOBAL
    gradient L2 norm before the Adam step (clip_grad_norm_), and
    ``plateau_lr_decay`` multiplies the learning rate by that factor on a
    loss plateau instead of exiting (ReduceLROnPlateau; None keeps the
    early-exit behavior). BatchNorm and Dropout remain documented
    non-goals: both make the loss a function of batch composition /
    engine-private RNG, which would break this trainer's deterministic
    partition-invariant gradients (COVERAGE.md §2.11)."""
    import numpy as np
    import pandas as pd

    blocks = blocks or {
        t: cs for t, cs in TOWER_BLOCKS.items() if all(c in train.columns for c in cs)
    }
    stats = fit_block_scalers(train, blocks)
    cols = [c for cs in blocks.values() for c in cs]
    counts = {r[label_col]: r["cnt"] for r in train.groupBy(label_col).agg(F.count("*").alias("cnt")).collect()}
    spw = counts.get(0, 1) / max(counts.get(1, 1), 1)

    data = apply_block_scalers(train, stats).select(
        *[F.col(c).cast("double").alias(c) for c in cols],
        F.col(label_col).cast("double").alias("_y"),
        F.when(F.col(label_col) == 1, F.lit(float(spw))).otherwise(F.lit(1.0)).alias("_w"),
    ).cache()
    spark = train.sparkSession
    sc = spark.sparkContext

    params = _init_params(blocks, tower_hidden, head_hidden, seed)
    flat, shapes = _pack(params)
    m = np.zeros_like(flat)
    v = np.zeros_like(flat)
    history = []
    prev_loss = None

    grad_schema = "loss double, n double, grad array<double>"

    for it in range(1, max_iter + 1):
        b_flat = sc.broadcast(flat)

        def partials(batches, _shapes=shapes, _blocks=blocks):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                prm = _unpack(b_flat.value, _shapes)
                X = {t: pdf[cs].to_numpy(dtype=np.float64) for t, cs in _blocks.items()}
                y = pdf["_y"].to_numpy(dtype=np.float64)
                w = pdf["_w"].to_numpy(dtype=np.float64)
                loss, g = _batch_grad(prm, _blocks, X, y, w)
                gflat, _ = _pack(g)
                yield pd.DataFrame({"loss": [loss], "n": [float(len(pdf))], "grad": [gflat.tolist()]})

        # reduce driver-side: one partial row per Arrow batch (~tasks rows ×
        # |params| doubles — KBs even on a 1000-executor cluster), summed in
        # numpy. The SQL-aggregate alternative (|params| separate
        # F.sum(element_at) expressions) recompiles a 150-column codegen
        # plan every iteration — measured slower than this collect.
        parts = data.mapInPandas(partials, schema=grad_schema).collect()
        b_flat.unpersist()
        n = sum(r["n"] for r in parts)
        loss = sum(r["loss"] for r in parts) / n + 0.5 * l2 * float(flat @ flat)
        grad = np.sum([np.asarray(r["grad"]) for r in parts], axis=0) / n + l2 * flat

        if grad_clip is not None:
            gnorm = float(np.linalg.norm(grad))
            if gnorm > grad_clip:
                grad = grad * (grad_clip / gnorm)

        # Adam (driver-side; parameters are tiny)
        m = 0.9 * m + 0.1 * grad
        v = 0.999 * v + 0.001 * grad * grad
        mhat = m / (1 - 0.9 ** it)
        vhat = v / (1 - 0.999 ** it)
        flat = flat - lr * mhat / (np.sqrt(vhat) + 1e-8)
        history.append(float(loss))
        if prev_loss is not None and abs(prev_loss - loss) / max(prev_loss, 1e-12) < tol:
            if plateau_lr_decay is None:
                break
            lr *= plateau_lr_decay
        prev_loss = loss

    return _unpack(flat, shapes), stats, history


def predict_multi_tower(df: DataFrame, params: dict, stats: dict, blocks: dict[str, list[str]] | None = None) -> DataFrame:
    """Score with a fitted tower net: adds ``probability`` (P(label=1)).
    Broadcast params, one forward gemm chain per Arrow batch."""
    import numpy as np
    import pandas as pd

    blocks = blocks or {t: cs for t, cs in TOWER_BLOCKS.items() if all(c in df.columns for c in cs)}
    flat, shapes = _pack(params)
    sc = df.sparkSession.sparkContext
    b_flat = sc.broadcast(flat)
    cols = [c for cs in blocks.values() for c in cs]
    scaled = apply_block_scalers(df, stats)

    def score(batches, _shapes=shapes, _blocks=blocks):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(probability=pd.Series(dtype=float))
                continue
            prm = _unpack(b_flat.value, _shapes)
            X = {t: pdf[cs].to_numpy(dtype=np.float64) for t, cs in _blocks.items()}
            p, _ = _forward(prm, _blocks, X)
            yield pdf.assign(probability=p)

    cast = scaled
    for c in cols:
        cast = cast.withColumn(c, F.col(c).cast("double"))
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in cast.schema.fields)
    return cast.mapInPandas(score, schema=f"{schema}, probability double")
