"""Top-k / ranking / stochastic selection operators (SURVEY §2.7 W4-W7, §2.12 R1-R5).

The reference serves recommendations with per-customer Python loops: sort by
probability, greedy category-diversity constraints, temperature-softmax
sampling (``topk_recommandations_*.py``). Here:

- deterministic top-k          -> one ranking window per customer (W4)
- category-diverse top-k       -> two stacked windows (W6); the reference's
  sequential greedy pick (R5) selects exactly these rows, so it has no
  separate implementation
- weighted sampling w/o repl.  -> Gumbel-top-k: argmax of logit + Gumbel noise
  over a window — the exact distributional equivalent of the reference's
  sequential ``np.random.choice`` softmax loop, but embarrassingly parallel
  (R1-R4; seeded, reproducible)

All windows partition by customer — a single shuffle on customer_id; at
100 TB the candidate table is the big input and this is its only shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_int32


def topk_per_customer(scored: DataFrame, k: int, score_col: str = "score") -> DataFrame:
    """W4: plain top-k by score per customer, deterministic tiebreak."""
    w = Window.partitionBy("customer_id").orderBy(F.desc(score_col), F.asc("product_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def diverse_topk(scored: DataFrame, k: int, score_col: str = "score", per_category: int = 1) -> DataFrame:
    """W6: category-diverse top-k — at most ``per_category`` picks per
    (customer, category), then best k overall.

    Declarative contract for the reference's greedy skip-if-category-seen
    loop (``topk_recommandations_diverse_nodiscounts.py:279-296``; ≤2 variant
    ``took_recommandations_adamsampling_discount.py:283-288``).
    """
    w_cat = Window.partitionBy("customer_id", "category").orderBy(
        F.desc(score_col), F.asc("product_id")
    )
    w_all = Window.partitionBy("customer_id").orderBy(F.desc(score_col), F.asc("product_id"))
    # one shuffle for both windows: hash partitions on customer_id also
    # cluster every (customer_id, category) group, where the category
    # window alone would shuffle on both keys and the customer window again
    return (
        scored.repartition("customer_id")
        .withColumn("cat_rank", F.row_number().over(w_cat))
        .filter(F.col("cat_rank") <= per_category)
        .withColumn("rank", F.row_number().over(w_all))
        .filter(F.col("rank") <= k)
        .drop("cat_rank")
    )


def relaxed_diverse_topk(
    scored: DataFrame, k: int, score_col: str = "score", max_per_category: int = 2
) -> DataFrame:
    """W6 variant with the reference's few-categories relaxation
    (``took_recommandations_adamsampling_discount.py:283-317``): the greedy
    pass caps picks at ``max_per_category``, and a fallback fills up when
    that can't reach k. Declarative contract: the cap applies per customer
    only when the capped pool can still fill k rows; when the candidate set
    spans too few categories (capped pool < k rows) the cap is lifted for
    that customer. Output carries a ``relaxed`` flag (1 = cap lifted)."""
    w_cat = Window.partitionBy("customer_id", "category").orderBy(
        F.desc(score_col), F.asc("product_id")
    )
    w_cust = Window.partitionBy("customer_id")
    flagged = scored.withColumn("cat_rank", F.row_number().over(w_cat)).withColumn(
        "capped_n", F.sum((F.col("cat_rank") <= max_per_category).cast("int")).over(w_cust)
    )
    eligible = flagged.filter(
        (F.col("capped_n") < k) | (F.col("cat_rank") <= max_per_category)
    )
    w_all = Window.partitionBy("customer_id").orderBy(F.desc(score_col), F.asc("product_id"))
    return (
        eligible.withColumn("rank", F.row_number().over(w_all))
        .filter(F.col("rank") <= k)
        .withColumn("relaxed", (F.col("capped_n") < k).cast("int"))
        .drop("cat_rank", "capped_n")
    )


def median_per_category(scored: DataFrame, score_col: str = "score") -> DataFrame:
    """W7: the middle-probability item per (customer, category) — the
    reference's category-fallback pick
    (``took_recommandations_adamsampling_discount.py:295-317``).
    """
    w = Window.partitionBy("customer_id", "category").orderBy(F.asc(score_col), F.asc("product_id"))
    cnt = Window.partitionBy("customer_id", "category")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(cnt))
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))  # lower median
        .drop("rn", "n")
    )


TWO_PI = 6.283185307179586


def _hash_uniform(salt: str) -> Column:
    """Uniform in [0,1) from md5_int32(customer|product|salt) / 2^32 —
    row-keyed, engine-agnostic (DuckDB form:
    ``('0x' || substr(md5(concat_ws('|', ...)), 1, 8))::BIGINT / 4294967296.0``)."""
    h = md5_int32(
        F.concat_ws(
            "|",
            F.col("customer_id").cast("string"),
            F.col("product_id").cast("string"),
            F.lit(salt),
        )
    )
    return h / F.lit(4294967296.0)


def gumbel_topk(
    scored: DataFrame,
    k: int,
    temperature: float = 2.5,
    seed: int = 42,
    score_col: str = "score",
    noise_scale: float = 0.0,
    uniform_mix: float = 0.0,
) -> DataFrame:
    """R1-R4: temperature-softmax sampling WITHOUT replacement, vectorized.

    Sampling k items with probability ∝ softmax(logit/T) without replacement
    is equivalent to taking the top-k of ``logit/T + Gumbel(0,1)`` (the
    Gumbel-top-k trick) — replacing the reference's sequential
    ``np.random.choice`` loops:
      R1 T=2.5 (``topk_recommandations_diverse_nodiscounts.py:266-296``)
      R2 logit+noise T=3-4 (``took_recommandations_softmaxsampling_discount.py:213-241``)
      R3 T=5 noise=0.15 (``topk_recommandations_stochasticsoftmaxsampling_discount.py:193-228``)
      R4 0.3·uniform+0.7·p mixture (``took_recommandations_adamsampling_discount.py:58-100``)

    Noise is hash-derived per (customer, product, seed): uniforms come from
    md5_int32 / 2^32, the Gumbel via inverse-CDF and the Gaussian via
    Box-Muller. Unlike ``F.rand(seed)`` (whose stream is assigned
    per-partition, so results CHANGE under repartitioning — a silent
    correctness hazard at scale), this is a pure row-wise expression:
    partition-layout-independent, reproducible in any engine, and
    whole-stage-codegen friendly. The same formulas are SQL-expressible,
    so R1-R4 carry full DuckDB oracles.

    ``uniform_mix`` requires ``score_col`` to already be normalized per
    customer (sum to 1): the mixture folds as ``mix/n + (1-mix)*p`` with no
    second float window-sum (float re-normalization is summation-order
    dependent and breaks cross-engine parity).
    """
    p = F.col(score_col)
    if uniform_mix > 0.0:
        # R4 mixture over normalized p: mix·uniform + (1-mix)·p
        w_sum = Window.partitionBy("customer_id")
        p = F.lit(uniform_mix) / F.count("*").over(w_sum) + F.lit(1 - uniform_mix) * p
    eps = F.lit(1e-10)
    clipped = F.greatest(F.least(p, F.lit(1 - 1e-10)), eps)
    logit = F.log(clipped / (F.lit(1.0) - clipped)) / F.lit(temperature)
    if noise_scale > 0.0:
        u2 = _hash_uniform(f"n{seed}")
        u3 = _hash_uniform(f"c{seed}")
        gauss = F.sqrt(F.lit(-2.0) * F.log(u2 + eps)) * F.cos(F.lit(TWO_PI) * u3)
        logit = logit + gauss * F.lit(noise_scale)
    gumbel = -F.log(-F.log(_hash_uniform(f"g{seed}") + eps) + eps)
    out = scored.withColumn("sample_key", logit + gumbel)
    w = Window.partitionBy("customer_id").orderBy(F.desc("sample_key"), F.asc("product_id"))
    return out.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k).drop("sample_key")

