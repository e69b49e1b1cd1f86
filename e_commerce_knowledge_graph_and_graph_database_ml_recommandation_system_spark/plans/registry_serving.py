"""Registry entries: recommendation-serving layer (SURVEY §2.7 W4/W6/W7,
§2.12 R1-R6, §2.2 P11/P12). Imported by plans/registry.

The reference serves a sampled customer cohort (``topk_recommandations_
diverse_nodiscounts.py:353`` samples 3 customers); here the cohort is the
deterministic ``c_custkey % 100 == 0`` subset so the DuckDB oracle
reproduces it at any scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import topk as tk
from ..operators.ranking import global_rank_with_prefix
from ..sources.tables import load_table, load_tables
from ._memo import memo
from .flagship import CATALOG_CTE, purchase_bound, shared_purchased_pairs, shared_scored_valid_products
from .registry import register

# the serving cohort: c_custkey % 100 == 0. Every memo tag below carries it,
# so a caller with a different cohort cannot read a stale prefix.
COHORT = "mod100"
#: a pruned request broadcasts the cohort's purchase pairs into its
#: anti-join up to this many pairs (16 B each: 16 MB)
PURCHASED_BROADCAST_MAX_ROWS = 1_000_000


def _cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving cohort's customer keys (|C|/100 rows), memoized."""
    return memo(
        spark,
        ("serve_cohort", sf_dir, COHORT),
        lambda: load_table(spark, "customer", sf_dir)
        .filter(F.pmod(F.col("c_custkey"), F.lit(100)) == 0)
        .select("c_custkey"),
    )


def _cohort_purchased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort's distinct purchase pairs (c_custkey, p_partkey),
    memoized: the anti-join reads this cohort-sized relation, not every
    purchase pair of the snapshot."""
    return memo(
        spark,
        ("serve_cohort_purchased", sf_dir, COHORT),
        lambda: shared_purchased_pairs(spark, sf_dir).join(_cohort(spark, sf_dir), "c_custkey"),
    )


def _broadcastable_purchased(spark: SparkSession, sf_dir: str) -> bool:
    """Whether the cohort's purchase pairs fit a broadcast (row count
    memoized). A checkpoint carries no size statistics, so unhinted the
    anti-join plans as a sort-merge join and AQE only turns it into a
    broadcast after running a shuffle stage: one extra job per request."""
    n = memo(spark, ("serve_cohort_purchased_rows", sf_dir, COHORT), _cohort_purchased(spark, sf_dir).count)
    return n <= PURCHASED_BROADCAST_MAX_ROWS


def _ranked_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scored catalog (with its per-category ``cat_pos``) plus its
    global position ``pos`` (score desc, p_partkey asc), memoized: |P|
    rows, ranked once per snapshot. ``pos`` is the distributed rank of
    operators/ranking (range partition + local windows + broadcast
    offsets), so no step funnels |part| through one task."""

    def build() -> DataFrame:
        valid = shared_scored_valid_products(spark, sf_dir).withColumn("_zero", F.lit(0).cast("long"))
        return (
            global_rank_with_prefix(valid, [F.desc("score"), F.asc("p_partkey")], "_zero")
            .withColumnRenamed("rank", "pos")
            .drop("_zero", "cum_value", "total_n", "total_value")
        )

    return memo(spark, ("serve_ranked_valid", sf_dir), build)


def _prefix_bound(spark: SparkSession, sf_dir: str, mode: str) -> int:
    """The k-independent part of a prune bound, memoized as a scalar: the
    cohort's ``purchase_bound``, ``p_max`` (most products any cohort
    customer purchased) for ``"global"``, ``c_max`` (most in one
    category) for ``"category"``."""
    tag = "serve_prune_pmax" if mode == "global" else "serve_prune_cmax"
    return memo(
        spark,
        (tag, sf_dir, COHORT),
        lambda: purchase_bound(
            spark, sf_dir, _cohort_purchased(spark, sf_dir), per_category=mode == "category"
        ).first()["bound"],
    )


def _candidates(spark: SparkSession, sf_dir: str, prune: tuple[str, int] | None = None) -> DataFrame:
    """Scored candidates for the serving cohort: (customer_id, product_id,
    p_name, category, score), purchased excluded (J6/J7).

    ``prune`` applies flagship's EXACT candidate pruning, with the
    cohort's ``purchase_bound`` (the score is customer-independent here
    too; the unpruned form broadcasts ALL valid products into the
    crossJoin, which stops being a broadcast at 100x part):

    * ``("global", k)``  — plain top-k consumers: a customer's top-k
      unpurchased products always sit inside the global top (P_max + k)
      by score, P_max = most products any cohort customer purchased.
    * ``("category", m)`` — ≤m-per-category consumers: a customer's
      per-category top-m unpurchased sit inside the category's global top
      (c_max + m), c_max = most purchases any cohort customer made in one
      category.
    * ``None`` — full distribution (median-per-category and softmax
      samplers genuinely need every candidate; the cohort is |C|/100, so
      this is a shuffle join at scale, not a broadcast).

    Every input is a memoized prefix of the snapshot, so a request builds
    and runs only its own plan: a pruned request filters a memoized
    position column against a literal bound, and the cross product with
    the cohort is built lazily per request, never memoized.
    """
    purchased = _cohort_purchased(spark, sf_dir)
    if prune is None:
        # |part|-sized: a forced broadcast hint would override AQE and ship
        # a multi-GB table at 100× part — every join strategy here is
        # AQE's size-based call
        valid = shared_scored_valid_products(spark, sf_dir)
    else:
        mode, k = prune
        pos = "pos" if mode == "global" else "cat_pos"
        bound = int(_prefix_bound(spark, sf_dir, mode)) + k
        # the pruned prefix is dim-sized by construction: safe to broadcast
        valid = F.broadcast(
            _ranked_valid(spark, sf_dir).filter(F.col(pos) <= F.lit(bound)).drop("pos", "cat_pos")
        )
        if _broadcastable_purchased(spark, sf_dir):
            purchased = F.broadcast(purchased)
    return (
        _cohort(spark, sf_dir)
        .crossJoin(valid)
        .join(purchased, ["c_custkey", "p_partkey"], "left_anti")
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("p_partkey").alias("product_id"),
            "p_name",
            "category",
            "score",
        )
    )


# the serving oracles' candidates: the cohort's unpurchased products of
# flagship's catalog CTE (mirrors _candidates, unpruned)
_CANDIDATES_CTE = f"""{CATALOG_CTE},
candidates AS (
    SELECT c.c_custkey AS customer_id, v.p_partkey AS product_id,
           v.p_name, v.category, v.score
    FROM (SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0) c
    CROSS JOIN valid v
    ANTI JOIN purchased p ON p.c_custkey = c.c_custkey AND p.p_partkey = v.p_partkey
)"""


def _gumbel_oracle_sql(
    temperature: float, seed: int, noise_scale: float = 0.0, uniform_mix: float = 0.0
) -> str:
    """DuckDB mirror of ``operators/topk.gumbel_topk``'s hash-noise expression
    tree. Float literals embed Python ``repr`` so both engines parse the
    identical IEEE double; the softmax denominator is an exact DECIMAL sum
    (summation-order independent) so ``p`` is bit-identical cross-engine."""

    def u(salt: str) -> str:
        return (
            "(('0x' || substr(md5(concat_ws('|', CAST(customer_id AS VARCHAR), "
            f"CAST(product_id AS VARCHAR), '{salt}')), 1, 8))::BIGINT / 4294967296.0)"
        )

    eps = repr(1e-10)
    p_eff = f"({uniform_mix!r} / n + {1 - uniform_mix!r} * p)" if uniform_mix > 0.0 else "p"
    clipped = f"GREATEST(LEAST({p_eff}, {1 - 1e-10!r}), {eps})"
    logit = f"(LN({clipped} / (1.0 - {clipped})) / {temperature!r})"
    if noise_scale > 0.0:
        gauss = f"(SQRT(-2.0 * LN({u(f'n{seed}')} + {eps})) * COS({tk.TWO_PI!r} * {u(f'c{seed}')}))"
        logit = f"({logit} + {gauss} * {noise_scale!r})"
    gumbel = f"(-LN(-LN({u(f'g{seed}')} + {eps}) + {eps}))"
    return f"""
WITH {_CANDIDATES_CTE},
probs AS (
    SELECT customer_id, product_id, category,
           score / CAST(SUM(CAST(score AS DECIMAL(18,6))) OVER (PARTITION BY customer_id) AS DOUBLE) AS p,
           COUNT(*) OVER (PARTITION BY customer_id) AS n
    FROM candidates
)
SELECT customer_id, rank, product_id, category, ROUND(p, 6) AS p
FROM (SELECT customer_id, product_id, category, p,
             ROW_NUMBER() OVER (PARTITION BY customer_id
                                ORDER BY ({logit} + {gumbel}) DESC, product_id ASC) AS rank
      FROM probs)
WHERE rank <= 5
"""


def _gumbel_variant(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """The R1-R4 sampling body: Gumbel-top-5 over each cohort customer's
    normalized candidate probabilities, ``kw`` being gumbel_topk's
    temperature, seed and noise parameters. p = score / per-customer sum,
    the denominator accumulated as DECIMAL(18,6) (score is already
    6dp-rounded, so the cast is lossless and the sum exact — float
    summation order can't perturb p across engines or partitions)."""
    cands = _candidates(spark, sf_dir)
    denom = F.sum(F.col("score").cast("decimal(18,6)")).over(Window.partitionBy("customer_id")).cast("double")
    out = tk.gumbel_topk(cands.withColumn("p", F.col("score") / denom), k=5, score_col="p", **kw)
    return out.select("customer_id", "rank", "product_id", "category", F.round("p", 6).alias("p"))


@register(
    "serve_topk_plain",
    f"""
WITH {_CANDIDATES_CTE}
SELECT customer_id, rank, product_id, category, score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY customer_id
                                   ORDER BY score DESC, product_id ASC) AS rank
      FROM candidates)
WHERE rank <= 5
""",
)
def q_serve_topk_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: plain top-5 per cohort customer (exact global-prefix pruning —
    the oracle runs unpruned and must hash-match, proving losslessness)."""
    return tk.topk_per_customer(_candidates(spark, sf_dir, prune=("global", 5)), k=5).select(
        "customer_id", "rank", "product_id", "category", "score"
    )


@register(
    "serve_greedy_diverse_topk",
    f"""
WITH {_CANDIDATES_CTE},
cat_ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY customer_id, category
                                 ORDER BY score DESC, product_id ASC) AS cat_rank
    FROM candidates
)
SELECT customer_id, rank, product_id, category, score
FROM (SELECT customer_id, product_id, category, score,
             ROW_NUMBER() OVER (PARTITION BY customer_id
                                ORDER BY score DESC, product_id ASC) AS rank
      FROM cat_ranked WHERE cat_rank <= 2)
WHERE rank <= 5
""",
)
def q_serve_greedy_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: the reference's greedy pick, ≤2 per category, k=5
    (``topk_recommandations_diverse_nodiscounts.py:273-296``). The
    sequential walk (take a candidate iff its category's quota is open,
    stop at k) selects exactly the candidates within their category's
    top 2, in score order, so it is the two-window W6 contract over the
    exact per-category prune, hash-checked against the unpruned oracle."""
    return tk.diverse_topk(_candidates(spark, sf_dir, prune=("category", 2)), k=5, per_category=2).select(
        "customer_id", "rank", "product_id", "category", "score"
    )


@register(
    "serve_relaxed_diverse_topk",
    f"""
WITH {_CANDIDATES_CTE},
pool AS (
    SELECT customer_id, product_id, category, score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY customer_id
                                       ORDER BY score DESC, product_id ASC) AS pool_rank
          FROM candidates)
    WHERE pool_rank <= 7
),
catr AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY customer_id, category
                                 ORDER BY score DESC, product_id ASC) AS cat_rank
    FROM pool
),
flagged AS (
    SELECT *, SUM(CASE WHEN cat_rank <= 2 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY customer_id) AS capped_n
    FROM catr
)
SELECT customer_id, rank, product_id, category, score, relaxed
FROM (SELECT customer_id, product_id, category, score,
             CAST(capped_n < 5 AS INT) AS relaxed,
             ROW_NUMBER() OVER (PARTITION BY customer_id
                                ORDER BY score DESC, product_id ASC) AS rank
      FROM flagged
      WHERE capped_n < 5 OR cat_rank <= 2)
WHERE rank <= 5
""",
)
def q_serve_relaxed_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 + the reference's few-categories relaxation
    (``took_recommandations_adamsampling_discount.py:283-317``): over each
    customer's top-7 candidate pool, pick 5 with ≤2 per category — lifting
    the cap for customers whose pool spans too few categories to fill 5.
    The pool is the exact global-prefix prune (lossless, same argument as
    serve_topk_plain); the oracle runs the unpruned form."""
    cands = _candidates(spark, sf_dir, prune=("global", 7)).select(
        "customer_id", "product_id", "category", "score"
    )
    pool = tk.topk_per_customer(cands, k=7).drop("rank")
    out = tk.relaxed_diverse_topk(pool, k=5, max_per_category=2)
    return out.select("customer_id", "rank", "product_id", "category", "score", "relaxed")


@register(
    "serve_median_per_category",
    f"""
WITH {_CANDIDATES_CTE},
counted AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY customer_id, category
                                 ORDER BY score ASC, product_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY customer_id, category) AS n
    FROM candidates
)
SELECT customer_id, category, product_id, score
FROM counted WHERE rn = (n + 1) // 2
""",
)
def q_serve_median_per_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: the reference's median-probability category fallback pick
    (``took_recommandations_adamsampling_discount.py:295-317``)."""
    return tk.median_per_category(_candidates(spark, sf_dir)).select(
        "customer_id", "category", "product_id", "score"
    )


@register(
    "serve_display_records",
    f"""
WITH {_CANDIDATES_CTE},
topk AS (
    SELECT customer_id, rank, product_id, p_name, category, score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY customer_id
                                       ORDER BY score DESC, product_id ASC) AS rank
          FROM candidates)
    WHERE rank <= 3
)
SELECT t.customer_id,
       concat_ws(', ', c.c_name, c.c_mktsegment) AS display_name,
       t.rank,
       printf('Recommended: %s [%s] score=%.2f', t.p_name, t.category, t.score) AS message
FROM topk t JOIN customer c ON t.customer_id = c.c_custkey
""",
)
def q_serve_display_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11/P12: display-record projection + conditional display-name
    derivation (reference ``topk_recommandations_diverse_nodiscounts.py:
    317-347``: product message string + customer display name)."""
    topk = tk.topk_per_customer(_candidates(spark, sf_dir, prune=("global", 3)), k=3)
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("customer_id"),
        F.concat_ws(", ", F.col("c_name"), F.col("c_mktsegment")).alias("display_name"),
    )
    return topk.join(F.broadcast(cust), "customer_id").select(
        "customer_id",
        "display_name",
        "rank",
        F.format_string("Recommended: %s [%s] score=%.2f", "p_name", "category", "score").alias("message"),
    )


@register("serve_gumbel_softmax_topk", _gumbel_oracle_sql(temperature=2.5, seed=42))
def q_serve_gumbel_softmax_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: temperature-softmax sampling without replacement (Gumbel-top-k,
    T=2.5, hash-seeded). Fully oracle-checked: the hash-derived noise is
    partition-independent and engine-agnostic, so even the SAMPLED selection
    hash-matches DuckDB (distributional invariants additionally
    pytest-checked, SURVEY §5)."""
    return _gumbel_variant(spark, sf_dir, temperature=2.5, seed=42)


@register(
    "discount_assignment",
    """
WITH base AS (
    SELECT p_partkey AS product_id,
           month(CAST(sim_date AS DATE)) AS sim_month,
           (('0x' || substr(md5(concat_ws('_', p_partkey, sim_date)), 1, 8))::BIGINT % 10000) / 10000.0 AS u
    FROM (SELECT p_partkey, strftime(d, '%Y-%m-%d') AS sim_date
          FROM part CROSS JOIN (SELECT UNNEST([DATE '2023-12-15', DATE '2023-07-01', DATE '2023-03-10']) AS d))
)
SELECT product_id, sim_month,
       ROUND(CASE WHEN sim_month = 12 THEN 0.30 + u * 0.20
                  WHEN sim_month IN (6, 7) THEN 0.20 + u * 0.20
                  ELSE 0.05 + u * 0.10 END, 6) AS discount
FROM base
""",
)
def q_discount_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 random-uniform discount by month branch (reference
    ``xgboost_mode_training_plus_dynamic_discount.py:73-87``: Dec 0.30-0.50,
    summer 0.20-0.40, else 0.05-0.15) — deterministic md5-uniform stand-in
    for ``random.uniform`` so the oracle matches; the seeded-rand variant
    is operators/topk.gumbel_topk's noise discipline."""
    from ..functions.text import md5_int32

    part = load_tables(spark, sf_dir, names=("part",))["part"]
    dates = spark.createDataFrame([("2023-12-15",), ("2023-07-01",), ("2023-03-10",)], ["sim_date"])
    base = (
        part.select(F.col("p_partkey").alias("product_id"))
        .crossJoin(F.broadcast(dates))
        .withColumn("sim_month", F.month(F.col("sim_date").cast("date")))
        .withColumn(
            "u",
            F.pmod(md5_int32(F.concat_ws("_", F.col("product_id"), F.col("sim_date"))), F.lit(10000)) / 10000.0,
        )
    )
    disc = (
        F.when(F.col("sim_month") == 12, 0.30 + F.col("u") * 0.20)
        .when(F.col("sim_month").isin(6, 7), 0.20 + F.col("u") * 0.20)
        .otherwise(0.05 + F.col("u") * 0.10)
    )
    return base.select("product_id", "sim_month", F.round(disc, 6).alias("discount"))


@register(
    "discount_events",
    """
WITH ev AS (
    SELECT DISTINCT l_partkey AS product_id,
           CAST(l_shipdate AS DATE) AS event_date,
           CAST(l_discount AS DECIMAL(8,4)) AS discount
    FROM lineitem WHERE l_discount > 0
),
dedup AS (
    SELECT product_id, event_date, MAX(discount) AS discount
    FROM ev GROUP BY product_id, event_date
)
SELECT product_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(discount) AS DOUBLE) / COUNT(*), 6) AS avg_discount,
       ROUND(CAST(MAX(discount) AS DOUBLE), 6) AS max_discount
FROM dedup GROUP BY product_id
""",
)
def q_discount_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6: discount event tracking — append-only (product, date, discount)
    events deduped per date (reference ``topk_recommandations_stochastic
    softmaxsampling_discount.py:58-74,105-120``), summarized per product."""
    li = load_tables(spark, sf_dir, names=("lineitem",))["lineitem"]
    ev = (
        li.filter(F.col("l_discount") > 0)
        .select(
            F.col("l_partkey").alias("product_id"),
            F.col("l_shipdate").cast("date").alias("event_date"),
            # decimal events: float averages are summation-order dependent
            F.col("l_discount").cast("decimal(8,4)").alias("discount"),
        )
        .distinct()
        .groupBy("product_id", "event_date")
        .agg(F.max("discount").alias("discount"))
    )
    return ev.groupBy("product_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("discount").cast("double") / F.count("*"), 6).alias("avg_discount"),
        F.round(F.max("discount").cast("double"), 6).alias("max_discount"),
    )
