"""Flagship query: top-k diverse recommendations by popularity×recency.

The reference's core retrieval shape (EP3, SURVEY §3) without the learned
model: candidate generation with purchased-exclusion, popularity/recency
scoring, category-diverse top-k per customer. Pure DataFrame ops — scans,
broadcast + anti joins, aggregation, stacked windows — and DuckDB-oracle
checkable end to end.

This module also owns what flagship shares with the serving family
(plans/registry_serving): the snapshot's one scored catalog with its
per-category ranking, the purchase-count bound that prunes it, and the
oracle CTE text both families' DuckDB oracles start from.

reference trace: valid-product filter ``topk_recommandations_diverse_
nodiscounts.py:189-201`` → exclusion ``:217-226`` → scoring ``:256-262``
(model prob; here popularity×recency proxy) → greedy diverse pick ``:279-296``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table, load_tables
from ._memo import memo

AS_OF = "2002-01-01"


def shared_purchased_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memo-shared distinct purchase pairs for the serving family — the
    SAME checkpoint as ``registry.shared_positive_pairs`` (identical
    relation; the serving queries just use the relational column names).
    Delegates to the registry builder (r11 ADVICE: a mirrored build
    closure + hard-coded duplicate tag string could silently fork the
    'one shared materialization' into two if either side drifted); the
    import is function-local to avoid the registry→flagship module
    cycle."""
    from .registry import shared_positive_pairs

    pos = shared_positive_pairs(spark, sf_dir)
    return pos.select(F.col("ckey").alias("c_custkey"), F.col("pkey").alias("p_partkey"))


def shared_scored_valid_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot's scored catalog, memoized (part-sized: |P| rows):
    valid products (P10 analog) scored by popularity × recency decay
    (reference scoring proxy at ``topk_recommandations_diverse_
    nodiscounts.py:256-262``), each with ``cat_pos``, its 1-based position
    in its category by score desc, p_partkey asc. Columns: p_partkey,
    p_name, category, score, cat_pos.

    Flagship's prune prefix and every serving request read this one
    relation, so the per-category ranking is computed here and nowhere
    else. The window is partitioned by category: no step funnels |part|
    through one task."""

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir, names=("part", "lineitem"))
        part, lineitem = t["part"], t["lineitem"]
        prod_stats = lineitem.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
            F.count("*").alias("popularity"),
            F.datediff(F.lit(AS_OF).cast("date"), F.max("l_shipdate").cast("date")).alias("recency_days"),
        )
        scored = (
            part.filter((F.col("p_size") > 0) & F.col("p_type").isNotNull())
            .join(prod_stats, "p_partkey", "left")
            .na.fill({"popularity": 0, "recency_days": 3650})
            .select(
                F.col("p_partkey"),
                F.col("p_name"),
                F.col("p_type").alias("category"),
                F.round(F.col("popularity") / (F.lit(1.0) + F.col("recency_days") / F.lit(365.0)), 6).alias("score"),
            )
        )
        by_score = Window.partitionBy("category").orderBy(F.desc("score"), F.asc("p_partkey"))
        return scored.withColumn("cat_pos", F.row_number().over(by_score))

    return memo(spark, ("scored_valid_products", sf_dir), build)


def purchase_bound(spark: SparkSession, sf_dir: str, purchased: DataFrame, per_category: bool) -> DataFrame:
    """A lazy 1-row aggregate ``bound``: the most distinct products any one
    customer in ``purchased`` (distinct c_custkey, p_partkey pairs) bought
    in all, or in one category (part's p_type) with ``per_category``; 0
    when ``purchased`` is empty.

    Because the score is customer-independent, a customer's top-m
    unpurchased products lie within the catalog's top (bound + m) by
    score, or within each category's top (bound + m) per category. This
    bound is what makes every prune in flagship and the serving family
    lossless."""
    keys = ["c_custkey"]
    if per_category:
        part_cat = load_table(spark, "part", sf_dir).select("p_partkey", F.col("p_type").alias("category"))
        purchased = purchased.join(F.broadcast(part_cat), "p_partkey")
        keys.append("category")
    return (
        purchased.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.coalesce(F.max("n"), F.lit(0)).alias("bound"))
    )


def flagship(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k diverse recommendations per customer.

    Works directly on the relational tables (graph edge semantics inlined:
    orders≡PURCHASED, lineitem≡CONTAINS) so the whole plan is one Catalyst
    DAG — scans prune to the consumed columns only, the prefix broadcasts,
    and the only big shuffles are the positions fold over the purchase
    pairs and the final per-customer window. The scored catalog, its
    per-category ranking and the purchase pairs are the memoized prefixes
    the serving family reads too; on the distinct purchase pairs the
    per-(customer, category) product count is a plain count(*), where raw
    pairs would need countDistinct and its two exchanges.
    """
    customer = load_table(spark, "customer", sf_dir)
    valid = shared_scored_valid_products(spark, sf_dir)
    purchased = shared_purchased_pairs(spark, sf_dir)

    # EXACT candidate pruning: a customer's per-category winner (the best
    # product they did not purchase) always sits within the category's top
    # (c_max + 1), c_max = purchase_bound per category over all customers.
    # The prefix is |cats|·(c_max+1) rows, dim-sized by construction, and
    # shrinks the candidate domain from |C|×|P| to |C|×prefix with provably
    # identical output — the physical-plan analog of the reference's
    # 1500-2000 candidate cap, but lossless. c_max stays a lazy 1-row
    # aggregate broadcast into the filter, so deriving the prefix is one
    # Spark job, and the memo materializes it executor-side once per
    # (app, sf_dir): under category-density skew c_max grows with the
    # densest customer, so driver memory must not be on that path. The
    # prefix is k-independent: c_max+1 bounds ANY k's winner.
    pruned = memo(
        spark,
        ("flagship_prune_prefix", sf_dir),
        lambda: valid.crossJoin(F.broadcast(purchase_bound(spark, sf_dir, purchased, per_category=True)))
        .filter(F.col("cat_pos") <= F.col("bound") + 1)
        .drop("bound"),
    )

    # Per-(customer, category) winner WITHOUT expanding candidates (J6/J7
    # fused): the winner (best unpurchased product, score desc / p_partkey
    # asc) is the FIRST prefix position the customer did not purchase —
    # mex over their purchased positions within the prefix. So instead of
    # materializing |C|×(cats·(c_max+1)) candidate rows and anti-joining
    # (2.5M rows at sf0.1, prefix-size× more with denser categories), the
    # plan touches only the purchases that land in the prefix (one
    # broadcast equi-join on the dim-sized prefix), folds them to one
    # positions-array row per (customer, category) — array length ≤
    # c_max+1, bounded by construction — and computes the mex columnar.
    # Volume: |C|×|cats| + |prefix purchases|, never |C|×prefix.
    pip = purchased.join(F.broadcast(pruned.select("p_partkey", "category", "cat_pos")), "p_partkey")
    mex = (
        pip.groupBy("c_custkey", "category")
        .agg(F.sort_array(F.collect_set("cat_pos")).alias("pos_arr"))
        .select(
            "c_custkey",
            "category",
            # first index i (1-based) where pos_arr[i] != i; if the
            # purchased positions are exactly 1..n, the winner is n+1
            F.coalesce(
                F.array_min(
                    F.zip_with(
                        "pos_arr",
                        F.sequence(F.lit(1), F.size("pos_arr")),
                        lambda x, i: F.when(x != i, i),
                    )
                ),
                F.size("pos_arr") + 1,
            ).alias("winner_pos"),
        )
    )

    # category-diverse top-k (W6): ≤1 per category, best k overall. The
    # (customer × category) domain is |C|×|cats| rows — cats is dim-sized —
    # and customers absent from mex (nothing purchased in the prefix) take
    # winner_pos=1. A winner_pos past a short category's prefix (customer
    # purchased every valid product in it) drops in the inner join, exactly
    # like the exhausted-category case in the anti-join formulation.
    cats_df = pruned.select("category").distinct()
    per_cat = (
        customer.select("c_custkey")
        .crossJoin(F.broadcast(cats_df))
        .join(mex, ["c_custkey", "category"], "left")
        .na.fill({"winner_pos": 1})
        .join(
            F.broadcast(pruned.withColumnRenamed("category", "p_category")),
            (F.col("category") == F.col("p_category")) & (F.col("winner_pos") == F.col("cat_pos")),
        )
        .select("c_custkey", "p_partkey", "p_name", "category", "score")
    )
    w_all = Window.partitionBy("c_custkey").orderBy(F.desc("score"), F.asc("p_partkey"))
    return (
        per_cat.withColumn("rank", F.row_number().over(w_all))
        .filter(F.col("rank") <= k)
        .select("c_custkey", "rank", "p_partkey", "p_name", "category", "score")
    )


# The DuckDB mirror of the scored catalog (without cat_pos) and of the
# distinct purchase pairs: flagship's oracle and every serving oracle
# (registry_serving._CANDIDATES_CTE) start from this one CTE chain.
CATALOG_CTE = f"""prod_stats AS (
    SELECT l_partkey AS p_partkey,
           COUNT(*) AS popularity,
           datediff('day', CAST(MAX(l_shipdate) AS DATE), DATE '{AS_OF}') AS recency_days
    FROM lineitem GROUP BY l_partkey
),
valid AS (
    SELECT p.p_partkey, p.p_name, p.p_type AS category,
           ROUND(COALESCE(s.popularity, 0) / (1.0 + COALESCE(s.recency_days, 3650) / 365.0), 6) AS score
    FROM part p LEFT JOIN prod_stats s ON p.p_partkey = s.p_partkey
    WHERE p.p_size > 0 AND p.p_type IS NOT NULL
),
purchased AS (
    SELECT DISTINCT o.o_custkey AS c_custkey, l.l_partkey AS p_partkey
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)"""

FLAGSHIP_ORACLE_SQL = f"""
WITH {CATALOG_CTE},
candidates AS (
    SELECT c.c_custkey, v.*
    FROM customer c CROSS JOIN valid v
    ANTI JOIN purchased p ON p.c_custkey = c.c_custkey AND p.p_partkey = v.p_partkey
),
cat_ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey, category ORDER BY score DESC, p_partkey ASC) AS cat_rank
    FROM candidates
),
ranked AS (
    SELECT c_custkey, p_partkey, p_name, category, score,
           ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY score DESC, p_partkey ASC) AS rank
    FROM cat_ranked WHERE cat_rank = 1
)
SELECT c_custkey, rank, p_partkey, p_name, category, score
FROM ranked WHERE rank <= 3
"""
