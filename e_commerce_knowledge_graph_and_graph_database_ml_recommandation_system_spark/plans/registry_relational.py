"""Registry entries: relational ETL / ingestion / versioning / splits
(SURVEY §2.2 P9, §2.3 U1-U3, §2.6 A2/A6/A11/A12, §2.9 X1-X2, §2.11 M1/A11).
Imported by plans/registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..api import property_graph
from ..functions.text import md5_int32
from ..graph.build import snapshot
from ..operators import traversals as trav
from ..sources.tables import load_tables
from ._memo import memo
from .registry import GRAPH_EDGES_CTE, register, shared_positive_pairs


def capped_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared market-basket relation: distinct (customer, product)
    purchase incidence behind the 200-product hot-basket cap (the skew
    hatch every pair-generating consumer needs — see copurchase_lift).
    Memoized per Spark app: copurchase_lift, item_item_neighbors and
    adamic_adar_links all fan out from this one materialized artifact,
    the 'shared prefix' pattern a production pipeline expresses as an
    intermediate table."""

    def build() -> DataFrame:
        # basket0 IS the memo-shared positive-pair relation (r11
        # consolidation): one orders⋈lineitem+distinct materialization now
        # serves the traversal, serving AND market-basket families
        basket0 = shared_positive_pairs(spark, sf_dir).select(
            F.col("ckey").alias("c"), F.col("pkey").alias("p")
        )
        hot = basket0.groupBy("c").agg(F.count(F.lit(1)).alias("b")).filter(F.col("b") > 200)
        return basket0.join(hot.select("c"), "c", "left_anti")

    return memo(spark, ("capped_basket", sf_dir), build)


def qualifying_pairs(spark: SparkSession, sf_dir: str, minsup: int = 4) -> DataFrame:
    """Frequent product pairs (p1 < p2, support >= minsup) over the capped
    basket — the apriori L2 set. Memoized: copurchase_lift ranks these by
    lift, frequent_triples extends them to L3 candidates; one pair
    self-join per verification run instead of two."""

    def build() -> DataFrame:
        basket = capped_basket(spark, sf_dir)
        a = basket.select("c", F.col("p").alias("prod_a"))
        b = basket.select("c", F.col("p").alias("prod_b"))
        return (
            a.join(b, "c")
            .filter(F.col("prod_a") < F.col("prod_b"))
            .groupBy("prod_a", "prod_b")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= minsup)
        )

    return memo(spark, ("qualifying_pairs", minsup, sf_dir), build)

# ---------------------------------------------------------------------------
# U1: union of heterogeneous sources with source/dvid lits
# ---------------------------------------------------------------------------


@register(
    "union_heterogeneous",
    """
SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS total_amount
FROM (
    SELECT 'amazon' AS source, 1 AS dvid, o_totalprice AS amount FROM orders
    UNION ALL
    SELECT 'intl', 1, l_extendedprice FROM lineitem
)
GROUP BY source
""",
)
def q_union_heterogeneous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: pd.concat of normalized sources (reference ``First_Data_
    injection.py:41-42,70-71``) → unionByName with lit source/dvid tags."""
    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    amazon = t["orders"].select(
        F.lit("amazon").alias("source"), F.lit(1).alias("dvid"), F.col("o_totalprice").alias("amount")
    )
    intl = t["lineitem"].select(
        F.lit("intl").alias("source"), F.lit(1).alias("dvid"), F.col("l_extendedprice").alias("amount")
    )
    return (
        amazon.unionByName(intl)
        .groupBy("source")
        .agg(
            F.count("*").alias("cnt"),
            # decimal accumulation: float sums are order-dependent across
            # engines/partitionings; decimal sums are exact and reproducible
            F.sum(F.col("amount").cast("decimal(18,4)")).cast("double").alias("total_amount"),
        )
    )


# ---------------------------------------------------------------------------
# U2: seeded exact-n sample (deterministic order-by-hash)
# ---------------------------------------------------------------------------


@register(
    "seeded_sample",
    """
SELECT o_orderkey, o_custkey
FROM (SELECT o_orderkey, o_custkey,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
      FROM orders)
WHERE rn <= 1000
""",
)
def q_seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: ``df.sample(n=K, random_state=42)`` (reference ``second_third_
    and_forth_data_injection.py:66-69``) → exact-n deterministic sample by
    hash order. Catalyst turns the window+limit into a TakeOrdered (top-k),
    no full sort materialization."""
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    w = Window.orderBy(F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey"))
    return (
        orders.select("o_orderkey", "o_custkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 1000)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# U3: dvid snapshot stats (incremental versioned ingest)
# ---------------------------------------------------------------------------


@register(
    "dvid_snapshot_stats",
    f"""
WITH {GRAPH_EDGES_CTE.strip()}
SELECT dvid, type, COUNT(*) AS cnt
FROM edges WHERE dvid <= 3
GROUP BY dvid, type
""",
)
def q_dvid_snapshot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: snapshot (dvid <= 3) edge histogram — the verification print the
    reference does after each injection (``second_third_and_forth_data_
    injection.py:120-124``); the predicate partition-prunes when edges are
    stored partitioned by dvid."""
    _, edges = property_graph(spark, sf_dir)
    return snapshot(edges, 3).groupBy("dvid", "type").agg(F.count("*").alias("cnt"))


# ---------------------------------------------------------------------------
# P9: multi-format date parse with default fallback
# ---------------------------------------------------------------------------


@register(
    "multi_format_dates",
    """
WITH raw AS (
    SELECT o_orderkey,
           CASE o_orderkey % 4
               WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
               WHEN 1 THEN strftime(o_orderdate, '%m/%d/%Y')
               WHEN 2 THEN strftime(o_orderdate, '%m-%d-%Y')
               ELSE 'garbage'
           END AS date_str
    FROM orders
)
SELECT o_orderkey, date_str,
       strftime(COALESCE(try_strptime(date_str, '%Y-%m-%d'),
                         try_strptime(date_str, '%m/%d/%Y'),
                         try_strptime(date_str, '%m-%d-%Y'),
                         TIMESTAMP '2022-06-01'), '%Y-%m-%d') AS parsed
FROM raw
""",
)
def q_multi_format_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: the reference's safe_date_parse tries 5 formats then defaults to
    2022-06-01 (``second_third_and_forth_data_injection.py:24-37``) —
    expressed as coalesce(try_to_timestamp...) with zero UDFs."""
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    raw = orders.select(
        "o_orderkey",
        F.when(F.pmod("o_orderkey", F.lit(4)) == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(F.pmod("o_orderkey", F.lit(4)) == 1, F.date_format("o_orderdate", "MM/dd/yyyy"))
        .when(F.pmod("o_orderkey", F.lit(4)) == 2, F.date_format("o_orderdate", "MM-dd-yyyy"))
        .otherwise(F.lit("garbage"))
        .alias("date_str"),
    )
    parsed = F.coalesce(
        F.try_to_timestamp("date_str", F.lit("yyyy-MM-dd")),
        F.try_to_timestamp("date_str", F.lit("MM/dd/yyyy")),
        F.try_to_timestamp("date_str", F.lit("MM-dd-yyyy")),
        F.lit("2022-06-01").cast("timestamp"),
    )
    return raw.select("o_orderkey", "date_str", F.date_format(parsed, "yyyy-MM-dd").alias("parsed"))


# ---------------------------------------------------------------------------
# A12 (beyond-reference): rollup revenue summary + classic pricing summary
# ---------------------------------------------------------------------------


@register(
    "revenue_rollup",
    """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, names=("lineitem",))["lineitem"]
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)") * (1 - F.col("l_discount")).cast("decimal(8,4)")
        ).cast("double").alias("revenue"),
    )


@register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE) AS sum_disc_price,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A6 global+grouped moments in the classic pricing-summary shape;
    filter pushes to the parquet scan (PushedFilters visible in explain)."""
    li = load_tables(spark, sf_dir, names=("lineitem",))["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double").alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)") * (1 - F.col("l_discount")).cast("decimal(8,4)")
            ).cast("double").alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double") / F.count("*"), 6
            ).alias("avg_qty"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(8,4)")).cast("double") / F.count("*"), 6
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "shipping_priority",
    """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic shipping-priority analytics (the Q3 shape): unshipped
    revenue per order for one market segment — selective per-table
    predicates push to all three scans, the customer dim broadcasts, and
    the top-10 is a deterministic TakeOrdered (revenue desc, orderkey asc
    tiebreak — never a global sort)."""
    t = load_tables(spark, sf_dir, names=("customer", "orders", "lineitem"))
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    cutoff = F.lit("1999-01-01").cast("timestamp")
    ords = t["orders"].filter(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,4)") * (1 - F.col("l_discount")).cast("decimal(8,4)")
    ).cast("double")
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev.alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "returned_items_ranking",
    """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue,
       CAST(c_acctbal AS DOUBLE) AS acctbal
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '2000-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
)
def q_returned_items_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue ranking (the Q10 shape): which customers
    returned the most value in a half-year window — return-flag and date
    predicates push down, the fact-fact join shuffles on the order key,
    the customer attributes broadcast on at the end (join AFTER the
    aggregate would be even narrower, but the group key needs c_name /
    c_acctbal, which is the classic Q10 trade)."""
    t = load_tables(spark, sf_dir, names=("customer", "orders", "lineitem"))
    lo = F.lit("2000-01-01").cast("timestamp")
    hi = F.lit("2000-07-01").cast("timestamp")
    ords = t["orders"].filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,4)") * (1 - F.col("l_discount")).cast("decimal(8,4)")
    ).cast("double")
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(t["customer"]), ords.o_custkey == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(rev.alias("revenue"))
        .select(
            "c_custkey", "c_name", "revenue", F.col("c_acctbal").cast("double").alias("acctbal")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "promo_revenue_share",
    """
SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS yr,
       CAST(EXTRACT(month FROM l_shipdate) AS INT) AS mo,
       ROUND(100.0 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))
                              * (CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END)) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE), 6) AS promo_share,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
GROUP BY 1, 2
""",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share per ship month (the Q14 shape): conditional
    revenue as decimal·int products so both engines sum exactly, ratio
    computed once in double; part dim broadcasts onto the fact scan."""
    t = load_tables(spark, sf_dir, names=("lineitem", "part"))
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp"))
    )
    price = F.col("l_extendedprice").cast("decimal(18,4)") * (1 - F.col("l_discount")).cast("decimal(8,4)")
    promo = F.when(F.col("p_type") == "PROMO", 1).otherwise(0)
    return (
        li.join(F.broadcast(t["part"].select("p_partkey", "p_type")), li.l_partkey == F.col("p_partkey"))
        .groupBy(
            F.year("l_shipdate").cast("int").alias("yr"),
            F.month("l_shipdate").cast("int").alias("mo"),
        )
        .agg(
            F.round(
                100.0 * F.sum(price * promo).cast("double") / F.sum(price).cast("double"), 6
            ).alias("promo_share"),
            F.sum(price).cast("double").alias("total_revenue"),
        )
    )


@register(
    "customer_spend_distribution",
    """
WITH spend AS (
    SELECT o_custkey AS customer_id,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS sp
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT customer_id, sp,
           ROW_NUMBER() OVER (ORDER BY sp DESC, customer_id ASC) AS rnk,
           SUM(sp) OVER (ORDER BY sp DESC, customer_id ASC ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(sp) OVER () AS tot,
           COUNT(*) OVER () AS n
    FROM spend
)
SELECT customer_id,
       ROUND(sp / 100.0, 2) AS total_spend,
       CAST(rnk AS BIGINT) AS spend_rank,
       CAST(LEAST(floor(round((rnk - 1) * 10.0 / n, 9)), 9) AS INT) AS spend_decile,
       ROUND(CAST(cum AS DOUBLE) / tot, 6) AS cum_share
FROM ranked
""",
)
def q_customer_spend_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global spend ranking WITHOUT the single-partition window the naive
    SQL (and the oracle, which may funnel — DuckDB is single-node anyway)
    would use: range-partition on the order keys, per-partition local
    windows, broadcast partition offsets (operators/ranking.py). Spend
    rides as exact cents-longs so ranks, deciles and cumulative shares are
    bit-identical cross-engine. The plan carries NO SinglePartition
    exchange — gated in test_plan_quality."""
    from ..operators.ranking import global_rank_with_prefix

    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    spend = orders.groupBy(F.col("o_custkey").alias("customer_id")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sp")
    )
    # n_parts defaults to defaultParallelism inside the operator (r11: the
    # pinned 8 capped the local-window stage at 8 tasks on any cluster —
    # output is partitioning-independent by construction, so the cap was
    # pure lost parallelism)
    r = global_rank_with_prefix(spend, [F.desc("sp"), F.asc("customer_id")], "sp")
    return r.select(
        "customer_id",
        F.round(F.col("sp") / 100.0, 2).alias("total_spend"),
        F.col("rank").alias("spend_rank"),
        F.least(
            F.floor(F.round((F.col("rank") - 1) * 10.0 / F.col("total_n"), 9)), F.lit(9)
        ).cast("int").alias("spend_decile"),
        F.round(F.col("cum_value").cast("double") / F.col("total_value"), 6).alias("cum_share"),
    )


@register(
    "distinct_counts",
    """
SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
FROM lineitem
""",
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (the approx_count_distinct analog is the same
    plan with HLL sketches — kept exact here for the oracle)."""
    li = load_tables(spark, sf_dir, names=("lineitem",))["lineitem"]
    return li.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


# ---------------------------------------------------------------------------
# M1 + A11: stratified split stats + class distribution
# ---------------------------------------------------------------------------


@register(
    "train_test_split_stats",
    f"""
WITH {GRAPH_EDGES_CTE.strip()},
pos AS (
    SELECT DISTINCT p.src AS customer_id, c.dst AS product_id
    FROM edges p JOIN edges c ON p.dst = c.src
    WHERE p.type = 'PURCHASED' AND c.type = 'CONTAINS'
),
neg AS (
    SELECT customer_id, product_id FROM (
        SELECT concat_ws('_', 'cust', c_custkey) AS customer_id,
               concat_ws('_', 'prod', p_partkey) AS product_id
        FROM customer CROSS JOIN part
        WHERE (c_custkey * 131 + p_partkey * 7919) % 50 = 0
    ) ANTI JOIN pos USING (customer_id, product_id)
),
train AS (
    SELECT customer_id, product_id, 1 AS label FROM pos
    UNION ALL SELECT customer_id, product_id, 0 FROM neg
),
splits AS (
    SELECT label,
           CASE WHEN ('0x' || substr(md5(concat_ws('|', customer_id, product_id)), 1, 8))::BIGINT % 5 < 4
                THEN 'train' ELSE 'test' END AS split
    FROM train
)
SELECT split, label, COUNT(*) AS cnt FROM splits GROUP BY split, label
""",
)
def q_train_test_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 stratified 80/20 split (deterministic hash buckets — per-label
    proportions hold in expectation like ``train_test_split(stratify=y)``)
    + A11 class-distribution diagnostics, as one grouped count."""
    nodes, edges = property_graph(spark, sf_dir)
    pos = trav.positive_pairs(edges).withColumn("label", F.lit(1))
    neg = trav.negative_pairs(edges, nodes).withColumn("label", F.lit(0))
    train = pos.unionByName(neg)
    split = F.when(
        F.pmod(md5_int32(F.concat_ws("|", "customer_id", "product_id")), F.lit(5)) < 4, "train"
    ).otherwise("test")
    return train.select("label", split.alias("split")).groupBy("split", "label").agg(
        F.count("*").alias("cnt")
    )


# ---------------------------------------------------------------------------
# X1/X2: inactive-node pruning + deterministic edge dropout
# ---------------------------------------------------------------------------


@register(
    "inactive_node_pruning",
    f"""
WITH {GRAPH_EDGES_CTE.strip()},
last_seen AS (
    SELECT id, MAX(ts) AS last_ts FROM (
        SELECT src AS id, ts FROM edges WHERE ts IS NOT NULL
        UNION ALL
        SELECT dst, ts FROM edges WHERE ts IS NOT NULL
    ) GROUP BY id
)
SELECT id, strftime(CAST(last_ts AS DATE), '%Y-%m-%d') AS last_date,
       datediff('day', CAST(last_ts AS DATE), DATE '2002-01-01') AS inactive_days
FROM last_seen
WHERE datediff('day', CAST(last_ts AS DATE), DATE '2002-01-01') > 730
""",
)
def q_inactive_node_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: nodes whose most recent incident edge is older than 730 days
    (reference ``Node2vec_algorithm_inscripton.py:57-89``) — one exploded
    max-aggregate, no per-node loops."""
    _, edges = property_graph(spark, sf_dir)
    last_seen = (
        edges.filter(F.col("ts").isNotNull())
        .select(F.explode(F.array("src", "dst")).alias("id"), "ts")
        .groupBy("id")
        .agg(F.max("ts").alias("last_ts"))
    )
    inactive = F.datediff(F.lit("2002-01-01").cast("date"), F.col("last_ts").cast("date"))
    return (
        last_seen.select("id", F.date_format(F.col("last_ts").cast("date"), "yyyy-MM-dd").alias("last_date"), inactive.alias("inactive_days"))
        .filter(F.col("inactive_days") > 730)
    )


@register(
    "edge_dropout",
    f"""
WITH {GRAPH_EDGES_CTE.strip()}
SELECT type, COUNT(*) AS kept
FROM edges
WHERE dvid <> 1
   OR (('0x' || substr(md5(concat_ws('|', src, dst, CAST(ts AS VARCHAR))), 1, 8))::BIGINT % 100) >= 15
GROUP BY type
""",
)
def q_edge_dropout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: drop 15% of dvid-1 edges as structural noise (reference
    ``Node2vec_algorithm_inscripton.py:94-121`` uses random.sample; here the
    md5-hash keeps it reproducible in any engine — the seeded-rand form is
    ``F.rand(seed) >= 0.15``)."""
    _, edges = property_graph(spark, sf_dir)
    keep = (F.col("dvid") != 1) | (
        F.pmod(md5_int32(F.concat_ws("|", "src", "dst", F.col("ts").cast("string"))), F.lit(100)) >= 15
    )
    return edges.filter(keep).groupBy("type").agg(F.count("*").alias("kept"))


@register(
    "supplier_region_revenue",
    """
SELECT r.r_name AS region, n.n_name AS nation,
       CAST(COUNT(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
)
def q_supplier_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-side revenue rollup (the TPC-H Q5 join chain over the only
    fact→supplier path the testdata carries): lineitem ⋈ supplier ⋈ nation
    ⋈ region, decimal-exact discounted revenue per (region, nation). The
    three dim tables broadcast; the single shuffle is the final group-by."""
    t = load_tables(spark, sf_dir, names=("lineitem", "supplier", "nation", "region"))
    joined = (
        t["lineitem"].select("l_suppkey", "l_extendedprice", "l_discount")
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name", "n_regionkey")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"].select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(
        F.countDistinct("s_suppkey").alias("n_suppliers"),
        F.count(F.lit(1)).alias("n_lineitems"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)") * (1 - F.col("l_discount")).cast("decimal(8,4)")
        ).cast("double").alias("revenue"),
    )


@register(
    "copurchase_lift",
    """
WITH basket0 AS (
    SELECT DISTINCT o_custkey AS c, l_partkey AS p
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
-- hot-basket cap: a customer with b distinct products generates b^2/2
-- pairs, so unbounded baskets are the skew bomb of every market-basket
-- job; > 200 products => dropped (deterministic, mirrored both engines)
basket AS (
    SELECT * FROM basket0 WHERE c NOT IN (
        SELECT c FROM basket0 GROUP BY c HAVING COUNT(*) > 200
    )
),
n AS (SELECT COUNT(DISTINCT c) AS n_cust FROM basket),
prod AS (SELECT p, COUNT(*) AS cnt FROM basket GROUP BY p),
pairs AS (
    SELECT a.p AS prod_a, b.p AS prod_b, COUNT(*) AS support
    FROM basket a JOIN basket b ON a.c = b.c AND a.p < b.p
    GROUP BY a.p, b.p
)
SELECT prod_a, prod_b, CAST(support AS BIGINT) AS support,
       ROUND(CAST(support * n.n_cust AS DOUBLE) / (pa.cnt * pb.cnt), 6) AS lift
FROM pairs
JOIN prod pa ON pa.p = prod_a
JOIN prod pb ON pb.p = prod_b
CROSS JOIN n
WHERE support >= 5
ORDER BY lift DESC, prod_a ASC, prod_b ASC
LIMIT 50
""",
)
def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase lift — the baseline recommender the
    reference's domain implies: top-50 product pairs by
    lift = P(a,b) / (P(a)·P(b)) with a support floor. Pair generation is
    the per-customer basket self-join, pinned by a hot-basket cap (a
    b-product basket makes b²/2 pairs — the skew hatch every production
    market-basket job carries); all counts are exact integers so the lift
    ratios hash-match cross-engine; the top-50 is a deterministic
    TakeOrdered (lift desc, pair asc)."""
    basket = capped_basket(spark, sf_dir)
    n_cust = basket.select("c").distinct().count()
    prod = basket.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = qualifying_pairs(spark, sf_dir, minsup=4).filter(F.col("support") >= 5)
    out = (
        pairs.join(prod.select(F.col("p").alias("prod_a"), F.col("cnt").alias("cnt_a")), "prod_a")
        .join(prod.select(F.col("p").alias("prod_b"), F.col("cnt").alias("cnt_b")), "prod_b")
        .select(
            "prod_a",
            "prod_b",
            F.col("support").cast("long").alias("support"),
            F.round(
                (F.col("support") * F.lit(n_cust)).cast("double") / (F.col("cnt_a") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("prod_a"), F.asc("prod_b"))
        .limit(50)
    )
    return out


#: bump when the item-item/basket/popularity artifact builders' persisted
#: output changes (r10): folded into the hybrid store tag via
#: recsys_store.versioned_tag.
ITEM_ITEM_ALGO_VERSION = 1


@register(
    "item_item_neighbors",
    """
WITH basket0 AS (
    SELECT DISTINCT o_custkey AS c, l_partkey AS p
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
basket AS (
    SELECT * FROM basket0 WHERE c NOT IN (
        SELECT c FROM basket0 GROUP BY c HAVING COUNT(*) > 200
    )
),
prod AS (SELECT p, COUNT(*) AS cnt FROM basket GROUP BY p),
anchors AS (SELECT p, cnt FROM prod ORDER BY cnt DESC, p ASC LIMIT 100),
pairs AS (
    SELECT a.p AS anchor, b.p AS neighbor, COUNT(*) AS support
    FROM (SELECT bk.c, bk.p FROM basket bk JOIN anchors an ON bk.p = an.p) a
    JOIN basket b ON a.c = b.c AND a.p <> b.p
    GROUP BY a.p, b.p
),
scored AS (
    SELECT anchor, neighbor, support,
           CAST(support AS DOUBLE) / sqrt(CAST(pa.cnt * pb.cnt AS DOUBLE)) AS cos_raw
    FROM pairs
    JOIN anchors pa ON pa.p = anchor
    JOIN prod pb ON pb.p = neighbor
    WHERE support >= 3
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY anchor ORDER BY cos_raw DESC, neighbor ASC) AS rank
    FROM scored
)
SELECT anchor, CAST(rank AS INT) AS rank, neighbor,
       CAST(support AS BIGINT) AS support,
       ROUND(cos_raw, 6) AS cosine
FROM ranked WHERE rank <= 5
""",
)
def item_item_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized item-item CF neighbor table (anchor, rank, neighbor,
    support, cosine) — consumed by item_item_neighbors and the hybrid
    recommender; one anchor-pair join per verification run."""

    def build() -> DataFrame:
        basket = capped_basket(spark, sf_dir)
        prod = basket.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
        anchors = prod.orderBy(F.desc("cnt"), F.asc("p")).limit(100).localCheckpoint(eager=True)
        a = (
            basket.join(F.broadcast(anchors.select("p")), "p")
            .select("c", F.col("p").alias("anchor"))
        )
        b = basket.select("c", F.col("p").alias("neighbor"))
        pairs = (
            a.join(b, "c")
            .filter(F.col("anchor") != F.col("neighbor"))
            .groupBy("anchor", "neighbor")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= 3)
        )
        scored = (
            pairs.join(
                F.broadcast(
                    anchors.select(F.col("p").alias("anchor"), F.col("cnt").alias("cnt_a"))
                ),
                "anchor",
            )
            .join(prod.select(F.col("p").alias("neighbor"), F.col("cnt").alias("cnt_b")), "neighbor")
            .withColumn(
                "cos_raw",
                F.col("support").cast("double")
                / F.sqrt((F.col("cnt_a") * F.col("cnt_b")).cast("double")),
            )
        )
        from pyspark.sql import Window as W

        w = W.partitionBy("anchor").orderBy(F.desc("cos_raw"), F.asc("neighbor"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select(
                "anchor",
                F.col("rank").cast("int").alias("rank"),
                "neighbor",
                F.col("support").cast("long").alias("support"),
                F.round("cos_raw", 6).alias("cosine"),
            )
        )

    return memo(spark, ("item_item_topk", sf_dir), build)


def q_item_item_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering — the 'customers who bought X
    also bought Y' neighborhood model (the classic e-commerce recommender
    the reference's serving scripts approximate with per-customer
    category heuristics, e.g. ``took_recommandations_discount.py``):
    cosine similarity over binary customer-purchase vectors,
    cos(a,b) = |A∩B| / sqrt(|A|·|B|), top-5 neighbors per anchor.

    Scale design: the pair self-join is restricted to the top-100 anchor
    products BEFORE pair generation (broadcast semi-join — candidate
    volume is anchor-basket incidence, not |basket|²) and rides the same
    hot-basket cap as copurchase_lift; the per-anchor top-5 is a window
    partitioned by anchor (no single-partition sort). Cosine is exact
    ints + one IEEE sqrt + one division — engine-identical unrounded, so
    the rank window (cos desc, neighbor asc) is deterministic
    cross-engine; output rounds to 6dp.
    """
    return item_item_topk(spark, sf_dir)


@register(
    "recency_weighted_popularity",
    """
WITH purch AS (
    SELECT l_partkey AS p, CAST(o_orderdate AS DATE) AS d
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
mx AS (SELECT MAX(d) AS mx FROM purch),
terms AS (
    SELECT p,
           CAST(ROUND(POWER(0.5, date_diff('day', d, mx.mx) / 180.0), 12)
                AS DECIMAL(26,12)) AS term
    FROM purch CROSS JOIN mx
),
agg AS (
    SELECT p, SUM(term) AS score_dec, COUNT(*) AS n_purchases
    FROM terms GROUP BY p
)
SELECT p AS p_partkey, CAST(n_purchases AS BIGINT) AS n_purchases,
       ROUND(CAST(score_dec AS DOUBLE), 6) AS decayed_score
FROM agg
ORDER BY score_dec DESC, p ASC
LIMIT 20
""",
)
def q_recency_weighted_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay product popularity (180-day half-life) —
    the 'trending now' serving feature every storefront ranks by:
    score = Σ 2^(−age/180) over purchases, age relative to the corpus'
    latest order date. Each decay term is rounded to 12dp and summed in
    DECIMAL (order-independent, the repo's cross-engine pattern for
    float-termed aggregates), so the ranking — not just the rounded
    output — is engine-exact. One join + one aggregate; the 1-row max-
    date broadcast is the only fan-out."""
    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    purch = (
        t["orders"].join(t["lineitem"], t["orders"].o_orderkey == t["lineitem"].l_orderkey)
        .select(F.col("l_partkey").alias("p"), F.to_date("o_orderdate").alias("d"))
    )
    mx = purch.agg(F.max("d").alias("mx"))
    terms = purch.crossJoin(F.broadcast(mx)).select(
        "p",
        F.round(F.pow(F.lit(0.5), F.datediff("mx", "d") / F.lit(180.0)), 12)
        .cast("decimal(26,12)")
        .alias("term"),
    )
    agg = terms.groupBy("p").agg(
        F.sum("term").alias("score_dec"), F.count(F.lit(1)).alias("n_purchases")
    )
    return (
        agg.orderBy(F.desc("score_dec"), F.asc("p"))
        .limit(20)
        .select(
            F.col("p").alias("p_partkey"),
            F.col("n_purchases").cast("long").alias("n_purchases"),
            F.round(F.col("score_dec").cast("double"), 6).alias("decayed_score"),
        )
    )


@register(
    "discount_elasticity",
    """
WITH pts AS (
    SELECT p.p_type AS category,
           CAST(ROUND(l_discount * 100) AS BIGINT) AS x,
           CAST(l_quantity AS BIGINT) AS y
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
s AS (
    SELECT category,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM pts GROUP BY category
)
SELECT category, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS slope_qty_per_pct,
       ROUND((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS intercept_qty,
       ROUND(POWER(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
             6) AS r_squared
FROM s
ORDER BY category
""",
)
def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form per-category OLS of quantity on discount percentage —
    the demand-elasticity readout a pricing team runs before tuning the
    discount events the serving queries emit (R6 ``discount_events``):
    slope, intercept and R² of qty ~ discount, per product category.

    Scale design: the textbook two-pass regression (means first, then
    residuals) becomes ONE algebraic aggregate — discounts are exact
    integer percentage points (2dp doubles ×100) and quantities exact
    integers, so the five moment sums are integer-exact and map-side
    combinable (bounded values: Σxy ≤ 500·n fits BIGINT past 10^15
    rows); slope/intercept/R² are formed from the six exact sums in
    deterministic double expressions, identical cross-engine. One
    broadcast dim join + one shuffle."""
    t = load_tables(spark, sf_dir, names=("lineitem", "part"))
    pts = (
        t["lineitem"].join(
            F.broadcast(t["part"].select("p_partkey", "p_type")),
            t["lineitem"].l_partkey == F.col("p_partkey"),
        )
        .select(
            F.col("p_type").alias("category"),
            F.round(F.col("l_discount") * 100).cast("long").alias("x"),
            F.col("l_quantity").cast("long").alias("y"),
        )
    )
    s = pts.groupBy("category").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd, sxd, syd = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxyd, sxxd, syyd = (F.col(c).cast("double") for c in ("sxy", "sxx", "syy"))
    cov = nd * sxyd - sxd * syd
    varx = nd * sxxd - sxd * sxd
    vary = nd * syyd - syd * syd
    slope = cov / varx
    return s.select(
        "category",
        "n",
        F.round(slope, 6).alias("slope_qty_per_pct"),
        F.round((syd - slope * sxd) / nd, 6).alias("intercept_qty"),
        F.round(F.pow(cov, F.lit(2)) / (varx * vary), 6).alias("r_squared"),
    ).orderBy("category")


@register(
    "interpurchase_intervals",
    """
WITH seq AS (
    SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d, o_orderkey AS k,
           LEAD(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS nxt
    FROM orders
),
gaps AS (
    SELECT date_diff('day', d, nxt) AS gap FROM seq WHERE nxt IS NOT NULL
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM gaps)
SELECT CAST(floor(gap / 7) * 7 AS BIGINT) AS gap_week_lo,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(CAST(COUNT(*) AS DOUBLE) / tot.n, 6) AS share
FROM gaps CROSS JOIN tot
GROUP BY 1, tot.n
ORDER BY 1
""",
)
def q_interpurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution: days between consecutive
    orders per customer (deterministic lag order: date then order key),
    binned to weeks with the share of all gaps — the repeat-purchase
    cadence behind recency/frequency features (A8) and the time-decay
    half-life choice in ``recency_weighted_popularity``.

    Scale design: one customer-partitioned lead() window (the per-key
    sequence idiom — no global sort), then a bin-cardinality aggregate;
    the gap total is a 1-row broadcast. Integer day arithmetic
    end-to-end; the only division is cnt/total, same IEEE op in both
    engines."""
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    seq = orders.select(
        F.to_date("o_orderdate").alias("d"),
        F.lead(F.to_date("o_orderdate")).over(
            Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
        ).alias("nxt"),
    )
    gaps = seq.filter(F.col("nxt").isNotNull()).select(F.datediff("nxt", "d").alias("gap"))
    tot = gaps.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        gaps.crossJoin(F.broadcast(tot))
        .groupBy((F.floor(F.col("gap") / 7) * 7).cast("long").alias("gap_week_lo"), F.col("n"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "gap_week_lo",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n"), 6).alias("share"),
        )
        .orderBy("gap_week_lo")
    )


# ---------------------------------------------------------------------------
# RFM segmentation + rank-transform correlation (round-5: two more consumers
# of the distributed global-rank operator — quantile work with NO
# single-partition window anywhere in the Spark plan)
# ---------------------------------------------------------------------------


def _rfm_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer R/F/M metrics: days since last order (relative to the
    corpus max order date — a 1-row broadcast scalar), order count, and
    lifetime spend as exact cents-longs."""
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    base = orders.groupBy(F.col("o_custkey").alias("customer_id")).agg(
        F.max("o_orderdate").alias("last_dt"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("monetary_cents"),
    )
    asof = base.agg(F.max("last_dt").alias("asof"))
    return (
        base.crossJoin(F.broadcast(asof))
        .withColumn("recency_days", F.datediff("asof", "last_dt").cast("long"))
        .drop("asof")
    )


@register(
    "rfm_segments",
    """
WITH base AS (
    SELECT o_custkey AS customer_id, MAX(o_orderdate) AS last_dt,
           COUNT(*) AS frequency,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS monetary_cents
    FROM orders GROUP BY o_custkey
),
anchor AS (SELECT MAX(last_dt) AS anchor_dt FROM base),
feat AS (
    SELECT b.customer_id, b.frequency, b.monetary_cents,
           date_diff('day', b.last_dt, a.anchor_dt) AS recency_days
    FROM base b CROSS JOIN anchor a
),
rk AS (
    SELECT customer_id, frequency, monetary_cents,
           ROW_NUMBER() OVER (ORDER BY recency_days ASC, customer_id ASC) AS rr,
           ROW_NUMBER() OVER (ORDER BY frequency DESC, customer_id ASC) AS rf,
           ROW_NUMBER() OVER (ORDER BY monetary_cents DESC, customer_id ASC) AS rm,
           COUNT(*) OVER () AS n
    FROM feat
),
seg AS (
    SELECT customer_id, frequency, monetary_cents,
           CAST(LEAST(floor(round((rr - 1) * 5.0 / n, 9)), 4) AS INT) + 1 AS r_seg,
           CAST(LEAST(floor(round((rf - 1) * 5.0 / n, 9)), 4) AS INT) + 1 AS f_seg,
           CAST(LEAST(floor(round((rm - 1) * 5.0 / n, 9)), 4) AS INT) + 1 AS m_seg
    FROM rk
)
SELECT r_seg, f_seg, m_seg,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(((2 * CAST(SUM(monetary_cents) AS BIGINT) + COUNT(*)) // (2 * COUNT(*))) / 100.0, 2) AS avg_spend,
       ROUND(((2 * CAST(SUM(frequency) AS BIGINT) * 1000000 + COUNT(*)) // (2 * COUNT(*))) / 1000000.0, 6) AS avg_frequency
FROM seg GROUP BY r_seg, f_seg, m_seg
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer quintile-binned on Recency /
    Frequency / Monetary (1 = best), segment cells aggregated. Each
    quintile assignment is a GLOBAL rank — the classic place a naive
    plan funnels the customer relation through one window task — so all
    three ranks run through operators/ranking.global_rank_with_prefix
    (range partition + local windows + broadcast offsets; oracle uses the
    plain window, DuckDB is single-node anyway). Bin edges follow the
    repo's cross-engine floor guard."""
    from ..operators.ranking import global_rank_with_prefix

    feat = _rfm_base(spark, sf_dir).withColumn("_zero", F.lit(0).cast("long"))

    def quintile(df: DataFrame, order_cols, out: str) -> DataFrame:
        r = global_rank_with_prefix(df, order_cols, "_zero", n_parts=8)
        return r.withColumn(
            out,
            F.least(
                F.floor(F.round((F.col("rank") - 1) * 5.0 / F.col("total_n"), 9)),
                F.lit(4),
            ).cast("int")
            + F.lit(1),
        ).drop("rank", "cum_value", "total_n", "total_value")

    seg = quintile(feat, [F.asc("recency_days"), F.asc("customer_id")], "r_seg")
    seg = quintile(seg, [F.desc("frequency"), F.asc("customer_id")], "f_seg")
    seg = quintile(seg, [F.desc("monetary_cents"), F.asc("customer_id")], "m_seg")
    # segment means as exact integer HALF-UP arithmetic ((2s + n) DIV 2n):
    # a plain ROUND(sum/cnt/100, 2) lands exactly on .xx5 whenever cnt=2
    # and the cents sum is odd, and Spark (shortest-string BigDecimal,
    # half-up) and DuckDB (binary double, half-even-ish) disagree on that
    # boundary — the 2dp sibling of the repo's floor-guard convention
    agg = seg.groupBy("r_seg", "f_seg", "m_seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("sm"),
        F.sum("frequency").cast("long").alias("sfr"),
    )
    return agg.select(
        "r_seg",
        "f_seg",
        "m_seg",
        "n_customers",
        F.round(
            F.expr("(2 * sm + n_customers) DIV (2 * n_customers)") / 100.0, 2
        ).alias("avg_spend"),
        F.round(
            F.expr("(2 * sfr * 1000000 + n_customers) DIV (2 * n_customers)") / 1000000.0, 6
        ).alias("avg_frequency"),
    )


@register(
    "degree_spend_spearman",
    """
WITH degs AS (
    SELECT o.o_custkey AS customer_id,
           COUNT(DISTINCT l.l_partkey) AS deg
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
),
spend AS (
    SELECT o_custkey AS customer_id,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS sp
    FROM orders GROUP BY o_custkey
),
feat AS (
    SELECT d.customer_id, d.deg, s.sp
    FROM degs d JOIN spend s ON s.customer_id = d.customer_id
),
rx AS (
    SELECT customer_id, deg, sp,
           ROW_NUMBER() OVER (ORDER BY deg ASC, customer_id ASC) AS rkx,
           ROW_NUMBER() OVER (ORDER BY sp ASC, customer_id ASC) AS rky
    FROM feat
),
avgd AS (
    SELECT customer_id,
           CAST(ROUND(2 * AVG(rkx) OVER (PARTITION BY deg)) AS BIGINT) AS rx2,
           CAST(ROUND(2 * AVG(rky) OVER (PARTITION BY sp)) AS BIGINT) AS ry2
    FROM rx
),
s AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(rx2 AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(ry2 AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(rx2 * rx2 AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(ry2 * ry2 AS DECIMAL(38,0))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(rx2 * ry2 AS DECIMAL(38,0))) AS DOUBLE) AS sxy
    FROM avgd
)
SELECT CAST(n AS BIGINT) AS n_customers,
       ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS rho_spearman
FROM s
""",
)
def q_degree_spend_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's product-degree
    (distinct parts purchased — their graph degree on the PURCHASED
    projection) and lifetime spend, with PROPER tie handling: row ranks
    come from the distributed global-rank operator, tie groups then
    average their ranks via a per-value aggregate + join-back (never a
    single-partition window). Average ranks are half-integers, so they
    ride doubled as exact longs; moment sums accumulate in DECIMAL(38,0)
    (Σ rank² wraps BIGINT near billion-row scale) and the final Pearson
    on ranks is identical double arithmetic on both engines."""
    from ..operators.ranking import global_rank_with_prefix

    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    feat = (
        t["orders"]
        .select(F.col("o_custkey").alias("customer_id"), "o_orderkey", "o_totalprice")
        .join(
            t["lineitem"].select("l_orderkey", "l_partkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("customer_id")
        .agg(
            F.countDistinct("l_partkey").alias("deg"),
            # o_totalprice repeats per lineitem row; aggregate from the
            # distinct order grain to keep spend = the per-ORDER sum
        )
        .join(
            t["orders"]
            .groupBy(F.col("o_custkey").alias("customer_id"))
            .agg(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sp")
            ),
            "customer_id",
        )
        .withColumn("_zero", F.lit(0).cast("long"))
    )

    def avg_rank2(df: DataFrame, metric: str, out: str) -> DataFrame:
        r = global_rank_with_prefix(df, [F.asc(metric), F.asc("customer_id")], "_zero", n_parts=8)
        per_value = (
            r.groupBy(metric)
            .agg(F.round(F.avg("rank") * 2).cast("long").alias(out))
        )
        return r.join(per_value, metric).drop(
            "rank", "cum_value", "total_n", "total_value"
        )

    d = avg_rank2(feat, "deg", "rx2")
    d = avg_rank2(d, "sp", "ry2")
    dec = "decimal(38,0)"
    s = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx2").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("ry2").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("rx2") * F.col("rx2")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("ry2") * F.col("ry2")).cast(dec)).cast("double").alias("syy"),
        F.sum((F.col("rx2") * F.col("ry2")).cast(dec)).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(
            (nd * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (nd * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (nd * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("rho_spearman"),
    )


@register(
    "frequent_triples",
    """
WITH basket0 AS (
    SELECT DISTINCT o_custkey AS c, l_partkey AS p
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
basket AS (
    SELECT * FROM basket0 WHERE c NOT IN (
        SELECT c FROM basket0 GROUP BY c HAVING COUNT(*) > 200
    )
),
qual AS (
    SELECT a.p AS prod_a, b.p AS prod_b, COUNT(*) AS support
    FROM basket a JOIN basket b ON a.c = b.c AND a.p < b.p
    GROUP BY a.p, b.p HAVING COUNT(*) >= 4
),
qitems AS (
    SELECT DISTINCT prod_a AS p FROM qual
    UNION
    SELECT DISTINCT prod_b FROM qual
),
-- apriori item prune: only items that appear in SOME qualifying pair can
-- appear in a qualifying triple, so the pair expansion below runs over
-- the pruned basket, not the full one
bq AS (SELECT b.c, b.p FROM basket b JOIN qitems qi ON qi.p = b.p),
b12 AS (
    SELECT a.c, a.p AS p1, b.p AS p2
    FROM bq a JOIN bq b ON a.c = b.c AND a.p < b.p
    JOIN qual q ON q.prod_a = a.p AND q.prod_b = b.p
),
tri AS (
    SELECT t.p1, t.p2, x.p AS p3, COUNT(*) AS support
    FROM b12 t JOIN bq x ON x.c = t.c AND x.p > t.p2
    JOIN qual qa ON qa.prod_a = t.p1 AND qa.prod_b = x.p
    JOIN qual qb ON qb.prod_a = t.p2 AND qb.prod_b = x.p
    GROUP BY t.p1, t.p2, x.p HAVING COUNT(*) >= 3
)
SELECT t.p1, t.p2, t.p3, CAST(t.support AS BIGINT) AS support,
       ROUND(CAST(t.support AS DOUBLE) / q.support, 6) AS conf_12_3
FROM tri t JOIN qual q ON q.prod_a = t.p1 AND q.prod_b = t.p2
ORDER BY support DESC, p1 ASC, p2 ASC, p3 ASC
LIMIT 100
""",
)
def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed apriori L3 step: frequent product triples built ONLY
    from qualifying pairs — candidate generation is (frequent-pair
    occurrences) x basket extension with BOTH new sub-pairs semi-joined
    against the L2 set before any counting, the classic anti-monotone
    prune that keeps candidate volume support-bounded instead of
    basket-cubed. Shares the capped basket AND the L2 pair relation
    (plans memos) with copurchase_lift/item_item_neighbors/
    adamic_adar_links; all counts exact integers, confidence of the
    {p1,p2} -> p3 rule rounded at 6dp; top-100 is a deterministic
    TakeOrdered."""
    basket = capped_basket(spark, sf_dir)
    qual = qualifying_pairs(spark, sf_dir, minsup=4)
    # apriori item prune: only items inside SOME qualifying pair can be in
    # a qualifying triple — shrink the basket BEFORE the pair expansion
    qitems = (
        qual.select(F.col("prod_a").alias("p"))
        .union(qual.select(F.col("prod_b").alias("p")))
        .distinct()
    )
    bq = basket.join(qitems, "p", "left_semi")
    a = bq.select("c", F.col("p").alias("p1"))
    b = bq.select("c", F.col("p").alias("p2"))
    b12 = (
        a.join(b, "c")
        .filter(F.col("p1") < F.col("p2"))
        .join(
            qual.select(F.col("prod_a").alias("p1"), F.col("prod_b").alias("p2")),
            ["p1", "p2"],
            "left_semi",
        )
    )
    ext = (
        b12.join(bq.select("c", F.col("p").alias("p3")), "c")
        .filter(F.col("p3") > F.col("p2"))
        .join(
            qual.select(F.col("prod_a").alias("p1"), F.col("prod_b").alias("p3")),
            ["p1", "p3"],
            "left_semi",
        )
        .join(
            qual.select(F.col("prod_a").alias("p2"), F.col("prod_b").alias("p3")),
            ["p2", "p3"],
            "left_semi",
        )
    )
    tri = (
        ext.groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    return (
        tri.join(
            qualifying_pairs(spark, sf_dir, minsup=4).select(
                F.col("prod_a").alias("p1"),
                F.col("prod_b").alias("p2"),
                F.col("support").alias("s12"),
            ),
            ["p1", "p2"],
        )
        .select(
            "p1",
            "p2",
            "p3",
            F.col("support").cast("long").alias("support"),
            F.round(F.col("support").cast("double") / F.col("s12"), 6).alias("conf_12_3"),
        )
        .orderBy(F.desc("support"), F.asc("p1"), F.asc("p2"), F.asc("p3"))
        .limit(100)
    )


@register(
    "large_volume_customers",
    """
WITH big AS (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 200
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       ROUND(o.o_totalprice, 2) AS o_totalprice,
       CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN big ON big.l_orderkey = o.o_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
""",
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (the classic TPC-H Q18 shape): orders whose
    line quantities sum past a threshold, joined back to the customer —
    the aggregate-subquery-as-semi-join pattern that exercises the
    optimizer's decorrelation. The HAVING aggregate runs ONCE as a keyed
    aggregate and semi-joins the fact table (never a correlated per-row
    re-aggregation); quantities ride as exact ints."""
    t = load_tables(spark, sf_dir, names=("customer", "orders", "lineitem"))
    qty = F.round(F.col("l_quantity")).cast("long")
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(qty).alias("sq"))
        .filter(F.col("sq") > 200)
        .select("l_orderkey")
    )
    return (
        t["customer"]
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(big, "l_orderkey", "left_semi")
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        .agg(F.sum(qty).cast("long").alias("sum_qty"))
    )


@register(
    "min_cost_supplier_region",
    """
WITH offer AS (
    SELECT l.l_partkey AS p, l.l_suppkey AS s,
           ROUND(MIN(l.l_extendedprice / l.l_quantity), 6) AS unit_cost
    FROM lineitem l
    JOIN supplier su ON su.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = su.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE' AND l.l_quantity > 0
    GROUP BY l.l_partkey, l.l_suppkey
),
best AS (
    SELECT p, s, unit_cost,
           ROW_NUMBER() OVER (PARTITION BY p ORDER BY unit_cost ASC, s ASC) AS rnk
    FROM offer
)
SELECT b.p AS p_partkey, pa.p_name, b.s AS s_suppkey, su.s_name, b.unit_cost
FROM best b
JOIN part pa ON pa.p_partkey = b.p
JOIN supplier su ON su.s_suppkey = b.s
WHERE b.rnk = 1
ORDER BY b.unit_cost ASC, b.p ASC
LIMIT 100
""",
)
def q_min_cost_supplier_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier per part within a region (the TPC-H Q2
    shape, using observed per-line unit prices since the schema carries
    no partsupp): the correlated 'supplier with MIN cost for this part'
    subquery expressed as one keyed aggregate + a per-part rank window —
    the decorrelation every optimizer-workout suite checks. Unit costs
    are identical IEEE divisions on both engines, so the 6dp-rounded
    ranking is deterministic; region filter prunes at the dim side
    before the fact join."""
    t = load_tables(spark, sf_dir, names=("lineitem", "supplier", "nation", "region", "part"))
    offer = (
        t["lineitem"]
        .filter(F.col("l_quantity") > 0)
        .join(
            t["supplier"].select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            t["nation"].select("n_nationkey", "n_regionkey"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            t["region"].filter(F.col("r_name") == "EUROPE").select("r_regionkey"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .agg(
            F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 6).alias(
                "unit_cost"
            )
        )
    )
    w = Window.partitionBy("p").orderBy(F.asc("unit_cost"), F.asc("s"))
    best = offer.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") == 1)
    return (
        best.join(
            load_tables(spark, sf_dir, names=("part",))["part"].select(
                F.col("p_partkey"), "p_name"
            ),
            best.p == F.col("p_partkey"),
        )
        .join(
            t["supplier"].select(F.col("s_suppkey").alias("sk"), "s_name"),
            best.s == F.col("sk"),
        )
        .select(
            "p_partkey",
            "p_name",
            F.col("s").alias("s_suppkey"),
            "s_name",
            "unit_cost",
        )
        .orderBy(F.asc("unit_cost"), F.asc("p_partkey"))
        .limit(100)
    )


@register(
    "nation_trade_flows",
    """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                * CAST(1 - l.l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
""",
)
def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-nation trade volume by ship year (the TPC-H Q7 shape): the
    two-role nation dimension joined from both the supplier and the
    customer side of every line — the multi-hop star join whose dim
    tables must all broadcast. Revenue accumulates in DECIMAL (the
    repo's exact-money convention), so the per-(pair, year) sums are
    engine-identical."""
    t = load_tables(
        spark, sf_dir, names=("lineitem", "supplier", "nation", "orders", "customer")
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
    )
    return (
        t["lineitem"]
        .join(t["supplier"].select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(t["orders"].select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"].select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@register(
    "nation_market_share",
    """
WITH eu_lines AS (
    SELECT year(o.o_orderdate) AS o_year,
           n1.n_name AS supp_nation,
           CAST(l.l_extendedprice AS DECIMAL(18,4))
               * CAST(1 - l.l_discount AS DECIMAL(8,4)) AS rev
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n2.n_regionkey
    WHERE r.r_name = 'EUROPE'
)
SELECT CAST(o_year AS INT) AS o_year,
       CAST(SUM(rev) AS DOUBLE) AS total_revenue,
       CAST(SUM(CASE WHEN supp_nation = 'GERMANY' THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS germany_revenue,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'GERMANY' THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE), 6) AS mkt_share
FROM eu_lines GROUP BY o_year
""",
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (the TPC-H Q8 shape): GERMANY's revenue
    share among all supplier nations selling to EUROPE customers, by
    order year — the conditional-aggregate-over-a-star-join pattern.
    Revenue sums are exact DECIMAL on both engines, so the share ratio
    divides identical doubles; the region filter prunes the customer dim
    before the fact join."""
    t = load_tables(
        spark, sf_dir, names=("lineitem", "supplier", "nation", "orders", "customer", "region")
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
    )
    eu = (
        t["lineitem"]
        .join(t["supplier"].select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(
                t["nation"].select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
            ),
            F.col("s_nationkey") == F.col("nk1"),
        )
        .join(t["orders"].select("o_orderkey", "o_custkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"].select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(
                t["nation"].select(F.col("n_nationkey").alias("nk2"), F.col("n_regionkey").alias("rk"))
            ),
            F.col("c_nationkey") == F.col("nk2"),
        )
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE").select("r_regionkey")),
            F.col("rk") == F.col("r_regionkey"),
        )
        .select(F.year("o_orderdate").alias("o_year"), "supp_nation", rev.alias("rev"))
    )
    de = F.when(F.col("supp_nation") == "GERMANY", F.col("rev")).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return eu.groupBy(F.col("o_year").cast("int").alias("o_year")).agg(
        F.sum("rev").cast("double").alias("total_revenue"),
        F.sum(de).cast("double").alias("germany_revenue"),
        F.round(F.sum(de).cast("double") / F.sum("rev").cast("double"), 6).alias("mkt_share"),
    )


@register(
    "ltv_cohort_triangle",
    """
WITH first_m AS (
    SELECT o_custkey AS c, date_trunc('month', MIN(o_orderdate)) AS cohort
    FROM orders GROUP BY o_custkey
),
sizes AS (SELECT cohort, COUNT(*) AS cohort_size FROM first_m GROUP BY cohort),
per AS (
    SELECT f.cohort, f.c,
           (year(o.o_orderdate) - year(f.cohort)) * 12
               + (month(o.o_orderdate) - month(f.cohort)) AS month_offset,
           SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders o JOIN first_m f ON f.c = o.o_custkey
    GROUP BY f.cohort, f.c, month_offset
),
po AS (
    SELECT cohort, month_offset,
           COUNT(*) AS n_active,
           SUM(cents) AS period_cents
    FROM per GROUP BY cohort, month_offset
),
cum AS (
    SELECT cohort, month_offset, n_active, period_cents,
           SUM(period_cents) OVER (PARTITION BY cohort ORDER BY month_offset
                                   ROWS UNBOUNDED PRECEDING) AS cum_cents
    FROM po
)
SELECT strftime(cu.cohort, '%Y-%m') AS cohort,
       CAST(cu.month_offset AS INT) AS month_offset,
       CAST(cu.n_active AS BIGINT) AS n_active,
       ROUND(CAST(cu.period_cents AS BIGINT) / 100.0, 2) AS period_spend,
       ROUND(((2 * CAST(cu.cum_cents AS BIGINT) + s.cohort_size) // (2 * s.cohort_size)) / 100.0, 2)
           AS cum_spend_per_customer
FROM cum cu JOIN sizes s ON s.cohort = cu.cohort
""",
)
def q_ltv_cohort_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LTV cohort triangle: customers cohorted by first-order month,
    spend accumulated per months-since-first-order — the growth-
    analytics table every subscription/commerce business tracks. Spend
    rides as exact cents-longs; the cumulative is a per-cohort window
    over <= months-of-history rows (never row-scale); the per-customer
    mean uses the exact integer HALF-UP ((2s+n) DIV 2n) from
    rfm_segments, since ROUND(sum/size, 2) sits exactly on .xx5 for
    2-customer cohorts with odd cents."""
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    first_m = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    sizes = first_m.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    per = (
        orders.join(first_m, orders.o_custkey == first_m.c)
        .select(
            "cohort",
            "c",
            (
                (F.year("o_orderdate") - F.year("cohort")) * 12
                + (F.month("o_orderdate") - F.month("cohort"))
            ).alias("month_offset"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents0"),
        )
        .groupBy("cohort", "c", "month_offset")
        .agg(F.sum("cents0").alias("cents"))
    )
    po = per.groupBy("cohort", "month_offset").agg(
        F.count(F.lit(1)).alias("n_active"), F.sum("cents").alias("period_cents")
    )
    w = Window.partitionBy("cohort").orderBy("month_offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = po.withColumn("cum_cents", F.sum("period_cents").over(w))
    return (
        cum.join(sizes, "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort"),
            F.col("month_offset").cast("int").alias("month_offset"),
            F.col("n_active").cast("long").alias("n_active"),
            F.round(F.col("period_cents").cast("long") / 100.0, 2).alias("period_spend"),
            F.round(
                F.expr("(2 * CAST(cum_cents AS BIGINT) + cohort_size) DIV (2 * cohort_size)")
                / 100.0,
                2,
            ).alias("cum_spend_per_customer"),
        )
    )


@register(
    "supplier_ship_latency",
    """
WITH lat AS (
    SELECT n.n_name AS supp_nation,
           date_diff('day', o.o_orderdate, l.l_shipdate) AS ship_days
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
)
SELECT supp_nation,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(((2 * CAST(SUM(ship_days) AS BIGINT) * 10000 + COUNT(*))
              // (2 * COUNT(*))) / 10000.0, 4) AS avg_ship_days,
       CAST(MAX(ship_days) AS BIGINT) AS max_ship_days,
       CAST(SUM(CASE WHEN ship_days > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       ROUND(((2 * CAST(SUM(CASE WHEN ship_days > 90 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
               + COUNT(*)) // (2 * COUNT(*))) / 1000000.0, 6) AS late_rate
FROM lat GROUP BY supp_nation
""",
)
def q_supplier_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier fulfillment latency by nation (the operational SLA view a
    marketplace watches): days from order to line ship, with the >90-day
    late share. Day counts are integers, so the late flag needs no
    round guard; both means use the exact integer HALF-UP convention
    (ROUND on a sum/count double sits exactly on the half boundary
    whenever the divisor's factors allow a terminating expansion)."""
    t = load_tables(spark, sf_dir, names=("lineitem", "orders", "supplier", "nation"))
    lat = (
        t["lineitem"]
        .join(t["orders"].select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"].select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(
                t["nation"].select(F.col("n_nationkey").alias("nk"), F.col("n_name").alias("supp_nation"))
            ),
            F.col("s_nationkey") == F.col("nk"),
        )
        .select("supp_nation", F.datediff("l_shipdate", "o_orderdate").cast("long").alias("ship_days"))
    )
    agg = lat.groupBy("supp_nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ship_days").cast("long").alias("sd"),
        F.max("ship_days").cast("long").alias("max_ship_days"),
        F.sum(F.when(F.col("ship_days") > 90, 1).otherwise(0)).cast("long").alias("nl"),
    )
    return agg.select(
        "supp_nation",
        F.col("n").cast("long").alias("n_lines"),
        F.round(F.expr("(2 * sd * 10000 + n) DIV (2 * n)") / 10000.0, 4).alias("avg_ship_days"),
        "max_ship_days",
        F.col("nl").alias("n_late"),
        F.round(F.expr("(2 * nl * 1000000 + n) DIV (2 * n)") / 1000000.0, 6).alias("late_rate"),
    )
