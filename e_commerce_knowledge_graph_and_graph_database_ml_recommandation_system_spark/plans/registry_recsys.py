"""Registry entries: recommender-evaluation and graph link-prediction
heuristics — the offline companions to the serving queries. The reference
trains an ML link predictor (``xgboost_training_for_big_data.py``) and
serves heuristic recommendations (``took_recommandations_*.py``) but never
closes the loop with classic graph heuristics or a ranked-retrieval eval;
these entries add both as first-class, oracle-checked queries.

Imported by plans/registry (same late-import pattern as the other
registry_* modules).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..api import property_graph
from ..sources.tables import load_tables
from .registry import GRAPH_EDGES_CTE, register, shared_node_degrees
from .registry_relational import capped_basket

# ---------------------------------------------------------------------------
# Adamic-Adar / common-neighbors / Jaccard link prediction over the
# customer-product bipartite graph (product-product projection)
# ---------------------------------------------------------------------------


@register(
    "adamic_adar_links",
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
bsize AS (SELECT c, COUNT(*) AS b FROM basket GROUP BY c),
prod AS (SELECT p, COUNT(*) AS cnt FROM basket GROUP BY p),
pairs AS (
    SELECT a.p AS prod_a, b.p AS prod_b,
           COUNT(*) AS cn,
           SUM(CAST(ROUND(CAST(1 AS DOUBLE) / ln(CAST(bs.b AS DOUBLE)), 12)
               AS DECIMAL(26,12))) AS aa_dec
    FROM basket a
    JOIN basket b ON a.c = b.c AND a.p < b.p
    JOIN bsize bs ON bs.c = a.c
    GROUP BY a.p, b.p
    HAVING COUNT(*) >= 5
)
SELECT prod_a, prod_b, CAST(cn AS BIGINT) AS common_neighbors,
       ROUND(CAST(aa_dec AS DOUBLE), 6) AS adamic_adar,
       ROUND(CAST(cn AS DOUBLE) / (pa.cnt + pb.cnt - cn), 6) AS jaccard
FROM pairs
JOIN prod pa ON pa.p = prod_a
JOIN prod pb ON pb.p = prod_b
ORDER BY aa_dec DESC, prod_a ASC, prod_b ASC
LIMIT 50
""",
)
def q_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic link-prediction heuristics on the product-product
    projection of the purchase graph: common neighbors, Adamic-Adar
    (AA = sum over shared customers of 1/ln(basket size) — rare shared
    customers count more), and Jaccard |A∩B| / |A∪B| — the no-ML
    baselines for the reference's learned link predictor
    (``xgboost_training_for_big_data.py`` frames the same task as
    features + GBT).

    Scale design: pair generation rides the same 200-product hot-basket
    cap as copurchase_lift (candidate volume is capped-basket incidence,
    never |basket|²); each AA term is rounded to 12dp and summed in
    DECIMAL so both the scores and the top-50 ranking (aa desc, pair asc)
    are engine-exact; common-neighbor and degree counts are exact
    integers, so Jaccard is one IEEE division."""
    basket = capped_basket(spark, sf_dir)
    bsize = basket.groupBy("c").agg(F.count(F.lit(1)).alias("b"))
    prod = basket.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
    a = basket.join(bsize, "c").select("c", F.col("p").alias("prod_a"), "b")
    b = basket.select("c", F.col("p").alias("prod_b"))
    pairs = (
        a.join(b, "c")
        .filter(F.col("prod_a") < F.col("prod_b"))
        .groupBy("prod_a", "prod_b")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(
                F.round(F.lit(1.0) / F.log(F.col("b").cast("double")), 12).cast("decimal(26,12)")
            ).alias("aa_dec"),
        )
        .filter(F.col("cn") >= 5)
    )
    out = (
        pairs.join(prod.select(F.col("p").alias("prod_a"), F.col("cnt").alias("cnt_a")), "prod_a")
        .join(prod.select(F.col("p").alias("prod_b"), F.col("cnt").alias("cnt_b")), "prod_b")
        .orderBy(F.desc("aa_dec"), F.asc("prod_a"), F.asc("prod_b"))
        .limit(50)
        .select(
            "prod_a",
            "prod_b",
            F.col("cn").cast("long").alias("common_neighbors"),
            F.round(F.col("aa_dec").cast("double"), 6).alias("adamic_adar"),
            F.round(
                F.col("cn").cast("double") / (F.col("cnt_a") + F.col("cnt_b") - F.col("cn")), 6
            ).alias("jaccard"),
        )
        .localCheckpoint(eager=True)
    )
    return out


# ---------------------------------------------------------------------------
# Degree assortativity of the property graph
# ---------------------------------------------------------------------------


@register(
    "degree_assortativity",
    f"""
WITH {GRAPH_EDGES_CTE.strip()},
both_ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
deg AS (SELECT id, COUNT(*) AS degree FROM both_ends GROUP BY id),
ends AS (
    SELECT ds.degree AS x, dd.degree AS y
    FROM edges e JOIN deg ds ON e.src = ds.id JOIN deg dd ON e.dst = dd.id
),
sym AS (SELECT x, y FROM ends UNION ALL SELECT y, x FROM ends),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(x AS DECIMAL(19,0))) AS sx,
           SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
           SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
    FROM sym
)
SELECT n AS n_edge_ends,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS assortativity
FROM s
""",
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the property
    graph: the Pearson correlation of end-point degrees over all edges,
    symmetrized — do hubs attach to hubs (r>0, social-network-like) or to
    leaves (r<0, hub-and-spoke, the typical retail bipartite shape)? The
    one-number structural summary the reference's degree analysis
    (``degree_analysis.py``) stops short of.

    Scale design: two node-keyed degree joins + one global algebraic
    aggregate; every moment is accumulated EXACTLY in DECIMAL (sums of
    degree products overflow BIGINT at billion-edge scale) and the
    Pearson ratio is formed from the six exact sums in one deterministic
    double expression — no row-scale float accumulation, no second pass
    (the textbook two-pass corr() needs the means first; the algebraic
    form shuffles once)."""
    # NOTE (r12, terminal): a full numeric-key pushdown (end-degrees
    # re-derived per edge family from the source tables on long keys, no
    # string edge relation) was built, oracle-verified, and A/B'd in
    # adjacent windows: count 1.01/noop 1.13 s here vs ~0.9-1.2 s
    # canary-adjusted for the pushdown — a wash at best, because THIS form
    # amortizes the degree build across five registry consumers via the
    # shared memos while the pushdown recomputes five aggregates per
    # execution. Closed; do not re-try without removing the memo sharing
    # first.
    _, edges = property_graph(spark, sf_dir)
    deg = shared_node_degrees(spark, sf_dir)
    ends = (
        edges.select("src", "dst")
        .join(deg.select(F.col("id").alias("src"), F.col("degree").alias("x")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("degree").alias("y")), "dst")
        .select("x", "y")
    )
    # r12 (§1.2 don't compute twice): the symmetrizing union evaluated the
    # `ends` join subtree TWICE (broadcast joins leave no exchange for AQE
    # to reuse — the 920k-edge probe ran once per branch). The symmetric
    # moments are exact decimal algebra over ONE pass: n = 2·cnt,
    # sx_sym = Σx + Σy, sxx_sym = Σx² + Σy², sxy_sym = 2·Σxy — the same
    # integers the union produced, in the same DECIMAL arithmetic.
    dec = "decimal(19,0)"
    e = ends.agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col("x").cast(dec)).alias("ex"),
        F.sum(F.col("y").cast(dec)).alias("ey"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("exx"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("eyy"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).alias("exy"),
    )
    s = e.select(
        (F.col("cnt") * 2).alias("n"),
        (F.col("ex") + F.col("ey")).alias("sx"),
        (F.col("exx") + F.col("eyy")).alias("sxx"),
        (F.col("exy") * 2).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    return s.select(
        F.col("n").alias("n_edge_ends"),
        F.round(
            (nd * F.col("sxy").cast("double") - sxd * sxd)
            / (nd * F.col("sxx").cast("double") - sxd * sxd),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Ranked-retrieval evaluation of the popularity recommender under a
# temporal holdout (precision/recall/MRR/NDCG @5)
# ---------------------------------------------------------------------------

_EVAL_CUTOFF = "2001-01-01"
_EVAL_K = 5
# rank -> discount/reciprocal literals, rounded once in Python and embedded
# verbatim in BOTH engines so no cross-engine log2/division can disagree
_DISC = {r: round(1.0 / math.log2(r + 1), 12) for r in range(1, _EVAL_K + 1)}
_RECIP = {r: round(1.0 / r, 12) for r in range(1, _EVAL_K + 1)}
_IDCG = {m: round(sum(_DISC[r] for r in range(1, m + 1)), 12) for m in range(1, _EVAL_K + 1)}


def _case_sql(col: str, mapping: dict, clamp: bool = False) -> str:
    """CASE expression mapping 1..K (clamped at K when asked) to literals."""
    arms = " ".join(
        f"WHEN {col} {'>=' if clamp and r == _EVAL_K else '='} {r} THEN {mapping[r]:.12f}"
        for r in sorted(mapping, reverse=clamp)
    )
    return f"CASE {arms} ELSE 0.0 END"


def _case_col(col, mapping: dict, clamp: bool = False):
    expr = F.lit(0.0)
    for r in sorted(mapping):
        cond = (col >= r) if (clamp and r == _EVAL_K) else (col == r)
        expr = F.when(cond, F.lit(mapping[r])).otherwise(expr)
    return expr


@register(
    "rec_eval_popularity",
    f"""
WITH train AS (
    SELECT DISTINCT o_custkey AS c, l_partkey AS p
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderdate < DATE '{_EVAL_CUTOFF}'
),
test AS (
    SELECT DISTINCT o_custkey AS c, l_partkey AS p
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderdate >= DATE '{_EVAL_CUTOFF}'
),
top10 AS (
    SELECT p, ROW_NUMBER() OVER (ORDER BY cnt DESC, p ASC) AS pop_rank
    FROM (SELECT p, COUNT(*) AS cnt FROM train GROUP BY p)
    ORDER BY cnt DESC, p ASC LIMIT 10
),
eval_cust AS (SELECT c, COUNT(*) AS n_test FROM test GROUP BY c),
recs0 AS (
    SELECT ec.c, ec.n_test, t.p, t.pop_rank
    FROM eval_cust ec CROSS JOIN top10 t
    WHERE NOT EXISTS (SELECT 1 FROM train tr WHERE tr.c = ec.c AND tr.p = t.p)
),
recs AS (
    SELECT c, n_test, p,
           ROW_NUMBER() OVER (PARTITION BY c ORDER BY pop_rank ASC) AS rec_rank
    FROM recs0
),
hits AS (
    SELECT r.c, r.rec_rank
    FROM (SELECT * FROM recs WHERE rec_rank <= {_EVAL_K}) r
    JOIN test ts ON ts.c = r.c AND ts.p = r.p
),
per_cust AS (
    SELECT ec.c,
           CAST(COALESCE(h.n_hits, 0) AS DECIMAL(26,12)) / {_EVAL_K} AS prec,
           CAST(ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / ec.n_test, 12)
                AS DECIMAL(26,12)) AS rec,
           CAST({_case_sql('h.first_hit', _RECIP)} AS DECIMAL(26,12)) AS mrr,
           CAST(ROUND(CAST(COALESCE(h.dcg, 0) AS DOUBLE)
                / {_case_sql('ec.n_test', _IDCG, clamp=True)}, 12)
                AS DECIMAL(26,12)) AS ndcg
    FROM eval_cust ec
    LEFT JOIN (
        SELECT c, COUNT(*) AS n_hits, MIN(rec_rank) AS first_hit,
               SUM(CAST({_case_sql('rec_rank', _DISC)} AS DECIMAL(26,12))) AS dcg
        FROM hits GROUP BY c
    ) h ON h.c = ec.c
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_customers,
       ROUND(CAST(SUM(prec) AS DOUBLE) / COUNT(*), 6) AS precision_at_5,
       ROUND(CAST(SUM(rec) AS DOUBLE) / COUNT(*), 6) AS recall_at_5,
       ROUND(CAST(SUM(mrr) AS DOUBLE) / COUNT(*), 6) AS mrr_at_5,
       ROUND(CAST(SUM(ndcg) AS DOUBLE) / COUNT(*), 6) AS ndcg_at_5
FROM per_cust
""",
)
def q_rec_eval_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-retrieval evaluation harness under a temporal holdout: train
    the popularity recommender on purchases before {cutoff}, recommend
    each held-out customer the top-10 popular products MINUS what they
    already bought (the reference's purchased-exclusion rule,
    ``took_recommandations_discount.py``), truncate to 5, and score
    against their post-cutoff purchases with the standard offline metrics
    — macro precision@5, recall@5, MRR@5, NDCG@5. The popularity baseline
    is the floor every personalized recommender must beat; the harness
    (temporal split -> exclusion -> top-k -> macro metrics) is the
    reusable part.

    Scale design: candidate volume is |eval customers| x 10 (a broadcast
    of the 10-row popularity list), never catalog-sized; the exclusion is
    one (c,p) anti-join against train; all rank discounts and reciprocals
    are Python-rounded literals embedded in BOTH engines (no cross-engine
    log2), and per-customer metrics are 12dp-rounded decimals so the
    macro means are order-independent."""
    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    purch = (
        t["orders"].join(t["lineitem"], t["orders"].o_orderkey == t["lineitem"].l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"), F.col("o_orderdate").alias("d"))
    )
    cutoff = F.lit(_EVAL_CUTOFF).cast("date")
    # ONE pass over the purchase join for BOTH splits (r11): the old form
    # scanned orders⋈lineitem and paid a distinct shuffle separately for
    # train (then cached it partition-frozen) and for test — 3 scans + 3
    # distinct exchanges per run. A pair is in train iff ANY of its
    # purchases predates the cutoff (and symmetrically for test), so one
    # groupBy(c, p) with two max(flag) aggregates produces the identical
    # split sets; the checkpoint replaces the cache (AQE-coalesced blocks,
    # no 32-partition frozen cache layout, nothing to unpersist).
    # ckpt kept by measurement (r12 A/B, matched window): without it the
    # four consumers re-derive the groupBy — steady 2.50 → 3.05 s (AQE
    # exchange reuse does NOT dedupe across this plan's subquery
    # boundaries the way the block-scan does).
    pairs = (
        purch.groupBy("c", "p")
        .agg(
            F.max((F.col("d") < cutoff).cast("int")).alias("in_train"),
            F.max((F.col("d") >= cutoff).cast("int")).alias("in_test"),
        )
        .localCheckpoint(eager=True)
    )
    train = pairs.filter(F.col("in_train") == 1).select("c", "p")
    test = pairs.filter(F.col("in_test") == 1).select("c", "p")
    # no ckpt on the 10-row list (r12): it has ONE consumer (the broadcast
    # crossJoin below), so an eager checkpoint is a pure extra job barrier
    top10 = (
        train.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("p"))
        .limit(10)
        .withColumn("pop_rank", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("p"))))
        .select("p", "pop_rank")
    )
    eval_cust = test.groupBy("c").agg(F.count(F.lit(1)).alias("n_test"))
    # ONE restricted scan for both the purchased-exclusion and the hit
    # lookup (r12 §2.3): every candidate involves one of the 10 popular
    # products, so join the pair relation to the broadcast top10 once and
    # read BOTH flags from it — in_train=1 reproduces the old anti-join
    # drop set, in_test=1 the old test hit join — instead of scanning the
    # checkpoint separately for each (pairs is unique on (c, p) by
    # construction, so the left join cannot duplicate candidates).
    top_pairs = pairs.join(F.broadcast(top10.select("p")), "p").select(
        "c", "p", "in_train", "in_test"
    )
    recs0 = (
        eval_cust.crossJoin(F.broadcast(top10))
        .join(top_pairs, ["c", "p"], "left")
        .filter(F.coalesce(F.col("in_train"), F.lit(0)) == 0)
    )
    w = Window.partitionBy("c").orderBy(F.asc("pop_rank"))
    recs = recs0.withColumn("rec_rank", F.row_number().over(w)).filter(
        F.col("rec_rank") <= _EVAL_K
    )
    hits = recs.filter(F.col("in_test") == 1).groupBy("c").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("rec_rank").alias("first_hit"),
        F.sum(_case_col(F.col("rec_rank"), _DISC).cast("decimal(26,12)")).alias("dcg"),
    )
    dec = "decimal(26,12)"
    per_cust = (
        eval_cust.join(hits, "c", "left")
        .select(
            (F.coalesce(F.col("n_hits"), F.lit(0)).cast(dec) / _EVAL_K).alias("prec"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.col("n_test"), 12
            ).cast(dec).alias("rec"),
            _case_col(F.col("first_hit"), _RECIP).cast(dec).alias("mrr"),
            F.round(
                F.coalesce(F.col("dcg"), F.lit(0).cast(dec)).cast("double")
                / _case_col(F.col("n_test"), _IDCG, clamp=True),
                12,
            ).cast(dec).alias("ndcg"),
        )
    )
    out = per_cust.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_customers"),
        F.round(F.sum("prec").cast("double") / F.count(F.lit(1)), 6).alias("precision_at_5"),
        F.round(F.sum("rec").cast("double") / F.count(F.lit(1)), 6).alias("recall_at_5"),
        F.round(F.sum("mrr").cast("double") / F.count(F.lit(1)), 6).alias("mrr_at_5"),
        F.round(F.sum("ndcg").cast("double") / F.count(F.lit(1)), 6).alias("ndcg_at_5"),
    ).localCheckpoint(eager=True)
    return out
