"""Registry entries: remaining SURVEY §2 operators — grouped moments by
community (A4/W2), global moments (A2), degree histogram (A6), catalog
upsert (G3), feature write-back (J9), model scoring (M10), and the R2-R4
sampling variants. Imported by plans/registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import topk as tk
from ..operators.degrees import community_degree_features, degree_histogram, node_degrees
from ..sources.tables import load_tables
from .registry import GRAPH_EDGES_CTE, GRAPH_TABLES, register, shared_edges, shared_node_degrees

# ---------------------------------------------------------------------------
# A2: global degree moments
# ---------------------------------------------------------------------------


@register(
    "global_degree_moments",
    f"""
WITH {GRAPH_EDGES_CTE.strip()},
both_ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
deg AS (SELECT id, COUNT(*) AS degree FROM both_ends GROUP BY id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       ROUND(AVG(degree), 6) AS mean_degree,
       ROUND(stddev_pop(degree), 6) AS std_degree,
       CAST(MAX(degree) AS BIGINT) AS max_degree
FROM deg
""",
)
def q_global_degree_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: mean/std over all degrees (reference ``degree_analysis.py:44-46``)."""
    deg = node_degrees(shared_edges(spark, sf_dir))
    return deg.agg(
        F.count("*").alias("n_nodes"),
        F.round(F.avg("degree"), 6).alias("mean_degree"),
        F.round(F.stddev_pop("degree"), 6).alias("std_degree"),
        F.max("degree").alias("max_degree"),
    )


# ---------------------------------------------------------------------------
# A6: degree histogram
# ---------------------------------------------------------------------------


@register(
    "degree_histogram",
    f"""
WITH {GRAPH_EDGES_CTE.strip()},
both_ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
deg AS (SELECT id, COUNT(*) AS degree FROM both_ends GROUP BY id)
SELECT CAST(floor(degree / 5) * 5 AS BIGINT) AS bin, COUNT(*) AS cnt
FROM deg GROUP BY 1
""",
)
def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: binned degree histogram (reference ``degree_analysis.py:155-165``)."""
    edges = shared_edges(spark, sf_dir)
    return degree_histogram(edges, bin_width=5)


# ---------------------------------------------------------------------------
# A4 + W2: per-community degree stats (nation segments = deterministic
# communities, so the whole chain is oracle-checkable; the LPA-community
# variant is the rows-only `label_propagation_communities` entry)
# ---------------------------------------------------------------------------


@register(
    "community_degree_features",
    f"""
WITH {GRAPH_EDGES_CTE.strip()},
both_ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
deg AS (SELECT id, COUNT(*) AS degree FROM both_ends GROUP BY id),
members AS (
    SELECT concat_ws('_', 'cust', c_custkey) AS id,
           concat_ws('_', 'seg', c_nationkey) AS community_id
    FROM customer
),
d AS (
    SELECT m.id, m.community_id, COALESCE(deg.degree, 0) AS degree
    FROM members m LEFT JOIN deg ON m.id = deg.id
)
SELECT id, community_id, degree,
       ROUND(AVG(degree) OVER (PARTITION BY community_id), 6) AS community_degree_mean,
       ROUND(COALESCE(stddev_pop(degree) OVER (PARTITION BY community_id), 0), 6) AS community_degree_std,
       ROUND(COALESCE((degree - AVG(degree) OVER (PARTITION BY community_id))
             / NULLIF(stddev_pop(degree) OVER (PARTITION BY community_id), 0), 0), 6) AS community_degree_zscore,
       ROUND(cume_dist() OVER (PARTITION BY community_id ORDER BY degree), 6) AS community_degree_percentile
FROM d
""",
)
def q_community_degree_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+W2: per-community degree mean/std/z-score/percentile (reference
    ``degree_analysis.py:92-126``), with nation-segment communities."""
    tables = load_tables(spark, sf_dir, names=GRAPH_TABLES)
    deg = shared_node_degrees(spark, sf_dir)
    members = tables["customer"].select(
        F.concat_ws("_", F.lit("cust"), F.col("c_custkey")).alias("id"),
        F.concat_ws("_", F.lit("seg"), F.col("c_nationkey")).alias("community_id"),
    )
    d = members.join(deg, "id", "left").na.fill({"degree": 0})
    out = community_degree_features(d.select("id", "degree"), d.select("id", "community_id"))
    return out.select(
        "id",
        "community_id",
        "degree",
        F.round("community_degree_mean", 6).alias("community_degree_mean"),
        F.round("community_degree_std", 6).alias("community_degree_std"),
        F.round("community_degree_zscore", 6).alias("community_degree_zscore"),
        F.round("community_degree_percentile", 6).alias("community_degree_percentile"),
    )


# ---------------------------------------------------------------------------
# G3: node attribute upsert (catalog enrichment, full-outer + coalesce)
# ---------------------------------------------------------------------------


@register(
    "catalog_upsert",
    """
WITH existing AS (
    SELECT concat_ws('_', 'prod', p_partkey) AS id,
           p_type AS category, p_size AS stock, p_retailprice AS price
    FROM part WHERE p_partkey % 2 = 0
),
updates AS (
    SELECT concat_ws('_', 'prod', p_partkey) AS id,
           p_type AS category, p_size + 10 AS stock
    FROM part WHERE p_partkey % 3 = 0
)
SELECT COALESCE(e.id, u.id) AS id,
       COALESCE(u.category, e.category) AS category,
       COALESCE(u.stock, e.stock) AS stock,
       e.price AS price,
       CASE WHEN e.id IS NULL THEN 'inserted'
            WHEN u.id IS NULL THEN 'unchanged'
            ELSE 'updated' END AS upsert_action
FROM existing e FULL OUTER JOIN updates u ON e.id = u.id
""",
)
def q_catalog_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: insert-or-update product attrs from a catalog batch (reference
    ``knowledge_graph_creation.py:141-166``: G.nodes[sku].update + insert-
    if-absent) — full-outer join + latest-wins coalesce, no mutation."""
    part = load_tables(spark, sf_dir, names=("part",))["part"]
    existing = part.filter(F.pmod("p_partkey", F.lit(2)) == 0).select(
        F.concat_ws("_", F.lit("prod"), F.col("p_partkey")).alias("id"),
        F.col("p_type").alias("category"),
        F.col("p_size").alias("stock"),
        F.col("p_retailprice").alias("price"),
    )
    updates = part.filter(F.pmod("p_partkey", F.lit(3)) == 0).select(
        F.concat_ws("_", F.lit("prod"), F.col("p_partkey")).alias("id"),
        F.col("p_type").alias("category"),
        (F.col("p_size") + 10).alias("stock"),
    )
    e, u = existing.alias("e"), updates.alias("u")
    return e.join(u, F.col("e.id") == F.col("u.id"), "full_outer").select(
        F.coalesce(F.col("e.id"), F.col("u.id")).alias("id"),
        F.coalesce(F.col("u.category"), F.col("e.category")).alias("category"),
        F.coalesce(F.col("u.stock"), F.col("e.stock")).alias("stock"),
        F.col("e.price").alias("price"),
        F.when(F.col("e.id").isNull(), "inserted")
        .when(F.col("u.id").isNull(), "unchanged")
        .otherwise("updated")
        .alias("upsert_action"),
    )


# ---------------------------------------------------------------------------
# J9: feature write-back join (graph attrs -> feature table with fallbacks)
# ---------------------------------------------------------------------------


@register(
    "feature_writeback",
    f"""
WITH {GRAPH_EDGES_CTE.strip()},
features AS (
    SELECT concat_ws('_', 'cust', c_custkey) AS node_id,
           c_acctbal AS old_balance_feature,
           CAST(-1 AS BIGINT) AS degree_feature
    FROM customer
),
both_ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
deg AS (SELECT id, COUNT(*) AS degree FROM both_ends GROUP BY id)
SELECT f.node_id,
       f.old_balance_feature,
       COALESCE(d.degree, f.degree_feature) AS degree_feature
FROM features f LEFT JOIN deg d ON f.node_id = d.id
""",
)
def q_feature_writeback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: update feature rows from graph node attrs with per-feature
    fallback (reference ``update_features_after_every_fold.py:77-111``
    iterrows loop) — one left join + coalesce."""
    tables = load_tables(spark, sf_dir, names=GRAPH_TABLES)
    features = tables["customer"].select(
        F.concat_ws("_", F.lit("cust"), F.col("c_custkey")).alias("node_id"),
        F.col("c_acctbal").alias("old_balance_feature"),
        F.lit(-1).cast("long").alias("degree_feature"),
    )
    deg = shared_node_degrees(spark, sf_dir)
    return features.join(deg, features.node_id == deg.id, "left").select(
        "node_id",
        "old_balance_feature",
        F.coalesce(F.col("degree"), F.col("degree_feature")).alias("degree_feature"),
    )


# ---------------------------------------------------------------------------
# M10 + R2/R3/R4: model scoring + stochastic sampling variants (rows-only)
# ---------------------------------------------------------------------------


@register("model_scoring_topk", None)
def q_model_scoring_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10: score the serving cohort's candidates with the learned GBT,
    take diverse top-5 on the model probability (EP3 end-to-end with a
    LEARNED scorer instead of the popularity proxy). Reuses the shared
    fitted pipeline (_lp_shared) — one fit per process — and scores
    features carrying the SAME split-safe target encoding the model was
    trained on (serving rows off the full-kfold encoding would put
    boundary categories on the wrong side of learned splits: train/serve
    encoder skew, review finding)."""
    from pyspark.ml.functions import vector_to_array

    from ..ml import link_prediction as lp
    from .registry_ml import _lp_shared
    from .registry_serving import _candidates

    art = _lp_shared(spark, sf_dir)
    model, assembler = art["model"], art["assembler"]

    cands = _candidates(spark, sf_dir)
    cols = ["customer_id", "product_id", *lp.FEATURE_COLS]
    # pre-SMOTE train: synthetic rows would duplicate (customer, product)
    # keys with interpolated features and make the dropDuplicates pick
    # partition-order-dependent (round-4 advice)
    feats = (
        art["train_pre_smote"].select(*cols)
        .unionByName(art["test"].select(*cols))
        .dropDuplicates(["customer_id", "product_id"])
    )
    joined = (
        cands.withColumn("customer_id", F.concat_ws("_", F.lit("cust"), F.col("customer_id")))
        .withColumn("product_id", F.concat_ws("_", F.lit("prod"), F.col("product_id")))
        .join(feats, ["customer_id", "product_id"], "inner")
    )
    scored = model.transform(assembler.transform(joined)).withColumn(
        "prob", vector_to_array("probability").getItem(1)
    )
    return tk.diverse_topk(scored, k=5, score_col="prob", per_category=2).select(
        "customer_id", "rank", "product_id", "category", F.round("prob", 6).alias("prob")
    )


def _gumbel_variant(spark, sf_dir, **kw) -> DataFrame:
    from .registry_serving import _candidates, _normalized_probs

    probs = _normalized_probs(_candidates(spark, sf_dir))
    out = tk.gumbel_topk(probs, k=5, score_col="p", **kw)
    return out.select("customer_id", "rank", "product_id", "category", F.round("p", 6).alias("p"))


def _gumbel_sql(**kw) -> str:
    from .registry_serving import _gumbel_oracle_sql

    return _gumbel_oracle_sql(**kw)


@register("serve_softmax_noise_topk", _gumbel_sql(temperature=3.0, seed=43, noise_scale=0.1))
def q_serve_softmax_noise_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: logit softmax with hash-derived Box-Muller gaussian noise, T=3.0
    (reference ``took_recommandations_softmaxsampling_discount.py:213-241``);
    oracle-checked — see ``gumbel_topk``'s noise discipline."""
    return _gumbel_variant(spark, sf_dir, temperature=3.0, seed=43, noise_scale=0.1)


@register("serve_stochastic_softmax_topk", _gumbel_sql(temperature=5.0, seed=44, noise_scale=0.15))
def q_serve_stochastic_softmax_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3: stochastic softmax, T=5.0, noise 0.15 (reference
    ``topk_recommandations_stochasticsoftmaxsampling_discount.py:193-228``)."""
    return _gumbel_variant(spark, sf_dir, temperature=5.0, seed=44, noise_scale=0.15)


@register("serve_adam_mixture_topk", _gumbel_sql(temperature=2.0, seed=45, uniform_mix=0.3))
def q_serve_adam_mixture_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4: 0.3·uniform + 0.7·p mixture over normalized p, T=2.0 (reference
    ``took_recommandations_adamsampling_discount.py:58-100``)."""
    return _gumbel_variant(spark, sf_dir, temperature=2.0, seed=45, uniform_mix=0.3)


# ---------------------------------------------------------------------------
# PageRank (beyond-reference graph layer): fixed-iteration, decimal-exact
# ---------------------------------------------------------------------------


def _pagerank_oracle_sql(iters: int = 5) -> str:
    """Unrolled-iteration DuckDB mirror of graph.algorithms.pagerank: the
    same DECIMAL(26,12) rank domain, 12-dp rounded double divisions, and
    uniform dangling redistribution — the LPA chained-CTE technique applied
    to a float-valued iterative algorithm."""
    dec = "DECIMAL(26,12)"
    # AS MATERIALIZED throughout: r{i-1} is referenced twice per iteration
    # (shares + dangling mass) and DuckDB's default inlining re-expands the
    # whole preceding chain per reference — 7.1 s inlined vs ~0.2 s
    # materialized at sf0.01
    parts = [
        "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        "nodes_pr AS MATERIALIZED (SELECT src AS id FROM de UNION SELECT dst FROM de)",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes_pr)",
        "od AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM de GROUP BY src)",
        f"r0 AS MATERIALIZED (SELECT id, CAST(ROUND(1.0 / nn.n, 12) AS {dec}) AS r FROM nodes_pr CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT de.dst AS id, "
            f"CAST(ROUND(CAST(r.r AS DOUBLE) / od.outdeg, 12) AS {dec}) AS share "
            f"FROM de JOIN r{p} r ON de.src = r.id JOIN od ON de.src = od.src)"
        )
        parts.append(f"c{i} AS MATERIALIZED (SELECT id, SUM(share) AS contrib FROM s{i} GROUP BY id)")
        parts.append(
            f"g{i} AS MATERIALIZED (SELECT CAST(COALESCE(SUM(r.r), 0) AS {dec}) AS dang "
            f"FROM r{p} r LEFT JOIN od ON r.id = od.src WHERE od.src IS NULL)"
        )
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT n.id, "
            f"CAST(ROUND((1.0 - 0.85) / nn.n + 0.85 * "
            f"(CAST(COALESCE(c.contrib, 0) AS DOUBLE) + CAST(g.dang AS DOUBLE) / nn.n), 12) AS {dec}) AS r "
            f"FROM nodes_pr n CROSS JOIN nn CROSS JOIN g{i} g LEFT JOIN c{i} c ON n.id = c.id)"
        )
    from .registry import GRAPH_EDGES_CTE as _E

    return (
        f"WITH {_E.strip()},\n"
        + ",\n".join(parts)
        + f"\nSELECT id, ROUND(CAST(r AS DOUBLE), 6) AS rank FROM r{iters}"
    )


@register("graph_pagerank", _pagerank_oracle_sql(iters=3))
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the property graph's directed edges —
    the FULL rank vector hash-checked against the unrolled decimal-exact
    oracle (a float-valued iterative graph algorithm under the strongest
    correctness gate; companion to label_propagation_communities)."""
    from ..graph.algorithms import pagerank

    return pagerank(shared_edges(spark, sf_dir), iters=3)


# ---------------------------------------------------------------------------
# Personalized PageRank (random-walk-with-restart) — seed-restart variant
# ---------------------------------------------------------------------------


def _ppr_oracle_sql(iters: int = 5, nation: int = 7) -> str:
    """Unrolled DuckDB mirror of graph.algorithms.personalized_pagerank:
    dense form of the engine's sparse frontier (zero ranks contribute
    zero shares, so the iterates agree decimal-exactly); restart vector
    concentrated on nation-``nation`` customer nodes."""
    dec = "DECIMAL(26,12)"
    # AS MATERIALIZED throughout (see _pagerank_oracle_sql: 12.5 s inlined
    # vs ~0.3 s materialized at sf0.01)
    parts = [
        "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        "nodes_pr AS MATERIALIZED (SELECT src AS id FROM de UNION SELECT dst FROM de)",
        f"seeds AS MATERIALIZED (SELECT DISTINCT n.id FROM nodes_pr n JOIN "
        f"(SELECT concat_ws('_', 'cust', c_custkey) AS id FROM customer WHERE c_nationkey = {nation}) s "
        f"ON n.id = s.id)",
        "ns AS MATERIALIZED (SELECT COUNT(*) AS ns FROM seeds)",
        "sv AS MATERIALIZED (SELECT n.id, CASE WHEN s.id IS NOT NULL THEN 1.0 ELSE 0.0 END AS flag "
        "FROM nodes_pr n LEFT JOIN seeds s ON n.id = s.id)",
        "od AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM de GROUP BY src)",
        f"r0 AS MATERIALIZED (SELECT sv.id, CAST(ROUND(sv.flag / ns.ns, 12) AS {dec}) AS r FROM sv CROSS JOIN ns)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT de.dst AS id, "
            f"CAST(ROUND(CAST(r.r AS DOUBLE) / od.outdeg, 12) AS {dec}) AS share "
            f"FROM de JOIN r{p} r ON de.src = r.id JOIN od ON de.src = od.src)"
        )
        parts.append(f"c{i} AS MATERIALIZED (SELECT id, SUM(share) AS contrib FROM s{i} GROUP BY id)")
        parts.append(
            f"g{i} AS MATERIALIZED (SELECT CAST(COALESCE(SUM(r.r), 0) AS {dec}) AS dang "
            f"FROM r{p} r LEFT JOIN od ON r.id = od.src WHERE od.src IS NULL)"
        )
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT v.id, "
            f"CAST(ROUND((1.0 - 0.85) * (v.flag / ns.ns) + 0.85 * "
            f"(CAST(COALESCE(c.contrib, 0) AS DOUBLE) + CAST(g.dang AS DOUBLE) * (v.flag / ns.ns)), 12) AS {dec}) AS r "
            f"FROM sv v CROSS JOIN ns CROSS JOIN g{i} g LEFT JOIN c{i} c ON v.id = c.id)"
        )
    from .registry import GRAPH_EDGES_CTE as _E

    return (
        f"WITH {_E.strip()},\n"
        + ",\n".join(parts)
        + f"\nSELECT id, ROUND(CAST(r AS DOUBLE), 6) AS rank FROM r{iters} WHERE r <> 0"
    )


@register("graph_ppr_nation", _ppr_oracle_sql(iters=3, nation=7))
def q_graph_ppr_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded on nation-7 customers — proximity
    ranking of the catalog neighborhood those customers touch (orders,
    products, locations, categories), the random-walk-with-restart
    primitive behind modern graph recommenders; full nonzero rank vector
    hash-checked against the unrolled decimal-exact oracle."""
    from ..graph.algorithms import personalized_pagerank

    tables = load_tables(spark, sf_dir, names=GRAPH_TABLES)
    seeds = tables["customer"].filter(F.col("c_nationkey") == 7).select(
        F.concat_ws("_", F.lit("cust"), F.col("c_custkey")).alias("id")
    )
    return personalized_pagerank(shared_edges(spark, sf_dir), seeds, iters=3)


def _hits_oracle_sql(iters: int = 4) -> str:
    """Unrolled DuckDB mirror of graph.algorithms.hits — same decimal
    score domain, 12dp-rounded L1 normalizations, authorities from the
    PREVIOUS hub vector and hubs from the CURRENT authority vector.

    Every per-iteration CTE is AS MATERIALIZED: each score vector is
    referenced twice (its L1 sum + the normalization join), and DuckDB's
    default inlining re-expands the whole preceding chain per reference —
    measured 409 s for the inlined form vs ~2 s materialized at sf0.01
    (the oracle-side twin of the Spark checkpoint in hits())."""
    dec = "DECIMAL(26,12)"
    parts = [
        "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        "nodes_pr AS MATERIALIZED (SELECT src AS id FROM de UNION SELECT dst FROM de)",
        f"h0 AS MATERIALIZED (SELECT id, CAST(1 AS {dec}) AS s FROM nodes_pr)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"ar{i} AS MATERIALIZED (SELECT de.dst AS id, SUM(h.s) AS raw "
            f"FROM de JOIN h{p} h ON de.src = h.id GROUP BY de.dst)"
        )
        parts.append(f"asum{i} AS MATERIALIZED (SELECT CAST(SUM(raw) AS {dec}) AS t FROM ar{i})")
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT n.id, "
            f"CAST(ROUND(CAST(COALESCE(ar.raw, 0) AS DOUBLE) / CAST(asum.t AS DOUBLE), 12) AS {dec}) AS s "
            f"FROM nodes_pr n LEFT JOIN ar{i} ar ON n.id = ar.id CROSS JOIN asum{i} asum)"
        )
        parts.append(
            f"hr{i} AS MATERIALIZED (SELECT de.src AS id, SUM(a.s) AS raw "
            f"FROM de JOIN a{i} a ON de.dst = a.id GROUP BY de.src)"
        )
        parts.append(f"hsum{i} AS MATERIALIZED (SELECT CAST(SUM(raw) AS {dec}) AS t FROM hr{i})")
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT n.id, "
            f"CAST(ROUND(CAST(COALESCE(hr.raw, 0) AS DOUBLE) / CAST(hsum.t AS DOUBLE), 12) AS {dec}) AS s "
            f"FROM nodes_pr n LEFT JOIN hr{i} hr ON n.id = hr.id CROSS JOIN hsum{i} hsum)"
        )
    from .registry import GRAPH_EDGES_CTE as _E

    return (
        f"WITH {_E.strip()},\n"
        + ",\n".join(parts)
        + f"\nSELECT h.id, ROUND(CAST(h.s AS DOUBLE), 6) AS hub, "
        f"ROUND(CAST(a.s AS DOUBLE), 6) AS authority "
        f"FROM h{iters} h JOIN a{iters} a ON h.id = a.id"
    )


@register("graph_hits", _hits_oracle_sql(iters=3))
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the property graph — customers/orders
    as hubs fanning into product/category authorities; full hub AND
    authority vectors hash-checked against the unrolled decimal-exact
    oracle (third iterative-algorithm family member next to pagerank and
    personalized pagerank)."""
    from ..graph.algorithms import hits

    return hits(shared_edges(spark, sf_dir), iters=3)
