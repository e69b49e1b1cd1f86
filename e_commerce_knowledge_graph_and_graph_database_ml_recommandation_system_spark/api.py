"""Entry-point facade — the reference's three pipelines as named calls.

A reference user runs three kinds of scripts (SURVEY §3): ingest→graph
(EP1), feature engineering (EP2), train→recommend (EP3). Each maps here to
one function over the operator layer, so migration is `import` + one call
per script instead of navigating the query registry. EP1 and EP2 read the
snapshot's one memoized property graph (``property_graph``); what they
derive from it stays lazy where the semantics allow (model training is
inherently an action); composition stays inside one Catalyst plan wherever
the reference would have written a pickle between scripts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graph.build import GRAPH_TABLES, build_edges, build_nodes, graph_stats
from .plans._memo import memo
from .sources.tables import load_table, load_tables


def property_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The snapshot's property graph (nodes, edges), built once per
    (app, sf_dir) through ``plans._memo`` (lazy under ``_memo.disabled()``)
    for EP1, EP2, the registry and the ML pair dataset; no other package
    code builds a graph. Calls ``build_nodes`` / ``build_edges``
    through this module's globals, so a wrapper set on ``api.build_nodes``
    / ``api.build_edges`` sees every graph build."""

    def tables() -> dict[str, DataFrame]:
        return load_tables(spark, sf_dir, names=GRAPH_TABLES)

    nodes = memo(spark, ("graph_nodes", sf_dir), lambda: build_nodes(tables()))
    edges = memo(spark, ("graph_edges", sf_dir), lambda: build_edges(tables()))
    return nodes, edges


def ingest_and_build_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """EP1 (``First_Data_injection.py`` → ``knowledge_graph_creation.py``):
    scan + clean + construct the property graph. Returns (nodes, edges,
    stats) — stats is the G5 label/type histogram the reference prints."""
    nodes, edges = property_graph(spark, sf_dir)
    return nodes, edges, graph_stats(nodes, edges)


def engineer_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 (``degree_analysis`` + ``knn_similarity`` + ``Louvain`` +
    ``category_enrichement``): one customer-feature frame — degree features
    (A1-A3/W1-W3), k=5 KNN-graph aggregates (X7+A7), Louvain community (X8)
    and preferred category (X10+A5) — the attrs the reference writes back
    onto nodes script by script, here as one joined DataFrame."""
    from .graph import algorithms as alg
    from .operators.aggregates import knn_aggregates, preferred_category
    from .operators.degrees import degree_features
    from .plans.registry import shared_sim_graph

    nodes, edges = property_graph(spark, sf_dir)
    feats = degree_features(nodes, edges).filter(F.col("label") == "Customer")

    sim = shared_sim_graph(spark, sf_dir)
    cust_id = F.concat_ws("_", F.lit("cust"), F.col("id")).alias("id")
    knn = knn_aggregates(sim).select(
        cust_id,
        "knn_avg_similarity", "knn_max_similarity", "knn_min_similarity", "knn_std_similarity",
    )
    comm = alg.louvain(sim, weight_col="similarity", undirected=False).select(cust_id, "community_id")
    pref = preferred_category(edges, nodes).withColumnRenamed("customer_id", "id")

    return (
        feats.join(knn, "id", "left")
        .join(comm, "id", "left")
        .join(pref, "id", "left")
    )


def train_and_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 (``xgboost_training_for_big_data.py`` → ``topk_recommandations_
    *.py``): assemble pairs + features, fit the weighted GBT, score the
    serving cohort's candidates, return per-customer category-diverse
    top-k on the model probability. Delegates to the registry's
    ``model_scoring_topk`` plan (M10); the model-free popularity×recency
    variant is ``plans.flagship.flagship``."""
    from .plans.registry_graph_extras import q_model_scoring_topk

    return q_model_scoring_topk(spark, sf_dir)


def curate_corpus(spark: SparkSession, sf_dir: str, quality_min: float = 0.7) -> DataFrame:
    """EP4 (beyond-reference, BASELINE.json north star): the training-data
    curation pipeline as one call — lexical near-dup clustering (SimHash +
    connected components, exact-collapse pre-pass), best-doc-per-cluster
    selection, quality gate, SemDeDup semantic pruning — returning the
    keep-list (doc_id, cluster_id, cluster_size, quality_score) a corpus
    sink would write. Per-language rollups of exactly this list are the
    oracle-checked ``corpus_curation_semantic`` registry query."""
    from .operators import components as cc
    from .operators import dedup as dd
    from .operators import similarity as sim
    from .operators import text_analysis as ta

    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    clusters = cc.dedup_clusters_collapsed(docs, lambda d: dd.simhash_near_dup(d, max_hamming=3))
    kept = cc.canonical_docs(clusters, ta.quality_scores(docs)).filter(
        F.col("quality_score") >= quality_min
    )
    sem_kept = (
        sim.semdedup(emb, threshold=0.4, n_cells=16)
        .filter(F.col("pruned") == 0)
        .select(F.col("vec_id").alias("doc_id"))
    )
    return (
        kept.withColumnRenamed("canonical_doc_id", "doc_id")
        .join(sem_kept, "doc_id")
        .select("doc_id", "cluster_id", "cluster_size", "quality_score")
    )
