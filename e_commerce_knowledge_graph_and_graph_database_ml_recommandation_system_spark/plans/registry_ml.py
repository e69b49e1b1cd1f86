"""Registry entries: KNN aggregates, graph algorithms (walks/embeddings/
communities), the ML pipeline, and multimodal plumbing (SURVEY §2.6 A7,
§2.9 X4-X9, §2.11, multimodal scope). Imported by plans/registry.

Stochastic / model-fit entries are rows-only (the driver records a weaker
check); their quality invariants live in tests/ (SURVEY §5 tier 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..api import property_graph
from ..graph import algorithms as alg
from ..graph.build import GRAPH_TABLES
from ..ml import als as als_mod
from ..ml import link_prediction as lp
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators.aggregates import knn_aggregates
from ..sources.tables import load_table, load_tables
from ._memo import memo
from .registry import GRAPH_EDGES_CTE, register, shared_node_degrees, shared_sim_graph

# ---------------------------------------------------------------------------
# Shared heavyweight artifacts (one computation per process — VERDICT r3 #1/#2:
# the registry's verification wall-time, not any single plan, was the scale
# problem; these memos elide repeated identical work without touching any
# query's semantics)
# ---------------------------------------------------------------------------


def _fp_cache(spark: SparkSession, sf_dir: str) -> dict:
    """The shared fingerprint component cache, one dict per (app, sf_dir)
    (r8 verdict #2): four store-backed pipelines (GBT, multitower, ALS,
    hybrid) fingerprint overlapping source-table sets under different
    training tags, and without sharing, every store key re-runs the same
    count/max + sum(xxhash64) aggregate scans per call. The cache holds
    raw per-table aggregate tuples (see recsys_store._cm_component /
    _xx_component), so fingerprint strings — and store paths — are
    byte-identical to the uncached form. Same within-process staleness
    trade as every (app, sf_dir) memo: a table that changes on disk
    mid-process is picked up at the next process (the driver, bench and
    verify all run one process per round); the freshness GATES construct
    changed DataFrames and call the uncached functions directly."""
    return memo(spark, ("fp_components", sf_dir), dict)


def _shared_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (num_walks=1, walk_len=5, seed=42) first-order walk set shared by
    ``random_walks`` (array form), ``random_walks_flat`` (hash-checked flat
    form) and ``node2vec_embeddings`` — previously generated three times per
    verification run. Materialized once via localCheckpoint."""
    def build():
        _, edges = property_graph(spark, sf_dir)
        return alg.random_walks(edges, num_walks=1, walk_len=5, seed=42)

    return memo(spark, ("walks_n1_l5_s42", sf_dir), build)


def _ds_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled target_encode=False pair dataset, materialized ONCE per
    (app, sf_dir) — the heavy prefix (pair generation, degree/recency
    feature joins) that both the GBT pipeline and the multitower dataset
    previously re-assembled independently (r5 verdict #1: these two were
    25 s of the sf0.01 wall, mostly duplicated assembly)."""
    return memo(
        spark,
        ("lp_dataset_base", sf_dir),
        lambda: lp.build_dataset(
            load_tables(spark, sf_dir, names=GRAPH_TABLES), target_encode=False
        ),
    )


def _lp_shared(spark: SparkSession, sf_dir: str) -> dict:
    """One fitted link-prediction pipeline (dataset, split-safe encoding,
    weighted GBT max_iter=7) per (app, sf_dir), consumed by
    ``ml_link_prediction_metrics``, ``feature_importances`` and
    ``model_scoring_topk``. Rides the shared _ds_base assembly.

    The fitted GBT persists in the fingerprint-keyed artifact store via
    MLlib's native writer (S5 surface; r6 verdict #1 wall trim): a fresh
    process with unchanged sources LOADS the boosted trees and only
    rebuilds the cheap dataset/split/encoding DataFrames — the
    offline-train / online-serve split, applied to the classifier. The
    consumer queries are rows-only by design; their quality floors (AUC,
    importance invariants) gate the loaded model exactly as they gate an
    inline fit."""

    def build():
        import os

        from pyspark.ml.classification import GBTClassificationModel

        from ..ml import recsys_store as rs

        # the GBT's dataset (_ds_base -> lp.build_dataset) joins the full
        # GRAPH_TABLES — a remap in a dimension table (e.g. part category,
        # which feeds the encoding) must invalidate the key even when
        # orders/lineitem are unchanged (r7 ADVICE #1)
        t = load_tables(spark, sf_dir, names=GRAPH_TABLES)
        fp = rs.fingerprint_sources(
            t,
            tag=rs.versioned_tag("lp_gbt_i7_v1", lp.ALGO_VERSION),
            component_cache=_fp_cache(spark, sf_dir),
        )
        mdir = os.path.join(rs.store_path(fp), "gbt_model")
        marker = os.path.join(mdir, "_SAVED_OK")
        model = None
        if os.path.isfile(marker):
            try:
                model = GBTClassificationModel.load(mdir)
            except Exception:  # corrupt store entry = miss, retrain
                model = None
        art = lp.fit_artifacts(
            None, max_iter=7, materialize=True, ds=_ds_base(spark, sf_dir), model=model
        )
        if model is None:
            art["model"].write().overwrite().save(mdir)
            with open(marker, "w", encoding="utf-8"):
                pass
        return art

    return memo(spark, ("lp_artifacts_i7", sf_dir), build)


def _ds_te(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-kfold-encoded pair dataset. Sole consumer today is
    ``ml_multitower_metrics`` (``model_scoring_topk`` moved to the
    _lp_shared split-safe encoding — round-3 review). Derives from the
    shared _ds_base assembly: the k-fold leave-one-out encoding keys on
    (category, label, pkey) only, so encoding the assembled table yields
    the identical target_enc values build_dataset(target_encode=True)
    computed mid-pipeline."""
    from ..operators.aggregates import kfold_target_encoding

    return memo(
        spark,
        ("lp_dataset_te", sf_dir),
        lambda: kfold_target_encoding(
            _ds_base(spark, sf_dir), key="category", label_col="label", id_col="pkey"
        ),
    )

# ---------------------------------------------------------------------------
# A7 + X7: similarity graph -> per-node KNN aggregates (oracle-checked)
# ---------------------------------------------------------------------------

_SIM_GRAPH_CTE = """
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
topk AS (
    SELECT query_id AS src, neighbor_id AS dst, cosine AS similarity
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM pairs)
    WHERE rank <= 5
),
sym AS (
    SELECT src, dst, MAX(similarity) AS similarity FROM (
        SELECT src, dst, similarity FROM topk
        UNION ALL
        SELECT dst, src, similarity FROM topk
    ) GROUP BY src, dst
)
"""


@register(
    "knn_aggregates",
    f"""
WITH {_SIM_GRAPH_CTE.strip()}
-- avg/std via exact DECIMAL sums then identical double arithmetic on both
-- engines: float SUM is summation-order-dependent and Spark/DuckDB orders
-- differ (flipped the 6th decimal of AVG on ~1% of nodes in round 1)
SELECT src AS id,
       ROUND(CAST(SUM(CAST(similarity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS knn_avg_similarity,
       ROUND(MAX(similarity), 6) AS knn_max_similarity,
       ROUND(MIN(similarity), 6) AS knn_min_similarity,
       ROUND(SQRT(GREATEST(
           CAST(SUM(CAST(similarity AS DECIMAL(18,6)) * CAST(similarity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
           - (CAST(SUM(CAST(similarity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
             * (CAST(SUM(CAST(similarity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)), 0)), 6) AS knn_std_similarity
FROM sym GROUP BY src
""",
)
def q_knn_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: per-node aggregates over the symmetrized KNN similarity graph
    (reference ``xgboost_training_for_big_data.py:298-318``) — the full X7
    (knn graph) → A7 (neighborhood stats) chain, hash-checked end to end."""
    g = shared_sim_graph(spark, sf_dir)
    out = knn_aggregates(g)
    return out.select(
        "id",
        F.round("knn_avg_similarity", 6).alias("knn_avg_similarity"),
        F.round("knn_max_similarity", 6).alias("knn_max_similarity"),
        F.round("knn_min_similarity", 6).alias("knn_min_similarity"),
        F.round("knn_std_similarity", 6).alias("knn_std_similarity"),
    )


# ---------------------------------------------------------------------------
# X6: embedding injection onto nodes (oracle-checked — deterministic join)
# ---------------------------------------------------------------------------


@register(
    "embedding_injection",
    """
WITH nodes AS (SELECT concat_ws('_', 'cust', c_custkey) AS id FROM customer),
emb AS (SELECT concat_ws('_', 'cust', vec_id) AS id, embedding::DOUBLE[] AS v
        FROM embeddings)
SELECT nodes.id,
       ROUND(COALESCE(sqrt(list_aggregate(list_transform(emb.v, x -> x * x), 'sum')), 0), 6) AS emb_norm,
       ROUND(COALESCE(emb.v[1], 0), 6) AS emb_0,
       ROUND(COALESCE(emb.v[2], 0), 6) AS emb_1
FROM nodes LEFT JOIN emb ON nodes.id = emb.id
""",
)
def q_embedding_injection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: left-join embeddings onto Customer nodes, zero-vector for the
    missing (reference ``Fast_node2vec_algorithm.py:108-126``) — summarized
    to scalar columns (norm + first dims) for the hash check. Broadcast-size
    embedding table at test SF; at scale the join is a plain shuffle
    hash-join on id."""
    cust_nodes = load_table(spark, "customer", sf_dir).select(
        F.concat_ws("_", F.lit("cust"), F.col("c_custkey")).alias("id")
    )
    emb = load_table(spark, "embeddings", sf_dir).select(
        F.concat_ws("_", F.lit("cust"), F.col("vec_id")).alias("id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    injected = alg.inject_embeddings(cust_nodes, emb, dim=64)
    return injected.select(
        "id",
        F.round(
            F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda s, x: s + x * x)), 6
        ).alias("emb_norm"),
        F.round(F.element_at("embedding", 1), 6).alias("emb_0"),
        F.round(F.element_at("embedding", 2), 6).alias("emb_1"),
    )


# ---------------------------------------------------------------------------
# X4/X5/X8/X9: walks, embeddings, communities (rows-only + pytest invariants)
# ---------------------------------------------------------------------------


@register("random_walks", None)
def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: seeded first-order walks (len 5) from every graph node
    (array form; the flat relation below is the hash-checked one). Shares
    the materialized walk set with the flat/embedding queries."""
    return _shared_walks(spark, sf_dir)


def _walks_oracle_sql(num_walks: int, walk_len: int, seed: int) -> str:
    """DuckDB mirror of graph/algorithms.random_walks: sorted adjacency
    lists, md5-uniform neighbor picks, one chained CTE per step. Assumes no
    node exceeds the max_degree cap (true for the test corpus — the hash
    gate itself flags a violation)."""
    u = (
        "((('0x' || substr(md5(concat_ws('|', walk_id, '{step}', '" + str(seed) + "')), 1, 8))::BIGINT"
        " + 0.5) / 4294967296.0)"
    )
    sql = f"""
WITH {GRAPH_EDGES_CTE.strip()},
e AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
adj AS (SELECT src, list_sort(list(dst)) AS nbrs FROM e GROUP BY src),
w0 AS (
    SELECT concat_ws('#', s.src, wn.wn) AS walk_id, s.src AS cur
    FROM (SELECT DISTINCT src FROM e) s
    CROSS JOIN (SELECT UNNEST(range({num_walks})) AS wn) wn
)"""
    for k in range(1, walk_len):
        uk = u.format(step=k)
        sql += f""",
w{k} AS (
    SELECT w.walk_id,
           a.nbrs[CAST(floor({uk} * len(a.nbrs)) AS INT) + 1] AS cur
    FROM w{k - 1} w JOIN adj a ON w.cur = a.src
)"""
    trail = "\nUNION ALL\n".join(
        f"SELECT walk_id, CAST({k} AS INTEGER) AS pos, cur AS node FROM w{k}" for k in range(walk_len)
    )
    return sql + "\n" + trail


@register("random_walks_flat", _walks_oracle_sql(num_walks=1, walk_len=5, seed=42))
def q_random_walks_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 with a FULL hash oracle: the walk trail as flat (walk_id, pos,
    node) rows. The md5-derived picks are partition-independent and
    engine-agnostic, so a distributed random-walk generator hash-matches
    DuckDB step for step."""
    walks = _shared_walks(spark, sf_dir)
    return walks.select(
        "walk_id", F.posexplode("walk").alias("pos", "node")
    ).select("walk_id", F.col("pos").cast("int").alias("pos"), "node")


@register("node2vec_embeddings", None)
def q_node2vec_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+X5: walks → Word2Vec skip-gram embeddings at the REFERENCE
    robust dim/window (dim=64, window=10 —
    ``Node2vec_algorithm_inscripton.py:40-48``); reuses the shared
    materialized walk set. The reference's full corpus/epoch config
    (200×30 walks, 10 epochs) is a measured SCALE.md probe, not a
    per-verification-run cost: at that corpus ONE epoch already reaches
    cosine-margin 0.19 / cosine-AUC 0.89 (registry budget corpus: 0.007 /
    0.52), and each further MLlib W2V epoch costs ~630 s at sf0.01 —
    corpus density, not epoch count, is what buys quality here."""
    walks = _shared_walks(spark, sf_dir)
    return alg.node_embeddings(walks, dim=64, window_size=10, seed=42)


def _lpa_oracle_sql(rounds: int, final_select: str) -> str:
    """DuckDB mirror of graph/algorithms.label_propagation: ``rounds``
    synchronous label updates as chained CTEs — neighbor votes + a self
    vote, winner by (count desc, label asc). Deterministic on both engines,
    so the iterative graph algorithm gets a full hash oracle."""
    sql = f"""
WITH {GRAPH_EDGES_CTE.strip()},
e AS (
    SELECT src, dst FROM edges WHERE type IN ('PURCHASED', 'CONTAINS')
    UNION ALL
    SELECT dst, src FROM edges WHERE type IN ('PURCHASED', 'CONTAINS')
),
l0 AS (SELECT DISTINCT src AS id, src AS label FROM e)"""
    for k in range(1, rounds + 1):
        sql += f""",
l{k} AS (
    SELECT id, label FROM (
        SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
        FROM (
            SELECT v.id, v.label, COUNT(*) AS cnt FROM (
                SELECT e.dst AS id, l.label FROM e JOIN l{k - 1} l ON e.src = l.id
                UNION ALL
                SELECT id, label FROM l{k - 1}
            ) v GROUP BY v.id, v.label
        )
    ) WHERE rn = 1
)"""
    return sql + "\n" + final_select.format(last=f"l{rounds}")


def _lpa3_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One LPA(3) partition of the PURCHASED/CONTAINS projection per
    (app, sf_dir) — label_propagation_communities returns it and
    community_stats aggregates it, instead of two independent LPA runs
    per verification pass."""
    def build():
        e = property_graph(spark, sf_dir)[1].filter(F.col("type").isin("PURCHASED", "CONTAINS"))
        return alg.label_propagation(e, max_iter=3)

    return memo(spark, ("lpa3_partition", sf_dir), build)


@register(
    "label_propagation_communities",
    _lpa_oracle_sql(3, "SELECT id, label AS community_id FROM {last}"),
)
def q_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8: deterministic synchronous LPA (3 rounds) over the PURCHASED/
    CONTAINS projection — hash-checked against a DuckDB oracle that unrolls
    the same three vote rounds as chained CTEs (an iterative distributed
    graph algorithm with a full cross-engine hash gate). Shares the
    materialized partition with community_stats."""
    return _lpa3_shared(spark, sf_dir)


def _landmark_oracle_sql(n_landmarks: int, max_hops: int, final_select: str | None = None) -> str:
    """DuckDB mirror of graph/algorithms.landmark_distances: md5-min
    landmark sample, then ``max_hops`` synchronous BFS relaxations as
    chained CTEs (the k-core/LPA unrolled-oracle pattern)."""
    from ..functions.text import SQL_MD5_INT32

    h = SQL_MD5_INT32.format(c="concat('lm_', src)")
    sql = f"""
WITH {GRAPH_EDGES_CTE.strip()},
e AS (
    SELECT src, dst FROM (
        SELECT src, dst FROM edges WHERE type IN ('PURCHASED', 'CONTAINS')
        UNION ALL
        SELECT dst, src FROM edges WHERE type IN ('PURCHASED', 'CONTAINS')
    ) WHERE src <> dst GROUP BY src, dst
),
lms AS (
    SELECT src FROM (SELECT DISTINCT src FROM e)
    ORDER BY {h}, src LIMIT {n_landmarks}
),
s0 AS (SELECT src AS id, src AS landmark, 0 AS distance FROM lms)"""
    for r in range(1, max_hops + 1):
        sql += f""",
s{r} AS (
    SELECT id, landmark, MIN(distance) AS distance FROM (
        SELECT id, landmark, distance FROM s{r - 1}
        UNION ALL
        SELECT e.dst AS id, f.landmark, {r} AS distance
        FROM s{r - 1} f JOIN e ON e.src = f.id
        WHERE f.distance = {r - 1}
    ) GROUP BY id, landmark
)"""
    final = final_select or f"SELECT id, landmark, CAST(distance AS INT) AS distance FROM s{max_hops}"
    return sql + "\n" + final.format(last=f"s{max_hops}")


def _shared_landmark_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (4 landmarks × 4 hops) BFS distance table shared by
    ``landmark_distances`` and ``landmark_closeness`` — one frontier
    expansion per verification run instead of two."""

    def build():
        _, edges = property_graph(spark, sf_dir)
        e = edges.filter(F.col("type").isin("PURCHASED", "CONTAINS"))
        return alg.landmark_distances(e, n_landmarks=4, max_hops=4)

    return memo(spark, ("landmark_bfs_4x4", sf_dir), build)


@register("landmark_distances", _landmark_oracle_sql(n_landmarks=4, max_hops=4))
def q_landmark_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark BFS distance features (4 md5-sampled landmarks × 4 hops)
    over the PURCHASED/CONTAINS projection — frontier-expansion iteration
    under a full unrolled-CTE hash oracle (the third iterative-graph
    oracle family next to LPA voting and k-core peeling)."""
    return _shared_landmark_bfs(spark, sf_dir)


_CLOSENESS_FINAL = """
SELECT id, CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(SUM(distance) AS BIGINT) AS sum_dist,
       ROUND(CAST(SUM(CAST(ROUND(CAST(1 AS DOUBLE) / distance, 9) AS DECIMAL(26,12))) AS DOUBLE), 6) AS harmonic
FROM {last} WHERE distance > 0
GROUP BY id
ORDER BY harmonic DESC, id
LIMIT 20
"""


@register(
    "landmark_closeness",
    _landmark_oracle_sql(n_landmarks=4, max_hops=4, final_select=_CLOSENESS_FINAL),
)
def q_landmark_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-approximated harmonic closeness centrality: per node the
    count of reached landmarks, the distance sum, and the harmonic sum
    Σ 1/d (9dp-rounded DECIMAL accumulation) — top 20 most-central nodes,
    hash-checked through the same unrolled BFS oracle as
    landmark_distances (whose frontier table it shares via memo). The
    standard sublinear stand-in for exact closeness (one BFS per landmark
    instead of per node); the final top-k is a partial TakeOrdered, never
    a global sort."""
    d = _shared_landmark_bfs(spark, sf_dir).filter(F.col("distance") > 0)
    return (
        d.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum("distance").cast("long").alias("sum_dist"),
            F.sum(
                F.round(F.lit(1.0) / F.col("distance"), 9).cast("decimal(26,12)")
            ).alias("hdec"),
        )
        .select(
            "id",
            "n_reached",
            "sum_dist",
            F.round(F.col("hdec").cast("double"), 6).alias("harmonic"),
        )
        .orderBy(F.desc("harmonic"), F.asc("id"))
        .limit(20)
    )


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """DuckDB mirror of graph/algorithms.kcore: ``rounds`` synchronous
    peel rounds as chained CTEs over the PURCHASED/CONTAINS projection —
    the LPA unrolled-oracle pattern applied to degree peeling."""
    sql = f"""
WITH {GRAPH_EDGES_CTE.strip()},
e AS (
    SELECT src, dst FROM (
        SELECT src, dst FROM edges WHERE type IN ('PURCHASED', 'CONTAINS')
        UNION ALL
        SELECT dst, src FROM edges WHERE type IN ('PURCHASED', 'CONTAINS')
    ) WHERE src <> dst GROUP BY src, dst
),
a0 AS (SELECT DISTINCT src AS id FROM e)"""
    for r in range(1, rounds + 1):
        sql += f""",
d{r} AS (
    SELECT e.src AS id, COUNT(*) AS deg
    FROM e
    JOIN a{r - 1} s ON e.src = s.id
    JOIN a{r - 1} t ON e.dst = t.id
    GROUP BY e.src
),
a{r} AS (SELECT id FROM d{r} WHERE deg >= {k})"""
    return sql + f"""
SELECT id, CAST(deg AS BIGINT) AS core_degree FROM d{rounds} WHERE deg >= {k}"""


@register("kcore_members", _kcore_oracle_sql(k=3, rounds=4))
def q_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=3, 4 synchronous rounds) over the PURCHASED/
    CONTAINS projection — an iterative distributed graph algorithm with a
    full cross-engine hash oracle (unrolled peel rounds as chained CTEs,
    the label_propagation_communities pattern)."""
    _, edges = property_graph(spark, sf_dir)
    e = edges.filter(F.col("type").isin("PURCHASED", "CONTAINS"))
    return alg.kcore(e, k=3, rounds=4)


@register("louvain_communities", None)
def q_louvain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8: distributed Louvain (modularity-gain local moves + coarsening)
    over the weighted KNN similarity graph — the graph the reference's
    seeded ``best_partition`` actually clusters
    (``Louvain_community_algorithm.py:56-86``, weight='similarity').
    Deterministic (no RNG); quality gated by weighted modularity vs the
    LPA partition in tests (SURVEY §5: quality invariants, not id hashes)."""
    g = shared_sim_graph(spark, sf_dir)
    return alg.louvain(g, weight_col="similarity", undirected=False)


@register("louvain_degree_features", None)
def q_louvain_degree_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+W2 on X8 output: per-community degree moments/z/percentile with
    LOUVAIN communities (reference feeds best_partition's communityId into
    the feature pipeline, ``xgboost_training_for_big_data.py:126-128``)."""
    from ..operators.degrees import community_degree_features

    deg = shared_node_degrees(spark, sf_dir)
    comm = alg.louvain(
        shared_sim_graph(spark, sf_dir),
        weight_col="similarity",
        undirected=False,
    ).select(F.concat_ws("_", F.lit("cust"), F.col("id")).alias("id"), "community_id")
    d = comm.join(deg, "id", "left").na.fill({"degree": 0})
    return community_degree_features(d.select("id", "degree"), d.select("id", "community_id"))


@register(
    "community_stats",
    _lpa_oracle_sql(
        3,
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       ROUND(AVG(CAST(sz AS DOUBLE)), 6) AS avg_size,
       CAST(MAX(sz) AS BIGINT) AS max_size
FROM (SELECT label, COUNT(*) AS sz FROM {last} GROUP BY label)""",
    ),
)
def q_community_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9: community count/size stats over the LPA(3) partition —
    oracle-checked end to end through the unrolled vote rounds."""
    return alg.community_stats(_lpa3_shared(spark, sf_dir))


# ---------------------------------------------------------------------------
# M1-M9: link-prediction pipeline metrics (rows-only; invariants in tests)
# ---------------------------------------------------------------------------


@register("ml_multitower_metrics", None)
def q_ml_multitower_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 with real tower semantics: block-diagonal tower layer + shared
    head (reference ``Neural_network_multi_towered_training.py:62-147``),
    distributed full-batch Adam. Returns (metric, value) rows: first/last
    loss, iterations, val AUC. Deterministic (seeded init, no minibatch
    RNG) but float-iterative — rows-only by design."""
    from ..ml import recsys_store as rs

    # 6 Adam iterations for the registry's per-verification-run budget
    # (r3 verdict #1 — rows-only metric query; the 40-iteration config and
    # its loss/AUC floors live in test_multi_tower_training). The trained
    # parameters + scaler stats + loss history + FITTED METRICS persist in
    # the fingerprint-keyed artifact store (same offline-train /
    # online-serve split as the ALS/GBT/IVF-PQ artifacts): a fresh process
    # with unchanged sources serves the STORED val-AUC (doubles roundtrip
    # parquet bit-exactly), so served == fit is identity by construction —
    # the r8 12dp-rounding absorb of partition-order 1-ulp evaluator
    # jitter is retired with the recomputation itself (r8 ADVICE: two
    # values one ulp apart straddling a rounding boundary still rounded
    # differently, so equality was probabilistic). A store hit no longer
    # runs the val forward pass at all.
    # _ds_te derives from the full GRAPH_TABLES assembly — fingerprint every
    # source table, not just the interaction log (r7 ADVICE #1)
    t = load_tables(spark, sf_dir, names=GRAPH_TABLES)
    from ..ml import multitower as mt_mod

    fp = rs.fingerprint_sources(
        t,
        tag=rs.versioned_tag("mt_v1_i6lr005", mt_mod.ALGO_VERSION),
        component_cache=_fp_cache(spark, sf_dir),
    )
    path = rs.store_path(fp)
    names = ("mt_params", "mt_stats", "mt_history", "mt_metrics")
    loaded = rs.load_artifacts(spark, path, names)
    if loaded is not None:
        history = [
            r["loss"] for r in sorted(loaded["mt_history"].collect(), key=lambda r: r["it"])
        ]
        auc = {r["metric"]: r["value"] for r in loaded["mt_metrics"].collect()}["val_auc_roc"]
    else:
        from pyspark.ml.evaluation import BinaryClassificationEvaluator

        from ..ml import multitower as mt

        ds = _ds_te(spark, sf_dir)
        train, test = lp.split_train_test(ds)
        params, stats, history = mt.train_multi_tower(train, max_iter=6, lr=0.05)
        scored = mt.predict_multi_tower(test, params, stats).select(
            "label", F.col("probability").cast("double").alias("probability")
        )
        auc = float(
            BinaryClassificationEvaluator(
                labelCol="label", rawPredictionCol="probability", metricName="areaUnderROC"
            ).evaluate(scored)
        )
        rs.save_artifacts(
            spark,
            path,
            {
                "mt_params": spark.createDataFrame(
                    [
                        (k, [int(d) for d in v.shape], [float(x) for x in v.ravel()])
                        for k, v in params.items()
                    ],
                    "name string, dims array<int>, vals array<double>",
                ),
                "mt_stats": spark.createDataFrame(
                    [(c, float(m), float(s)) for c, (m, s) in stats.items()],
                    "col string, mean double, std double",
                ),
                "mt_history": spark.createDataFrame(
                    [(i, float(x)) for i, x in enumerate(history)], "it int, loss double"
                ),
                "mt_metrics": spark.createDataFrame(
                    [("val_auc_roc", auc)], "metric string, value double"
                ),
            },
        )
    rows = [
        ("first_loss", float(history[0])),
        ("last_loss", float(history[-1])),
        ("iterations", float(len(history))),
        ("val_auc_roc", float(auc)),
    ]
    return spark.createDataFrame(rows, ["metric", "value"])


@register("feature_importances", None)
def q_feature_importances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: train the weighted GBT (leakage-safe target encoding, same wiring
    as the metrics pipeline) and rank features by normalized gain — the
    reference prints this after every training run
    (``xgboost_training_for_big_data.py:758-764``). Rows-only: importances
    are model-dependent; invariants (15 named rows, sum≈1, descending)
    gated in tests. Reads the shared fitted GBT (_lp_shared) — same
    split-safe encoding and max_iter as the metrics pipeline, fit once."""
    ranked = lp.feature_importances(_lp_shared(spark, sf_dir)["model"], top_n=15)
    rows = [(i + 1, name, float(imp)) for i, (name, imp) in enumerate(ranked)]
    return spark.createDataFrame(rows, ["rank", "feature", "importance"])


@register("ml_link_prediction_metrics", None)
def q_ml_link_prediction_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1→M9 end to end: dataset assembly, hash split, weighted GBT fit,
    metric suite + overfit gate. Returns (metric, value) rows. Consumes
    the shared fit (_lp_shared) — one GBT per process."""
    return lp.run_pipeline(None, artifacts=_lp_shared(spark, sf_dir))


# ---------------------------------------------------------------------------
# S3: GraphML export -> scan roundtrip (oracle-checked against the node set)
# ---------------------------------------------------------------------------


@register(
    "graphml_roundtrip",
    """
SELECT concat_ws('_', 'cust', c_custkey) AS id, 'Customer' AS label, CAST(1 AS INT) AS dvid
FROM customer
UNION ALL
SELECT concat_ws('_', 'prod', p_partkey), 'Product', CAST(1 AS INT) FROM part
UNION ALL
SELECT concat_ws('_', 'order', o_orderkey), 'Order', CAST(o_orderkey % 5 + 1 AS INT) FROM orders
UNION ALL
SELECT concat_ws('_', 'loc', n_nationkey), 'Location', CAST(1 AS INT)
FROM nation JOIN region ON n_regionkey = r_regionkey
UNION ALL
SELECT DISTINCT concat_ws('_', 'cat', p_type), 'Category', CAST(1 AS INT) FROM part
""",
)
def q_graphml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 export + scan end-to-end: build the node/edge set, write GraphML
    (reference ``knowledge_graph_creation.py:243``), parse it back with the
    distributed scanner (``knn_similarity.py:97`` reads the same file), and
    hash-check the recovered nodes against the SQL-derived node set — the
    strongest check an interop format can get."""
    import shutil
    import tempfile

    from ..graph.graphml import export_graphml, read_graphml

    nodes, edges = property_graph(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="spark_graphml_")
    path = f"{tmp}/graph.graphml"
    export_graphml(nodes.select("id", "label", "dvid"), edges.select("src", "dst", "type"), path)
    back_nodes, _back_edges = read_graphml(spark, path)
    out = back_nodes.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "multimodal_meta",
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(ceil(octet_length(encode(text)) / 1024.0) AS INTEGER) AS est_frames,
       ('0x' || substr(md5(text), 1, 8))::BIGINT AS content_hash32
FROM documents
""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata extraction (schema + typed meta), pure SQL
    both sides — the plumbing every real decode pipeline sits on."""
    return mm.media_metadata(load_table(spark, "documents", sf_dir))


@register(
    "multimodal_frame_features",
    """
WITH frames AS (
    SELECT doc_id, CAST(gs.i AS INT) AS frame_no,
           substring(text, CAST(gs.i * 1024 + 1 AS BIGINT), 1024) AS chunk
    FROM documents,
         LATERAL (SELECT UNNEST(range(CAST(ceil(GREATEST(octet_length(encode(text)), 1) / 1024.0) AS BIGINT))) AS i) gs
),
feat AS (
    SELECT doc_id,
           ('0x' || substr(md5(chunk), 1, 8))::BIGINT AS h,
           octet_length(encode(chunk)) AS n_bytes
    FROM frames
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       ROUND(AVG(h % 256), 6) AS mean_luma,
       CAST(MAX(64 + h % 64) AS INT) AS max_width,
       CAST(MAX(64 + (h >> 8) % 64) AS INT) AS max_height
FROM feat GROUP BY doc_id
""",
)
def q_multimodal_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode-stub → per-doc frame features. The stub codec is
    deterministic (md5 over 1024-BYTE chunks), so even the Python escape
    hatch gets a full DuckDB hash oracle — the SQL chunks with character
    substring, byte-exact here because the synthetic corpus is ASCII (a
    real binary corpus keeps the rows-only check)."""
    frames = mm.decode_frames(load_table(spark, "documents", sf_dir))
    return mm.frame_features(frames)


@register(
    "multimodal_codec_roundtrip",
    """
WITH d AS (SELECT doc_id FROM documents),
bmp AS (
    SELECT doc_id, CAST(4 + doc_id % 8 AS INT) AS w, CAST(4 + (doc_id // 8) % 8 AS INT) AS h
    FROM d WHERE doc_id % 2 = 0
),
bmp_feat AS (
    SELECT doc_id, 'bmp' AS kind, w AS width, h AS height,
           CAST(NULL AS INT) AS sample_rate,
           CAST(w * h AS BIGINT) AS n_units,
           ROUND(m.mv, 6) AS mean_signal
    FROM bmp, LATERAL (
        SELECT AVG(CAST((bmp.doc_id * 31 + gs.i) % 256 AS DOUBLE)) AS mv
        FROM (SELECT UNNEST(range(CAST(bmp.w AS BIGINT) * bmp.h)) AS i) gs
    ) m
),
wav AS (
    SELECT doc_id, CAST(64 + doc_id % 64 AS BIGINT) AS n FROM d WHERE doc_id % 2 = 1
),
wav_feat AS (
    SELECT doc_id, 'wav' AS kind, CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
           CAST(8000 AS INT) AS sample_rate, n AS n_units,
           ROUND(m.mv, 6) AS mean_signal
    FROM wav, LATERAL (
        SELECT AVG(CAST((wav.doc_id * 7 + gs.i * 13) % 2001 - 1000 AS DOUBLE)) AS mv
        FROM (SELECT UNNEST(range(wav.n)) AS i) gs
    ) m
)
SELECT * FROM bmp_feat UNION ALL SELECT * FROM wav_feat
""",
)
def q_multimodal_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode, no codec libs needed: write a genuine 24-bit
    BMP (even doc_id) or 16-bit PCM WAV (odd doc_id) per document with
    stdlib struct — correct headers, 4-byte row padding, RIFF chunks —
    then blind-parse the bytes back (magic sniff, header walk, pixel/
    sample extraction) and emit decoded features. The pixel/sample
    generators are pure functions of doc_id, so the DECODED output is
    hash-checked against SQL that recomputes the same means directly —
    any header-layout, padding, or endianness mistake flips the gate.
    First of the four codec-roundtrip families (GIF/AIFF, PNG and
    baseline JPEG followed in r4/r7) — the codec surface is now fully
    real, no stubbed image/audio format remains."""
    docs = load_table(spark, "documents", sf_dir)
    return mm.decode_media(mm.synthesize_media(docs))


@register(
    "multimodal_codec_roundtrip_ext",
    """
WITH d AS (SELECT doc_id FROM documents),
gif AS (
    SELECT doc_id, CAST(4 + doc_id % 8 AS INT) AS w, CAST(4 + (doc_id // 8) % 8 AS INT) AS h
    FROM d WHERE doc_id % 2 = 0
),
gif_feat AS (
    SELECT doc_id, 'gif' AS kind, w AS width, h AS height,
           CAST(NULL AS INT) AS sample_rate,
           CAST(w * h AS BIGINT) AS n_units,
           ROUND(m.mv, 6) AS mean_signal
    FROM gif, LATERAL (
        SELECT AVG(CAST((gif.doc_id * 31 + gs.i) % 256 AS DOUBLE)) AS mv
        FROM (SELECT UNNEST(range(CAST(gif.w AS BIGINT) * gif.h)) AS i) gs
    ) m
),
aiff AS (
    SELECT doc_id, CAST(64 + doc_id % 64 AS BIGINT) AS n FROM d WHERE doc_id % 2 = 1
),
aiff_feat AS (
    SELECT doc_id, 'aiff' AS kind, CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
           CAST(8000 AS INT) AS sample_rate, n AS n_units,
           ROUND(m.mv, 6) AS mean_signal
    FROM aiff, LATERAL (
        SELECT AVG(CAST((aiff.doc_id * 7 + gs.i * 13) % 2001 - 1000 AS DOUBLE)) AS mv
        FROM (SELECT UNNEST(range(aiff.n)) AS i) gs
    ) m
)
SELECT * FROM gif_feat UNION ALL SELECT * FROM aiff_feat
""",
)
def q_multimodal_codec_roundtrip_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second struct-built codec roundtrip (round-4 verdict #6; PIL/
    soundfile remain absent, so the family extends with stdlib-parseable
    containers): a genuine LZW-coded GIF87a (even doc_id — the decoder is
    a full general LZW implementation with dictionary growth to 12 bits,
    CLEAR resets and the KwKwK case, property-tested against a real
    compressing encoder) or AIFF (odd doc_id — big-endian PCM plus the
    80-bit extended-float sample rate, the format's genuinely tricky
    field). Same deterministic pixel/sample generators as the BMP/WAV
    fixtures, so the decoded features hash-match SQL recomputing the
    means directly."""
    docs = load_table(spark, "documents", sf_dir)
    return mm.decode_media(mm.synthesize_media_ext(docs))


@register(
    "multimodal_codec_roundtrip_png",
    """
WITH d AS (
    SELECT doc_id, CAST(4 + doc_id % 8 AS INT) AS w, CAST(4 + (doc_id // 8) % 8 AS INT) AS h
    FROM documents
)
SELECT doc_id, 'png' AS kind, w AS width, h AS height,
       CAST(NULL AS INT) AS sample_rate,
       CAST(w * h AS BIGINT) AS n_units,
       ROUND(m.mv, 6) AS mean_signal
FROM d, LATERAL (
    SELECT AVG(CAST((d.doc_id * 31 + gs.i) % 256 AS DOUBLE)) AS mv
    FROM (SELECT UNNEST(range(CAST(d.w AS BIGINT) * d.h)) AS i) gs
) m
""",
)
def q_multimodal_codec_roundtrip_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third struct-built codec roundtrip (r6 verdict #5 — the pure-stdlib
    PNG path): a genuine 8-bit grayscale PNG per document — zlib-deflated
    IDAT, CRC-32-stamped chunks, scanline filters cycling through all
    five PNG filter types — blind-parsed back through the full decode
    pipeline (signature, chunk walk with CRC verification, inflate,
    per-row unfiltering incl. Average/Paeth). The pixel generator is the
    BMP/GIF one, so the decoded features hash-match SQL recomputing the
    means directly; any chunk-layout, CRC, inflate or unfilter mistake
    flips the gate."""
    docs = load_table(spark, "documents", sf_dir)
    return mm.decode_media(mm.synthesize_media_png(docs))


@register(
    "multimodal_codec_roundtrip_jpeg",
    """
WITH d AS (
    SELECT doc_id,
           CAST(8 * (1 + doc_id % 3) AS INT) AS w,
           CAST(8 * (1 + (doc_id // 3) % 3) AS INT) AS h
    FROM documents
)
SELECT doc_id, 'jpeg' AS kind, w AS width, h AS height,
       CAST(NULL AS INT) AS sample_rate,
       CAST(w * h AS BIGINT) AS n_units,
       ROUND(m.mv, 6) AS mean_signal
FROM d, LATERAL (
    SELECT AVG(CAST((d.doc_id * 31 + gs.i) % 256 AS DOUBLE)) AS mv
    FROM (SELECT UNNEST(range((CAST(d.w AS BIGINT) // 8) * (d.h // 8))) AS i) gs
) m
""",
)
def q_multimodal_codec_roundtrip_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth codec roundtrip — BASELINE JPEG in pure numpy/stdlib, closing
    the engine's last codec stub: standard Annex-K Huffman tables, zigzag,
    DC-predicted entropy coding with byte stuffing on the encode side; a
    full blind marker walk, canonical Huffman reconstruction, entropy
    decode, dequant + 8x8 IDCT on the decode side. JPEG is lossy in
    general, so the hash-oracled fixtures are BLOCK-CONSTANT images with a
    DC quantizer of 8 — on that subspace the codec is exact by
    construction (a constant block is DC-only and its DC quantizes
    without remainder), so the decoded means recompute in SQL over the
    generator arithmetic; generality on arbitrary images is pytest-gated
    by a DCT-roundtrip error bound (the property a lossy codec can
    honestly promise). Progressive JPEG raises ValueError — documented
    scope, not a stub."""
    docs = load_table(spark, "documents", sf_dir)
    return mm.decode_media(mm.synthesize_media_jpeg(docs))


@register(
    "multimodal_codec_roundtrip_jpeg_color",
    """
WITH d AS (
    SELECT doc_id,
           CAST(16 * (1 + doc_id % 2) AS INT) AS w,
           CAST(16 * (1 + (doc_id // 2) % 2) AS INT) AS h
    FROM documents WHERE doc_id % 4 = 0
)
SELECT doc_id, w AS width, h AS height,
       ROUND(y.mv, 6) AS mean_y,
       ROUND(c.mb, 6) AS mean_cb,
       ROUND(c.mr, 6) AS mean_cr
FROM d,
LATERAL (
    SELECT AVG(CAST((d.doc_id * 31 + gs.i) % 256 AS DOUBLE)) AS mv
    FROM (SELECT UNNEST(range((CAST(d.w AS BIGINT) // 8) * (d.h // 8))) AS i) gs
) y,
LATERAL (
    SELECT AVG(CAST((d.doc_id * 17 + gs.i) % 256 AS DOUBLE)) AS mb,
           AVG(CAST((d.doc_id * 23 + gs.i) % 256 AS DOUBLE)) AS mr
    FROM (SELECT UNNEST(range((CAST(d.w AS BIGINT) // 16) * (d.h // 16))) AS i) gs
) c
""",
)
def q_multimodal_codec_roundtrip_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOR baseline JPEG roundtrip (r7 verdict missing-#2 closed): a
    genuine 4:2:0 YCbCr JPEG per document — interleaved 4Y+Cb+Cr MCUs,
    per-component DC prediction, chroma coded at half resolution and
    box-upsampled on decode — blind-parsed back to per-plane means. The
    fixtures are block-constant on all three planes with chroma constant
    per 2x2 (subsample lossless) and a DC quantizer of 8 (block-constant
    exact), so every plane's mean recomputes in SQL from the generator
    arithmetic: a wrong MCU interleave order, chroma predictor mixup or
    upsample bug flips the hash. Lossy generality and restart/crop
    composition stay pytest-gated (test_multimodal_jpeg_color_roundtrip)."""
    # every 4th doc: the pure-Python entropy coder costs ~15ms/color image;
    # a quarter of the corpus keeps the verify-wall budget while all four
    # dim combinations and both chroma generators stay covered
    docs = load_table(spark, "documents", sf_dir).where(F.col("doc_id") % 4 == 0)
    return mm.decode_media_jpeg_color(mm.synthesize_media_jpeg_color(docs))


@register(
    "multimodal_thumbnail",
    """
WITH d AS (
    SELECT doc_id, CAST(4 + doc_id % 8 AS INT) AS w, CAST(4 + (doc_id // 8) % 8 AS INT) AS h
    FROM documents WHERE doc_id % 2 = 0
),
grid AS (
    SELECT r.r, c.c
    FROM (SELECT UNNEST(range(4)) AS r) r, (SELECT UNNEST(range(4)) AS c) c
)
SELECT d.doc_id, CAST(g.r AS INT) AS r, CAST(g.c AS INT) AS c,
       CAST((d.doc_id * 31 + ((g.r * d.h // 4) * d.w + (g.c * d.w // 4))) % 256 AS INT) AS px
FROM d, grid g
""",
)
def q_multimodal_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize as a pipeline stage: 4×4 nearest-neighbor thumbnails
    decoded from REAL BMP bytes (pixel-array offset, padded-row stride,
    channel extraction), one long-form row per thumbnail cell. The oracle
    recomputes every sampled pixel from the generator arithmetic — a
    wrong stride, offset or sampling index flips the hash."""
    docs = load_table(spark, "documents", sf_dir)
    return mm.thumbnail_media(mm.synthesize_media(docs), size=4)


def _shared_biased_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (num_walks=1, walk_len=3, p=1.0, q=0.5, seed=42, md5) biased walk
    set shared by ``node2vec_biased_walks`` (array form) and
    ``node2vec_biased_walks_flat`` (hash-checked flat form) — previously
    generated twice per verification run (r5 verdict: the two entries were
    22 s of the sf0.01 wall). The xxhash64 hot path stays covered by
    test_node2vec_biased_walks."""
    def build():
        return alg.node2vec_walks(
            property_graph(spark, sf_dir)[1],
            num_walks=1, walk_len=3, p=1.0, q=0.5, seed=42, hash_fn="md5",
        )

    return memo(spark, ("biased_walks_n1_l3_s42_md5", sf_dir), build)


@register("node2vec_biased_walks", None)
def q_node2vec_biased_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 second-order: p/q-biased walks (robust config's p=1.0, q=0.5),
    array form; shares the materialized md5 walk set with the flat
    hash-checked variant below."""
    return _shared_biased_walks(spark, sf_dir)


def _biased_walks_oracle_sql(
    num_walks: int, walk_len: int, p: float, q: float, seed: int, cap: int
) -> str:
    """DuckDB mirror of graph/algorithms.node2vec_walks(hash_fn='md5'):
    sorted adjacency lists (duplicates kept, as collect_list does), the
    deterministic candidate-cap thinning, the (prev, x) distance-1 join,
    and the Gumbel-argmax pick — each step one chained CTE. Floats embed
    Python repr so both engines parse identical IEEE doubles; ln/Gumbel
    arithmetic is the bit-parity pattern proven by the softmax-serving
    oracles. Assumes degrees under the max_degree cap (true for the test
    corpus; a violation flips the hash gate)."""
    import math as _m

    lp, lq = repr(_m.log(1.0 / p)), repr(_m.log(1.0 / q))

    def u(salts: str) -> str:
        return (
            f"((('0x' || substr(md5(concat_ws('|', {salts})), 1, 8))::BIGINT + 0.5)"
            " / 4294967296.0)"
        )

    sql = f"""
WITH {GRAPH_EDGES_CTE.strip()},
e AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
adj AS (SELECT src, list_sort(list(dst)) AS nbrs FROM e GROUP BY src),
mem AS (SELECT DISTINCT src AS prev, dst AS x FROM e),
s0 AS (
    SELECT concat_ws('#', s.src, wn.wn, '{seed}') AS walk_id,
           CAST(NULL AS VARCHAR) AS prev, s.src AS cur
    FROM (SELECT DISTINCT src FROM e) s
    CROSS JOIN (SELECT UNNEST(range({num_walks})) AS wn) wn
)"""
    for k in range(1, walk_len):
        u_pick = u(f"f.walk_id, '{k}', f.x")
        u_sel = u(f"c.walk_id, '{k}', 'sel', c.x")
        sql += f""",
s{k} AS (
    SELECT walk_id, cur AS prev, x AS cur FROM (
        SELECT f.walk_id, f.cur, f.x,
               ROW_NUMBER() OVER (
                   PARTITION BY f.walk_id
                   ORDER BY ((CASE WHEN f.x = f.prev THEN {lp}
                                   WHEN f.is_d1 THEN 0.0
                                   ELSE {lq} END)
                             - ln(-ln({u_pick}))) DESC, f.x DESC) AS rn
        FROM (
            SELECT c.walk_id, c.cur, c.prev, c.x, m.x IS NOT NULL AS is_d1
            FROM (
                SELECT w.walk_id, w.cur, w.prev, ex.x, len(a.nbrs) AS deg
                FROM s{k - 1} w
                JOIN adj a ON w.cur = a.src,
                LATERAL (SELECT UNNEST(a.nbrs) AS x) ex
            ) c
            LEFT JOIN mem m ON m.prev = c.prev AND m.x = c.x
            WHERE {u_sel} * c.deg < {float(cap)!r}
        ) f
    ) WHERE rn = 1
)"""
    trail = "\nUNION ALL\n".join(
        f"SELECT walk_id, CAST({k} AS INTEGER) AS pos, cur AS node FROM s{k}"
        for k in range(walk_len)
    )
    return sql + "\n" + trail


@register(
    "node2vec_biased_walks_flat",
    _biased_walks_oracle_sql(num_walks=1, walk_len=3, p=1.0, q=0.5, seed=42, cap=256),
)
def q_node2vec_biased_walks_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 second-order with a FULL hash oracle: md5-derived thinning +
    Gumbel-argmax picks are engine-agnostic, so the p/q-biased walk trail
    (including the candidate-cap hatch, active on the >256-degree location
    hubs at sf0.01) hash-matches DuckDB step for step. Shares the
    materialized walk set with the array-form entry above."""
    walks = _shared_biased_walks(spark, sf_dir)
    return walks.select("walk_id", F.posexplode("walk").alias("pos", "node")).select(
        "walk_id", F.col("pos").cast("int").alias("pos"), "node"
    )


# (ann_ivf_topk — the MLlib-KMeans IVF registry entry — was retired in
# round 6 per the r5 verdict: its dataflow is the same cell equi-join as
# the fully hash-oracled ann_ivf_hash_topk, and MLlib KMeans RNG is
# engine-private so it could never graduate past rows-only. The OPERATOR
# sim.ivf_topk remains, gated by test_ivf_recall's pytest floor.)


@register("quality_classifier_metrics", None)
def q_quality_classifier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the fastText/WebText-classifier
    stage of an LLM data pipeline (GPT-3 trained a classifier on
    WebText-vs-CommonCrawl; here the positive class is the heuristic
    top-quality quartile) as a pyspark.ml LogisticRegression over cheap
    per-doc text statistics. Beyond-reference scope per BASELINE.json.

    Rows-only (model fit), gated by invariants in pytest: deterministic
    md5 80/20 split, seeded fit, holdout AUC floor, and the score column
    bounded to [0,1]. At 100 TB the trained coefficient vector is a
    broadcastable constant and scoring is one whole-stage-codegen pass —
    the exact production economics of classifier-based filtering."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler

    from ..functions.text import md5_int32
    from ..operators import text_analysis as ta
    from ..sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    q = ta.quality_scores(docs)
    rep = ta.repetition_scores(docs).select("doc_id", "top_bigram_frac", "dup_token_frac")
    t = ta.token_stats(docs).select("doc_id", "ttr")
    feats = ["n_chars", "n_words", "punct_ratio", "stopword_ratio", "mean_word_len",
             "alpha_ratio", "top_bigram_frac", "dup_token_frac", "ttr"]
    # label: top-quality quartile by the heuristic composite (the stand-in
    # for human/reference-corpus labels)
    thresh = q.approxQuantile("quality_score", [0.75], 0.001)[0]
    ds = (
        q.join(rep, "doc_id")
        .join(t, "doc_id")
        .na.fill(0.0)
        .withColumn("label", (F.col("quality_score") >= F.lit(thresh)).cast("double"))
        .withColumn("holdout", F.pmod(md5_int32(F.concat(F.lit("qc_"), F.col("doc_id").cast("string"))), F.lit(100)) >= 80)
    )
    # materialize the assembled features once: the fit, the AUC pass and
    # the three diagnostic aggregates below otherwise each re-run the
    # 3-pass text-feature lineage (the in-process analog of writing the
    # feature table to parquet before training)
    assembled = (
        VectorAssembler(inputCols=feats, outputCol="features")
        .transform(ds)
        .localCheckpoint(eager=True)
    )
    train = assembled.filter(~F.col("holdout"))
    test = assembled.filter(F.col("holdout"))
    lr = LogisticRegression(featuresCol="features", labelCol="label", maxIter=20, regParam=0.01)
    model = lr.fit(train)
    scored = model.transform(test)
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    ).evaluate(scored)
    pos_rate = assembled.agg(F.avg("label")).collect()[0][0]
    rows = [
        ("holdout_auc_roc", float(auc)),
        ("train_rows", float(train.count())),
        ("test_rows", float(test.count())),
        ("positive_rate", float(pos_rate)),
        ("n_features", float(len(feats))),
    ]
    return spark.createDataFrame(rows, ["metric", "value"])


# ---------------------------------------------------------------------------
# Deterministic Lloyd k-means codebook (round-5: the TRAINED quantizer,
# fully hash-oracle-checked — MLlib's KMeans behind ann_ivf_topk stays
# rows-only because its init RNG is engine-private)
# ---------------------------------------------------------------------------


def _kmeans_oracle_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Unrolled DuckDB mirror of sim.kmeans_lloyd: md5-ordered seeding,
    9dp-rounded distances before each argmin, centroid means as
    9dp-rounded DECIMAL component sums divided once and re-rounded to
    12dp. Iteration CTEs are AS MATERIALIZED (each is referenced by both
    the next assignment and the update — same re-inlining pathology as
    the pagerank/HITS oracles)."""
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"dims AS MATERIALIZED (SELECT UNNEST(range(1, {dim + 1})) AS dim)",
        "cent0 AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cell, v AS cv "
        "FROM (SELECT vec_id, v, md5(concat('km_', CAST(vec_id AS VARCHAR))) AS h "
        f"FROM e ORDER BY h, vec_id LIMIT {k}))",
    ]
    for i in range(1, iters + 2):
        p = i - 1
        parts.append(
            f"dist{i} AS MATERIALIZED (SELECT e.vec_id, c.cell, "
            f"ROUND(list_distance(e.v, c.cv), 9) AS d FROM e CROSS JOIN cent{p} c)"
        )
        parts.append(
            f"assign{i} AS MATERIALIZED (SELECT vec_id, cell, d FROM ("
            f"SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS r "
            f"FROM dist{i}) WHERE r = 1)"
        )
        if i <= iters:
            parts.append(
                f"comp{i} AS MATERIALIZED (SELECT a.cell, dims.dim, "
                f"ROUND(CAST(SUM(CAST(ROUND(e.v[dims.dim], 9) AS DECIMAL(26,12))) AS DOUBLE) "
                f"/ COUNT(*), 12) AS m "
                f"FROM assign{i} a JOIN e ON e.vec_id = a.vec_id CROSS JOIN dims "
                f"GROUP BY a.cell, dims.dim)"
            )
            parts.append(
                f"cent{i} AS MATERIALIZED (SELECT cell, list(m ORDER BY dim) AS cv "
                f"FROM comp{i} GROUP BY cell)"
            )
    last = iters + 1
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT cell, CAST(COUNT(*) AS BIGINT) AS size,
       ROUND(CAST(SUM(CAST(d AS DECIMAL(26,12))) AS DOUBLE), 6) AS inertia,
       ROUND(CAST(SUM(CAST(d AS DECIMAL(26,12))) AS DOUBLE) / COUNT(*), 6) AS mean_dist
FROM assign{last} GROUP BY cell ORDER BY cell
"""
    )


@register("kmeans_codebook", _kmeans_oracle_sql(k=8, iters=2, dim=64))
def q_kmeans_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (k=8, 2 update rounds) over the
    embeddings table — cluster sizes, inertia and mean within-cluster
    distance hash-checked against the unrolled oracle. The trained
    sibling of the md5-sampled quantizers behind ann_ivf_hash_topk /
    semdedup_prune; assignment is a k-row broadcast, the update a
    (cell,dim)-keyed aggregate, so the dataflow is corpus-linear."""
    return sim.kmeans_lloyd(load_table(spark, "embeddings", sf_dir), k=8, iters=2)


def _pc1_oracle_sql(iters: int = 3, dim: int = 64) -> str:
    """Unrolled DuckDB mirror of sim.power_iteration_pc1: decimal-exact
    per-dim means, list-fold projections rounded to 9dp, 9dp-rounded
    DECIMAL matvec accumulation, 12dp normalized coordinates. Iteration
    CTEs AS MATERIALIZED (dual-referenced state, same re-inlining
    pathology as pagerank/HITS/kmeans oracles)."""
    r = dim + 1
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"dims AS MATERIALIZED (SELECT UNNEST(range(1, {r})) AS dim)",
        "compm AS MATERIALIZED (SELECT dims.dim, "
        "ROUND(CAST(SUM(CAST(ROUND(e.v[dims.dim], 9) AS DECIMAL(26,12))) AS DOUBLE) / COUNT(*), 12) AS m "
        "FROM e CROSS JOIN dims GROUP BY dims.dim)",
        "marr AS MATERIALIZED (SELECT list(m ORDER BY dim) AS m FROM compm)",
        f"c AS MATERIALIZED (SELECT e.vec_id, "
        f"list_transform(range(1, {r}), i -> e.v[i] - mm.m[i]) AS vc FROM e CROSS JOIN marr mm)",
        "x0l AS MATERIALIZED (SELECT dim, "
        "ROUND(('0x' || substr(md5(concat('pc_', CAST(dim - 1 AS VARCHAR))), 1, 8))::BIGINT "
        "/ 2147483648.0 - 1.0, 9) AS x FROM dims)",
        "x0 AS MATERIALIZED (SELECT list(x ORDER BY dim) AS xa FROM x0l)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT c.vec_id, c.vc, "
            f"ROUND(list_dot_product(c.vc, x{p}.xa), 9) AS s FROM c CROSS JOIN x{p})"
        )
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT dims.dim, "
            f"ROUND(CAST(SUM(CAST(ROUND(s.s * s.vc[dims.dim], 9) AS DECIMAL(26,12))) AS DOUBLE), 9) AS w9 "
            f"FROM s{i} s CROSS JOIN dims GROUP BY dims.dim)"
        )
        parts.append(
            f"n{i} AS MATERIALIZED (SELECT "
            f"CAST(SUM(CAST(ROUND(w9 * w9, 9) AS DECIMAL(26,12))) AS DOUBLE) AS n2 FROM w{i})"
        )
        parts.append(
            f"xl{i} AS MATERIALIZED (SELECT w.dim, ROUND(w.w9 / sqrt(n.n2), 12) AS x "
            f"FROM w{i} w CROSS JOIN n{i} n)"
        )
        parts.append(f"x{i} AS MATERIALIZED (SELECT list(x ORDER BY dim) AS xa FROM xl{i})")
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT CAST(xl.dim - 1 AS BIGINT) AS dim, ROUND(xl.x, 6) AS loading,
       ROUND(sqrt(n.n2), 6) AS eigenvalue
FROM xl{iters} xl CROSS JOIN n{iters} n
ORDER BY dim
"""
    )


@register("embedding_top_component", _pc1_oracle_sql(iters=3, dim=64))
def q_embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding space by 3 power-iteration
    rounds — the full 64-dim loading vector and the eigenvalue estimate
    hash-checked against the unrolled decimal-exact oracle. The spectral
    collapse audit for embedding quality (a dominant first component
    flags an anisotropic/collapsed space), and the covariance matvec
    pattern without ever materializing the dim×dim covariance."""
    return sim.power_iteration_pc1(load_table(spark, "embeddings", sf_dir), iters=3)


# ---------------------------------------------------------------------------
# Rank-2 weighted ALS (round-5: the model-based CF factorizer, fully
# hash-oracle-checked — MLlib's ALS stays out for the same reason as its
# KMeans: engine-private RNG/LAPACK that no SQL oracle can replay)
# ---------------------------------------------------------------------------


def _als_oracle_sql(alternations: int = 2) -> str:
    """Unrolled DuckDB mirror of ml.als.als_rank2 + als_fit_report:
    md5-seeded item factors, per-alternation user/item 2x2 Cramer solves
    from 9dp-rounded DECIMAL Gram sums, 12dp-rounded factors, and the
    0.1 regularizer multiplied as DOUBLE on both engines (DuckDB would
    otherwise parse 0.1 as DECIMAL and compute lam*n exactly, diverging
    from Spark's double multiply). Iteration CTEs AS MATERIALIZED (state
    is dual-referenced — same re-inlining pathology as the pagerank/
    HITS/kmeans oracles)."""
    lam_n = "CAST(0.1 AS DOUBLE) * CAST(n AS DOUBLE)"
    det = f"((a11 + {lam_n}) * (a22 + {lam_n}) - a12 * a12)"

    def seed(tag: str) -> str:
        return (
            f"ROUND(('0x' || substr(md5(concat('{tag}', CAST(p AS VARCHAR))), 1, 8))::BIGINT"
            " / 2147483648.0 - 1.0, 9) * 0.5"
        )

    def gram(out_key: str, in_key: str, factors: str) -> str:
        return (
            f"SELECT i.{out_key}, "
            "CAST(SUM(CAST(ROUND(i.w * f.f1 * f.f1, 9) AS DECIMAL(26,12))) AS DOUBLE) AS a11, "
            "CAST(SUM(CAST(ROUND(i.w * f.f1 * f.f2, 9) AS DECIMAL(26,12))) AS DOUBLE) AS a12, "
            "CAST(SUM(CAST(ROUND(i.w * f.f2 * f.f2, 9) AS DECIMAL(26,12))) AS DOUBLE) AS a22, "
            "CAST(SUM(CAST(ROUND(i.w * f.f1, 9) AS DECIMAL(26,12))) AS DOUBLE) AS b1, "
            "CAST(SUM(CAST(ROUND(i.w * f.f2, 9) AS DECIMAL(26,12))) AS DOUBLE) AS b2, "
            "COUNT(*) AS n "
            f"FROM inter i JOIN {factors} f ON f.{in_key} = i.{in_key} GROUP BY i.{out_key}"
        )

    def solve(key: str, gram_cte: str) -> str:
        return (
            f"SELECT {key}, "
            f"ROUND(((a22 + {lam_n}) * b1 - a12 * b2) / {det}, 12) AS f1, "
            f"ROUND(((a11 + {lam_n}) * b2 - a12 * b1) / {det}, 12) AS f2 "
            f"FROM {gram_cte}"
        )

    parts = [
        "inter AS MATERIALIZED (SELECT o_custkey AS c, l_partkey AS p, "
        "CAST(COUNT(*) AS DOUBLE) AS w FROM orders "
        "JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_custkey, l_partkey)",
        "yf0 AS MATERIALIZED (SELECT p, "
        f"{seed('alsYA_')} AS f1, {seed('alsYB_')} AS f2 "
        "FROM (SELECT DISTINCT p FROM inter))",
    ]
    for i in range(1, alternations + 1):
        parts.append(f"ug{i} AS MATERIALIZED ({gram('c', 'p', f'yf{i - 1}')})")
        parts.append(f"xf{i} AS MATERIALIZED ({solve('c', f'ug{i}')})")
        parts.append(f"ig{i} AS MATERIALIZED ({gram('p', 'c', f'xf{i}')})")
        parts.append(f"yf{i} AS MATERIALIZED ({solve('p', f'ig{i}')})")
    a = alternations
    parts.append(
        f"pred AS MATERIALIZED (SELECT i.w, ROUND(x.f1 * y.f1 + x.f2 * y.f2, 9) AS dot "
        f"FROM inter i JOIN xf{a} x ON x.c = i.c JOIN yf{a} y ON y.p = i.p)"
    )
    parts.append(
        "fit AS MATERIALIZED (SELECT "
        "CAST(SUM(CAST(ROUND(w * (1.0 - dot) * (1.0 - dot), 9) AS DECIMAL(26,12))) AS DOUBLE) AS wsse_d, "
        "CAST(SUM(CAST(w AS DECIMAL(26,12))) AS DOUBLE) AS sw_d FROM pred)"
    )
    parts.append(
        "nat AS MATERIALIZED (SELECT n.n_name AS nation, COUNT(*) AS n_customers, "
        "ROUND(CAST(SUM(CAST(ROUND(x.f1, 9) AS DECIMAL(26,12))) AS DOUBLE) / COUNT(*), 6) AS avg_f1, "
        "ROUND(CAST(SUM(CAST(ROUND(x.f2, 9) AS DECIMAL(26,12))) AS DOUBLE) / COUNT(*), 6) AS avg_f2 "
        f"FROM xf{a} x JOIN customer cu ON cu.c_custkey = x.c "
        "JOIN nation n ON n.n_nationkey = cu.c_nationkey GROUP BY n.n_name)"
    )
    return (
        "WITH " + ",\n".join(parts) + """
SELECT nation, CAST(n_customers AS BIGINT) AS n_customers, avg_f1, avg_f2,
       ROUND(f.wsse_d, 6) AS wsse, ROUND(sqrt(f.wsse_d / f.sw_d), 6) AS rmse
FROM nat CROSS JOIN fit f
ORDER BY nation
"""
    )


def _als_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    return (
        t["orders"]
        .select(F.col("o_custkey").alias("c"), "o_orderkey")
        .join(
            t["lineitem"].select("l_orderkey", F.col("l_partkey").alias("p")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("c", "p")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )


# above this many interaction rows the plain trainer's alternating SMJ
# starts sort-spilling on local[32] (SCALE.md 30x probe: 17.4M rows ran
# 2.1x over linear; 10x/5.8M was still linear) — switch to the bucketed
# co-partitioned layout there. The count() that dispatches is one columnar
# scan, the same convention as sim.ann_topk's size dispatch.
ALS_BUCKETED_MIN_ROWS = 8_000_000


def _als_shared(spark: SparkSession, sf_dir: str) -> tuple:
    """One trained (inter, X, Y) rank-2 ALS per Spark app (2 alternations,
    lam=0.1, full interaction table) — consumed by als_factors and the
    hybrid recommender. Size-dispatched: the bucketed zero-join-Exchange
    layout (als_rank2_bucketed, bit-identical factors) is the DEFAULT
    above ALS_BUCKETED_MIN_ROWS interactions (r5 verdict #4).

    Store-backed (r6 verdict #1 wall trim): the factor tables persist in
    the fingerprint-keyed parquet artifact store, so a FRESH process with
    unchanged interaction sources READS X/Y instead of re-running the four
    half-step jobs — the same offline-train / online-serve split the
    hybrid recommender's artifacts already ride (factors are 12dp-rounded,
    parquet-roundtrip bit-exact; freshness by fingerprint construction).
    The interaction table itself is one cheap join+aggregate, rebuilt
    per process."""
    from ..ml import recsys_store as rs

    def build():
        inter = _als_interactions(spark, sf_dir)
        t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
        fp = rs.fingerprint(
            t["orders"],
            t["lineitem"],
            tag=rs.versioned_tag("als_v1_a2lam01", als_mod.ALGO_VERSION),
            component_cache=_fp_cache(spark, sf_dir),
        )
        path = rs.store_path(fp)
        loaded = rs.load_artifacts(spark, path, ("als_x", "als_y"))
        if loaded is None:
            if inter.count() > ALS_BUCKETED_MIN_ROWS:
                _, x, y = als_mod.als_rank2_bucketed(inter, alternations=2, lam=0.1)
            else:
                _, x, y = als_mod.als_rank2(inter, alternations=2, lam=0.1)
            loaded = rs.save_artifacts(spark, path, {"als_x": x, "als_y": y})
        return inter, loaded["als_x"], loaded["als_y"]

    return memo(spark, ("als_rank2_a2", sf_dir), build)


@register("als_factors", _als_oracle_sql(alternations=2))
def q_als_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-2 weighted ALS over the customer x product purchase matrix
    (2 full U->I alternations, closed-form 2x2 solves, lam=0.1) — the
    per-nation customer-factor means plus the global weighted SSE / RMSE,
    all hash-checked against the unrolled decimal-exact oracle. The
    model-based CF counterpart of item_item_neighbors; every iterate is
    engine-exact (see ml/als.py for the convention and the scale story)."""
    t = load_tables(spark, sf_dir, names=("customer", "nation"))
    inter_m, x, y = _als_shared(spark, sf_dir)
    fit = als_mod.als_fit_report(inter_m, x, y)
    nat = (
        x.join(
            t["customer"].select(F.col("c_custkey").alias("c"), "c_nationkey"), "c"
        )
        .join(
            t["nation"].select(F.col("n_nationkey").alias("c_nationkey"), "n_name"),
            "c_nationkey",
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.round(F.col("f1"), 9).cast("decimal(26,12)")).alias("s1"),
            F.sum(F.round(F.col("f2"), 9).cast("decimal(26,12)")).alias("s2"),
        )
        .select(
            "nation",
            F.col("cnt").cast("long").alias("n_customers"),
            F.round(F.col("s1").cast("double") / F.col("cnt"), 6).alias("avg_f1"),
            F.round(F.col("s2").cast("double") / F.col("cnt"), 6).alias("avg_f2"),
        )
    )
    return (
        nat.crossJoin(F.broadcast(fit))
        .select(
            "nation",
            "n_customers",
            "avg_f1",
            "avg_f2",
            F.round(F.col("wsse_d"), 6).alias("wsse"),
            F.round(F.sqrt(F.col("wsse_d") / F.col("sw_d")), 6).alias("rmse"),
        )
        .orderBy("nation")
    )


def _als_fold_oracle_sql(alternations: int = 2) -> str:
    """Unrolled DuckDB mirror of als_rank2-on-the-warm-split +
    als_fold_in: the md5 cohort split, the full train chain (same
    gram/solve strings as _als_oracle_sql), one fold-in U-step for the
    cohort against the frozen item factors, and the per-customer fit."""
    lam_n = "CAST(0.1 AS DOUBLE) * CAST(n AS DOUBLE)"
    det = f"((a11 + {lam_n}) * (a22 + {lam_n}) - a12 * a12)"

    def seed(tag: str) -> str:
        return (
            f"ROUND(('0x' || substr(md5(concat('{tag}', CAST(p AS VARCHAR))), 1, 8))::BIGINT"
            " / 2147483648.0 - 1.0, 9) * 0.5"
        )

    def gram(src: str, out_key: str, in_key: str, factors: str) -> str:
        return (
            f"SELECT i.{out_key}, "
            "CAST(SUM(CAST(ROUND(i.w * f.f1 * f.f1, 9) AS DECIMAL(26,12))) AS DOUBLE) AS a11, "
            "CAST(SUM(CAST(ROUND(i.w * f.f1 * f.f2, 9) AS DECIMAL(26,12))) AS DOUBLE) AS a12, "
            "CAST(SUM(CAST(ROUND(i.w * f.f2 * f.f2, 9) AS DECIMAL(26,12))) AS DOUBLE) AS a22, "
            "CAST(SUM(CAST(ROUND(i.w * f.f1, 9) AS DECIMAL(26,12))) AS DOUBLE) AS b1, "
            "CAST(SUM(CAST(ROUND(i.w * f.f2, 9) AS DECIMAL(26,12))) AS DOUBLE) AS b2, "
            "COUNT(*) AS n "
            f"FROM {src} i JOIN {factors} f ON f.{in_key} = i.{in_key} GROUP BY i.{out_key}"
        )

    def solve(key: str, gram_cte: str) -> str:
        return (
            f"SELECT {key}, "
            f"ROUND(((a22 + {lam_n}) * b1 - a12 * b2) / {det}, 12) AS f1, "
            f"ROUND(((a11 + {lam_n}) * b2 - a12 * b1) / {det}, 12) AS f2 "
            f"FROM {gram_cte}"
        )

    parts = [
        "inter0 AS MATERIALIZED (SELECT o_custkey AS c, l_partkey AS p, "
        "CAST(COUNT(*) AS DOUBLE) AS w FROM orders "
        "JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_custkey, l_partkey)",
        "inter AS MATERIALIZED (SELECT * FROM inter0 WHERE "
        "(('0x' || substr(md5(concat('alsfold_', CAST(c AS VARCHAR))), 1, 8))::BIGINT % 10) <> 0)",
        "newu AS MATERIALIZED (SELECT * FROM inter0 WHERE "
        "(('0x' || substr(md5(concat('alsfold_', CAST(c AS VARCHAR))), 1, 8))::BIGINT % 10) = 0)",
        "yf0 AS MATERIALIZED (SELECT p, "
        f"{seed('alsYA_')} AS f1, {seed('alsYB_')} AS f2 "
        "FROM (SELECT DISTINCT p FROM inter))",
    ]
    for i in range(1, alternations + 1):
        parts.append(f"ug{i} AS MATERIALIZED ({gram('inter', 'c', 'p', f'yf{i - 1}')})")
        parts.append(f"xf{i} AS MATERIALIZED ({solve('c', f'ug{i}')})")
        parts.append(f"ig{i} AS MATERIALIZED ({gram('inter', 'p', 'c', f'xf{i}')})")
        parts.append(f"yf{i} AS MATERIALIZED ({solve('p', f'ig{i}')})")
    a = alternations
    parts.append(f"ugf AS MATERIALIZED ({gram('newu', 'c', 'p', f'yf{a}')})")
    parts.append(f"xff AS MATERIALIZED ({solve('c', 'ugf')})")
    parts.append(
        "predu AS MATERIALIZED (SELECT i.c, i.w, "
        f"ROUND(x.f1 * y.f1 + x.f2 * y.f2, 9) AS dot "
        f"FROM newu i JOIN xff x ON x.c = i.c JOIN yf{a} y ON y.p = i.p)"
    )
    return (
        "WITH " + ",\n".join(parts) + """
SELECT p.c AS customer_id,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(MAX(x.f1), 6) AS f1,
       ROUND(MAX(x.f2), 6) AS f2,
       ROUND(sqrt(CAST(SUM(CAST(ROUND(p.w * (1.0 - p.dot) * (1.0 - p.dot), 9) AS DECIMAL(26,12))) AS DOUBLE)
                  / CAST(SUM(CAST(p.w AS DECIMAL(26,12))) AS DOUBLE)), 6) AS rmse_u
FROM predu p JOIN xff x ON x.c = p.c
GROUP BY p.c
"""
    )


@register("als_fold_in", _als_fold_oracle_sql(alternations=2))
def q_als_fold_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS cold-start fold-in: train rank-2 ALS on the warm 90% of
    customers (md5 cohort split), then solve the held-out 10% against the
    FROZEN item factors in one U-step — the standard new-user serving
    path (no retrain). Per-cohort-customer factors, covered-item count
    and personal weighted RMSE, all hash-checked through the unrolled
    train+fold oracle. Items unseen in training drop from the inner join
    on both engines (fold-in covers known items only)."""
    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    from ..functions.text import md5_int32

    inter0 = (
        t["orders"]
        .select(F.col("o_custkey").alias("c"), "o_orderkey")
        .join(
            t["lineitem"].select("l_orderkey", F.col("l_partkey").alias("p")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("c", "p")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    is_new = (
        md5_int32(F.concat(F.lit("alsfold_"), F.col("c").cast("string"))) % 10 == 0
    )
    train = inter0.filter(~is_new)
    newu = inter0.filter(is_new).localCheckpoint(eager=True)
    _, _, y = als_mod.als_rank2(train, alternations=2, lam=0.1)
    xf = als_mod.als_fold_in(newu, y, lam=0.1)
    pred = (
        newu.join(xf.select("c", F.col("f1").alias("x1"), F.col("f2").alias("x2")), "c")
        .join(y.select("p", F.col("f1").alias("y1"), F.col("f2").alias("y2")), "p")
        .select(
            "c",
            "w",
            F.round(F.col("x1") * F.col("y1") + F.col("x2") * F.col("y2"), 9).alias("dot"),
        )
    )
    err = F.col("w") * (F.lit(1.0) - F.col("dot")) * (F.lit(1.0) - F.col("dot"))
    per = pred.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.round(err, 9).cast("decimal(26,12)")).cast("double").alias("wsse_d"),
        F.sum(F.col("w").cast("decimal(26,12)")).cast("double").alias("sw_d"),
    )
    return (
        per.join(xf, "c")
        .select(
            F.col("c").alias("customer_id"),
            "n_items",
            F.round(F.col("f1"), 6).alias("f1"),
            F.round(F.col("f2"), 6).alias("f2"),
            F.round(F.sqrt(F.col("wsse_d") / F.col("sw_d")), 6).alias("rmse_u"),
        )
    )


def _hybrid_oracle_sql(alternations: int = 2) -> str:
    """Unrolled DuckDB mirror of q_hybrid_recommendations: capped basket +
    item-item neighbor table + the full ALS train chain + decayed
    popularity, fused per cohort customer by reciprocal-rank fusion.
    Every ranker's sort key is engine-exact (6dp CF cosine, 9dp ALS dot,
    DECIMAL popularity), ranks are integers, and the RRF sum is the same
    fixed-order double expression on both engines."""
    lam_n = "CAST(0.1 AS DOUBLE) * CAST(n AS DOUBLE)"
    det = f"((a11 + {lam_n}) * (a22 + {lam_n}) - a12 * a12)"

    def seed(tag: str) -> str:
        return (
            f"ROUND(('0x' || substr(md5(concat('{tag}', CAST(p AS VARCHAR))), 1, 8))::BIGINT"
            " / 2147483648.0 - 1.0, 9) * 0.5"
        )

    def gram(src: str, out_key: str, in_key: str, factors: str) -> str:
        return (
            f"SELECT i.{out_key}, "
            "CAST(SUM(CAST(ROUND(i.w * f.f1 * f.f1, 9) AS DECIMAL(26,12))) AS DOUBLE) AS a11, "
            "CAST(SUM(CAST(ROUND(i.w * f.f1 * f.f2, 9) AS DECIMAL(26,12))) AS DOUBLE) AS a12, "
            "CAST(SUM(CAST(ROUND(i.w * f.f2 * f.f2, 9) AS DECIMAL(26,12))) AS DOUBLE) AS a22, "
            "CAST(SUM(CAST(ROUND(i.w * f.f1, 9) AS DECIMAL(26,12))) AS DOUBLE) AS b1, "
            "CAST(SUM(CAST(ROUND(i.w * f.f2, 9) AS DECIMAL(26,12))) AS DOUBLE) AS b2, "
            "COUNT(*) AS n "
            f"FROM {src} i JOIN {factors} f ON f.{in_key} = i.{in_key} GROUP BY i.{out_key}"
        )

    def solve(key: str, gram_cte: str) -> str:
        return (
            f"SELECT {key}, "
            f"ROUND(((a22 + {lam_n}) * b1 - a12 * b2) / {det}, 12) AS f1, "
            f"ROUND(((a11 + {lam_n}) * b2 - a12 * b1) / {det}, 12) AS f2 "
            f"FROM {gram_cte}"
        )

    parts = [
        # capped basket (the item-item / cohort universe)
        "basket0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_partkey AS p "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey)",
        "basket AS MATERIALIZED (SELECT * FROM basket0 WHERE c NOT IN ("
        "SELECT c FROM basket0 GROUP BY c HAVING COUNT(*) > 200))",
        # item-item neighbor table (same as item_item_neighbors)
        "prod AS MATERIALIZED (SELECT p, COUNT(*) AS cnt FROM basket GROUP BY p)",
        "anchors AS MATERIALIZED (SELECT p, cnt FROM prod ORDER BY cnt DESC, p ASC LIMIT 100)",
        "iipairs AS MATERIALIZED (SELECT a.p AS anchor, b.p AS neighbor, COUNT(*) AS support "
        "FROM (SELECT bk.c, bk.p FROM basket bk JOIN anchors an ON bk.p = an.p) a "
        "JOIN basket b ON a.c = b.c AND a.p <> b.p GROUP BY a.p, b.p)",
        "iiscored AS MATERIALIZED (SELECT anchor, neighbor, support, "
        "CAST(support AS DOUBLE) / sqrt(CAST(pa.cnt * pb.cnt AS DOUBLE)) AS cos_raw "
        "FROM iipairs JOIN anchors pa ON pa.p = anchor JOIN prod pb ON pb.p = neighbor "
        "WHERE support >= 3)",
        "nb AS MATERIALIZED (SELECT anchor, neighbor, ROUND(cos_raw, 6) AS cosine FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY cos_raw DESC, neighbor ASC) AS r "
        "FROM iiscored) WHERE r <= 5)",
        # ALS train chain (same as als_factors)
        "inter AS MATERIALIZED (SELECT o_custkey AS c, l_partkey AS p, "
        "CAST(COUNT(*) AS DOUBLE) AS w FROM orders "
        "JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_custkey, l_partkey)",
        "yf0 AS MATERIALIZED (SELECT p, "
        f"{seed('alsYA_')} AS f1, {seed('alsYB_')} AS f2 "
        "FROM (SELECT DISTINCT p FROM inter))",
    ]
    for i in range(1, alternations + 1):
        parts.append(f"ug{i} AS MATERIALIZED ({gram('inter', 'c', 'p', f'yf{i - 1}')})")
        parts.append(f"xf{i} AS MATERIALIZED ({solve('c', f'ug{i}')})")
        parts.append(f"ig{i} AS MATERIALIZED ({gram('inter', 'p', 'c', f'xf{i}')})")
        parts.append(f"yf{i} AS MATERIALIZED ({solve('p', f'ig{i}')})")
    a = alternations
    parts += [
        # decayed popularity (same decimal terms as recency_weighted_popularity)
        "purch AS MATERIALIZED (SELECT l_partkey AS p, CAST(o_orderdate AS DATE) AS d "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey)",
        "mx AS MATERIALIZED (SELECT MAX(d) AS mx FROM purch)",
        "popagg AS MATERIALIZED (SELECT p, SUM(CAST(ROUND(POWER(0.5, "
        "date_diff('day', d, mx.mx) / 180.0), 12) AS DECIMAL(26,12))) AS score_dec "
        "FROM purch CROSS JOIN mx GROUP BY p)",
        "pop20 AS MATERIALIZED (SELECT p FROM popagg ORDER BY score_dec DESC, p ASC LIMIT 20)",
        # cohort + candidate pool
        "cohort AS MATERIALIZED (SELECT DISTINCT c FROM basket WHERE "
        "(('0x' || substr(md5(concat('hyb_', CAST(c AS VARCHAR))), 1, 8))::BIGINT % 20) = 0)",
        "cf_cand AS MATERIALIZED (SELECT b.c, nb.neighbor AS p, MAX(nb.cosine) AS cf "
        "FROM basket b JOIN cohort ch ON ch.c = b.c JOIN nb ON nb.anchor = b.p "
        "GROUP BY b.c, nb.neighbor)",
        "pop_cand AS MATERIALIZED (SELECT ch.c, p20.p, CAST(NULL AS DOUBLE) AS cf "
        "FROM cohort ch CROSS JOIN pop20 p20)",
        "cand0 AS MATERIALIZED (SELECT c, p, MAX(cf) AS cf FROM ("
        "SELECT * FROM cf_cand UNION ALL SELECT * FROM pop_cand) GROUP BY c, p)",
        "cand1 AS MATERIALIZED (SELECT c0.* FROM cand0 c0 WHERE NOT EXISTS ("
        "SELECT 1 FROM basket b WHERE b.c = c0.c AND b.p = c0.p))",
        f"cand AS MATERIALIZED (SELECT c1.c, c1.p, COALESCE(c1.cf, -1.0) AS cfs, "
        f"ROUND(x.f1 * y.f1 + x.f2 * y.f2, 9) AS als, pa.score_dec AS pop "
        f"FROM cand1 c1 JOIN xf{a} x ON x.c = c1.c JOIN yf{a} y ON y.p = c1.p "
        f"JOIN popagg pa ON pa.p = c1.p)",
        "rr AS MATERIALIZED (SELECT c, p, "
        "ROW_NUMBER() OVER (PARTITION BY c ORDER BY cfs DESC, p ASC) AS r_cf, "
        "ROW_NUMBER() OVER (PARTITION BY c ORDER BY als DESC, p ASC) AS r_als, "
        "ROW_NUMBER() OVER (PARTITION BY c ORDER BY pop DESC, p ASC) AS r_pop "
        "FROM cand)",
        "fused AS MATERIALIZED (SELECT c, p, "
        "ROUND(CAST(0.5 AS DOUBLE) / r_cf + CAST(0.3 AS DOUBLE) / r_als "
        "+ CAST(0.2 AS DOUBLE) / r_pop, 9) AS rrf FROM rr)",
    ]
    return (
        "WITH " + ",\n".join(parts) + """
SELECT c AS customer_id, CAST(rank AS INT) AS rank, p AS p_partkey,
       ROUND(rrf, 6) AS rrf_score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c ORDER BY rrf DESC, p ASC) AS rank
      FROM fused)
WHERE rank <= 3
"""
    )


def _recsys_artifacts(spark: SparkSession, sf_dir: str) -> dict:
    """The hybrid recommender's trained models, served from the parquet
    artifact store (ml/recsys_store): on a fingerprint hit the ALS factor
    tables and the item-item neighbor table are READ, not retrained —
    the offline-train / online-serve separation a production recommender
    runs (r5 verdict #6: the 42.5 s cold hybrid was retraining both
    models inline). A miss (first run, changed sources, changed config)
    trains via the same hash-checked shared builders and persists. The
    artifacts roundtrip bit-exactly, so served output is hash-identical
    to inline training (freshness + identity gate-tested)."""
    from ..ml import recsys_store as rs

    def build():
        t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
        from .registry_relational import ITEM_ITEM_ALGO_VERSION

        fp = rs.fingerprint(
            t["orders"],
            t["lineitem"],
            tag=rs.versioned_tag(
                "hyb_v1_a2lam01_nb100x5s3", als_mod.ALGO_VERSION, ITEM_ITEM_ALGO_VERSION
            ),
            component_cache=_fp_cache(spark, sf_dir),
        )
        path = rs.store_path(fp)
        names = ("als_x", "als_y", "item_neighbors", "popularity", "basket")
        loaded = rs.load_artifacts(spark, path, names)
        if loaded is not None:
            return loaded
        from .registry_relational import capped_basket, item_item_topk

        nb = item_item_topk(spark, sf_dir)
        _, x, y = _als_shared(spark, sf_dir)
        purch = (
            t["orders"]
            .join(t["lineitem"], t["orders"].o_orderkey == t["lineitem"].l_orderkey)
            .select(F.col("l_partkey").alias("p"), F.to_date("o_orderdate").alias("d"))
        )
        mx = purch.agg(F.max("d").alias("mx"))
        popagg = (
            purch.crossJoin(F.broadcast(mx))
            .select(
                "p",
                F.round(F.pow(F.lit(0.5), F.datediff("mx", "d") / F.lit(180.0)), 12)
                .cast("decimal(26,12)")
                .alias("term"),
            )
            .groupBy("p")
            .agg(F.sum("term").alias("pop"))
        )
        return rs.save_artifacts(
            spark,
            path,
            {
                "als_x": x,
                "als_y": y,
                "item_neighbors": nb,
                "popularity": popagg,
                # the capped purchase-incidence basket is the serving-time
                # feature-store table (user history); it derives purely
                # from the fingerprinted interaction log
                "basket": capped_basket(spark, sf_dir),
            },
        )

    return memo(spark, ("recsys_store", sf_dir), build)


@register("hybrid_recommendations", _hybrid_oracle_sql(alternations=2))
def q_hybrid_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hybrid recommender, end to end: per cohort customer (md5 5%
    sample), candidates = item-item CF neighbors of their purchased
    anchor items ∪ the global time-decay top-20 fallback, minus
    already-purchased; three rankers over the pool — CF cosine (6dp),
    trained rank-2 ALS dot (9dp), decayed popularity (exact DECIMAL) —
    fused by reciprocal-rank fusion 0.5/r_cf + 0.3/r_als + 0.2/r_pop
    (RRF: ranks are integers, so fusion carries NO cross-engine float
    normalization risk); top-3 per customer. Rides the memoized capped
    basket, item-item table and trained ALS artifacts — the retrieval ∪
    fallback → multi-ranker → fuse architecture every production
    recommender serves. All three component models are themselves
    hash-checked queries (item_item_neighbors, als_factors,
    recency_weighted_popularity); this query pins their COMPOSITION.
    The trained models arrive via the parquet artifact store
    (_recsys_artifacts): offline train, online serve."""
    art = _recsys_artifacts(spark, sf_dir)
    basket = art["basket"]
    nb, x, y = art["item_neighbors"], art["als_x"], art["als_y"]
    popagg = art["popularity"]
    pop20 = popagg.orderBy(F.desc("pop"), F.asc("p")).limit(20).select("p")

    from ..functions.text import md5_int32

    cohort = (
        basket.select("c")
        .distinct()
        .filter(md5_int32(F.concat(F.lit("hyb_"), F.col("c").cast("string"))) % 20 == 0)
    )
    cf_cand = (
        basket.join(cohort, "c")
        .join(nb.select(F.col("anchor").alias("p"), "neighbor", "cosine"), "p")
        .groupBy("c", F.col("neighbor").alias("cp"))
        .agg(F.max("cosine").alias("cf"))
        .select("c", F.col("cp").alias("p"), "cf")
    )
    pop_cand = cohort.crossJoin(F.broadcast(pop20)).select(
        "c", "p", F.lit(None).cast("double").alias("cf")
    )
    cand0 = (
        cf_cand.unionByName(pop_cand)
        .groupBy("c", "p")
        .agg(F.max("cf").alias("cf"))
    )
    cand1 = cand0.join(basket, ["c", "p"], "left_anti")
    cand = (
        cand1.join(x.select("c", F.col("f1").alias("x1"), F.col("f2").alias("x2")), "c")
        .join(y.select("p", F.col("f1").alias("y1"), F.col("f2").alias("y2")), "p")
        .join(popagg, "p")
        .select(
            "c",
            "p",
            F.coalesce(F.col("cf"), F.lit(-1.0)).alias("cfs"),
            F.round(F.col("x1") * F.col("y1") + F.col("x2") * F.col("y2"), 9).alias("als"),
            "pop",
        )
    )
    from pyspark.sql import Window as W

    def rnk(col: str) -> F.Column:
        return F.row_number().over(W.partitionBy("c").orderBy(F.desc(col), F.asc("p")))

    rr = cand.select(
        "c", "p", rnk("cfs").alias("r_cf"), rnk("als").alias("r_als"), rnk("pop").alias("r_pop")
    )
    rrf = F.round(
        F.lit(0.5) / F.col("r_cf") + F.lit(0.3) / F.col("r_als") + F.lit(0.2) / F.col("r_pop"),
        9,
    )
    fused = rr.select("c", "p", rrf.alias("rrf"))
    fw = W.partitionBy("c").orderBy(F.desc("rrf"), F.asc("p"))
    return (
        fused.withColumn("rank", F.row_number().over(fw))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("c").alias("customer_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("p").alias("p_partkey"),
            F.round(F.col("rrf"), 6).alias("rrf_score"),
        )
    )
