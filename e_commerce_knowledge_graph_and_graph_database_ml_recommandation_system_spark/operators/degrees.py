"""Degree feature engineering (SURVEY §2.6 A1-A4, §2.7 W1-W3).

Reference: ``feature_engineering/degree_analysis.py`` — computes per-node
degree, log1p(degree), global percentile/z-score, and per-label (and
per-community) normalized variants by looping over ``G.degree()`` dicts.

Spark design: degree is one exploded groupBy (map-side combinable), and all
normalizations are window functions over the degree DF — no collected dicts.
The windows partition by label/community, so at 100 TB each partition is one
label's nodes (≤ node count / |labels|); the single global window (W1) is the
only full-sort — acceptable because its input is the *aggregated* per-node
degree table, already orders of magnitude smaller than edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def node_degrees(edges: DataFrame) -> DataFrame:
    """A1: undirected degree per node id.

    ``explode(array(src,dst))`` then one hash aggregate: a single shuffle on
    node id with map-side partial counts.
    (reference: ``degree_analysis.py:25,33-48`` builds dict(G.degree()))
    """
    return (
        edges.select(F.explode(F.array("src", "dst")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )


def in_out_degrees(edges: DataFrame) -> DataFrame:
    """Directed in/out degree per node (full outer merge of two aggregates)."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_degree"))
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_degree"))
    return (
        out_d.join(in_d, "id", "full_outer")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def degree_features(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A1-A3 + W1-W3: the reference's degree feature block
    (``degree_analysis.py:33-73``) as one declarative plan.

    Columns: id, label, degree, log_degree, degree_percentile (global,
    cume_dist ≈ scipy 'weak' percentileofscore), degree_zscore (global),
    type_degree_zscore (per-label).

    Scale design: a naive global window (``Window.orderBy(degree)``) funnels
    every node through ONE task. Instead all global/per-label statistics are
    computed on the (label, degree)->count HISTOGRAM — thousands of rows even
    at 100 TB because degree is a heavy-tailed integer — then broadcast-joined
    back. No full-table sort, no single-partition stage over row-scale data.
    """
    deg = node_degrees(edges)
    d = nodes.select("id", "label").join(deg, "id", "left").na.fill({"degree": 0})
    return degree_feature_stats(d)


def degree_feature_stats(d: DataFrame) -> DataFrame:
    """W1-W3 statistics layer of ``degree_features`` over a prepared
    (id, label, degree) frame."""
    # tiny histogram of (label, degree). Deliberately NOT checkpointed
    # (r11 optimization round, measured): the stats consumers look
    # like repeated subtree evaluations, but AQE's ReusedExchange dedupes
    # them at execution — an eager checkpoint here measured consistently
    # SLOWER (1.85s -> 2.27s steady, same window) because the extra job
    # barrier outweighs the reuse it duplicates.
    hist = d.groupBy("label", "degree").agg(F.count("*").alias("cnt"))

    # single-partition stats pass (r12, §2.4/§5 fewer barriers): every
    # statistic below is an exact integer (long) sum over the dim-sized
    # (label, degree) histogram, so ONE task computes the global cume
    # distribution, the global moments AND the per-label moments as
    # window functions over the same single partition — SinglePartition
    # satisfies both the empty and the per-label clustering requirement,
    # so the three window specs plan with no further exchange. This
    # replaces the r11 shape (a groupBy(degree) exchange + a 1-row total,
    # a 1-row global-moment and a per-label-moment aggregate, each its own
    # broadcast job barrier) with one stage + one broadcast; the sums are
    # longs, so every derived double is bit-identical to the old form.
    w_cume = Window.orderBy("degree").rangeBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    w_lab = Window.partitionBy("label")

    def _mom(w):
        mean = F.sum(F.col("degree") * F.col("cnt")).over(w) / F.sum("cnt").over(w)
        std = F.sqrt(
            F.greatest(
                F.lit(0.0),
                F.sum(F.col("cnt") * F.col("degree") * F.col("degree")).over(w)
                / F.sum("cnt").over(w)
                - F.pow(mean, 2),
            )
        )
        return mean, std

    g_mean, g_std = _mom(w_all)
    l_mean, l_std = _mom(w_lab)
    stats = hist.repartition(1).select(
        "label",
        "degree",
        (F.sum("cnt").over(w_cume) / F.sum("cnt").over(w_all)).alias("degree_percentile"),
        g_mean.alias("g_mean"),
        g_std.alias("g_std"),
        l_mean.alias("l_mean"),
        l_std.alias("l_std"),
    )

    return (
        d.join(F.broadcast(stats), ["label", "degree"], "left")
        .select(
            "id",
            "label",
            "degree",
            F.log1p("degree").alias("log_degree"),
            "degree_percentile",
            F.coalesce(
                (F.col("degree") - F.col("g_mean")) / F.nullif(F.col("g_std"), F.lit(0.0)), F.lit(0.0)
            ).alias("degree_zscore"),
            F.coalesce(
                (F.col("degree") - F.col("l_mean")) / F.nullif(F.col("l_std"), F.lit(0.0)), F.lit(0.0)
            ).alias("type_degree_zscore"),
        )
    )


def community_degree_features(degree_df: DataFrame, communities: DataFrame) -> DataFrame:
    """A4 + W2: per-community degree mean/std/z-score/percentile
    (reference ``degree_analysis.py:92-126``).

    ``communities`` is (id, community_id). Window partitions by community —
    shuffles once on community_id; skew-safe under AQE skew-join handling.
    """
    d = degree_df.join(communities, "id", "inner")
    w = Window.partitionBy("community_id")
    w_rank = Window.partitionBy("community_id").orderBy("degree")
    z = (F.col("degree") - F.avg("degree").over(w)) / F.when(
        F.stddev_pop("degree").over(w) > 0, F.stddev_pop("degree").over(w)
    )
    return d.select(
        "id",
        "community_id",
        "degree",
        F.avg("degree").over(w).alias("community_degree_mean"),
        F.coalesce(F.stddev_pop("degree").over(w), F.lit(0.0)).alias("community_degree_std"),
        F.coalesce(z, F.lit(0.0)).alias("community_degree_zscore"),
        F.cume_dist().over(w_rank).alias("community_degree_percentile"),
    )


def degree_histogram(edges: DataFrame, bin_width: int = 5) -> DataFrame:
    """A6: degree histogram (reference ``degree_analysis.py:155-165``)."""
    return (
        node_degrees(edges)
        .select((F.floor(F.col("degree") / bin_width) * bin_width).alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )
