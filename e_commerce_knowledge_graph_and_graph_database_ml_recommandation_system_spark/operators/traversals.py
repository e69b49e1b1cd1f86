"""Graph traversals as joins (SURVEY §2.5 J1-J7).

The reference walks edges imperatively (``xgboost_model_training.py:85-141``,
``topk_recommandations_diverse_nodiscounts.py:217-249``). Every traversal here
is an equi-join on edge endpoints so Catalyst picks the physical strategy
(shuffle-hash / sort-merge; broadcast when a side is a dim). The
Customer→Order→Product 2-hop joins the edges' sources on the shared Order
key: PURCHASED comes from orders, CONTAINS from lineitem.

Scale notes: the PURCHASED⋈CONTAINS join keys on order id — uniformly
distributed, shuffle-partitioned, no skew. Candidate generation avoids a
blind |C|×|P| cross join by deterministic hash-sampling BEFORE the join, the
declarative analog of the reference's 1500-2000 candidate cap.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# J1/J3/J4 run on the numeric keys (late string materialization)
#
# build_edges derives every node id injectively from a numeric key
# (graph/build.py: 'cust_<k>', 'order_<k>', 'prod_<k>'), so the pair
# traversals run entirely on the raw longs and concat display ids AFTER the
# reducing shuffle (``pair_ids``) — the shuffle then carries 8-byte keys
# instead of ~15-byte strings and the concat runs post-shuffle in parallel.
# ---------------------------------------------------------------------------


def positive_pair_keys(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """J1: Customer→Order→Product 2-hop on raw keys (reference
    ``xgboost_model_training.py:85-103``, nested edge scans):
    PURCHASED⋈CONTAINS on the order endpoint ≡ orders⋈lineitem on the
    order key. Columns (ckey, pkey), distinct."""
    return (
        orders.select("o_orderkey", "o_custkey")
        .join(lineitem.select("l_orderkey", "l_partkey"), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("ckey"), F.col("l_partkey").alias("pkey"))
        .distinct()
    )


def positive_pair_keys_after(orders: DataFrame, lineitem: DataFrame, cutoff: str) -> DataFrame:
    """J3 on raw keys: the PURCHASED-edge ts is o_orderdate, so the cutoff
    prunes the orders scan before the join."""
    return (
        orders.filter(F.col("o_orderdate") > F.lit(cutoff))
        .select("o_orderkey", "o_custkey")
        .join(lineitem.select("l_orderkey", "l_partkey"), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("ckey"), F.col("l_partkey").alias("pkey"))
        .distinct()
    )


def negative_pair_keys(
    pos: DataFrame, customer: DataFrame, part: DataFrame, modulus: int = 50
) -> DataFrame:
    """J4: negative sampling — (customer, product) pairs NOT in ``pos``, the
    (ckey, pkey) positive-pair relation.

    The reference draws random pairs and rejects hits
    (``xgboost_model_training.py:124-141``; target ratio ~1:1 with
    positives). Distributed + reproducible version: deterministic-hash-
    select a 1/modulus subset of the cross space, then one LEFT ANTI join
    against positives. (131·c + 7919·p) % m == 0 ⟺ (131·c) % m ==
    (−7919·p) % m, so the selection predicate is an EQUI-JOIN key and the
    sampled pairs materialize directly without evaluating the |C|·|P|
    cross space. modulus=50 yields ≈1:1 with positives at the testdata
    shape. The part side is a dim → broadcast hint, and customers
    repartition to cores first: the bucket key has only `modulus` distinct
    values, so a shuffle join would cap parallelism at `modulus` tasks
    (and a single-row-group scan at 1)."""
    spark = customer.sparkSession
    customers = customer.select(
        F.col("c_custkey").alias("ckey"),
        F.pmod(F.col("c_custkey") * F.lit(131), F.lit(modulus)).alias("bucket"),
    ).repartition(spark.sparkContext.defaultParallelism)
    products = part.select(
        F.col("p_partkey").alias("pkey"),
        F.pmod(
            F.lit(modulus) - F.pmod(F.col("p_partkey") * F.lit(7919), F.lit(modulus)), F.lit(modulus)
        ).alias("bucket"),
    )
    pairs = customers.join(F.broadcast(products), "bucket").select("ckey", "pkey")
    return pairs.join(pos, ["ckey", "pkey"], "left_anti")


def _sel_keyed(df: DataFrame) -> DataFrame:
    """(ckey, pkey, sel_key, sel_bucket): the md5 selection key plus its
    3-hex-char prefix bucket — the shared projection of the exact-n
    truncation and its count pass."""
    key = F.md5(F.concat_ws("_", F.lit("negsel"), F.col("ckey"), F.col("pkey")))
    return df.select(
        "ckey",
        "pkey",
        key.alias("sel_key"),
        F.conv(F.substring(key, 1, 3), 16, 10).cast("int").alias("sel_bucket"),
    )


def _sel_bucket_counts(df: DataFrame) -> dict[int, int]:
    """Per-bucket row counts of the selection-key space (≤4096 rows
    collected). Doubles as the realized-count action: sum(values) is
    |df|, so the sampler's overdraw check and the truncation share ONE
    aggregation job."""
    return {
        int(r["sel_bucket"]): int(r["n"])
        for r in _sel_keyed(df).groupBy("sel_bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _exact_n_by_hash(
    df: DataFrame, target: int, bucket_counts: dict[int, int] | None = None
) -> DataFrame:
    """Deterministic exact-``target`` truncation of (ckey, pkey) rows by
    md5 hash order WITHOUT a global sort: rows bucket on the hash's first
    3 hex chars (4096 buckets — a PREFIX of the sort key, so
    (bucket asc, hash asc) IS the global hash order), a 4096-row count
    collect locates the boundary bucket on the driver, every bucket below
    it passes through sort-free, and only the ONE boundary bucket pays an
    intra-bucket window (~target/4096 rows at any scale). A SQL oracle
    mirrors this as a plain global ``ROW_NUMBER() OVER (ORDER BY md5
    ...)`` — identical output, different physical strategy."""
    with_key = _sel_keyed(df)
    counts = bucket_counts if bucket_counts is not None else _sel_bucket_counts(df)
    cum = 0
    boundary, need = None, 0
    for b in sorted(counts):
        if cum + counts[b] >= target:
            boundary, need = b, target - cum
            break
        cum += counts[b]
    if boundary is None:  # target >= |df|: nothing to cut (same schema as
        return df.select("ckey", "pkey")  # the truncating branch below)
    full = with_key.filter(F.col("sel_bucket") < boundary)
    w = Window.partitionBy("sel_bucket").orderBy("sel_key", "ckey", "pkey")
    edge = (
        with_key.filter(F.col("sel_bucket") == boundary)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= need)
    )
    return full.select("ckey", "pkey").unionByName(edge.select("ckey", "pkey"))


def negative_pair_keys_linear(
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    ratio: int = 1,
    exact: bool = True,
    pos: DataFrame | None = None,
    uniform: bool = False,
    customer: DataFrame | None = None,
) -> DataFrame:
    """J4, production shape: negatives drawn as a FIXED MULTIPLE of the
    positives — the reference's own sampler (random pairs, reject hits,
    retry to an exact ~1:1 target;
    ``xgboost_training_for_big_data.py:258-278``) made distributed and
    deterministic, and LINEAR in |positives| by construction.

    DISTRIBUTIONAL DECISION (r9 ADVICE noted, r11 decided): the reference
    draws (customer, product) pairs uniformly over the pair space; this
    sampler DEFAULTS to drawing per POSITIVE row, so a customer's
    negative count is proportional to their positive degree (a
    per-positive stratified draw). Stratified is the better TRAINING
    contract — every training customer is guaranteed negatives, so no
    customer's ranking model sees only positives — and it is therefore
    the deliberate default, not an accident of implementation.
    ``uniform=True`` opts into the reference's distribution: both the
    customer AND the product key of every draw are md5-uniform over
    their key ranges (requires ``customer`` for the |C| range), through
    the SAME dedup → anti-join → overdraw/exact-truncate machinery.
    Same 1:1 aggregate target either way; per-customer counts differ
    (an expectation gate pins the distributional split: stratified
    negative counts correlate with positive degree, uniform ones don't).

    The modular-bucket sampler above (`negative_pair_keys`) selects a
    fixed 1/modulus FRACTION of the |C|x|P| cross space — the right shape
    for an oracle-checkable fixed relation, but its candidate count grows
    with the PAIR SPACE, which is quadratic under uniform scale-up (the
    r8 100x probe excluded it for exactly that reason; SCALE.md r8).
    Here each positive row draws pseudo-random part keys (md5 of
    (ckey, pkey, draw) mapped into the part table's ACTUAL contiguous
    key range [min(p_partkey), min+|P|) — engine-agnostic, reproducible,
    and every drawn negative is a REAL product), the draws are deduped,
    and ONE left-anti join rejects collisions with positives. Candidate volume is
    a small multiple of |positives| at any scale; every shuffle keys on
    the uniform (ckey, pkey), never on a bucket key.

    ``exact=True`` (default, r10 — the reference's exact-count contract):
    the sampler OVERDRAWS at ratio+1 draws per positive (doubling up to
    twice more if a pathological corpus still undershoots — at both test
    SFs and at production |P| >> per-customer degree the first attempt
    suffices, which a pytest gate pins because the SQL oracle mirrors the
    first-attempt draw count), then truncates to EXACTLY ratio·|positives|
    rows by md5 hash order via the bucketed ``_exact_n_by_hash`` (no
    global sort — see its docstring). ``exact=False`` keeps the r9
    single-pass shape: ratio draws per positive, realized count ~0.77×
    target at sf0.001 shrinking to ~1-1e-5 at production scale (birthday
    collisions + rejections; the analytic expectation is gated)."""
    # ``pos`` (optional): a pre-built (ideally checkpointed) positive-pair
    # relation — the relation is consumed 3x here (draw seed, anti-join,
    # count), so the registry passes its memo-shared checkpoint
    if uniform and customer is None:
        raise ValueError("uniform=True draws customer keys too: pass customer")
    if pos is None:
        pos = positive_pair_keys(orders, lineitem).localCheckpoint(eager=True)
    # dim-sized action, mirrors the sampler's key-range knowledge. Drawn
    # keys map into the table's ACTUAL contiguous range [min, min+count)
    # — a fixed 1..|P| assumption mints phantom products on a 0-based
    # corpus (r11 fix: the testdata keys are 0-based; dbgen's are 1-based)
    p_min, n_parts = part.agg(F.min("p_partkey"), F.count(F.lit(1))).first()
    if uniform:
        c_min, n_cust = customer.agg(F.min("c_custkey"), F.count(F.lit(1))).first()

    def _md5_mod(salt: str, lo: int, n: int):
        """Deterministic uniform key in [lo, lo+n) from md5 of the seed
        row (ckey, seed_pkey, draw) — engine-agnostic, oracle-reproducible."""
        h = F.md5(
            F.concat_ws("_", F.lit(salt), F.col("ckey"), F.col("seed_pkey"), F.col("draw"))
        )
        return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(int(n))) + F.lit(
            int(lo)
        )

    def draw_negatives(d: int) -> DataFrame:
        draws = pos.select(
            "ckey",
            F.col("pkey").alias("seed_pkey"),
            F.explode(F.array(*[F.lit(r) for r in range(d)])).alias("draw"),
        )
        drawn = draws.select(
            (_md5_mod("negc", c_min, n_cust) if uniform else F.col("ckey")).alias("ckey"),
            _md5_mod("neg", p_min, n_parts).alias("pkey"),
        )
        cand = drawn.distinct()
        return cand.join(pos, ["ckey", "pkey"], "left_anti")

    if not exact:
        return draw_negatives(ratio)

    target = ratio * pos.count()
    d = ratio + 1
    neg, counts, n_neg = None, {}, 0
    for _ in range(3):
        neg = draw_negatives(d).localCheckpoint(eager=True)
        # one aggregation serves both the realized-count check and the
        # truncation's boundary search
        counts = _sel_bucket_counts(neg)
        n_neg = sum(counts.values())
        if n_neg >= target:
            break
        d *= 2
        # the DuckDB oracle hard-codes the FIRST-attempt draw count, so a
        # corpus that reaches this branch is off-oracle by construction —
        # say so rather than silently diverging (r10 ADVICE)
        warnings.warn(
            f"negative_pair_keys_linear: overdraw attempt ({n_neg} < target "
            f"{target}) undershot; doubling draws to {d}/positive — the SQL "
            "oracle mirrors the first-attempt draw count, so oracle "
            "comparisons will mismatch on this corpus",
            stacklevel=2,
        )
    if n_neg <= target:
        if n_neg < target:
            warnings.warn(
                f"negative_pair_keys_linear: exact target {target} unreachable "
                f"after 3 overdraw attempts (realized {n_neg}); returning all "
                "realized negatives — the corpus has too few non-positive "
                "pairs in the draw space for the requested ratio",
                stacklevel=2,
            )
        return neg
    return _exact_n_by_hash(neg, target, bucket_counts=counts)


def pair_ids(pairs: DataFrame) -> DataFrame:
    """Materialize the graph string ids from (ckey, pkey) — call AFTER the
    reducing operation, never before."""
    return pairs.select(
        F.concat_ws("_", F.lit("cust"), F.col("ckey")).alias("customer_id"),
        F.concat_ws("_", F.lit("prod"), F.col("pkey")).alias("product_id"),
        *[c for c in pairs.columns if c not in ("ckey", "pkey")],
    )
