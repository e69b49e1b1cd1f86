"""Link-prediction ML pipeline (SURVEY §2.11 M1-M11, EP3 stage 1-2).

The reference assembles a wide hand-built feature matrix per (customer,
product) pair and trains XGBoost (``xgboost_training_for_big_data.py``).
Spark-first version:

- dataset assembly is a join pipeline (J1 positives, J4 negatives, J5
  feature joins, A8 recency/frequency, A10 target encoding) ending in a
  VectorAssembler — no row loops, no collected dicts;
- model is ``pyspark.ml.classification.GBTClassifier`` (distributed
  gradient-boosted trees, the MLlib analog of xgboost binary:logistic);
- class imbalance via weightCol = n_neg/n_pos on positives (M5);
- deterministic hash split (M1), metrics suite (M9), overfit gate (M8),
  drift alert (M11) as plain functions over metric DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..api import property_graph
from ..functions.text import md5_int32
from ..operators import traversals as trav
from ..operators.aggregates import kfold_target_encoding, recency_frequency
from ..operators.degrees import degree_features
from ..sources.tables import load_tables

#: bump when the GBT trainer's persisted model/feature assembly changes
#: (r10): folded into the gbt store tag via recsys_store.versioned_tag.
ALGO_VERSION = 1

FEATURE_COLS = [
    "cust_degree",
    "cust_log_degree",
    "cust_degree_pct",
    "prod_degree",
    "prod_log_degree",
    "prod_degree_pct",
    "recency_days",
    "frequency",
    "price",
    "stock",
    "target_enc",
    "degree_product",
    "degree_ratio",
    "pref_cat_match",
    "cust_cat_count",
]


def build_dataset(spark: SparkSession, sf_dir: str, target_encode: bool = True) -> DataFrame:
    """Assemble the labeled (customer, product) training table over the
    snapshot's property graph (``api.property_graph``) and its positive-pair
    relation (``registry.shared_positive_pairs``).

    Broadcast feature joins (J5: the reference probes per-pair with a
    pandas scan, ``xgboost_model_training.py:163-167``); one wide row per
    pair with label + numeric features.

    ``target_encode=False`` leaves the ``target_enc`` column out so the
    pipeline can fit the encoding on the TRAIN partition only after the
    split (see split_safe_target_encoding — the full-dataset encoding
    leaks test labels into training features)."""
    # the registry imports this module (registry_ml), so import it here
    from ..plans.registry import shared_positive_pairs

    nodes, edges = property_graph(spark, sf_dir)
    t = load_tables(spark, sf_dir, names=("customer", "part"))
    shared_pos = shared_positive_pairs(spark, sf_dir)
    pos = shared_pos.withColumn("label", F.lit(1))
    neg = trav.negative_pair_keys(shared_pos, t["customer"], t["part"]).withColumn("label", F.lit(0))
    pairs = trav.pair_ids(pos.unionByName(neg))

    degf = degree_features(nodes, edges)
    cust_f = degf.filter(F.col("label") == "Customer").select(
        F.col("id").alias("customer_id"),
        F.col("degree").alias("cust_degree"),
        F.col("log_degree").alias("cust_log_degree"),
        F.col("degree_percentile").alias("cust_degree_pct"),
    )
    prod_f = degf.filter(F.col("label") == "Product").select(
        F.col("id").alias("product_id"),
        F.col("degree").alias("prod_degree"),
        F.col("log_degree").alias("prod_log_degree"),
        F.col("degree_percentile").alias("prod_degree_pct"),
    )
    rf = recency_frequency(edges, "2002-01-01").withColumnRenamed("id", "customer_id")
    prod_attrs = nodes.filter(F.col("label") == "Product").select(
        F.col("id").alias("product_id"), "category", "price", "stock", F.col("key").alias("pkey")
    )

    ds = (
        pairs.join(F.broadcast(cust_f), "customer_id", "left")
        .join(F.broadcast(prod_f), "product_id", "left")
        .join(F.broadcast(prod_attrs), "product_id", "left")
        .join(rf, "customer_id", "left")
        .na.fill(
            {
                "cust_degree": 0,
                "cust_log_degree": 0.0,
                "cust_degree_pct": 0.0,
                "prod_degree": 0,
                "prod_log_degree": 0.0,
                "prod_degree_pct": 0.0,
                "recency_days": 999,
                "frequency": 0,
                "price": 0.0,
                "stock": 0,
            }
        )
    )
    if target_encode:
        ds = kfold_target_encoding(ds, key="category", label_col="label", id_col="pkey")

    # preferred-category affinity (reference: category_enrichement.py writes
    # preferred_category onto customers, consumed as a match feature): how
    # many of this customer's purchases fall in the candidate's category
    cust_cat = (
        trav.pair_ids(shared_pos)
        .join(F.broadcast(prod_attrs.select("product_id", "category")), "product_id")
        .groupBy("customer_id", "category")
        .agg(F.count("*").alias("cust_cat_count"))
    )
    ds = ds.join(cust_cat, ["customer_id", "category"], "left").na.fill({"cust_cat_count": 0})
    pref = (
        cust_cat.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("customer_id").orderBy(F.desc("cust_cat_count"), F.asc("category"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("customer_id", F.col("category").alias("pref_category"))
    )
    ds = ds.join(F.broadcast(pref), "customer_id", "left").withColumn(
        "pref_cat_match", (F.col("category") == F.col("pref_category")).cast("int")
    ).na.fill({"pref_cat_match": 0})

    # §2.10 interaction terms (reference builds these by hand per pair,
    # ``xgboost_training_for_big_data.py:362-369``)
    return ds.withColumn(
        "degree_product", F.col("cust_degree") * F.col("prod_degree")
    ).withColumn(
        "degree_ratio", F.col("cust_degree") / (F.col("prod_degree") + F.lit(1e-8))
    )


def split_train_test(ds: DataFrame, train_frac_buckets: int = 4, n_buckets: int = 5):
    """M1: deterministic hash split (80/20), stratification holds in
    expectation per label."""
    bucket = F.pmod(md5_int32(F.concat_ws("|", "customer_id", "product_id")), F.lit(n_buckets))
    train = ds.filter(bucket < train_frac_buckets)
    test = ds.filter(bucket >= train_frac_buckets)
    return train, test


def split_safe_target_encoding(
    train: DataFrame, test: DataFrame, key: str = "category", label_col: str = "label", id_col: str = "pkey"
):
    """Leakage-free A10/M-feature wiring (round-1 advice): the k-fold
    leave-one-out encoding is fit on the TRAIN partition only; test rows
    get the plain per-key train mean (they are never trained on, so LOO is
    unnecessary there), with the global train mean for unseen keys. The
    round-1 shape encoded over the full dataset before splitting, so test
    labels reached features seen at training time and val AUC was
    optimistically biased."""
    train_enc = kfold_target_encoding(train, key=key, label_col=label_col, id_col=id_col)
    gmean = train.agg(F.avg(F.col(label_col).cast("double"))).collect()[0][0] or 0.0
    key_means = train.groupBy(key).agg(F.avg(F.col(label_col).cast("double")).alias("_key_mean"))
    test_enc = (
        test.join(F.broadcast(key_means), key, "left")
        .withColumn("target_enc", F.coalesce(F.col("_key_mean"), F.lit(float(gmean))))
        .drop("_key_mean")
    )
    return train_enc, test_enc


def train_gbt(
    train: DataFrame,
    max_iter: int = 20,
    max_depth: int = 5,
    seed: int = 42,
    early_stopping: bool = True,
    validation_tol: float = 0.005,
):
    """M2 + M5: GBTClassifier with class-balance weights and early
    stopping on a held-out validation slice (reference
    ``xgboost_training_for_big_data.py:592-636``: 800 rounds with
    early_stopping_rounds=25). MLlib's mechanism is
    validationIndicatorCol + validationTol — boosting stops when the
    validation metric stops improving by ``validation_tol``; the 20%
    validation slice comes from the same deterministic md5 hash family as
    the train/test split (disjoint salt)."""
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.feature import VectorAssembler

    counts = {r["label"]: r["cnt"] for r in train.groupBy("label").agg(F.count("*").alias("cnt")).collect()}
    spw = counts.get(0, 1) / max(counts.get(1, 1), 1)  # scale_pos_weight analog
    weighted = train.withColumn("w", F.when(F.col("label") == 1, F.lit(float(spw))).otherwise(F.lit(1.0)))

    assembler = VectorAssembler(inputCols=FEATURE_COLS, outputCol="features", handleInvalid="keep")
    es_kwargs = (
        {"validationIndicatorCol": "is_val", "validationTol": validation_tol} if early_stopping else {}
    )
    gbt = GBTClassifier(
        labelCol="label",
        featuresCol="features",
        weightCol="w",
        maxIter=max_iter,
        maxDepth=max_depth,
        stepSize=0.1,
        subsamplingRate=0.8,
        seed=seed,
        **es_kwargs,
    )
    data = assembler.transform(weighted)
    if early_stopping:
        is_val = (
            F.pmod(md5_int32(F.concat_ws("|", "customer_id", "product_id", F.lit("earlystop"))), F.lit(5)) == 4
        )
        data = data.withColumn("is_val", is_val)
    model = gbt.fit(data)
    return model, assembler


def evaluate(model, assembler, df: DataFrame) -> dict:
    """M9: AUC-ROC, AUC-PR, accuracy/precision/recall/F1 at 0.5."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(assembler.transform(df))
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    ).evaluate(scored)
    pr = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction", metricName="areaUnderPR"
    ).evaluate(scored)
    conf = (
        scored.withColumn("p", vector_to_array("probability").getItem(1))
        .select(
            F.sum(F.when((F.col("p") >= 0.5) & (F.col("label") == 1), 1).otherwise(0)).alias("tp"),
            F.sum(F.when((F.col("p") >= 0.5) & (F.col("label") == 0), 1).otherwise(0)).alias("fp"),
            F.sum(F.when((F.col("p") < 0.5) & (F.col("label") == 1), 1).otherwise(0)).alias("fn"),
            F.sum(F.when((F.col("p") < 0.5) & (F.col("label") == 0), 1).otherwise(0)).alias("tn"),
        )
        .collect()[0]
    )
    tp, fp, fn, tn = conf["tp"], conf["fp"], conf["fn"], conf["tn"]
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    return {
        "auc_roc": auc,
        "auc_pr": pr,
        "accuracy": (tp + tn) / max(tp + fp + fn + tn, 1),
        "precision": prec,
        "recall": rec,
        "f1": 2 * prec * rec / (prec + rec) if prec + rec else 0.0,
    }


def feature_importances(model, feature_cols: list[str] | None = None, top_n: int = 15):
    """O3: gain-based feature-importance ranking (reference
    ``xgboost_training_for_big_data.py:758-764``: sort the booster's gain
    scores desc, take the top 15, map feature index → name). MLlib's
    ``GBTClassificationModel.featureImportances`` is the normalized-gain
    vector in VectorAssembler input order; ties break by feature name so
    the ranking is deterministic."""
    cols = list(feature_cols or FEATURE_COLS)
    v = model.featureImportances
    ranked = sorted(((cols[i], float(v[i])) for i in range(len(cols))), key=lambda t: (-t[1], t[0]))
    return ranked[:top_n]


def overfit_gate(train_auc: float, val_auc: float, max_gap: float = 0.06) -> bool:
    """M8: reject the model when train-val AUC gap exceeds the gate
    (reference ``xgboost_training_for_big_data.py:523-529``)."""
    return (train_auc - val_auc) <= max_gap


def drift_alert(current_auc: float, previous_auc: float | None, tol: float = 0.02) -> bool:
    """M11: True (alert) when AUC dropped more than tol vs history
    (reference ``xgboost_training_for_big_data.py:868-874``)."""
    return previous_auc is not None and (previous_auc - current_auc) > tol


def fit_artifacts(ds: DataFrame, max_iter: int = 20, materialize: bool = False, model=None) -> dict:
    """Shared M1→M5 prefix over an assembled ``build_dataset(...,
    target_encode=False)`` table: deterministic hash split, leakage-safe
    target encoding, the SMOTE imbalance gate, weighted GBT fit. Returned
    dict {ds, train, test, model, assembler} is the single fit that the
    metric / feature-importance / model-scoring registry queries all
    consume (one fit per process instead of one per query).

    ``materialize=True`` localCheckpoints train/test before the fit —
    boosting scans the training table once per tree, so paying one eager
    materialization up front beats re-running the encoding joins per
    iteration (the in-process analog of writing the assembled dataset to
    parquet before training, which is what a 100-TB pipeline does)."""
    from .lifecycle import smote_oversample

    train, test = split_train_test(ds)
    train_enc, test = split_safe_target_encoding(train, test)
    # reference gates SMOTE on imbalance > 5 (xgboost_training_for_big_data
    # .py:571-581) — a no-op on this near-balanced pair set, by design
    train = smote_oversample(train_enc, FEATURE_COLS)
    smote_noop = train is train_enc
    if materialize:
        train = train.localCheckpoint(eager=True)
        # keep the pre-SMOTE view pointing at the SAME materialization when
        # SMOTE was a no-op (today's reality) — only pay a second
        # checkpoint when synthetic rows actually exist
        test = test.localCheckpoint(eager=True)
        train_enc = train if smote_noop else train_enc.localCheckpoint(eager=True)
    # ``model``: a pre-fitted GBTClassificationModel (e.g. loaded from the
    # artifact store) — skips the boosting fit, the one expensive stage;
    # dataset assembly/splits/encoding above are cheap and rebuilt per
    # process so every consumer DataFrame stays live
    if model is not None:
        from pyspark.ml.feature import VectorAssembler

        assembler = VectorAssembler(
            inputCols=FEATURE_COLS, outputCol="features", handleInvalid="keep"
        )
    else:
        model, assembler = train_gbt(train, max_iter=max_iter)
    # train_pre_smote: serving-feature derivation must come from REAL rows
    # only — synthetic SMOTE rows duplicate (customer, product) keys with
    # interpolated features, and a dropDuplicates over the union would pick
    # an arbitrary one (round-4 advice)
    return {
        "ds": ds,
        "train": train,
        "train_pre_smote": train_enc,
        "test": test,
        "model": model,
        "assembler": assembler,
    }


def run_pipeline(artifacts: dict) -> DataFrame:
    """M8/M9 over a ``fit_artifacts`` fit (M1→M5): returns a (metric,
    value) DataFrame (one row per metric, train and val). The fit splits
    FIRST, then fits the target encoding on train only
    (split_safe_target_encoding) — no test label ever reaches a training
    feature. rounds_used reports how many boosting rounds early stopping
    kept."""
    model, assembler = artifacts["model"], artifacts["assembler"]
    m_train = evaluate(model, assembler, artifacts["train"])
    m_val = evaluate(model, assembler, artifacts["test"])
    spark = artifacts["ds"].sparkSession
    rows = [("train_" + k, float(v)) for k, v in m_train.items()] + [
        ("val_" + k, float(v)) for k, v in m_val.items()
    ]
    rows.append(("overfit_gate_ok", float(overfit_gate(m_train["auc_roc"], m_val["auc_roc"]))))
    rows.append(("rounds_used", float(model.getNumTrees)))
    return spark.createDataFrame(rows, ["metric", "value"])
