"""Physical-plan assertions (the 100-TB design mandate made testable) and
parquet sink round-trips (SURVEY §2.1 S2/S4)."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark):
    """Predicate + column pruning must reach the parquet scan."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans import registry

    plan = _explain(spark, registry.queries()["pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned schema: only the 6 consumed columns, not all 11
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_dim_joins_broadcast(spark):
    """Dim-table joins must be broadcast, not shuffled. Flagship's dim joins
    now run inside its eager c_max/pruned pre-jobs; its returned plan must
    broadcast the pruned side (nested-loop fan-out, no CartesianProduct)."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans import registry

    plan = _explain(spark, registry.queries()["flagship_diverse_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan
    plan2 = _explain(spark, registry.queries()["graph_stats"](spark, SF))
    assert "BroadcastHashJoin" in plan2  # nation x region


def test_no_cartesian_in_candidate_generation(spark):
    """The candidate cross join must be against a BROADCAST pruned product
    set (BroadcastNestedLoopJoin), never a partitioned CartesianProduct."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans import registry

    plan = _explain(spark, registry.queries()["flagship_diverse_topk"](spark, SF))
    assert "CartesianProduct" not in plan


def test_partial_aggregation_before_shuffle(spark):
    """The aggregate must be map-side combinable: partial_sum BEFORE the
    single exchange (the shuffle carries one row per group per task, not the
    raw rows). AQE's deferred explain hides WholeStageCodegen spans, so the
    shape assertion is on the aggregate/exchange structure."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans import registry

    import re

    plan = _explain(spark, registry.queries()["pricing_summary"](spark, SF))
    assert "partial_sum" in plan
    # tree shape: final HashAggregate <- Exchange <- partial HashAggregate
    assert re.search(r"HashAggregate \(\d+\)\n\s*\+- Exchange \(\d+\)\n\s*\+- HashAggregate", plan)


def test_dvid_partitioned_sink_roundtrip(spark, tmp_path):
    """S2/S4: edges written partitioned by dvid; snapshot read prunes
    partitions and values survive the round trip."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.graph.build import build_edges, snapshot
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import load_tables

    edges = build_edges(load_tables(spark, SF, names=("customer", "orders", "lineitem", "part", "nation", "region")))
    path = str(tmp_path / "edges")
    edges.write.mode("overwrite").partitionBy("dvid").parquet(path)

    back = spark.read.parquet(path)
    assert back.count() == edges.count()
    snap = snapshot(back, 2)
    # partition pruning visible in the scan: only dvid<=2 dirs are read
    plan = _explain(spark, snap)
    assert snap.count() == edges.filter(F.col("dvid") <= 2).count()
    assert "PartitionFilters" in plan and "dvid" in plan


def test_ml_model_persistence_roundtrip(spark, tmp_path):
    """S5 analog: pyspark.ml model save/load preserves predictions."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.ml import link_prediction as lp
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import load_tables

    tables = load_tables(spark, SF, names=("customer", "orders", "lineitem", "part", "nation", "region"))
    ds = lp.build_dataset(tables).cache()
    train, test = lp.split_train_test(ds)
    model, assembler = lp.train_gbt(train, max_iter=3, max_depth=3)
    path = str(tmp_path / "gbt")
    model.write().overwrite().save(path)

    from pyspark.ml.classification import GBTClassificationModel

    reloaded = GBTClassificationModel.load(path)
    a = model.transform(assembler.transform(test)).select("customer_id", "product_id", "prediction")
    b = reloaded.transform(assembler.transform(test)).select("customer_id", "product_id", "prediction")
    assert a.exceptAll(b).count() == 0


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing co-locates the 2-hop join: writing orders and lineitem
    bucketed by the join key lets the PURCHASED⋈CONTAINS join run without
    exchanging either side — the pre-partitioning strategy for the graph's
    hottest join at 100 TB."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import load_tables

    t = load_tables(spark, SF, names=("orders", "lineitem"))
    wh = str(tmp_path / "wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buckdemo LOCATION '{wh}'")
    (t["orders"].write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").saveAsTable("buckdemo.orders_b"))
    (t["lineitem"].write.mode("overwrite").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").saveAsTable("buckdemo.lineitem_b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-join path (at dim-table size Spark would just
        # broadcast; bucketing matters when BOTH sides are fact-scale)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = spark.table("buckdemo.orders_b")
        li = spark.table("buckdemo.lineitem_b")
        joined = o.join(li, o.o_orderkey == li.l_orderkey).select("o_custkey", "l_partkey")
        plan = _explain(spark, joined)
        # no ShuffleExchange above either scan: bucket layout satisfies the
        # join's required distribution
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == t["lineitem"].count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS buckdemo.lineitem_b")
        spark.sql("DROP TABLE IF EXISTS buckdemo.orders_b")
        spark.sql("DROP DATABASE IF EXISTS buckdemo")


def test_csv_scan_roundtrip(spark, sf_dir, tmp_path):
    """S1 CSV scan: parquet -> csv -> schema-first csv scan preserves rows
    and dtypes (the reference's native ingest format)."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import load_csv_table, load_table

    cust = load_table(spark, "customer", sf_dir)
    out = f"{tmp_path}/customer_csv"
    cust.write.mode("overwrite").option("header", "true").csv(out)
    back = load_csv_table(spark, out, schema=cust.schema)
    assert back.schema == cust.schema
    assert back.count() == cust.count()
    assert back.exceptAll(cust).count() == 0 and cust.exceptAll(back).count() == 0


def test_streaming_file_sink_checkpoint_roundtrip(spark, sf_dir, tmp_path):
    """§2.13 sink: readStream -> writeStream to parquet with a checkpoint,
    drain, batch-read the sink and compare against the batch aggregate.
    Restarting the stream against the same checkpoint must be a no-op
    (exactly-once: no duplicate output files/rows)."""
    from pyspark.sql import functions as F
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import load_table, normalize_event_ts

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    sink = f"{tmp_path}/sink"
    ckpt = f"{tmp_path}/ckpt"

    def run_stream():
        stream = normalize_event_ts(
            spark.readStream.schema(static.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        q = (
            stream.select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_stream()
    batch = load_table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    first = spark.read.parquet(sink)
    assert first.count() == batch.count()
    assert first.exceptAll(batch).count() == 0

    # restart against the same checkpoint: source offsets are committed, so
    # nothing new is written (exactly-once against replays)
    run_stream()
    again = spark.read.parquet(sink)
    assert again.count() == batch.count()


def test_watermark_drops_late_events(spark, tmp_path):
    """§2.13 late data: two micro-batches (maxFilesPerTrigger=1); the second
    file carries an event EARLIER than the advanced watermark, which update
    mode must drop — and an in-watermark late event, which must aggregate."""
    import time as _t
    from pyspark.sql import functions as F

    src = f"{tmp_path}/stream_src"
    # batch 1: events at 10:00 and 12:00 -> watermark advances to 12:00 - 1h = 11:00
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-01 12:00:00", 1.0)],
        "id long, ts_s string, value double",
    ).selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts", "value").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    # batch 2 written after the first trigger: one too-late row (09:00 < 11:00
    # watermark) and one late-but-in-window row (11:30)
    late_pdf = spark.createDataFrame(
        [(3, "2024-01-01 09:00:00", 1.0), (4, "2024-01-01 11:30:00", 1.0)],
        "id long, ts_s string, value double",
    ).selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")

    schema = "id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "1 hour")
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "cnt")
    )
    name = "wm_late_test"
    q = agg.writeStream.format("memory").queryName(name).outputMode("update").start()
    try:
        q.processAllAvailable()  # batch 1 processed; watermark now 11:00
        late_pdf.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()  # batch 2: id=3 dropped, id=4 counted
    finally:
        q.stop()
    rows = {r["ws"].strftime("%H:%M"): r["cnt"] for r in spark.table(name).collect()}
    # update sink holds the LATEST emitted row per window
    assert rows.get("09:00") is None, f"too-late event leaked into state: {rows}"
    assert rows.get("11:00") == 1, f"in-watermark late event not aggregated: {rows}"


def test_streaming_dvid_ingest(spark, sf_dir, tmp_path):
    """U3/S4 streaming analog: one micro-batch per injection, appended as a
    dvid partition; totals match the source, snapshot(dvid<=k) prunes, and
    a checkpointed restart adds nothing (idempotent)."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.graph.build import snapshot
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import load_table
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.streaming.ingest import stream_dvid_ingest

    out, ckpt = f"{tmp_path}/state", f"{tmp_path}/ckpt"
    counts = stream_dvid_ingest(spark, sf_dir, out, ckpt, rows_per_batch=400).collect()
    total = load_table(spark, "events", sf_dir).count()
    assert sum(r["cnt"] for r in counts) == total
    assert len(counts) >= 2, "expected multiple injection batches"
    assert [r["dvid"] for r in counts] == list(range(1, len(counts) + 1))

    # partition-pruned snapshot: dvid<=2 reads exactly the first two batches
    state = spark.read.parquet(out)
    first_two = sum(r["cnt"] for r in counts[:2])
    assert snapshot(state, 2).count() == first_two

    # restart against the same checkpoint: offsets committed -> no growth
    counts2 = stream_dvid_ingest(spark, sf_dir, out, ckpt, rows_per_batch=400).collect()
    assert sum(r["cnt"] for r in counts2) == total


def test_registry_contract_shape():
    """Driver-contract meta-invariants: every oracle key has a query, names
    are unique and non-empty SQL, and oracle-bearing entries precede every
    rows-only entry (the driver may cap how many entries it checks)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    q, o = mod.queries(), mod.oracle_sql()
    assert set(o) <= set(q), f"oracle without query: {set(o) - set(q)}"
    assert all(isinstance(s, str) and s.strip() for s in o.values())
    names = list(q)
    first_rows_only = next((i for i, n in enumerate(names) if n not in o), len(names))
    assert all(n not in o for n in names[first_rows_only:]), (
        "oracle-bearing query ordered after a rows-only entry"
    )
    # never-driver-sampled oracles must lead (a typo'd name in the list
    # would silently lose its front-of-queue slot) and must all be real
    # oracle-bearing entries
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans.registry import (
        _DRIVER_UNSAMPLED,
    )

    assert set(_DRIVER_UNSAMPLED) <= set(o), (
        f"unsampled names not oracle-bearing: {set(_DRIVER_UNSAMPLED) - set(o)}"
    )
    lead = set(names[: len(_DRIVER_UNSAMPLED)])
    assert lead == set(_DRIVER_UNSAMPLED), (
        f"unsampled oracles not leading the registry: missing {set(_DRIVER_UNSAMPLED) - lead}"
    )


def test_entry_point_facade(spark, sf_dir):
    """The three reference entry points (SURVEY §3 EP1-EP3) run end to end
    through the facade and produce coherent shapes. EP1's stats and EP2's
    features over the memoized property graph equal the unmemoized ones."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark import api
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans import _memo

    def digest(df):
        return sorted(map(repr, map(tuple, df.collect())))

    nodes, edges, stats = api.ingest_and_build_graph(spark, sf_dir)
    assert nodes.count() > 0 and edges.count() > 0
    kinds = {r["kind"] for r in stats.collect()}
    assert kinds == {"node", "edge"}

    feats = api.engineer_features(spark, sf_dir)
    cols = set(feats.columns)
    assert {"id", "degree", "knn_avg_similarity", "community_id", "preferred_category"} <= cols
    n = feats.count()
    assert n > 0 and feats.select("id").distinct().count() == n

    with _memo.disabled():
        assert digest(stats) == digest(api.ingest_and_build_graph(spark, sf_dir)[2])
        assert digest(feats) == digest(api.engineer_features(spark, sf_dir))

    recs = api.train_and_recommend(spark, sf_dir)
    assert {"customer_id", "rank", "product_id"} <= set(recs.columns)
    assert recs.count() > 0


def test_jsonl_corpus_roundtrip(spark, sf_dir, tmp_path):
    """S2-family JSONL sink/scan (the LLM-corpus interchange format):
    gzip-sharded write, schema-first read back, content identical; a
    malformed line lands in _corrupt_record instead of failing the scan."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import (
        load_jsonl,
        load_table,
        write_jsonl,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text", "lang", "source")
    path = str(tmp_path / "corpus_jsonl")
    write_jsonl(docs, path, partitions=4)

    back = load_jsonl(spark, path, schema="doc_id long, text string, lang string, source string")
    assert back.count() == docs.count()
    assert back.exceptAll(docs).count() == 0 and docs.exceptAll(back).count() == 0

    # malformed line -> _corrupt_record, not a job failure
    bad = str(tmp_path / "bad_jsonl")
    import gzip, os

    os.makedirs(bad, exist_ok=True)
    with gzip.open(f"{bad}/part-00000.json.gz", "wt") as f:
        f.write('{"doc_id": 1, "text": "ok"}\n')
        f.write("NOT JSON AT ALL\n")
    got = load_jsonl(
        spark, bad, schema="doc_id long, text string, _corrupt_record string"
    )
    rows = got.collect()
    assert len(rows) == 2
    assert sum(r["_corrupt_record"] is not None for r in rows) == 1


def test_curate_corpus_facade(spark, sf_dir):
    """EP4 facade: the keep-list is consistent with the oracle-checked
    per-language rollup (same doc count) and structurally sound."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark import api
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans import registry

    kept = api.curate_corpus(spark, sf_dir).cache()
    n = kept.count()
    assert n > 0
    assert kept.select("doc_id").distinct().count() == n
    assert kept.filter(F.col("quality_score") < 0.7).count() == 0
    rollup = registry.queries()["corpus_curation_semantic"](spark, sf_dir)
    assert rollup.agg(F.sum("n_docs")).collect()[0][0] == n

def test_stream_curated_ingest_idempotent(spark, sf_dir, tmp_path):
    """Streaming curation admission: the admitted state is pairwise
    non-near-dup (no two admitted docs within hamming 3), counts cover all
    four deterministic batches, and a checkpointed restart adds nothing."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.streaming.ingest import (
        stream_curated_ingest,
    )

    out, ckpt = f"{tmp_path}/state", f"{tmp_path}/ckpt"
    counts = stream_curated_ingest(spark, sf_dir, out, ckpt, n_batches=4).collect()
    assert [r["batch_id"] for r in counts] == [0, 1, 2, 3]
    assert all(r["admitted"] > 0 for r in counts)

    # admitted set pairwise hamming > 3 (banded join is lossless for <=3)
    state = spark.read.parquet(out).select("doc_id", "simhash")
    a = state.withColumnsRenamed({"doc_id": "da", "simhash": "ha"})
    b = state.withColumnsRenamed({"doc_id": "db", "simhash": "hb"})
    close = (
        a.crossJoin(b)
        .filter(F.col("da") < F.col("db"))
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 3)
        .count()
    )
    assert close == 0, "admitted corpus contains a near-dup pair"

    # restart against the same checkpoint: offsets committed -> no growth
    counts2 = stream_curated_ingest(spark, sf_dir, out, ckpt, n_batches=4).collect()
    assert [(r["batch_id"], r["admitted"]) for r in counts2] == [
        (r["batch_id"], r["admitted"]) for r in counts
    ]


def test_stream_attribution_directory_source_multi_batch(spark, sf_dir, tmp_path):
    """The r7 directory-layout branch of stream_stream_attribution (any
    production landing zone delivers a DIRECTORY of part files, not one
    file): range-partitioned-by-ts files with ascending mtimes streamed at
    maxFilesPerTrigger=1 must equal the batch interval join row-for-row —
    unified semantics while the watermark advances and evicts between
    micro-batches (the 100× streaming probe's dataflow in SCALE.md, CI-sized)."""
    import os

    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import load_table
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.streaming.windows import (
        stream_stream_attribution,
    )

    root = str(tmp_path / "attr_src")
    ev_dir = f"{root}/events.parquet"
    ev = load_table(spark, "events", sf_dir)
    ev.repartitionByRange(6, "ts").write.mode("overwrite").parquet(ev_dir)
    base = 1_000_000_000
    parts = sorted(f for f in os.listdir(ev_dir) if f.startswith("part-"))
    for i, f in enumerate(parts):
        os.utime(os.path.join(ev_dir, f), (base + i, base + i))

    prog: list = []
    out = stream_stream_attribution(
        spark, root, lookback_minutes=240, max_files_per_trigger=1, progress_out=prog
    )
    stream_rows = sorted(map(tuple, out.collect()))

    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("vu"), F.col("ts").alias("vts")
    )
    batch = (
        p.join(
            v,
            (F.col("vu") == F.col("user_id"))
            & (F.col("vts") <= F.col("pts"))
            & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 240 MINUTES")),
        )
        .select(
            "purchase_id",
            "view_id",
            "user_id",
            F.date_format("pts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.date_format("vts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
            (F.unix_micros(F.col("pts")) - F.unix_micros(F.col("vts"))).cast("long").alias("lag_us"),
        )
    )
    batch_rows = sorted(map(tuple, batch.collect()))
    assert len(prog) > 1, "directory source did not split into micro-batches"
    assert stream_rows == batch_rows, "multi-batch streamed join diverged from the batch join"


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    """Bucketed tables co-locate their join keys at WRITE time: a
    self-contained two-table equi-join on the bucket column must carry no
    Exchange on either scan side (the storage-side join strategy for
    repeated joins at 100 TB), and the bucketed result must match the
    plain-parquet join row-for-row."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import (
        load_table,
        read_bucketed,
        write_bucketed,
    )

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey", "o_totalprice")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    write_bucketed(orders, "t_orders_bucketed", "o_custkey", n_buckets=8, sort_col="o_custkey")
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        "t_cust_bucketed",
        "o_custkey",
        n_buckets=8,
        sort_col="o_custkey",
    )
    try:
        bo = read_bucketed(spark, "t_orders_bucketed")
        bc = read_bucketed(spark, "t_cust_bucketed")
        # disable broadcast so the join must pick SMJ/shuffle-hash — the
        # bucket spec is what should eliminate the exchanges
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bo.join(bc, "o_custkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:2000]}"
            plain = orders.join(
                cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
            )
            assert joined.count() == plain.count()
            assert joined.exceptAll(plain).count() == 0
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_cust_bucketed")


def test_partitioned_write_enables_dynamic_pruning(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: a fact table written partitionBy(key)
    joined to a FILTERED dim on that key must carry a dynamicpruning
    subquery on the fact scan — at 100 TB this is the difference between
    scanning every partition and scanning the ones the dim filter selects.
    Static partition pruning (a literal filter on the partition column)
    must also reach the scan."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import load_table

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    path = str(tmp_path / "orders_by_priority")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)

    # static pruning: literal partition filter prunes at planning time
    plan_static = (
        fact.filter(F.col("o_orderpriority") == "1-URGENT")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan_static and "1-URGENT" in plan_static

    # dynamic pruning: the dim-side filter reaches the fact scan at runtime
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    try:
        dim = (
            orders.select("o_orderpriority").distinct()
            .filter(F.col("o_orderpriority").startswith("1"))
        )
        joined = fact.join(dim, "o_orderpriority")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), f"no DPP subquery:\n{plan[:1500]}"
    finally:
        spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")


def test_als_halfstep_bucketed_join_skips_exchange(spark, sf_dir):
    """The SCALE.md remedy for ALS's alternating shuffle, demonstrated:
    bucket the interaction table and the factor table by the join key and
    the half-step's join runs with NO Exchange (only the output-keyed
    aggregate shuffles — the irreducible part). Also the layout-
    independence claim made real: factors solved from bucketed inputs
    are IDENTICAL to the plain-layout solve (decimal-exact sums are
    order-free, so physical layout cannot change a single bit)."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.ml import als
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import (
        load_tables,
        read_bucketed,
        write_bucketed,
    )

    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    inter = (
        t["orders"]
        .select(F.col("o_custkey").alias("c"), "o_orderkey")
        .join(
            t["lineitem"].select("l_orderkey", F.col("l_partkey").alias("p")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("c", "p")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    y = als._init_factors(inter, "p", "Y")
    write_bucketed(inter, "t_als_inter_by_p", "p", n_buckets=8, sort_col="p")
    write_bucketed(y, "t_als_y_by_p", "p", n_buckets=8, sort_col="p")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bi = read_bucketed(spark, "t_als_inter_by_p")
        by = read_bucketed(spark, "t_als_y_by_p")
        joined = bi.join(by, "p")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed ALS half-step join still shuffles:\n{plan[:1500]}"

        x_bucketed = als._solve_step(bi, by, "p", "c", lam=0.1)
        x_plain = als._solve_step(inter, y, "p", "c", lam=0.1)
        assert x_bucketed.exceptAll(x_plain).count() == 0
        assert x_plain.exceptAll(x_bucketed).count() == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_als_inter_by_p")
        spark.sql("DROP TABLE IF EXISTS t_als_y_by_p")


def test_recsys_store_freshness_and_serve_identity(spark, sf_dir, tmp_path, monkeypatch):
    """The recommender artifact store (r5 verdict #6): (a) the source
    fingerprint moves when the interaction log changes, so stale
    artifacts can never serve; (b) a hybrid run SERVED from the store is
    row-identical to the run that trained inline (parquet roundtrips the
    12dp factors and 6dp cosines bit-exactly)."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.ml import recsys_store as rs
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans import _memo, registry
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import load_tables

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path))

    t = load_tables(spark, sf_dir, names=("orders", "lineitem"))
    fp_full = rs.fingerprint(t["orders"], t["lineitem"], tag="x")
    n = t["orders"].count()
    fp_less = rs.fingerprint(t["orders"].limit(n - 1), t["lineitem"], tag="x")
    fp_other_cfg = rs.fingerprint(t["orders"], t["lineitem"], tag="y")
    assert fp_full != fp_less, "append-only source change must move the fingerprint"
    assert fp_full != fp_other_cfg, "training-config change must move the fingerprint"

    # fingerprint_sources (r7 ADVICE #1): datasets that read DIMENSION
    # tables must see a same-count/same-max value remap — count/max alone
    # cannot. A part-category remap must move the key; determinism and tag
    # sensitivity must hold.
    from pyspark.sql import functions as F

    td = load_tables(spark, sf_dir, names=("orders", "lineitem", "part"))
    fps_a = rs.fingerprint_sources(td, tag="z")
    fps_b = rs.fingerprint_sources(td, tag="z")
    assert fps_a == fps_b, "fingerprint_sources must be deterministic"
    assert fps_a != rs.fingerprint_sources(td, tag="z2")
    remapped = dict(td)
    remapped["part"] = td["part"].withColumn(
        "p_type",
        F.when(F.col("p_type").startswith("STANDARD"), F.lit("REMAPPED")).otherwise(
            F.col("p_type")
        ),
    )
    assert rs.fingerprint_sources(remapped, tag="z") != fps_a, (
        "a dimension-table value remap (unchanged row count) must move the key"
    )

    qs = registry.queries()
    # first run trains and persists (store dir is empty)
    out_train = sorted(map(tuple, qs["hybrid_recommendations"](spark, sf_dir).collect()))
    import os

    # two entries: the hybrid artifact set plus the ALS factor store the
    # shared trainer persists (r7: _als_shared went store-backed)
    stores = os.listdir(tmp_path)
    assert any(s.startswith("hyb_v1") for s in stores), stores
    assert all(os.path.isfile(tmp_path / s / "_META.json") for s in stores)
    # second run in a fresh memo state must READ the store, not retrain —
    # make retraining IMPOSSIBLE (trainers raise), so identity can only be
    # reached via the store read path
    _memo.clear()
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.ml import als as als_mod
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans import (
        registry_relational as rel_mod,
    )

    def _boom(*a, **k):
        raise AssertionError("store miss: serving path retrained instead of reading artifacts")

    monkeypatch.setattr(als_mod, "als_rank2", _boom)
    monkeypatch.setattr(als_mod, "als_rank2_bucketed", _boom)
    monkeypatch.setattr(rel_mod, "item_item_topk", _boom)
    out_served = sorted(map(tuple, qs["hybrid_recommendations"](spark, sf_dir).collect()))
    assert out_train == out_served
    # r10 (r9 verdict #4): a trainer-CODE change — modeled by bumping its
    # ALGO_VERSION — must move the store path and force a retrain. With
    # the trainers still rigged to raise, the serve must now FAIL on the
    # (forced) training path instead of quietly serving stale artifacts.
    _memo.clear()
    monkeypatch.setattr(als_mod, "ALGO_VERSION", als_mod.ALGO_VERSION + 1)
    import pytest

    with pytest.raises(AssertionError, match="store miss"):
        qs["hybrid_recommendations"](spark, sf_dir).collect()
    # versioned_tag contract: version moves the tag; same inputs don't
    assert rs.versioned_tag("t", 1) != rs.versioned_tag("t", 2)
    assert rs.versioned_tag("t", 1, 2) == rs.versioned_tag("t", 1, 2)
    assert rs.versioned_tag("t", 1, 2) != rs.versioned_tag("t", 2, 1)


def test_als_rank2_bucketed_full_train_identity(spark, sf_dir):
    """The full bucketed ALS trainer (the at-scale default above
    ALS_BUCKETED_MIN_ROWS interactions) must produce factors BIT-IDENTICAL
    to the plain trainer: decimal-exact sums are order-free, so the
    co-partitioned physical layout cannot change a single bit. Extends the
    single-half-step gate to all 2 alternations end to end."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.ml import als
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans.registry_ml import (
        _als_interactions,
    )

    inter = _als_interactions(spark, sf_dir)
    try:
        _, xb, yb = als.als_rank2_bucketed(
            inter, alternations=2, lam=0.1, n_buckets=8, table_prefix="t_alsfull"
        )
        _, xp, yp = als.als_rank2(inter, alternations=2, lam=0.1)
        for a, b in ((xb, xp), (yb, yp)):
            assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    finally:
        for t in ("inter_p", "inter_c", "y", "x1", "y1", "x2", "y2"):
            spark.sql(f"DROP TABLE IF EXISTS t_alsfull_{t}")


def test_ivf_pq_store_serve_identity(spark, sf_dir, tmp_path, monkeypatch):
    """The IVF-PQ index store (the vector-search half of the r5-verdict-#6
    offline-train / online-serve split): a search SERVED from the
    parquet-roundtripped index (codebooks, dense codes, inverted file,
    coarse-centroid rows) is row-identical to the inline-trained
    ivf_pq_topk — every artifact is integer- or round-pinned, so the
    roundtrip cannot move a bit. Also proves the read path is taken: the
    second registry run starts from a cleared memo and a populated store."""
    import os

    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.operators import (
        similarity as sim,
    )
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans import (
        _memo,
        registry,
    )
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.sources.tables import (
        load_table,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path))
    inline = sorted(
        map(
            tuple,
            sim.ivf_pq_topk(
                load_table(spark, "embeddings", sf_dir),
                k=5, n_cells=16, n_probe=10, m=16, n_codes=32, iters=2, rerank=60,
            ).collect(),
        )
    )
    qs = registry.queries()
    out_train = sorted(map(tuple, qs["ann_ivf_pq_topk"](spark, sf_dir).collect()))
    assert inline == out_train, "store-backed train+serve diverged from the inline operator"
    stores = os.listdir(tmp_path)
    assert len(stores) == 1 and os.path.isfile(tmp_path / stores[0] / "_META.json")
    _memo.clear()
    out_served = sorted(map(tuple, qs["ann_ivf_pq_topk"](spark, sf_dir).collect()))
    assert out_train == out_served, "serving from the persisted index changed the output"


def test_gbt_store_serve(spark, sf_dir, tmp_path, monkeypatch):
    """The fitted-GBT artifact store (r7: _lp_shared persists the boosted
    trees via the MLlib writer): a second process-state (cleared memo,
    populated store) must LOAD the model — proven by making the fit
    impossible (train_gbt raises) — and the loaded model must produce the
    same ranked feature importances as the fit that trained it."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.ml import (
        link_prediction as lp,
    )
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans import (
        _memo,
        registry,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path))
    qs = registry.queries()
    fit_rows = sorted(map(tuple, qs["feature_importances"](spark, sf_dir).collect()))

    _memo.clear()

    def _boom(*a, **k):
        raise AssertionError("store miss: GBT refit instead of loading the persisted model")

    monkeypatch.setattr(lp, "train_gbt", _boom)
    served_rows = sorted(map(tuple, qs["feature_importances"](spark, sf_dir).collect()))
    assert fit_rows == served_rows, "loaded GBT diverged from the fit that trained it"


def test_multitower_store_serve(spark, sf_dir, tmp_path, monkeypatch):
    """The tower-net artifact store (r7): parameters/scaler-stats/history
    persist in the fingerprint-keyed store; a second process-state must
    LOAD them (training made impossible) and report byte-identical
    metrics. r9 (r8 ADVICE): the fitted val-AUC is itself a stored
    artifact (mt_metrics) and the serve path reports the STORED value —
    served == fit is identity by construction, not a 12dp-rounding
    absorb of evaluator partition-order jitter."""
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.ml import (
        multitower as mt,
    )
    from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.plans import (
        _memo,
        registry,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path))
    qs = registry.queries()
    fit_rows = sorted(map(tuple, qs["ml_multitower_metrics"](spark, sf_dir).collect()))

    _memo.clear()

    def _boom(*a, **k):
        raise AssertionError("store miss: tower net retrained instead of loading params")

    monkeypatch.setattr(mt, "train_multi_tower", _boom)
    served_rows = sorted(map(tuple, qs["ml_multitower_metrics"](spark, sf_dir).collect()))
    assert fit_rows == served_rows, "loaded tower net diverged from the training run"
