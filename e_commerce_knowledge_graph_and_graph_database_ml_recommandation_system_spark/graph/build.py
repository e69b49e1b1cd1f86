"""Property-graph construction: relational tables -> (nodes, edges) DataFrames.

The reference builds an ``nx.DiGraph`` row-at-a-time with insert-if-absent
semantics (``knowledge_graph_creation.py:39-166``). Here the same graph is two
immutable, columnar DataFrames:

    nodes(id STRING, label STRING, dvid INT, name STRING, mktsegment STRING,
          acctbal DOUBLE, category STRING, brand STRING, price DOUBLE,
          stock INT, city STRING, country STRING, order_status STRING,
          order_priority STRING, amount DOUBLE, ts TIMESTAMP)
    edges(src STRING, dst STRING, type STRING, ts TIMESTAMP, qty DOUBLE,
          rate DOUBLE, dvid INT)

Label/type mapping from the TPC-H-ish testdata (SURVEY.md §5):
  customer -> Customer nodes            (reference: intl/amazon customers,
                                         ``knowledge_graph_creation.py:47-86``)
  orders   -> Order nodes + PURCHASED   (``knowledge_graph_creation.py:61-66,93-111``)
  lineitem -> CONTAINS edges            (``knowledge_graph_creation.py:67-68,112``)
  part     -> Product nodes             (``knowledge_graph_creation.py:57-59,141-160``)
  nation×region -> Location nodes + SHIPPED_TO (``knowledge_graph_creation.py:100-113``)
  part.p_type   -> Category nodes + BELONGS_TO (``knowledge_graph_creation.py:107-116``)

Insert-if-absent == ``dropDuplicates(['id'])`` (hash aggregate, shuffle on id);
BELONGS_TO dedup == ``dropDuplicates(['src','dst'])``
(``knowledge_graph_creation.py:115-116``). ``dvid`` versioning (MVCC-lite,
``second_third_and_forth_data_injection.py:83-110``) is a deterministic
derivation from the order key so snapshots (``dvid <= N``) are reproducible in
any engine. At 100 TB the nodes/edges tables are written partitioned by
(label|type, dvid) so snapshot reads prune partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the source tables build_nodes / build_edges read
GRAPH_TABLES = ("customer", "orders", "lineitem", "part", "nation", "region")

# dvid = 1 + orderkey % 5: five deterministic "injection batches"
# mirroring the reference's dvid=1..5 incremental loads.
N_BATCHES = 5


def _dvid(orderkey_col):
    return (F.pmod(orderkey_col, F.lit(N_BATCHES)) + F.lit(1)).cast("int")


def build_nodes(tables: dict[str, DataFrame]) -> DataFrame:
    """G1: per-label node extraction + dedup, unioned into one nodes DF."""
    customer, orders, part = tables["customer"], tables["orders"], tables["part"]
    nation, region = tables["nation"], tables["region"]

    customers = customer.select(
        F.concat_ws("_", F.lit("cust"), F.col("c_custkey")).alias("id"),
        F.col("c_custkey").alias("key"),
        F.lit("Customer").alias("label"),
        F.lit(1).alias("dvid"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").alias("nationkey"),
    )

    products = part.select(
        F.concat_ws("_", F.lit("prod"), F.col("p_partkey")).alias("id"),
        F.col("p_partkey").alias("key"),
        F.lit("Product").alias("label"),
        F.lit(1).alias("dvid"),
        F.col("p_name").alias("name"),
        F.col("p_type").alias("category"),
        F.col("p_brand").alias("brand"),
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("stock"),
    )

    order_nodes = orders.select(
        F.concat_ws("_", F.lit("order"), F.col("o_orderkey")).alias("id"),
        F.col("o_orderkey").alias("key"),
        F.lit("Order").alias("label"),
        _dvid(F.col("o_orderkey")).alias("dvid"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_orderpriority").alias("order_priority"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").alias("ts"),
    )

    # Location = nation joined to region (broadcast: both tiny dims).
    locations = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.concat_ws("_", F.lit("loc"), F.col("n_nationkey")).alias("id"),
            F.lit("Location").alias("label"),
            F.lit(1).alias("dvid"),
            F.col("n_name").alias("city"),
            F.col("r_name").alias("country"),
        )
    )

    categories = part.select(
        F.concat_ws("_", F.lit("cat"), F.col("p_type")).alias("id"),
        F.lit("Category").alias("label"),
        F.lit(1).alias("dvid"),
        F.col("p_type").alias("name"),
    ).dropDuplicates(["id"])

    dfs = [customers, products, order_nodes, locations, categories]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def build_edges(tables: dict[str, DataFrame]) -> DataFrame:
    """G2/G4: typed edge extraction; BELONGS_TO deduped once per pair."""
    orders, lineitem, part, customer = (
        tables["orders"],
        tables["lineitem"],
        tables["part"],
        tables["customer"],
    )

    purchased = orders.select(
        F.concat_ws("_", F.lit("cust"), F.col("o_custkey")).alias("src"),
        F.concat_ws("_", F.lit("order"), F.col("o_orderkey")).alias("dst"),
        F.lit("PURCHASED").alias("type"),
        F.col("o_orderdate").alias("ts"),
        F.lit(None).cast("double").alias("qty"),
        F.lit(None).cast("double").alias("rate"),
        _dvid(F.col("o_orderkey")).alias("dvid"),
    )

    contains = lineitem.select(
        F.concat_ws("_", F.lit("order"), F.col("l_orderkey")).alias("src"),
        F.concat_ws("_", F.lit("prod"), F.col("l_partkey")).alias("dst"),
        F.lit("CONTAINS").alias("type"),
        F.col("l_shipdate").alias("ts"),
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("rate"),
        _dvid(F.col("l_orderkey")).alias("dvid"),
    )

    # SHIPPED_TO: order -> its customer's nation-location. customer is a dim
    # table -> broadcast join, no shuffle of orders.
    shipped = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            F.concat_ws("_", F.lit("order"), F.col("o_orderkey")).alias("src"),
            F.concat_ws("_", F.lit("loc"), F.col("c_nationkey")).alias("dst"),
            F.lit("SHIPPED_TO").alias("type"),
            F.col("o_orderdate").alias("ts"),
            F.lit(None).cast("double").alias("qty"),
            F.lit(None).cast("double").alias("rate"),
            _dvid(F.col("o_orderkey")).alias("dvid"),
        )
    )

    belongs = (
        part.select(
            F.concat_ws("_", F.lit("prod"), F.col("p_partkey")).alias("src"),
            F.concat_ws("_", F.lit("cat"), F.col("p_type")).alias("dst"),
            F.lit("BELONGS_TO").alias("type"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.lit(None).cast("double").alias("qty"),
            F.lit(None).cast("double").alias("rate"),
            F.lit(1).alias("dvid"),
        )
        .dropDuplicates(["src", "dst"])
    )

    return purchased.unionByName(contains).unionByName(shipped).unionByName(belongs)


def snapshot(df: DataFrame, dvid: int) -> DataFrame:
    """dvid snapshot (U3): reference re-loads the pickle per batch; here it is
    a partition-prunable predicate."""
    return df.filter(F.col("dvid") <= F.lit(dvid))


def graph_stats(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """G5: label/type histograms as one DataFrame
    (reference prints Counters, ``knowledge_graph_creation.py:212-237``)."""
    n = nodes.groupBy("label").agg(F.count("*").alias("cnt")).select(
        F.lit("node").alias("kind"), F.col("label").alias("key"), "cnt"
    )
    e = edges.groupBy("type").agg(F.count("*").alias("cnt")).select(
        F.lit("edge").alias("kind"), F.col("type").alias("key"), "cnt"
    )
    return n.unionByName(e)
