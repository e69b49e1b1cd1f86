"""Seeded input generator for the benchmark (pyarrow + numpy, one process).

Everything the program reads is made here from ``--seed``: the same seed
gives byte-identical parquet files. Tables follow the star schema the
engine's loaders expect (``sources.tables.TABLES``), column types included.

- ``base``: a customer/supplier/part/orders/lineitem star plus a document
  corpus and its embeddings, at the sizes in ``SIZES``.
- refresh batches: new orders and their lineitems whose customer keys are
  Zipf-skewed and whose dates fall after the base, plus a fresh document
  and embedding batch with a fixed near-duplicate share.

Files are cached by (workload, seed) under ``.work/inputs`` next to this
file, so a repeated seed skips generation.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".work", "inputs")
FORMAT = 3  # bump when the generated data changes, so stale caches are ignored

SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "documents": 500,
}
# The batch shape below is an arbitrary choice, not taken from a measured
# trace or a published workload. It is picked so each part of the refresh
# path has work: a batch big enough to move every aggregate (+10% orders),
# a few customers hot enough to dominate their partitions (Zipf 1.2 puts
# about a fifth of a batch's orders on its top customer), and a corpus in
# which dedup finds both lexical near duplicates and verbatim copies.
BATCH_ORDERS = 1500  # per refresh iteration: +10% orders
LINES_PER_ORDER = 4  # mean, as in the base; lineitems per injected order are 1 + Poisson(3)
ZIPF_S = 1.2  # customer-key skew of injected orders
NEAR_DUP_SHARE = 0.30  # documents that are edited copies of another document
EXACT_DUP_SHARE = 0.05  # documents that are verbatim copies
EMB_DIM = 64
N_TOPICS = 10
# refresh iterations (the cold pass, then the timed ones) take batches round-robin
REFRESH_BATCHES = 4

BASE_START = np.datetime64("1995-01-01")
BASE_END = np.datetime64("2001-08-01")
INJECT_END = np.datetime64("2001-12-31")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["small", "red", "blue", "green", "large", "steel", "brass", "plastic"]
NOUN = ["ring", "widget", "bolt", "gear", "valve", "spring", "panel", "hinge"]
STOPWORDS = ["the", "and", "of", "to", "in", "is", "it", "that", "for", "with"]
STOPWORD_SHARE = 0.3
VOCAB_SIZE = 2000
ZIPF_WORDS = 1.1
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _days(rng, start, end, n):
    span = int((end - start).astype(int))
    return start + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _ts(days):
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(x):
    return pa.array(np.round(x, 2), pa.float64())


def _orders(rng, keys, custkeys, dates):
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(custkeys, pa.int64()),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n)),
            "o_orderdate": _ts(dates),
            "o_orderpriority": _choice(rng, PRIORITIES, n),
        }
    )


def _lineitem(rng, orderkeys, orderdates, n_parts, n_supp):
    """Lineitems for the given order rows; (l_orderkey, l_linenumber) is unique."""
    n = len(orderkeys)
    order = np.argsort(orderkeys, kind="stable")
    orderkeys, orderdates = orderkeys[order], orderdates[order]
    first = np.r_[True, orderkeys[1:] != orderkeys[:-1]]
    starts = np.flatnonzero(first)
    linenumber = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n])) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(orderkeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, n)),
            "l_discount": _money(rng.integers(0, 11, n) / 100.0),
            "l_tax": _money(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _choice(rng, ["A", "N", "R"], n),
            "l_linestatus": _choice(rng, ["F", "O"], n),
            "l_shipdate": _ts(orderdates + rng.integers(1, 122, n).astype("timedelta64[D]")),
        }
    )


def _vocab() -> list[str]:
    """A fixed vocabulary of made-up words, the same for every seed."""
    syllables = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
    words = [a + b for a in syllables for b in syllables]
    return [words[i] for i in np.random.default_rng(0).permutation(len(words))[:VOCAB_SIZE]]


def _words(rng, vocab, cdf, n):
    """``n`` words: English stopwords at STOPWORD_SHARE, the rest drawn
    from ``vocab`` with the cumulative frequencies ``cdf``."""
    content = vocab[np.minimum(np.searchsorted(cdf, rng.random(n)), len(vocab) - 1)]
    stop = np.asarray(STOPWORDS, dtype=object)[rng.integers(len(STOPWORDS), size=n)]
    return list(np.where(rng.random(n) < STOPWORD_SHARE, stop, content))


def _corpus(rng, n_docs):
    """Documents + aligned embeddings (vec_id == doc_id) with a stated share
    of near duplicates (one word replaced and one appended) and verbatim
    copies. Returns (documents, embeddings, exact-duplicate groups)."""
    n_exact = int(round(n_docs * EXACT_DUP_SHARE))
    n_near = int(round(n_docs * NEAR_DUP_SHARE))
    n_orig = n_docs - n_exact - n_near
    vocab = np.asarray(_vocab(), dtype=object)
    cdf = np.cumsum(np.arange(1, len(vocab) + 1, dtype=np.float64) ** -ZIPF_WORDS)
    cdf /= cdf[-1]
    centroids = rng.normal(size=(N_TOPICS, EMB_DIM))
    texts, vecs, labels, source_of = [], [], [], []
    for _ in range(n_orig):
        words = _words(rng, vocab, cdf, int(rng.integers(20, 120)))
        topic = int(rng.integers(N_TOPICS))
        texts.append(words)
        vecs.append(centroids[topic] + rng.normal(scale=3.0, size=EMB_DIM))
        labels.append(topic)
        source_of.append(-1)
    for j in range(n_near + n_exact):
        src = int(rng.integers(n_orig))
        words = list(texts[src])
        vec = vecs[src]
        if j < n_near:
            words[int(rng.integers(len(words)))] = _words(rng, vocab, cdf, 1)[0]
            words.append(_words(rng, vocab, cdf, 1)[0])
            vec = vec + rng.normal(scale=0.1, size=EMB_DIM)
        texts.append(words)
        vecs.append(vec)
        labels.append(labels[src])
        source_of.append(src if j >= n_near else -1)
    perm = rng.permutation(n_docs)  # doc_id = position after shuffling
    inv = np.empty(n_docs, dtype=np.int64)
    inv[perm] = np.arange(n_docs)
    text = [" ".join(texts[i]) for i in perm]
    emb = np.stack([vecs[i] for i in perm])
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    groups: dict[int, list[int]] = {}
    for i, src in enumerate(source_of):
        if src >= 0:
            groups.setdefault(int(inv[src]), [int(inv[src])]).append(int(inv[i]))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": _choice(rng, LANGS, n_docs, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(np.asarray(labels)[perm], pa.int32()),
        }
    )
    return docs, embeddings, sorted(groups.values())


def _base(rng, out):
    s = SIZES
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        f"{out}/region.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        f"{out}/nation.parquet",
    )
    nc = s["customer"]
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": _money(rng.uniform(-999.99, 9999.99, nc)),
                "c_mktsegment": _choice(rng, SEGMENTS, nc),
            }
        ),
        f"{out}/customer.parquet",
    )
    ns = s["supplier"]
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": _money(rng.uniform(-999.99, 9999.99, ns)),
            }
        ),
        f"{out}/supplier.parquet",
    )
    npart = s["part"]
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    p_type = _choice(rng, TYPES, npart)
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), pa.int64()),
                "p_name": _choice(rng, names, npart),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
                "p_type": p_type,
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0, pa.float64()),
            }
        ),
        f"{out}/part.parquet",
    )
    no = s["orders"]
    odates = _days(rng, BASE_START, BASE_END, no)
    pq.write_table(_orders(rng, np.arange(no), rng.integers(0, nc, no), odates), f"{out}/orders.parquet")
    li_orders = rng.integers(0, no, s["lineitem"])
    pq.write_table(
        _lineitem(rng, li_orders, odates[li_orders], npart, ns), f"{out}/lineitem.parquet"
    )
    docs, emb, groups = _corpus(rng, s["documents"])
    pq.write_table(docs, f"{out}/documents.parquet")
    pq.write_table(emb, f"{out}/embeddings.parquet")
    return {"categories": len(set(p_type.to_pylist())), "exact_dup_groups": groups}


def _zipf_customers(rng, n, n_customers):
    """Zipf(s) ranks over a seeded permutation of the customer keys."""
    ranks = np.arange(1, n_customers + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    p /= p.sum()
    hot = rng.permutation(n_customers)
    return hot[rng.choice(n_customers, n, p=p)]


def _batch(rng, out, k):
    s = SIZES
    keys = s["orders"] + k * BATCH_ORDERS + np.arange(BATCH_ORDERS)
    cust = _zipf_customers(rng, BATCH_ORDERS, s["customer"])
    dates = _days(rng, BASE_END + np.timedelta64(1, "D"), INJECT_END, BATCH_ORDERS)
    pq.write_table(_orders(rng, keys, cust, dates), f"{out}/orders.parquet")
    per_order = 1 + rng.poisson(LINES_PER_ORDER - 1, BATCH_ORDERS)
    idx = np.repeat(np.arange(BATCH_ORDERS), per_order)
    li = _lineitem(rng, keys[idx], dates[idx], s["part"], s["supplier"])
    pq.write_table(li, f"{out}/lineitem.parquet")
    docs, emb, groups = _corpus(rng, s["documents"])
    pq.write_table(docs, f"{out}/documents.parquet")
    pq.write_table(emb, f"{out}/embeddings.parquet")
    return {
        "orders": BATCH_ORDERS,
        "lineitem": li.num_rows,
        "exact_dup_groups": groups,
        "top_customer_share": float(np.bincount(cust).max() / BATCH_ORDERS),
    }


def generate(workload: str, seed: int) -> tuple[str, dict, float]:
    """Make (or reuse) the inputs of ``workload`` for ``seed``.

    Returns (directory, manifest, seconds spent generating). The directory
    holds ``base/`` and, for refresh, ``batch-<k>/`` for each batch."""
    out = os.path.join(CACHE, f"{workload}-{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        if manifest.get("format") == FORMAT:
            return out, manifest, 0.0
    t0 = time.perf_counter()
    rng = np.random.default_rng([seed, 0 if workload == "serve" else 1])
    os.makedirs(f"{out}/base", exist_ok=True)
    manifest = {"format": FORMAT, "workload": workload, "seed": seed, "sizes": SIZES}
    manifest["base"] = _base(rng, f"{out}/base")
    if workload == "refresh":
        manifest["batches"] = []
        for k in range(REFRESH_BATCHES):
            os.makedirs(f"{out}/batch-{k}", exist_ok=True)
            manifest["batches"].append(_batch(rng, f"{out}/batch-{k}", k))
    with open(manifest_path + ".tmp", "w") as fh:
        json.dump(manifest, fh)
    os.replace(manifest_path + ".tmp", manifest_path)
    return out, manifest, time.perf_counter() - t0
