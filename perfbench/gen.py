"""Seeded synthetic tables for the batch_operators workload.

Writes the six parquet tables the DedupOps, SimilarityOps, TextOps and
StatsOps queries read (documents, embeddings, events, part, orders,
lineitem) with the same column names and arrow types as the project's
fixture tables (FIXTURES.md section 2). The same seed gives byte-identical
tables; the row counts are fixed by the size constants below.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Row counts: the relational tables at the fixture's sf0.01 size; documents
# and embeddings twice the fixture's sf0.01 size (500 rows).
N_DOCS = 1000
N_EMB = 1000
N_EVENTS = 10000
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000

EPOCH = dt.datetime(1970, 1, 1)


def _micros(d):
    return int((d - EPOCH).total_seconds() * 1_000_000)


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def documents(rng):
    texts = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few tokens resampled
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks = [t for t in toks if t != "dup"]
            for j in rng.choice(len(toks), size=max(1, len(toks) // 10),
                                replace=False):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            toks.append("dup")
        elif i >= 20 and rng.random() < 0.005:
            toks = texts[int(rng.integers(0, i))].split(" ")  # exact copy
        else:
            n = int(rng.integers(10, 100))
            toks = [VOCAB[k] for k in rng.integers(0, len(VOCAB), size=n)]
        texts.append(" ".join(toks))
    langs = rng.choice(LANGS, size=N_DOCS, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng):
    # unit vectors in random directions, labels independent of geometry,
    # as in the fixture: the semantic-dedup graph stays sparse
    vecs = rng.normal(size=(N_EMB, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, size=N_EMB).astype(np.int32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMB, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def events(rng):
    start = _micros(dt.datetime(2024, 1, 1))
    span = 30 * 86400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, size=N_EVENTS))
    types = np.array(["click", "purchase", "error", "signup", "view"])
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_EVENTS * 3 // 200, size=N_EVENTS)),
        "event_type": pa.array(types[rng.integers(0, 5, size=N_EVENTS)].tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, size=N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)]),
    })


def part(rng):
    adj = ["large", "hot", "blue", "red", "small", "cold", "green", "dark"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    keys = np.arange(N_PART, dtype=np.int64)
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(types[rng.integers(0, 6, N_PART)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })


def _days(rng, lo, hi, n):
    base = _micros(lo)
    days = rng.integers(0, (hi - lo).days + 1, size=n)
    return pa.array(base + days * 86400 * 1_000_000, pa.timestamp("us"))


def orders(rng):
    return pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_ORDERS // 10, N_ORDERS)),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, N_ORDERS)].tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, N_ORDERS), 2)),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), N_ORDERS),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"])
                                    [rng.integers(0, 5, N_ORDERS)].tolist()),
    })


def lineitem(rng):
    n = N_LINEITEM
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n)),
        "l_partkey": pa.array(rng.integers(0, N_PART, n)),
        "l_suppkey": pa.array(rng.integers(0, 100, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)].tolist()),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)].tolist()),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n),
    })


TABLES = {"documents": documents, "embeddings": embeddings, "events": events,
          "part": part, "orders": orders, "lineitem": lineitem}


def write_tables(out_dir, seed):
    """Write every table under out_dir; each table draws from its own
    seeded stream, so changing one generator leaves the others as they were."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate(sorted(TABLES.items())):
        _write(out_dir, name, make(np.random.default_rng([seed, i])))
