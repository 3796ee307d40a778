"""Seeded input tables for the benchmark.

Writes lineitem, orders, events, documents and embeddings, one parquet file
each, shaped like the program's sf0.01 test tables: the same row counts,
columns and types, and the value distributions measured on those tables
(the README's "Inputs" section compares the two). The same seed always
gives the same files.

    python3 perfbench/gen.py OUT_DIR --seed N
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS, N_LINES, N_CUSTOMERS = 15_000, 60_000, 1_500
N_PARTS, N_SUPPLIERS = 2_000, 100
N_EVENTS, N_USERS = 10_000, 150
N_DOCS, N_VECS = 500, 500

VOCAB = np.array(("key agg row scan slow fast table value part hash merge "
                  "batch spark line sort window join stream vector filter "
                  "group query column order small customer data big the a")
                 .split(), dtype=object)
LANGS = ["en", "de", "es", "fr", "zh"]
DAY_US = 86_400_000_000
T1995_US = 788_918_400_000_000   # 1995-01-01 UTC
T2024_US = 1_704_067_200_000_000  # 2024-01-01 UTC


def _money(rng, lo, hi, n):
    """Two-decimal amounts in [lo, hi)."""
    return np.floor(rng.uniform(lo, hi, n) * 100) / 100


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def lineitem(rng):
    """Lines pick their order uniformly (about four per order, 0 to 13),
    with an independent line number 1..7."""
    n = N_LINES
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": np.round(rng.uniform(0, 0.10, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(T1995_US + rng.integers(1, 2500, n) * DAY_US)})


def orders(rng):
    n = N_ORDERS
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _ts(T1995_US + rng.integers(0, 2405, n) * DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})


def events(rng):
    """Time-ordered events over 30 days; values exponential, mean 50."""
    n = N_EVENTS
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(T2024_US + np.sort(rng.integers(0, 30 * DAY_US, n))),
        "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
        "event_type": _pick(rng, ["signup", "purchase", "view", "click",
                                  "error"], n),
        "value": np.maximum(np.round(rng.exponential(50, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng):
    """Texts of 10..99 vocabulary tokens. One doc in twenty is another
    doc's text plus " dup" (a copy of a copy ends in " dup dup"); 42% are
    English, the other four languages share the rest."""
    n = N_DOCS
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 100, n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[(i + rng.integers(1, n)) % n] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=[0.42, 0.145, 0.145, 0.145, 0.145]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng):
    """Unit 64-d vectors with ten labels: a label's center (scale 0.04)
    plus unit Gaussian noise, normalized, so the clusters barely show."""
    label = rng.integers(0, 10, N_VECS)
    raw = rng.normal(0, 0.04, (10, 64))[label] + rng.normal(0, 1, (N_VECS, 64))
    vecs = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


TABLES = [lineitem, orders, events, documents, embeddings]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    for i, table in enumerate(TABLES):
        # one random stream per table
        rng = np.random.default_rng([a.seed, i])
        pq.write_table(table(rng), os.path.join(a.out, f"{table.__name__}.parquet"))


if __name__ == "__main__":
    main()
