"""Seeded generator for the benchmark's input tables.

Writes sf-shaped parquet tables with the same schemas and value
distributions as the project's synthetic testdata (a TPC-H-like star
schema, an `events` stream, a `documents` corpus with ~5% near-duplicate
documents and an `embeddings` table of unit vectors in ten clusters),
so that every registry query's built-in constants (buckets `src0..`,
languages, doc ids, vocabulary) stay valid. The same seed gives the
same bytes.

Usage: python3 perfbench/gen.py <out_dir> <seed> [<sf>]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
ADJ = "blue cold hot large old red small tiny".split()
NOUN = "bolt gear nut plate ring screw spring widget".split()
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                   "STANDARD"])
STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def _ts(start, end, n, rng):
    """n uniform day-resolution timestamps in [start, end]."""
    days = (end - start).days
    d = rng.integers(0, days + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents_table(rng, n_docs):
    """Documents: `text` is 10..100 vocabulary words; 5% of the rows are
    an earlier original document's text plus the marker word `dup`. Dups
    copy originals only, so every near-duplicate cluster is one original
    with its copies, of the same shape whatever the seed."""
    vocab = np.array(VOCAB)
    texts, originals = [], []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[originals[int(rng.integers(0, len(
                originals)))]] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
            originals.append(i)
    ids = np.arange(n_docs, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    }


def generate(out, seed, sf=0.1):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    scale = lambda n: max(1, int(round(n * sf / 0.1)))
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n_cust, n_supp, n_part = scale(15000), scale(1000), scale(20000)
    n_ord, n_li = scale(150000), scale(600000)
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(rng.integers(-99999, 1000000, n_cust) / 100.0),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(rng.integers(-99999, 1000000, n_supp) / 100.0)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(STATUS, n_ord)),
        "o_totalprice": pa.array(rng.integers(100000, 50000000, n_ord)
                                 / 100.0),
        "o_orderdate": pa.array(_ts(dt.date(1995, 1, 1), dt.date(2001, 8, 1),
                                    n_ord, rng)),
        "o_orderpriority": pa.array(rng.choice(PRIORITY, n_ord))})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90000, 10500000, n_li)
                                    / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_li)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_li)),
        "l_shipdate": pa.array(_ts(dt.date(1995, 1, 2), dt.date(2001, 11, 4),
                                   n_li, rng))})
    n_ev = scale(100000)
    span_us = 30 * 86400 * 1000000
    ts_us = np.sort(rng.integers(0, span_us, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, scale(1500), n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])})
    _write(out, "documents", documents_table(rng, scale(5000)))
    n_emb = scale(2000)
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.35 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 0.1)
