"""Seeded stand-in for the query registry's input tables.

Writes the TPC-H-shaped star (region, nation, customer, supplier, part,
orders, lineitem) plus `events`, `documents` and `embeddings` as one parquet
file each, with the column names, types and value domains of the testdata
the registry was written against. One seed always gives the same bytes.

Row counts follow TPC-H's per-scale-factor sizes; documents are half the
testdata's count (see `tables`). Documents carry 5% near-duplicates (one
word changed) and 0.5% exact duplicates so the dedup family has clusters to
find; embeddings are ten labelled clusters on the unit sphere.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(["a", "the", "data", "spark", "stream", "batch", "table",
                  "row", "column", "key", "value", "hash", "join", "agg",
                  "group", "sort", "merge", "scan", "filter", "query",
                  "window", "order", "line", "customer", "part", "vector",
                  "fast", "slow", "big", "small"])
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.array(values)[rng.integers(0, len(values), n)]


def tables(seed, sf):
    """The ten tables as pyarrow Tables, keyed by name."""
    rng = np.random.Generator(np.random.PCG64(seed))

    def n(base):
        return max(1, round(base * sf))

    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    # half the testdata's documents per scale factor: the DuckDB twin of
    # dedup_minhash_lsh compares all pairs, and on 4 cores it takes 29 s at
    # 500 documents but 7 s at 250
    n_doc, n_vec = n(25_000), n(20_000)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    colors = ["red", "green", "blue", "black", "white", "small", "large", "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring", "chain"]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(_pick(rng, colors, n_part), " "),
                              _pick(rng, nouns, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    # two thirds of the customers place orders, so anti-joins find the rest
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, n_cust * 2 // 3), n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(0, 2600, n_line) * DAY_US)})
    ev_ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(100, n_ev // 60), n_ev),
        "event_type": _pick(rng, ["click", "view", "purchase", "signup",
                                  "error"], n_ev),
        "value": _money(rng, 0, 100, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts, langs = [], []
    lang_pool = ["en"] * 8 + ["de"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["zh"] * 3
    for d in range(n_doc):
        u = rng.random()
        if d > 0 and u < 0.055:
            src = int(rng.integers(0, d))
            words = texts[src].split(" ")
            if u >= 0.005:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
            langs.append(langs[src])
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 88)))))
            langs.append(lang_pool[int(rng.integers(0, len(lang_pool)))])
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    centres = rng.uniform(-0.5, 0.5, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centres[labels] + 0.6 * rng.uniform(-0.5, 0.5, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(directory, seed, sf):
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
