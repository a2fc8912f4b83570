"""Seeded generator of the benchmark's input tables.

The tables follow the schema of the engine's test data: a TPC-H-like star
schema (region, nation, customer, supplier, part, orders, lineitem), an
`events` stream, a `documents` corpus and an `embeddings` table. Row counts
scale with `sf` the way the test data does (orders = 1.5M x sf). The same
seed always gives byte-identical tables; keys are unique by construction.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

WORDS = ("the a data row column table key value join merge sort scan filter "
         "group agg hash window batch stream spark query part line order "
         "customer vec vector index fast slow small big dup cold hot new old "
         "plan cache shard log event audit sync").split()
ADJ = "blue red hot cold new old small large".split()
NOUN = "bolt gear widget rod ring plate anvil nut".split()
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _choice(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _rows(sf, per_sf, floor=1):
    return max(floor, int(round(per_sf * sf)))


def make_table(name, sf, seed):
    """One table as a pyarrow Table; each table draws from its own stream."""
    rng = np.random.default_rng([seed, ALL_TABLES.index(name)])
    n_cust = _rows(sf, 150_000)
    n_orders = _rows(sf, 1_500_000)
    n_part = _rows(sf, 200_000)
    n_supp = _rows(sf, 10_000)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    if name == "nation":
        k = np.arange(25)
        return pa.table({
            "n_nationkey": pa.array(k, pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in k]),
            "n_regionkey": pa.array(k % 5, pa.int32())})
    if name == "customer":
        k = np.arange(n_cust)
        return pa.table({
            "c_custkey": pa.array(k, pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in k]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                          "HOUSEHOLD", "MACHINERY"], n_cust)})
    if name == "supplier":
        k = np.arange(n_supp)
        return pa.table({
            "s_suppkey": pa.array(k, pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in k]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    if name == "part":
        k = np.arange(n_part)
        names = [f"{a} {b}" for a in ADJ for b in NOUN]
        return pa.table({
            "p_partkey": pa.array(k, pa.int64()),
            "p_name": _choice(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": _choice(rng, ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                                    "PROMO"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1)})
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, n_orders) * DAY_US),
            "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                             "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    if name == "lineitem":
        per_order = rng.integers(1, 8, n_orders)
        okey = np.repeat(np.arange(n_orders), per_order)
        n = len(okey)
        starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
        qty = rng.integers(1, 51, n).astype("float64")
        return pa.table({
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _choice(rng, ["R", "A", "N"], n),
            "l_linestatus": _choice(rng, ["O", "F"], n),
            "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2500, n) * DAY_US)})
    if name == "events":
        n = _rows(sf, 1_000_000)
        ts = np.sort(rng.integers(0, 30 * DAY_US, n))
        return pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(EPOCH_2024_US + ts),
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": _choice(rng, ["click", "signup", "error", "view", "purchase"], n),
            "value": _money(rng, 0.01, 490.02, n),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    if name == "documents":
        n = 500 if sf <= 0.01 else _rows(sf, 50_000)
        lengths = rng.integers(8, 90, n)
        words = np.asarray(WORDS, dtype=object)
        texts = [" ".join(words[rng.integers(0, len(WORDS), m)]) for m in lengths]
        # a share of near-duplicates: a copy of an earlier text with one
        # word replaced, so the dedup families have pairs to find
        for i in range(1, n):
            if rng.random() < 0.15:
                toks = texts[int(rng.integers(0, i))].split()
                toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
                texts[i] = " ".join(toks)
        return pa.table({
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _choice(rng, ["en", "en", "en", "es", "zh", "de", "fr"], n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if name == "embeddings":
        n = 500 if sf <= 0.01 else _rows(sf, 20_000)
        vecs = rng.normal(0.0, 0.15, (n, 64)).astype("float32")
        return pa.table({
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    raise ValueError(f"unknown table {name}")


def write_tables(out_dir, sf, seed, tables=ALL_TABLES):
    """Write `<out_dir>/<table>.parquet` for each table."""
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        pq.write_table(make_table(t, sf, seed), os.path.join(out_dir, f"{t}.parquet"))
