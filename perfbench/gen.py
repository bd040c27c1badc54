"""Deterministic synthetic tables in the shape graft's loaders read.

The tables follow the star schema graft's queries are written against
(region, nation, customer, supplier, part, orders, lineitem, events,
documents): same column names, parquet types and value domains, one
parquet file with one row group per table. Row counts scale with `sf`
(sf 0.1 gives 150k orders, 600k lineitems and 5,000 documents).

The tables depend only on `sf` and `base_seed`; the benchmark's own
--seed never changes them, so every seed measures the same table work.

Usage: python3 perfbench/gen.py <out_dir> [sf]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
COLORS = "large hot blue old cold red green dark".split()
NOUNS = "ring bolt plate gear widget rod anvil spring".split()
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "es", "fr"]
DAY_US = 86_400 * 1_000_000


def _days(rng, n, first, last):
    """Midnight timestamps (micros) uniformly between two dates."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng, n):
    """Space-separated words over a 30-word vocabulary; one doc in 20 is an
    earlier doc's text plus a ` dup` marker, as a planted near-duplicate."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    langs = np.asarray(LANGS, dtype=object)[
        rng.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(sf, base_seed=42, only=None):
    """{name: pyarrow table}; each table draws from its own generator, so
    a table's content does not depend on which others are generated."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev, n_doc = (int(1_500_000 * sf), int(6_000_000 * sf),
                                  int(1_000_000 * sf), int(50_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    makers = {
        "region": lambda rng: pa.table({
            "r_regionkey": i32(np.arange(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": lambda rng: pa.table({
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5)}),
        "customer": lambda rng: pa.table({
            "c_custkey": i64(np.arange(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}),
        "supplier": lambda rng: pa.table({
            "s_suppkey": i64(np.arange(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        "part": lambda rng: pa.table({
            "p_partkey": i64(np.arange(n_part)),
            "p_name": pa.array([f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(
                rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}),
        "orders": lambda rng: pa.table({
            "o_orderkey": i64(np.arange(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord)}),
        "lineitem": lambda rng: pa.table({
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["O", "F"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}),
        "events": lambda rng: pa.table({
            "event_id": i64(np.arange(n_ev)),
            "ts": pa.array(np.datetime64("2024-01-01", "us").astype(np.int64)
                           + np.sort(rng.integers(0, 30 * DAY_US, n_ev)),
                           pa.timestamp("us")),
            "user_id": i64(rng.integers(0, max(1, int(15_000 * sf)), n_ev)),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.gamma(1.3, 35.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}),
        "documents": lambda rng: _documents(rng, n_doc),
    }
    return {name: make(np.random.default_rng([base_seed, i]))
            for i, (name, make) in enumerate(makers.items())
            if only is None or name in only}


def write(out_dir, sf, base_seed=42, only=None):
    """Write the tables as `<out_dir>/<name>.parquet`; returns {name: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(sf, base_seed, only).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
        rows[name] = t.num_rows
    return rows


if __name__ == "__main__":
    print(write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01))
