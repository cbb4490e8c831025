"""Deterministic synthetic catalog for the benchmark.

Writes the ten tables graft's registry reads (`graft.sources.Tables.all`),
one parquet file each, with the shapes and value domains of the project's
TPC-H-like test catalog: uniform keys, day-granular order/ship dates,
30 days of sorted events, a 30-word document vocabulary with 5% near
duplicates, and unit-norm 64-d embeddings.

The tables depend only on the scale factor: the generator seed is fixed,
so the expected per-step fingerprints in `expected.json` stay valid. The
benchmark's `--seed` orders steps and picks refresh days; it never changes
table contents.

    python3 perfbench/gen_data.py --sf 0.1 --out perfbench/.work/data/sf0.1
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _rng(table):
    return np.random.default_rng([DATA_SEED, TABLES.index(table)])


def _days(rng, n, first, last):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(sf):
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_user = max(1, round(15_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng("customer")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]})

    r = _rng("supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)})

    r = _rng("part")
    adj = ["red", "blue", "hot", "cold", "small", "large", "old", "new"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"]
    pn = np.array([f"{a} {b}" for a in adj for b in noun])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pn[r.integers(0, len(pn), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            r.integers(0, 25, n_part)],
        "p_type": ptypes[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})

    r = _rng("orders")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[r.integers(0, 5, n_ord)]})

    r = _rng("lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04")})

    r = _rng("events")
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + r.integers(0, span, n_ev))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_user, n_ev), pa.int64()),
        "event_type": kinds[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    r = _rng("documents")
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(words), k)])
             for k in r.integers(10, 101, n_doc)]
    for i in np.flatnonzero(r.random(n_doc) < 0.05):
        texts[i] = texts[int(r.integers(0, n_doc))] + " dup"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[r.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = _rng("embeddings")
    v = r.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())})
    return out


def write(sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=len(t))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(a.sf, a.out)
