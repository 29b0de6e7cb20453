"""Batch inputs for the benchmark: the ten parquet tables `graft.Tables`
reads, at the shape of the sf0.1 test data (TPC-H-like star schema plus
`events`, `documents` and `embeddings`).

Table CONTENT is fixed (drawn from CONTENT_SEED), so each query's output
hash can be checked against the recorded hashes in expected_hashes.json.
`--seed` sets the physical layout: the row order of every table. The
same seed always writes the same bytes.

Usage: python3 gen_tables.py --seed N --out DIR
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM, N_EVENTS = 150_000, 600_000, 100_000
N_DOCS, N_EMB, EMB_DIM = 5_000, 2_000, 64

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _days(rng, lo, hi, n):
    """Midnight timestamps uniform over [lo, hi]."""
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(lo_d, hi_d + 1, n)
    return (d * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, vals, n, p=None):
    return np.asarray(vals, dtype=object)[rng.choice(len(vals), n, p=p)]


def tables():
    """name -> pyarrow.Table, in canonical (unshuffled) row order."""
    rng = np.random.default_rng(CONTENT_SEED)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32)})
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER)})
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(N_PART, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, N_PART),
                                              _pick(rng, NOUN, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": _pick(rng, PTYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS)})
    n = N_LINEITEM
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})
    n = N_EVENTS
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + t0
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    texts = []
    for i in range(N_DOCS):
        if i > 100 and rng.random() < 0.05:   # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 100 and rng.random() < 0.002:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(_pick(rng, VOCAB, int(rng.integers(10, 101)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((N_EMB, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_EMB).astype(np.int32)})
    return out


def write(seed, out_dir):
    """Write every table as one single-row-group parquet file, rows in a
    seed-dependent order."""
    os.makedirs(out_dir, exist_ok=True)
    layout = np.random.default_rng(seed)
    for name, t in tables().items():
        t = t.take(layout.permutation(t.num_rows))
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(t, tmp, row_group_size=t.num_rows)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(a.seed, a.out)
