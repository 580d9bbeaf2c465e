"""Seeded generator of the analytics corpus: the TPC-H-like star schema
plus the events, documents and embeddings tables that the engine's
`SparkEntry.queries` read, at about 60k lineitem rows. Every column is
drawn independently from the same domains as the engine's test corpus,
so the same seed always gives byte-identical tables."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("fast spark line small customer group value hash batch sort data big "
         "filter dup row the query stream key agg scan slow table part a merge "
         "window order column join vector").split()
COLORS = "blue hot small old red new cold large".split()
THINGS = "bolt gear anvil ring widget rod plate gizmo".split()

N_CUST, N_SUPP, N_PART, N_ORD, N_LINE = 1500, 100, 2000, 15000, 60000
N_EVT, N_DOC, N_VEC, DIM = 10000, 500, 500, 64


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(np.int64) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def tables(seed):
    rng = np.random.default_rng(seed)
    pick = lambda xs, n: pa.array(list(np.array(xs, dtype=object)[rng.integers(0, len(xs), n)]))
    i32 = lambda n, lo, hi: pa.array(rng.integers(lo, hi + 1, n).astype(np.int32))
    i64 = lambda n, lo, hi: pa.array(rng.integers(lo, hi + 1, n).astype(np.int64))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUST, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": i32(N_CUST, 0, 24),
        "c_acctbal": _money(rng, N_CUST, -999.99, 9999.99),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], N_CUST)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPP, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": i32(N_SUPP, 0, 24),
        "s_acctbal": _money(rng, N_SUPP, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(pick(COLORS, N_PART).to_pylist(),
                                                      pick(THINGS, N_PART).to_pylist())]),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], N_PART),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], N_PART),
        "p_size": i32(N_PART, 1, 50),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, N_PART) * 0.1, 1))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORD, dtype=np.int64)),
        "o_custkey": i64(N_ORD, 0, N_CUST - 1),
        "o_orderstatus": pick(["F", "O", "P"], N_ORD),
        "o_totalprice": _money(rng, N_ORD, 1000, 500000),
        "o_orderdate": _days(rng, N_ORD, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORD)})
    t["lineitem"] = pa.table({
        "l_orderkey": i64(N_LINE, 0, N_ORD - 1),
        "l_partkey": i64(N_LINE, 0, N_PART - 1),
        "l_suppkey": i64(N_LINE, 0, N_SUPP - 1),
        "l_linenumber": i32(N_LINE, 1, 7),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINE).astype(np.float64)),
        "l_extendedprice": _money(rng, N_LINE, 900, 105000),
        "l_discount": pa.array(np.round(rng.integers(0, 11, N_LINE) * 0.01, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, N_LINE) * 0.01, 2)),
        "l_returnflag": pick(["A", "N", "R"], N_LINE),
        "l_linestatus": pick(["F", "O"], N_LINE),
        "l_shipdate": _days(rng, N_LINE, "1995-01-02", "2001-11-04")})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVT))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVT, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": i64(N_EVT, 0, 149),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], N_EVT),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, N_EVT), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVT)])})
    texts = [" ".join(np.array(WORDS, dtype=object)[rng.integers(0, len(WORDS), n)])
             for n in rng.integers(10, 100, N_DOC)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOC, dtype=np.int64)),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], N_DOC),
        "source": pick([f"src{i}" for i in range(20)], N_DOC),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})
    labels = rng.integers(0, 10, N_VEC)
    centers = rng.normal(size=(10, DIM))
    x = rng.normal(size=(N_VEC, DIM)) + 0.14 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VEC, dtype=np.int64)),
        "embedding": pa.array([list(r) for r in x.astype(np.float32)], type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return t


def write(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
