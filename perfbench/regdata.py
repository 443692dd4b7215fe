"""Seeded generator for the registry workload's input tables.

Writes the ten tables the query registry reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the schemas and value domains of the repository's
synthetic scale-factor sets, sized by `scale` (1.0 = sf1: 6M lineitem
rows). Documents carry planted exact and near duplicates; embeddings are
unit vectors clustered by label.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
COLORS = "red blue green small large tiny steel brass".split()
NOUNS = "widget bolt ring gear valve spring panel frame".split()


def _ts(rng, n, start, end):
    lo = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    hi = np.datetime64(end, "D").astype("datetime64[us]").astype(np.int64)
    days = rng.integers(0, (hi - lo) // 86_400_000_000 + 1, n)
    return pa.array((lo + days * 86_400_000_000).astype("datetime64[us]"))


def _text(rng, n_chars):
    words = rng.choice(WORDS, n_chars // 3 + 4)
    return " ".join(words)[:n_chars]


def generate(seed, scale, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = {k: max(m, int(v * scale)) for k, (v, m) in {
        "customer": (150_000, 50), "supplier": (10_000, 10),
        "part": (200_000, 64), "orders": (1_500_000, 100),
        "lineitem": (6_000_000, 400), "events": (1_000_000, 100),
        "documents": (50_000, 100), "embeddings": (20_000, 50)}.items()}
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], c)})
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{COLORS[i % 8]} {NOUNS[(i // 8) % 8]}"
                   for i in rng.integers(0, 64, p)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], o),
        "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
        "o_orderdate": _ts(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], li),
        "l_linestatus": rng.choice(["O", "F"], li),
        "l_shipdate": _ts(rng, li, "1995-01-02", "2001-11-04")})
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span, e)) + start
    tables["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(10, e // 66), e), pa.int64()),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], e),
        "value": np.round(rng.exponential(50, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [_text(rng, int(k)) for k in rng.integers(44, 578, d)]
    # planted duplicates: exact copies and near copies ("dup" swapped in)
    exact, near = max(2, d // 600), max(4, d // 20)
    picks = rng.choice(d, exact + near, replace=False)
    for j, dst in enumerate(picks):
        src = int(rng.integers(0, d))
        if src == dst:
            continue
        if j < exact:
            texts[dst] = texts[src]
        else:
            w = texts[src].split(" ")
            for k in rng.choice(len(w), max(1, len(w) // 25), replace=False):
                w[k] = "dup"
            texts[dst] = " ".join(w)
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], d, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centroids = rng.normal(size=(10, 64))
    vec = centroids[labels] * 0.35 + rng.normal(size=(v, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(v), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {k: t.num_rows for k, t in tables.items()}
