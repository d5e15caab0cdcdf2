"""Seeded input tables for the registry workload.

Writes the ten tables the query registries read (`graft.Tables.all`) as
`<dir>/<name>.parquet`, in the shape of the engine's test tables: a small
TPC-H-like star schema, an events stream with JSON props, a word-salad
document corpus with planted near duplicates, and unit-norm embeddings
with weak planted clusters. The same seed gives byte-identical files.
"""
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.001-sized: the registry queries are bound by their per-stage floor
# at this size, so one timed pass fits a short run.
ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()

_US_PER_DAY = 86_400_000_000


def _day_ts(rng, n, start="1995-01-01", days=2400):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days, n) * _US_PER_DAY, pa.timestamp("us"))


def documents(rng, n):
    """Word-salad texts; one in twelve is a one-word edit of an earlier
    text, so the near-duplicate operators find pairs. Which texts are
    edited copies, and every text's length, are the same for every seed;
    only the words differ, so every seed gives the dedup queries about the
    same work."""
    texts = []
    for i in range(n):
        if i % 12 == 11:
            words = texts[i - 7].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = rng.choice(WORDS, 8 + (i * 37) % 82).tolist()
        texts.append(" ".join(words))
    return texts


def tables(seed):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n).tolist()})
    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    n = ROWS["part"]
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
    noun = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)})
    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _day_ts(rng, n),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n).tolist()})
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": _day_ts(rng, n, "1995-01-02", 2498)})
    n = ROWS["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * _US_PER_DAY, n))
    out["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n).tolist(),
        "value": np.round(rng.uniform(0.01, 490, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]})
    n = ROWS["documents"]
    texts = documents(rng, n)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "de", "fr", "es"], n).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n = ROWS["embeddings"]
    dim, k = 64, 10
    label = rng.integers(0, k, n)
    centers = rng.normal(size=(k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.14 * centers[label] + rng.normal(size=(n, dim)) / np.sqrt(dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return out


def write(seed, out_dir):
    for name, table in tables(seed).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
