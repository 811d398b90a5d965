"""Deterministic generator for the benchmark's tables.

Writes the ten tables the engine registers (`graft.Tables.all`) as one
single-row-group Parquet file each, with the schemas, row counts and value
domains of the repository's sf0.1 fixture (FIXTURES.md): a TPC-H-like star
schema with timestamp dates and double money columns, plus `events`,
`documents` and `embeddings`. The data seed is fixed, so every checkout
builds byte-identical inputs; the workload seed only drives the statements.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# rows at sf0.1; other scale factors scale every table but region and nation
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
             "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "green", "small",
            "bright", "dark", "pale", "shiny"]
PART_NOUN = ["ring", "bolt", "plate", "nut", "screw", "gear", "valve", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "the", "of", "and", "in", "agg", "batch", "big", "column", "customer",
         "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "value", "vector", "window"]
LANGS = ["en"] * 7 + ["de", "fr", "zh"]


def _days(start, end, n, rng):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 50 and rng.random() < 0.06:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    return texts


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    SCALE = {k: max(int(round(v * sf / 0.1)), 10) for k, v in SF01_ROWS.items()}
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": REGIONS})
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = SCALE["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n)]})
    n = SCALE["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = SCALE["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(PART_ADJ), n), rng.integers(0, len(PART_NOUN), n))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)})
    n = SCALE["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, SCALE["customer"], n).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n, rng),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n)]})
    n = SCALE["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, SCALE["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, SCALE["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, SCALE["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", n, rng)})
    n = SCALE["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n))
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 200.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = SCALE["documents"]
    texts = _documents(rng, n)
    out["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n = SCALE["embeddings"]
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})
    return out


def ensure(data_dir, sf):
    """Build the tables at scale factor `sf` into `data_dir` unless a
    finished copy is there."""
    done = os.path.join(data_dir, "_DONE")
    if os.path.exists(done):
        return data_dir
    build = data_dir + ".build"
    os.makedirs(build, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(build, f"{name}.parquet"),
                       row_group_size=1 << 24, compression="snappy")
    open(os.path.join(build, "_DONE"), "w").close()
    os.replace(build, data_dir)
    return data_dir
