"""Seeded input tables for the query_mix workload.

The ten tables have the schemas and value shapes of the engine's batch test
data (see FIXTURES.md): a TPC-H-like star schema, an `events` stream table,
`documents` with near-duplicate pairs and unit-norm `embeddings`. Row counts
are those of scale factor 0.002: the queries the workload runs are bound by
per-job overhead at this size, and one pass fits a run. The same seed
writes the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 300, "supplier": 20, "part": 400, "orders": 3000,
        "lineitem": 12000, "events": 2000, "users": 30, "documents": 500, "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
MS_PER_DAY = 86400000


def _ms_timestamps(days_from, n_days, rng, n):
    return pa.array((days_from + rng.integers(0, n_days, n)) * MS_PER_DAY, pa.timestamp("ms"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(seed):
    """Returns {table name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)]})
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [TYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n)]})
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _ms_timestamps(9131, 2404, rng, n),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]})
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ms_timestamps(9132, 2498, rng, n)})
    n = ROWS["events"]
    span_us = 30 * MS_PER_DAY * 1000
    start_us = 19723 * MS_PER_DAY * 1000  # 2024-01-01
    ts = start_us + np.sort(rng.integers(0, span_us, n))
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, ROWS["users"], n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(np.maximum(rng.exponential(50, n), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = ROWS["documents"]
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100)))
             for _ in range(n)]
    # One doc in twenty repeats an earlier one with a trailing word, so the
    # near-duplicate detectors have true pairs to find.
    for i in range(n // 2, n):
        if rng.random() < 0.1:
            texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    n = ROWS["embeddings"]
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return t


def ensure(base, seed):
    """Writes the seed's tables under `base` once; returns their directory."""
    d = os.path.join(base, f"seed-{seed}")
    done = os.path.join(d, "_complete")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        for name, table in build(seed).items():
            pq.write_table(table, os.path.join(d, f"{name}.parquet"))
        open(done, "w").close()
    return d
