"""Deterministic synthetic input tables for the benchmark.

Writes the engine's query tables (TPC-H-ish star schema plus `events`,
`documents` and `embeddings`) as one parquet file each, with the column names,
types and value shapes the operator queries expect. Content depends only on
(`sf`, `gen_seed`), so a cached copy can be reused across runs.

`flagship_corpus` derives the flagship's id-disjoint replica corpus from a base
table set: replica `r` shifts every key by `r * stride` and suffixes entity
names with a salt drawn from the run seed, then every table is written in a
seed-permuted row order.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
FLAGSHIP_TABLES = ["customer", "orders", "lineitem", "part"]


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _bursts(offsets_us, day_us):
    """Folds offsets spread over 30 days into ten five-minute bursts three
    days apart, sorted: dense enough that a click falls in a view's
    one-minute window (q_range_join) even at the smallest scale factor, with
    the half-hour gaps that close sessions (q_stream_sessions)."""
    burst_us = 300 * 10**6
    return np.sort((offsets_us // burst_us) % 10 * 3 * day_us + offsets_us % burst_us)


def write_tables(out_dir, sf, gen_seed):
    """Write every query table for scale factor `sf` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(gen_seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(1, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_user = max(1, int(15000 * sf))
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    day_us = 86400 * 10**6

    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                               "r_name": REGIONS})
    _write(out_dir, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                               "n_name": [f"NATION_{i}" for i in range(25)],
                               "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * day_us)})
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", _bursts(rng.integers(0, 30 * day_us, n_ev), day_us)),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document: the dedup queries' targets
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    centers *= 0.14 / np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = rng.normal(0.0, 0.125, (n_emb, 64)) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return {t: pq.ParquetFile(os.path.join(out_dir, t + ".parquet")).metadata.num_rows
            for t in TABLES}


def salts(seed, copies):
    """Distinct fixed-length replica name suffixes drawn from the run seed.

    Fixed length keeps the ER string similarities of a replica identical to the
    base corpus, so the pipeline's cluster structure does not depend on the
    seed."""
    rng = np.random.default_rng([seed, 7])
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = []
    while len(out) < copies:
        s = "".join(rng.choice(alphabet, 6))
        if s not in out:
            out.append(s)
    return out


def flagship_corpus(base_dir, out_dir, copies, seed):
    """Write the id-disjoint ×`copies` corpus of the flagship's four input
    tables, projected to the columns the pipeline reads."""
    os.makedirs(out_dir, exist_ok=True)
    base = {t: pq.read_table(os.path.join(base_dir, t + ".parquet")) for t in FLAGSHIP_TABLES}
    max_key = max(int(np.max(base[t].column(c).to_numpy())) for t, c in
                  [("customer", "c_custkey"), ("orders", "o_orderkey"),
                   ("lineitem", "l_partkey"), ("part", "p_partkey")])
    stride = 10 ** len(str(max_key + 1))
    salt = salts(seed, copies)
    rng = np.random.default_rng([seed, 11])
    reps = np.arange(copies)

    def keys(t, c):
        k = base[t].column(c).to_numpy()
        return (k[None, :] + reps[:, None] * stride).ravel()

    def names(t, c, fmt):
        vals = base[t].column(c).to_pylist()
        return [fmt(v, salt[r]) for r in reps for v in vals]

    def part_name(v, s):
        toks = v.split(" ")
        return " ".join([toks[0] + "_" + s, toks[1] + "_" + s] + toks[2:])

    tables = {
        "customer": {"c_custkey": keys("customer", "c_custkey"),
                     "c_name": names("customer", "c_name", lambda v, s: v + "#" + s)},
        "orders": {"o_orderkey": keys("orders", "o_orderkey"),
                   "o_custkey": keys("orders", "o_custkey"),
                   "o_orderpriority": base["orders"].column("o_orderpriority").to_pylist() * copies},
        "lineitem": {"l_orderkey": keys("lineitem", "l_orderkey"),
                     "l_partkey": keys("lineitem", "l_partkey")},
        "part": {"p_partkey": keys("part", "p_partkey"),
                 "p_name": names("part", "p_name", part_name)},
    }
    rows = {}
    for t, cols in tables.items():
        tbl = pa.table(cols)
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        pq.write_table(tbl, os.path.join(out_dir, t + ".parquet"))
        rows[t] = tbl.num_rows
    return {"rows": rows, "salts": salt}
