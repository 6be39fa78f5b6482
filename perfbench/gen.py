"""Seeded input generator for the benchmark workloads.

Writes fixture-schema parquet tables (one single-row-group file per
table, the layout of the repo's test fixtures) into a directory. The
same (seed, size) always gives byte-identical files.

Ski tables (`ski`): TPC-H-shaped region/nation/customer/supplier/part/
orders/lineitem. The program synthesizes run geometry from order keys,
so the fixture's spatial density (runs per grid cell, runs per area)
is kept by keeping its ratios: dense order keys, four line items per
order on uniformly drawn orders, line numbers 1..7.

Corpus tables (`corpus`): documents and embeddings. A fixed share of
documents are planted near-duplicates: a copy of an earlier long
document with exactly one token substituted. The planted (base, copy)
id pairs are returned to the caller and never written into the input
directory, so the program only sees the generated tables.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SKI_TABLES = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events"]
CORPUS_TABLES = ["documents", "embeddings"]

WORDS = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data",
         "big", "filter", "dup", "key", "agg", "scan", "slow", "table",
         "part", "a", "merge", "window", "order", "column", "join", "vector"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
PART_ADJ = ["small", "red", "large", "new", "blue", "hot", "old", "cold"]
PART_NOUN = ["ring", "widget", "gizmo", "plate", "gear", "rod", "bolt",
             "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _write(out_dir, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))
    return table.num_rows


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _days(rng, n, span):
    return EPOCH_1995 + rng.integers(0, span, n) * DAY_US


def gen_ski(out_dir, seed, n_orders):
    """TPC-H-shaped tables at the fixture's ratios; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    n_line = 4 * n_orders
    n_part = max(50, n_orders * 2 // 15)
    n_cust = max(10, n_orders // 10)
    n_supp = max(10, n_orders // 150)
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, part_names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1,
                                  2)})
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _days(rng, n_orders, 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line),
                                    2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, 2500)})
    n_ev = n_orders * 2 // 3
    gaps = rng.integers(1, 2 * 2_592_000_000_000 // max(1, n_ev), n_ev)
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": _pick(rng, ["click", "signup", "error", "view",
                                  "purchase"], n_ev),
        "value": np.round(rng.exponential(25.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return rows


def gen_corpus(out_dir, seed, n_docs, n_vecs, dup_share):
    """Documents with planted near-duplicates plus clustered unit
    embeddings; returns (row counts, planted (base, copy) pairs)."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 100, n_docs)
    toks = [rng.integers(0, len(WORDS), n) for n in lens]
    # planted copies: every doc picked as a copy re-uses an earlier
    # long (>= 40 token) original with one position substituted
    n_plant = int(round(n_docs * dup_share))
    copies = np.sort(rng.choice(np.arange(n_docs // 2, n_docs), n_plant,
                                replace=False))
    copy_set = set(copies.tolist())
    originals = [i for i in range(n_docs // 2)
                 if lens[i] >= 40 and i not in copy_set]
    pairs = []
    for c in copies.tolist():
        base = originals[int(rng.integers(0, len(originals)))]
        t = toks[base].copy()
        pos = int(rng.integers(0, len(t)))
        t[pos] = (t[pos] + 1 + int(rng.integers(0, len(WORDS) - 1))) \
            % len(WORDS)
        toks[c] = t
        pairs.append((base, c))
    texts = [" ".join(WORDS[j] for j in t) for t in toks]
    rows = {"documents": _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})}
    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centroids[labels] + rng.normal(scale=0.8, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, 64 * n_vecs + 1, 64, dtype=np.int32),
            vecs.reshape(-1)),
        "label": pa.array(labels, pa.int32())})
    return rows, pairs


def fingerprint(in_dir):
    """SHA-256 over the generated files' names and bytes."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(in_dir)):
        h.update(name.encode())
        with open(os.path.join(in_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
