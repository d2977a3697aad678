"""Seeded generator for the benchmark's local warehouse.

Writes one parquet file per table in the layout `graft.warehouse.Tables`
registers (the TPC-H-ish star schema plus `events`, `documents` and
`embeddings`), with the column types and value shapes of the project's
reference fixtures. The same (seed, sizes) always gives the same files.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# Rows per table at sf 0.1 (the reference fixtures' sizes).
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "events": 100000}


def _ts(us, unit):
    return pa.array(us, pa.int64()).cast(pa.timestamp("us")).cast(pa.timestamp(unit))


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def generate(out, seed, sf=0.1, documents=5000, embeddings=2000, events=None,
             corpus_seed=None):
    """Write the warehouse under `out`; the scale factor `sf` sizes the
    relational and event tables (sf 1 = 1.5M orders) unless `events` gives
    that table's rows; `documents` and `embeddings` are row counts, drawn
    from `corpus_seed` (default: `seed`). Returns the row count per table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(r * sf * 10)) for t, r in BASE_ROWS.items()}
    if events is not None:
        n["events"] = events

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    nc = n["customer"]
    _write(out, "customer", pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]}))

    ns = n["supplier"]
    _write(out, "supplier", pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}))

    npart = n["part"]
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    _write(out, "part", pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), npart)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)}))

    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(EPOCH_1995 + odays * DAY_US, "ms"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]}))

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    _write(out, "lineitem", pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": (np.arange(nl) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(EPOCH_1995 + (odays[okey] + rng.integers(1, 122, nl)) * DAY_US, "ms")}))

    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne)) + EPOCH_2024
    _write(out, "events", pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(ts, "us"),
        "user_id": rng.integers(0, max(10, nc // 10), ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}))

    generate_corpus(out, seed if corpus_seed is None else corpus_seed, documents, embeddings)
    return {t: pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows
            for t in ["customer", "supplier", "part", "orders", "lineitem",
                      "events", "documents", "embeddings"]}


def generate_corpus(out, seed, documents, embeddings):
    """Write the `documents` and `embeddings` tables under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    # documents: word soup; one in twenty is an earlier document + " dup"
    texts = []
    for i in range(documents):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    _write(out, "documents", pa.table({
        "doc_id": np.arange(documents, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, documents, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(documents)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))

    v = rng.standard_normal((embeddings, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": np.arange(embeddings, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, embeddings).astype(np.int32)}))
