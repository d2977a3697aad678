"""Seeded inputs and expected answers for the workloads.

`make_plan` writes the workload's warehouse, draws every binding from the
seed, and computes each expected result before any timing starts: with
DuckDB, or for the graph algorithms with an exact re-implementation of
their integer semantics, or (round trip) inside the driver from the frame
it writes.
"""

import collections
import decimal
import json
import os

import duckdb
import numpy as np

import warehouse

# Warehouse size per workload: (sf, documents, embeddings, events). The
# pipeline's 30k events make its sessions write long enough to time.
SIZES = {
    "operator_pipeline": (0.01, 200, 200, 30_000),
    "connector_roundtrip": (0.001, 100, 100, None),
}
# The pipeline's documents/embeddings are one fixed corpus (CORPUS_SEED):
# their DuckDB answers take tens of seconds, so they are computed once per
# build instead of once per run. Every other row and binding is seeded.
CORPUS_SEED = 0
ORACLE_KEYS = ("q_pipeline_curate", "q_similarity_knn_refine")
ROUNDTRIP_ROWS = 150_000   # rows of the generated round-trip table

def _json_value(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    return v


def _rows(con, sql):
    return [[_json_value(v) for v in r] for r in con.execute(sql).fetchall()]


def _duck(wh, threads=2):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in os.listdir(wh):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{wh}/{t}')")
    return con


# ---------------------------------------------------------------- pipeline

def _pagerank(edges, iters):
    deg = collections.Counter(u for u, _ in edges)
    r = {n: 10 ** 12 for n in deg}
    for _ in range(iters):
        c = collections.Counter()
        for u, v in edges:
            c[v] += r[u] // deg[u]
        r = {n: 150_000_000_000 + (85 * c.get(n, 0)) // 100 for n in deg}
    return sorted([n, x] for n, x in r.items())


def _label_propagation(edges, iters):
    label = {u: u for u, _ in edges}
    for _ in range(iters):
        counts = collections.defaultdict(collections.Counter)
        for u, v in edges:
            counts[u][label[v]] += 1
        label = {n: min(l for l, k in c.items() if k == max(c.values()))
                 for n, c in counts.items()}
    return sorted([n, x] for n, x in label.items())


def _bfs(edges, seeds, max_hops):
    adj = collections.defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for hop in range(1, max_hops + 1):
        nxt = {v for u in frontier for v in adj[u]} - dist.keys()
        if not nxt:
            break
        for v in nxt:
            dist[v] = hop
        frontier = nxt
    return sorted([n, d] for n, d in dist.items())


def _kcore(edges, k):
    canon = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    nodes = None
    while True:
        live = canon if nodes is None else {(a, b) for a, b in canon if a in nodes and b in nodes}
        deg = collections.Counter(x for e in live for x in e)
        keep = {n for n, d in deg.items() if d >= k}
        if nodes is not None and keep == nodes:
            return sorted([n, d] for n, d in deg.items())
        nodes = keep


def corpus_answers(out, oracle_sql):
    """The DuckDB answers of the corpus-only oracle twins, written to `out`
    as {key: rows}."""
    _, docs, vecs, _ = SIZES["operator_pipeline"]
    d = os.path.join(os.path.dirname(out), "corpus")
    warehouse.generate_corpus(d, CORPUS_SEED, docs, vecs)
    con = _duck(d, threads=len(os.sched_getaffinity(0)))
    with open(out, "w") as fh:
        json.dump({k: _rows(con, oracle_sql[k]) for k in ORACLE_KEYS}, fh)


def operator_pipeline(rng, wh, answers):
    con = _duck(wh)
    expected = {"curate": answers["q_pipeline_curate"],
                "knn": answers["q_similarity_knn_refine"]}
    edges = sorted({(q, c) for q, _, c, _ in expected["knn"]} |
                   {(c, q) for q, _, c, _ in expected["knn"]})
    nodes = sorted({u for u, _ in edges})
    n_vec = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    probs = [(0.1, "p10"), (0.25, "p25"), (0.5, "p50"), (0.75, "p75"), (0.9, "p90"), (0.99, "p99")]
    ps = [probs[i] for i in sorted(rng.choice(len(probs), 3, replace=False))]
    # the seed draws which queries, seeds and probabilities; the round and
    # hop counts stay fixed so every seed does the same amount of work
    p = dict(query_ids=sorted(int(x) for x in rng.choice(n_vec, 5, replace=False)),
             pr_iters=3, lpa_iters=3, max_hops=3, kcore_k=4,
             bfs_seeds=sorted(int(x) for x in rng.choice(nodes, 3, replace=False)),
             quantile_ps=[[q, name] for q, name in ps],
             gap_us=int(rng.choice([15, 30, 60])) * 60_000_000)
    expected["pagerank"] = _pagerank(edges, p["pr_iters"])
    expected["labelprop"] = _label_propagation(edges, p["lpa_iters"])
    expected["bfs"] = _bfs(edges, p["bfs_seeds"], p["max_hops"])
    expected["kcore"] = _kcore(edges, p["kcore_k"])
    cols = ", ".join(f"round(quantile_cont(value, {q}), 6) AS {name}" for q, name in ps)
    expected["quantiles"] = _rows(
        con, f"SELECT event_type, {cols} FROM events GROUP BY event_type")
    expected["sessions"] = _rows(con, f"""
WITH g AS (
  SELECT user_id, event_id, ts,
    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
), s AS (
  SELECT user_id, event_id, sum(CASE WHEN gap IS NULL OR gap > {p['gap_us']} THEN 1 ELSE 0 END)
    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
  FROM g
)
SELECT user_id, count(*), CAST(max(seq) AS BIGINT), CAST(sum(seq) AS BIGINT)
FROM s GROUP BY user_id""")
    return dict(expected=expected, **{"pass": p}), p


def connector_roundtrip(rng, seed, cores):
    # the seed picks which rows each operation touches, never how many, so
    # every seed does the same amount of work
    cycle = dict(npartitions=2 * cores, partition_size="8MiB",
                 parts=sorted(int(x) for x in rng.choice(8, 2, replace=False)),
                 x_lo=float(rng.integers(0, 500)) * 1000.0,
                 merge_residue=int(rng.integers(0, 10)))
    return dict(rows=ROUNDTRIP_ROWS, gen_seed=seed, cycle=cycle), cycle


def make_plan(workload, seed, wh, cores, answers):
    """The JSON plan the benchmark process runs, plus the bindings drawn
    from `seed` (recorded in the run output) and the input sizes.
    `answers` holds `corpus_answers` output."""
    sf, docs, vecs, events = SIZES[workload]
    sizes = warehouse.generate(wh, seed, sf, docs, vecs, events, corpus_seed=CORPUS_SEED)
    rng = np.random.default_rng([seed, 1])
    if workload == "operator_pipeline":
        plan, bindings = operator_pipeline(rng, wh, answers)
    else:
        plan, bindings = connector_roundtrip(rng, seed, cores)
        sizes["roundtrip_rows"] = ROUNDTRIP_ROWS
    return plan, bindings, sizes
