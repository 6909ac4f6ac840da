"""Seeded corpus generator for the benchmark.

Writes one single-row-group parquet file per table with the schemas of the
repository's test corpus (FIXTURES.md section 3): lineitem, orders,
documents, events, part and embeddings. The same seed always gives the same
bytes, so every run of a workload sees the same inputs for a given seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table. lineitem/orders/events feed the PME workloads; documents,
# part and embeddings feed both the PME workloads and the engine queries.
# Sized so that one benchmark run (set-up plus the timed region) stays well
# inside the per-run budget on a 4-core host.
ROWS = {
    "lineitem": 60_000,
    "orders": 15_000,
    "events": 10_000,
    "documents": 300,
    "part": 400,
    "embeddings": 240,
}

WORDS = ("a the data spark table query scan filter join agg group sort order "
         "hash merge stream batch window row column value key line part "
         "customer vector fast slow big small").split()
PART_ADJ = "small red blue hot cold big tiny green".split()
PART_NOUN = "ring widget bolt gear gizmo nut valve spring".split()
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")


def _ts(days):
    return (EPOCH_1995 + days.astype("timedelta64[D]")).astype("datetime64[us]")


def lineitem(rng, n, n_orders):
    ship_days = rng.integers(0, 2500, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(_ts(ship_days)),
    })


def orders(rng, n):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n), 2)),
        "o_orderdate": pa.array(_ts(rng.integers(0, 2400, n))),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    })


def events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 86_400 * 30 * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 2_000, n), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["click", "view", "purchase", "signup", "error"], n)),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    """Random word sequences; one document in ten is a near-duplicate of an
    earlier one (one word replaced), so the dedup/connected-components
    queries find real clusters."""
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "en", "de", "fr", "es", "zh"], n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def part(rng, n):
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"], n)),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(n) * 0.1, 1)),
    })


def embeddings(rng, n, dim=64):
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir, seed):
    """Write the corpus for `seed` into `out_dir`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "orders": orders(rng, ROWS["orders"]),
        "lineitem": lineitem(rng, ROWS["lineitem"], ROWS["orders"]),
        "events": events(rng, ROWS["events"]),
        "documents": documents(rng, ROWS["documents"]),
        "part": part(rng, ROWS["part"]),
        "embeddings": embeddings(rng, ROWS["embeddings"]),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=len(t), compression="snappy")
    return {k: v.num_rows for k, v in tables.items()}
