"""Seeded op sequences for the three workloads, and the expected answers of
the token-gated reads (computed in DuckDB over the plaintext corpus).

The program receives only what this module generates: the op list, the
warm-up ops and the per-table encryption policies.
"""
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

LEVELS = ["PUBLIC", "INTERNAL", "CONFIDENTIAL", "RESTRICTED"]
TOKENS = [None, "PUBLIC", "INTERNAL", "CONFIDENTIAL", "RESTRICTED"]

# Keys stay plaintext; every other column goes to one of the three levels.
# Footer key PUBLIC, plaintext footer, AES_GCM_V1, 256-bit DEKs, double
# wrapping, internal key material and a 60 s KEK cache are the
# EncryptionPolicy defaults (the reference's writer config).
POLICIES = {
    "lineitem": {"INTERNAL": ["l_shipdate", "l_returnflag", "l_linestatus"],
                 "CONFIDENTIAL": ["l_quantity", "l_discount", "l_tax"],
                 "RESTRICTED": ["l_extendedprice"]},
    "orders": {"INTERNAL": ["o_orderdate", "o_orderstatus"],
               "CONFIDENTIAL": ["o_orderpriority"],
               "RESTRICTED": ["o_totalprice"]},
    "documents": {"INTERNAL": ["lang", "source"],
                  "CONFIDENTIAL": ["n_chars"],
                  "RESTRICTED": ["text"]},
    "events": {"INTERNAL": ["ts", "event_type"],
               "CONFIDENTIAL": ["value"],
               "RESTRICTED": ["props"]},
}
KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey",
        "documents": "doc_id", "events": "event_id"}

ENGINE_QUERIES = ["q132_ann_distributed_probe", "q57_leakage_safe_split",
                  "q49_edit_distance", "q110_ann_index_build",
                  "q128_ann_stream_ingest", "q23c_cosine_lsh"]

SEQ_LEN = 4000          # ops generated per run; the timed loop stops earlier
SELECTIVITIES = [0.001, 0.01, 0.05, 0.2, 0.5, 1.0]

# Traced runs execute a fixed op count derived from --seconds (so two traced
# runs with one seed count the same work): ops per second of --seconds.
TRACE_RATE = {"pme_write": 2.0, "pme_read": 2.0}
# Set-up rounds per run: round 1 before the loop, the rest after it; setup_s
# is the median of the rounds after the loop. engine_heavy's rounds build the ANN fixtures cold and run every
# query (~70 s each on 4 cores), so it gets two.
SETUP_ROUNDS = {"pme_write": 3, "pme_read": 3, "engine_heavy": 2}


def level_of(table, column):
    for lvl, cols in POLICIES[table].items():
        if column in cols:
            return LEVELS.index(lvl)
    return -1  # plaintext


def may_read(token, level):
    """The KMS's rule: PUBLIC keys open for anyone; other keys need a token
    (not PUBLIC) at or above their level."""
    if level <= 0:
        return True
    return token is not None and token != "PUBLIC" and LEVELS.index(token) >= level


def cycle(rng, items):
    """SEQ_LEN items: seeded permutations of `items`, back to back, so every
    item runs equally often in any long enough prefix."""
    out = []
    while len(out) < SEQ_LEN:
        out += [items[i] for i in rng.permutation(len(items))]
    return out[:SEQ_LEN]


def pme_write(rng, rows):
    subsets = []
    for table, key in KEYS.items():
        n = rows["orders" if table == "lineitem" else table]  # key domain
        for frac in (0.05, 0.2):
            lo = int(rng.integers(0, int(n * (1 - frac)) + 1))
            subsets.append({"id": len(subsets), "table": table, "key": key,
                            "lo": lo, "hi": lo + max(1, int(n * frac))})
    return {"ops": cycle(rng, subsets), "warmup": subsets, "policies": POLICIES}


def _agg_for(arrow_type):
    t = str(arrow_type)
    if t.startswith("timestamp"):
        return "max_ts"
    if t in ("double", "float"):
        return "sum_dec"
    if t.startswith("int"):
        return "sum_int"
    return "max_str"


def _pred(rng, col_name, table, sel):
    """A predicate on `col_name` keeping about `sel` of the rows."""
    arr = table.column(col_name)
    t = str(arr.type)
    if t.startswith("timestamp"):
        v = np.sort(arr.to_numpy().astype("datetime64[D]"))
        q0 = float(rng.uniform(0, 1 - sel))
        lo, hi = v[int(q0 * (len(v) - 1))], v[min(len(v) - 1, int((q0 + sel) * (len(v) - 1)))]
        if hi <= lo:
            hi = lo + np.timedelta64(1, "D")
        return {"col": col_name, "kind": "ts", "lo": str(lo), "hi": str(hi)}
    if t in ("double", "float") or t.startswith("int"):
        v = np.sort(arr.to_numpy())
        q0 = float(rng.uniform(0, 1 - sel))
        lo = float(v[int(q0 * (len(v) - 1))])
        hi = float(v[min(len(v) - 1, int((q0 + sel) * (len(v) - 1)))])
        if hi <= lo:
            hi = lo + 1.0
        return {"col": col_name, "kind": "num", "lo": lo, "hi": hi}
    vals = sorted(set(arr.to_pylist()))
    return {"col": col_name, "kind": "eq", "value": vals[int(rng.integers(len(vals)))]}


def pme_read(rng, corpus):
    """12 read specs: spec k reads table slot k % 4 (lineitem has two slots)
    with token k % 5, so no (slot, token) pair repeats; projection widths,
    columns and selectivities go in turn, and specs 1 and 7 project above
    their token. The shapes are the same for every seed, so seeds differ in
    predicate ranges and op order, not in the mix of work."""
    tables = {t: pq.read_table(os.path.join(corpus, f"{t}.parquet"))
              for t in ("lineitem", "orders", "documents")}
    filterable = {"lineitem": ["l_shipdate", "l_orderkey"],
                  "orders": ["o_orderdate", "o_custkey", "o_totalprice", "o_orderpriority"],
                  "documents": ["doc_id", "lang", "n_chars"]}
    specs = []
    for k in range(12):
        table = ("lineitem", "lineitem", "orders", "documents")[k % 4]
        token = TOKENS[k % len(TOKENS)]
        t = tables[table]
        cols = [c for c in t.column_names if c != "text"]
        readable = [c for c in cols if may_read(token, level_of(table, c))]
        above = [c for c in cols if not may_read(token, level_of(table, c))]
        deny = k in (1, 7)
        width = 1 + k % 3
        agg_cols = [readable[(k + j) % len(readable)] for j in range(min(width, len(readable)))]
        pool = [c for c in filterable[table] if c in readable]
        sel = SELECTIVITIES[k % len(SELECTIVITIES)]
        if "l_shipdate" in pool:
            pool = ["l_shipdate"]  # the clustering column, where row groups can be skipped
        pred = _pred(rng, pool[k % len(pool)], t, sel) if pool and k % 5 != 3 else None
        if deny:
            bad = above[k % len(above)]
            if pred is None or k % 2:
                agg_cols.append(bad)
            else:
                pred = _pred(rng, bad, t, sel)
        aggs = [["count", "*"]] + [[_agg_for(t.schema.field(c).type), c] for c in agg_cols]
        specs.append({"id": k, "table": table, "token": token, "aggs": aggs,
                      "pred": pred, "denied": deny})
    expected = oracle_answers(corpus, specs)
    for s in specs:
        s["expected"] = expected.get(s["id"])
    ops = [dict(op, cold=i % 8 == 7) for i, op in enumerate(cycle(rng, specs))]
    warm = [dict(s, cold=False) for s in specs]
    return {"ops": ops, "warmup": warm, "specs": specs,
            "policies": {k: POLICIES[k] for k in tables},
            "table_rows": {k: v.num_rows for k, v in tables.items()}}


def spec_sql(s):
    """DuckDB form of one read spec."""
    parts = []
    for k, (fn, c) in enumerate(s["aggs"]):
        expr = {"count": "count(*)",
                "sum_dec": f"sum(CAST({c} AS DECIMAL(18,2)))",
                "sum_int": f"sum(CAST({c} AS BIGINT))",
                "max_str": f"max({c})",
                "max_ts": f"max(CAST(epoch({c}) AS BIGINT))"}[fn]
        parts.append(f"{expr} AS a{k}")
    where = ""
    p = s["pred"]
    if p:
        if p["kind"] == "num":
            where = f" WHERE {p['col']} >= {p['lo']!r} AND {p['col']} < {p['hi']!r}"
        elif p["kind"] == "ts":
            where = (f" WHERE {p['col']} >= TIMESTAMP '{p['lo']}'"
                     f" AND {p['col']} < TIMESTAMP '{p['hi']}'")
        else:
            v = p["value"].replace("'", "''")
            where = f" WHERE {p['col']} = '{v}'"
    return f"SELECT {', '.join(parts)} FROM {s['table']}{where}"


def oracle_answers(corpus, specs):
    con = duckdb.connect()
    for t in ("lineitem", "orders", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    out = {}
    for s in specs:
        if s["denied"]:
            continue
        row = con.execute(spec_sql(s)).fetchone()
        out[s["id"]] = [None if v is None else str(v) for v in row]
    con.close()
    return out


def engine_heavy(rng):
    ops = cycle(rng, [{"query": q} for q in ENGINE_QUERIES])
    return {"ops": ops, "warmup": [{"query": q} for q in ENGINE_QUERIES],
            "queries": ENGINE_QUERIES, "pass_len": len(ENGINE_QUERIES)}


def make(workload, seed, seconds, trace, corpus, rows):
    rng = np.random.default_rng([seed, 7])
    if workload == "pme_write":
        spec = pme_write(rng, rows)
    elif workload == "pme_read":
        spec = pme_read(rng, corpus)
    else:
        spec = engine_heavy(rng)
    if workload == "engine_heavy":
        trace_ops = len(ENGINE_QUERIES) * max(1, int(round(seconds / 10)))
    else:
        trace_ops = max(8, int(round(seconds * TRACE_RATE[workload])))
    spec.update({"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                 "corpus": corpus, "trace_ops": trace_ops,
                 "setup_rounds": SETUP_ROUNDS[workload]})
    return spec
