"""Output checks and metric arithmetic for one benchmark run.

Kept free of Spark and of the run's process handling so the negative
controls in test_judge.py can feed it doctored records.
"""
import glob
import math
import os
import statistics
import sys

import duckdb
import pyarrow.parquet as pq


def _check_module():
    """The repository's canonical result hash (tools/check.py)."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check
    return check


def canon_row(values, ncols):
    check = _check_module()
    return check.canon([tuple(values)], [f"a{k}" for k in range(ncols)])


def judge_op(workload, rec, spec_by_id=None, oracle_ok=None):
    """Verdict of one op record: 'ok', 'denied_ok' or a failure reason."""
    out = rec.get("outcome")
    if workload == "pme_read":
        spec = spec_by_id[rec["spec"]]
        if spec["denied"]:
            return "denied_ok" if out == "denied" else f"not denied: {out}"
        if out != "ok":
            return f"{out}: {rec.get('error', '')}"
        n = len(spec["aggs"])
        if canon_row(rec["values"], n) != canon_row(spec["expected"], n):
            return f"wrong answer {rec['values']} != {spec['expected']}"
        return "ok"
    if out != "ok":
        return f"{out}: {rec.get('error', '')}"
    if workload == "pme_write":
        if (rec["rows"], rec["hash"]) != (rec["expected_rows"], rec["expected_hash"]):
            return "decrypted content differs from the source subset"
        if rec["plain_read_leaked"]:
            return "an encrypted column was readable without keys"
        return "ok"
    q = rec["type"]
    if oracle_ok is not None and not oracle_ok.get(q, False):
        return "reference result failed the oracle"
    if rec["rows"] != rec["expected_rows"]:
        return f"row count {rec['rows']} != {rec['expected_rows']}"
    if q not in ROWS_ONLY and rec["hash"] != rec["expected_hash"]:
        return "result hash differs from the oracle-checked result"
    return "ok"


# Approximate (ANN) results: only the row count is compared.
ROWS_ONLY = {"q132_ann_distributed_probe"}


def engine_oracle(corpus, results_dir, oracle_sql, setup_hashes):
    """Check each query's reference result against its DuckDB oracle SQL,
    with tools/check.py's comparison; rows-only queries must agree on the row
    count across set-up rounds. Returns {query: bool} and notes."""
    check = _check_module()
    con = duckdb.connect()
    for f in glob.glob(os.path.join(corpus, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    ok, notes = {}, {}
    for q, hashes in setup_hashes.items():
        files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
        same = all(h[0] == hashes[0][0] and (q in ROWS_ONLY or h == hashes[0]) for h in hashes)
        if not files or not same:
            ok[q], notes[q] = False, "no result" if not files else "set-up rounds disagree"
            continue
        st = pq.read_table(files[0])
        if q not in oracle_sql:
            ok[q] = st.num_rows > 0 and st.num_rows == hashes[0][0]
            notes[q] = f"rows-only: {st.num_rows} rows"
            continue
        dt = con.execute(oracle_sql[q]).arrow()
        s_types = {f.name: check.type_class(f.type) for f in st.schema}
        d_types = {f.name: check.type_class(f.type) for f in dt.schema}
        rows_s = [tuple(r.values()) for r in st.to_pylist()]
        rows_d = [tuple(r.values()) for r in dt.to_pylist()]
        good = (sorted(st.column_names) == sorted(dt.column_names) and s_types == d_types
                and check.canon(rows_s, st.column_names) == check.canon(rows_d, dt.column_names))
        ok[q] = good
        notes[q] = f"oracle {'match' if good else 'MISMATCH'}: {st.num_rows} rows"
    con.close()
    return ok, notes


def tail(lat):
    """Latency at the highest percentile with at least ten samples beyond
    it: (value, percentile, n)."""
    s = sorted(lat)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(recs, verdicts, setup_rounds):
    lat = [r["wall_s"] for r in recs]
    correct = sum(1 for v in verdicts if v in ("ok", "denied_ok"))
    by_query = {}
    for r in recs:
        by_query.setdefault(r.get("query", r["type"]), []).append(r["wall_s"])
    t_val, t_pct, n = tail(lat)
    metrics = {
        # Round 1 also starts the JVM and is always the slowest, so a median
        # over every round would be the larger warm round; the warm rounds'
        # median is steadier. (setup_cold_s, per layer, is round 1.)
        "setup_s": statistics.median(setup_rounds[1:] or setup_rounds),
        "ops_per_s": correct / sum(lat),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": t_val,
        "cpu_s_per_op": sum(r["cpu_s"] for r in recs) / len(recs),
        "query_geomean_s": math.exp(statistics.fmean(
            math.log(statistics.median(v)) for v in by_query.values())),
    }
    detail = {"latency_tail_pct": round(t_pct, 2), "latency_n": n,
              "query_median_s": {k: statistics.median(v) for k, v in sorted(by_query.items())}}
    return metrics, detail
