#!/usr/bin/env python3
"""Run one workload over several seeds and report, for each metric, the
median and the spread (distance between the first and third quartiles, as
statistics.quantiles gives them, as a share of the median), next to the
metric's bound in BENCHMARK.json.

Usage: python3 perfbench/spread.py --workload pme_read --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, failed = {}, 0
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", str(seconds),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {s} failed:\n{r.stderr[-3000:]}")
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        steal = json.loads(lines[-2])["report"]["health"].get("steal_share", 0.0)
        failed += res["failed"]
        if res["failed"]:
            print(f"seed {s}: failures {json.loads(lines[-2])['report']['failures']}")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: steal={steal:.2f} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"failed ops: {failed}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else 0.0
        b = bounds[k]
        flag = " ok" if spread < b / 3 else " WIDE"
        print(f"{k:40s} median={med:.5g} spread={spread:.3f} bound={b}{flag}")


if __name__ == "__main__":
    main()
