#!/usr/bin/env python3
"""A/B benchmark of the engine: one workload, one seed, one process.

Usage:
  python3 perfbench/run.py --workload {pme_write,pme_read,engine_heavy} \
      --seed N --seconds S --trace {0,1}

Builds the program from the checkout's sources (perfbench/build.py), makes
the workload's inputs from the seed, runs one JVM with one client in a closed
loop on local[4], checks every op's output and prints, as the last line of
standard output, {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer metrics
with --trace 1. The line before it is a report with the run-health record
and the detail behind each number.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import judge  # noqa: E402
import specs  # noqa: E402

WORKLOADS = ("pme_write", "pme_read", "engine_heavy")
# The JVM must end this long after the build; engine_heavy is run by hand
# and gets longer.
JVM_TIMEOUT_S = {"pme_write": 165, "pme_read": 165, "engine_heavy": 900}

# The flags build.sbt gives forked mains (jdk17 opens, the C1-only JIT and
# its thresholds, code cache, codegen cache), with a fixed 3 GB heap instead
# of the host-sized one and every scratch directory inside the run directory.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_FLAGS = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xmx3g", "-Xms3g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=1g",
    "-XX:CICompilerCount=12", "-XX:TieredStopAtLevel=1",
    "-XX:Tier3InvocationThreshold=30", "-XX:Tier3MinInvocationThreshold=15",
    "-XX:Tier3CompileThreshold=30", "-XX:Tier3BackEdgeThreshold=1000",
    "-XX:Tier0InvokeNotifyFreqLog=3", "-Dspark.sql.codegen.cache.maxEntries=10000"]


def read_first(path, default=None):
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return default


def psi(kind):
    """'some avg10' of /proc/pressure/<kind>, or None."""
    line = read_first(f"/proc/pressure/{kind}")
    if not line:
        return None
    for tok in line.splitlines()[0].split():
        if tok.startswith("avg10="):
            return float(tok[6:])
    return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    fields = [int(x) for x in (read_first("/proc/stat") or "cpu 0").splitlines()[0].split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def health():
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": read_first("/proc/loadavg"),
            "psi_cpu_avg10": psi("cpu"), "psi_io_avg10": psi("io"),
            "cgroup_cpu_max": read_first("/sys/fs/cgroup/cpu.max"),
            "cpu_ticks": cpu_ticks()}


def steal_share(h0, h1):
    """Share of CPU time the hypervisor gave to other guests during the run."""
    (s0, t0), (s1, t1) = h0["cpu_ticks"], h1["cpu_ticks"]
    return (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0


def git_head():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, run_dir, spec_file, out_file, timeout):
    log = os.path.join(run_dir, "jvm.log")
    for d in ("local", "ann", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = ["java"] + JVM_FLAGS + [
        f"-Dspark.local.dir={run_dir}/local", f"-Dgraft.ann.root={run_dir}/ann",
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        "-cp", cp, "graft.perfbench.Main", spec_file, os.path.join(run_dir, "work"), out_file]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = f"timeout after {timeout:.0f} s"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(log) as lf:
        lines = lf.readlines()
    if rc != 0 or not os.path.exists(out_file):
        sys.stderr.write("".join(lines[-60:]))
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    sys.stderr.write("".join(x for x in lines if x.startswith("[perfbench]")))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    cp = build.build(build_dir)
    start = time.time()
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        h0 = health()
        corpus = os.path.join(run_dir, "corpus")
        rows = gen.generate(corpus, a.seed)
        spec = specs.make(a.workload, a.seed, a.seconds, a.trace, corpus, rows)
        spec_file = os.path.join(run_dir, "spec.json")
        with open(spec_file, "w") as f:
            json.dump(spec, f)
        out_file = os.path.join(run_dir, "out.json")
        t_jvm = time.time()
        print(f"[perfbench] inputs ready in {t_jvm - start:.1f} s", file=sys.stderr)
        run_jvm(cp, run_dir, spec_file, out_file, start + JVM_TIMEOUT_S[a.workload] - time.time())
        print(f"[perfbench] jvm {time.time() - t_jvm:.1f} s", file=sys.stderr)
        with open(out_file) as f:
            doc = json.load(f)
        result, report = evaluate(a, bench, spec, doc, run_dir, corpus)
        if result["failed"]:
            # Keep the evidence of a failed op for inspection.
            kept = os.path.join(build_dir, "failed", os.path.basename(run_dir))
            os.makedirs(kept, exist_ok=True)
            for name in ("out.json", "jvm.log", "spec.json"):
                shutil.copy(os.path.join(run_dir, name), kept)
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
        h1 = health()
        report["health"] = {"start": h0, "end": h1, "steal_share": steal_share(h0, h1),
                            "git_head": git_head(),
                            "seed": a.seed, "jvm_flags": JVM_FLAGS,
                            "session_conf": doc["session_conf"]}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps(result))


def cold_token_opens(recs, spec_by_id):
    """Ops that found their token's KEK cache empty: a cold open clears the
    caches of every token, so after it the first op of each token unwraps
    again. The traced phase starts with every cache warm."""
    warm, n = None, 0
    for r in recs:
        if r.get("cold"):
            warm = set()
        token = spec_by_id[r["spec"]]["token"] if "spec" in r else None
        if warm is not None and token not in warm:
            warm.add(token)
            n += 1
    return n


def evaluate(a, bench, spec, doc, run_dir, corpus):
    recs = doc["records"]
    spec_by_id = {s["id"]: s for s in spec.get("specs", [])}
    oracle_ok, notes = None, {}
    if a.workload == "engine_heavy":
        extra = doc["extra"]
        results = os.path.join(run_dir, "work", "round-1", "results")
        oracle_ok, notes = judge.engine_oracle(corpus, results, extra["oracle_sql"],
                                               extra["setup_hashes"])
    verdicts = [judge.judge_op(a.workload, r, spec_by_id, oracle_ok) for r in recs]
    failed = sum(1 for v in verdicts if v not in ("ok", "denied_ok"))
    failures = sorted({v for v in verdicts if v not in ("ok", "denied_ok")})[:5]
    denied_ok = sum(1 for v in verdicts if v == "denied_ok")
    report = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
              "fail_ratio": failed / len(recs), "denied_ok": denied_ok,
              "failures": failures, "oracle": notes,
              "setup_rounds_s": doc["setup_rounds_s"]}
    if not a.trace:
        m, detail = judge.end_to_end(recs, verdicts, doc["setup_rounds_s"])
        report.update(detail)
        wanted = bench["end_to_end"]
    else:
        traced = [r for r in recs if r["phase"] == "traced"]
        plain = [r for r in recs if r["phase"] == "untraced"]
        p50_t = statistics.median(r["wall_s"] for r in traced)
        p50_u = statistics.median(r["wall_s"] for r in plain)
        m = dict(doc["per_layer"])
        m.update({
            "check.denied_ok": denied_ok,
            "check.fail_ratio": failed / len(recs),
            "check.cold_opens": sum(1 for r in traced if r.get("cold")),
            "check.cold_token_opens": cold_token_opens(traced, spec_by_id),
            "trace.latency_p50_s": p50_t,
            "trace.overhead_s": p50_t - p50_u,
            "setup_cold_s": doc["setup_rounds_s"][0]})
        wanted = bench["per_layer"]
        report["layers"] = dict(sorted(m.items()))
    missing = [w["name"] for w in wanted if w["name"] not in m]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    metrics = {w["name"]: {"value": m[w["name"]], "unit": w["unit"]} for w in wanted}
    result = {"correct": failed == 0, "attempted": len(recs), "failed": failed,
              "metrics": metrics}
    return result, report


if __name__ == "__main__":
    main()
