#!/usr/bin/env python3
"""Steadiness and regime tools for the benchmark.

  python3 perfbench/steady.py spread --workload W --runs N [--seed0 S]
      Runs W N times on seeds S..S+N-1 and prints, per end-to-end metric, the
      median, the quartiles and the spread (IQR / median) against its bound.
  python3 perfbench/steady.py fit --runs N [--seed0 S]
      Runs both batch workloads N times and fits wall = a + b * rows per
      query from the two sizes: a is the fixed cost, 1/b the per-tuple rate.
  python3 perfbench/steady.py traced --workload W [--seed0 S]
      Runs W untraced once and traced twice on one seed, checks that every
      count repeats exactly, and prints the tracing overhead per metric.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload, seed, trace=0):
    """One benchmark run; returns its stdout JSON lines, the result last."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(bench()["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, check=True)
    print(f"  {workload} seed {seed}: {time.time() - t0:.0f} s wall", flush=True)
    lines = [json.loads(ln) for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines[-1]["correct"] or lines[-1]["failed"]:
        print(f"  seed {seed}: correct={lines[-1]['correct']} failed={lines[-1]['failed']}")
    return lines


def spread(a):
    runs = [run_once(a.workload, a.seed0 + i)[-1]["metrics"] for i in range(a.runs)]
    print(f"{a.workload}: {a.runs} runs, seeds {a.seed0}..{a.seed0 + a.runs - 1}")
    print(f"  {'metric':16} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for m in bench()["end_to_end"]:
        v = [r[m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(v, n=4)
        s = stats.spread(v)
        flag = "" if s <= m["bound"] / 3 else (" > bound/3" if s <= m["bound"] else " > BOUND")
        print(f"  {m['name']:16} {med:12.2f} {q1:12.2f} {q3:12.2f} {s:7.3f} {m['bound']:6.2f}{flag}")
        print("    runs: " + " ".join(f"{x:.1f}" for x in v))


def fit(a):
    per = {}
    for w in ("paper_batch_small", "paper_batch_large"):
        infos = [run_once(w, a.seed0 + i)[0] for i in range(a.runs)]
        samples = [i["per_query_ms"] for i in infos]
        per[infos[0]["input_rows"]] = {q: statistics.median(s[q] for s in samples)
                                       for q in workloads.PAPER11}
    (r0, m0), (r1, m1) = sorted(per.items())
    print(f"wall = a + b * rows, fitted at {r0} and {r1} rows (median of {a.runs} runs each)")
    print(f"  {'query':30} {'ms@' + str(r0):>10} {'ms@' + str(r1):>10} {'a ms':>9} {'1/b rows/s':>12}")
    for q in workloads.PAPER11 + ["total"]:
        w0 = sum(m0.values()) if q == "total" else m0[q]
        w1 = sum(m1.values()) if q == "total" else m1[q]
        b = (w1 - w0) / (r1 - r0)
        rate = f"{1000 / b:12.0f}" if b > 0 else f"{'inf':>12}"
        print(f"  {q:30} {w0:10.1f} {w1:10.1f} {w0 - b * r0:9.1f} {rate}")


def traced(a):
    plain = run_once(a.workload, a.seed0)[-1]["metrics"]
    t1 = run_once(a.workload, a.seed0, trace=1)
    t2 = run_once(a.workload, a.seed0, trace=1)
    layers1, layers2 = t1[-1]["metrics"], t2[-1]["metrics"]
    counts = [k for k, v in layers1.items() if v["unit"] == "count" and not k.startswith(
        ("streaming.triggers", "streaming.rows_per_trigger", "sources.", "sink."))]
    differ = [k for k in counts if layers1[k]["value"] != layers2[k]["value"]]
    print(f"{a.workload}: {len(counts) - len(differ)}/{len(counts)} counts repeat exactly"
          + (f"; differ: {differ}" if differ else ""))
    e2e = t1[0]["e2e"]
    print("  tracing overhead (traced / untraced - 1, same seed):")
    for k, v in plain.items():
        print(f"    {k:16} {v['value']:12.2f} -> {e2e[k]['value']:12.2f}"
              f"  {e2e[k]['value'] / v['value'] - 1:+.1%}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("spread", "fit", "traced"))
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    if a.mode != "fit" and not a.workload:
        ap.error("--workload is required")
    {"spread": spread, "fit": fit, "traced": traced}[a.mode](a)


if __name__ == "__main__":
    main()
