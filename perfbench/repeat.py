#!/usr/bin/env python3
"""Run each workload many times with different seeds and report the spread.

    python3 perfbench/repeat.py --runs 10 [--workloads mirror,curate] [--traced 1]

For every end-to-end metric it prints the median, the first and third
quartiles (statistics.quantiles, n=4), the spread (Q3 - Q1) / median and the
metric's bound from BENCHMARK.json, with the bound a spread of a third of it
would justify. Traced runs add the tracing overhead: untraced median ops_per_s
against traced ops_per_s. Raw results go to .bench_build/repeat/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return None, time.monotonic() - t0
    return json.loads(lines[-1]), time.monotonic() - t0


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    raw = {}
    ok = True
    for w in args.workloads.split(","):
        results = []
        for i in range(args.runs):
            res, took = run(w, args.first_seed + i, args.seconds, 0)
            print(f"{w} seed {args.first_seed + i}: {took:.1f} s"
                  + ("" if res else " FAILED TO REPORT"), flush=True)
            if res is None or not res["correct"]:
                ok = False
            if res:
                results.append(res)
        traced = [run(w, args.first_seed + i, args.seconds, 1)[0] for i in range(args.traced)]
        raw[w] = {"untraced": results, "traced": traced}
        print(f"\n{w}: {len(results)} runs, failed ops {sum(r['failed'] for r in results)}")
        print(f"  {'metric':24} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6} {'3*spread':>8}")
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if spread < bounds[name] / 3 or name == "setup_s" else "  <-- wide"
            print(f"  {name:24} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
                  f"{bounds[name]:6.2f} {3 * spread:8.3f}{flag}")
        for t in traced:
            if t and results:
                base = statistics.median(r["metrics"]["ops_per_s"]["value"] for r in results)
                tops = t["metrics"]["trace.ops_per_s"]["value"]
                print(f"  tracing overhead: untraced ops_per_s {base:.4f}, traced {tops:.4f} "
                      f"({(base - tops) / base * 100:+.1f}% slower traced)")
    out_dir = os.path.join(ROOT, ".bench_build", "repeat")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, time.strftime("%Y%m%d-%H%M%S") + ".json")
    with open(path, "w") as f:
        json.dump(raw, f)
    print(f"\nraw results: {os.path.relpath(path, ROOT)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
