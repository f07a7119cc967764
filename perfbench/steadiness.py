"""Steadiness check: N untraced runs per workload, one seed each.

    python3 perfbench/steadiness.py --runs 10 [--workloads cdr_stream ...]
        [--first-seed 1] [--out .bench_build/steadiness.json]

For each workload and end-to-end metric it prints the median, the first and
third quartile (statistics.quantiles(values, n=4)) and the spread, the
quartile distance as a share of the median, next to the metric's bound in
BENCHMARK.json. It also prints each run's wall time, and the attempted and
failed operation counts. These figures are the evidence for the bounds.
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


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build",
                                                  "steadiness.json"))
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    results = {}
    for w in args.workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}", flush=True)
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            host = [l for l in p.stdout.splitlines() if l.startswith("host:")]
            runs.append({"seed": seed, "wall_s": wall, "result": res,
                         "host": host[0] if host else ""})
            print(f"{w} seed {seed}: wall {wall:.1f}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"{host[0] if host else ''}", flush=True)
        results[w] = runs

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(results, f, indent=1)

    print(f"\n{'workload':16} {'metric':16} {'median':>10} {'q1':>10} "
          f"{'q3':>10} {'spread':>7} {'bound':>6}")
    for w, runs in results.items():
        if len(runs) < 2:
            continue
        for name in runs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{w:16} {name:16} {med:10.4f} {q1:10.4f} {q3:10.4f} "
                  f"{spread:7.3f} {bounds.get(name, float('nan')):6.2f}")
        walls = [r["wall_s"] for r in runs]
        print(f"{w:16} {'wall_s':16} {statistics.median(walls):10.1f} "
              f"max {max(walls):.1f}; failed "
              f"{sum(r['result']['failed'] for r in runs)} of "
              f"{sum(r['result']['attempted'] for r in runs)}")


if __name__ == "__main__":
    main()
