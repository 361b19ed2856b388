#!/usr/bin/env python3
"""Steadiness check: run the gated workloads over several seeds and report,
for every end-to-end metric, the median, the quartiles and the quartile
spread as a share of the median, against the metric's bound in
BENCHMARK.json.

    python3 perfbench/steady.py --seeds 10 [--first-seed N] [--workload W ...]

The rule, for every gated metric alike: the spread (third quartile minus
first, over the median, from `statistics.quantiles(values, n=4)`) must stay
within the metric's bound; the tool exits 1 when one does not. Each line
also shows the spread as a share of the bound. To compare two sets of runs,
run the tool twice with different `--first-seed` values and compare the
medians: they must agree within the bound. Operations from every run are
also pooled to give the tail latency that single runs are too short for.
Run from the repository root; the runs are the same as a regression
check's.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    steady = True
    for w in names:
        runs, pooled = [], []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", "0"]
            p = subprocess.run(cmd, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                steady = False
                continue
            res = json.loads(lines[-1])
            runs.append(res)
            with open(os.path.join(HERE, ".work", w, "record.json")) as f:
                rec = json.load(f)
            pooled += [(o["end_ns"] - o["start_ns"]) / 1e6
                       for o in rec["ops"] if o["ok"] and not o["traced"]]
            print(f"{w} seed {seed}: correct={res['correct']} " +
                  " ".join(f"{k}={v['value']:.4g}"
                           for k, v in res["metrics"].items()), flush=True)
        if len(runs) < 2:
            continue
        print(f"\n{w}: {len(runs)} runs")
        for name, bound in bounds.items():
            q1, q2, q3 = statistics.quantiles(
                [r["metrics"][name]["value"] for r in runs], n=4)
            spread = (q3 - q1) / q2
            ok = spread <= bound
            steady = steady and ok
            print(f"  {name:12s} median={q2:<10.5g} q1={q1:<10.5g} "
                  f"q3={q3:<10.5g} spread={spread:.3f} bound={bound} "
                  f"({spread / bound:.0%} of bound) "
                  f"{'ok' if ok else 'UNSTEADY'}")
        t = metrics.tail(pooled)
        print(f"  pooled op tail: p{t['percentile']} = {t['value']} ms "
              f"over n={t['n']} ops")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
