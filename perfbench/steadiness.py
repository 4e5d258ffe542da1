#!/usr/bin/env python3
"""Run one workload once per seed and report how steady each end-to-end
metric is: median, quartiles and spread (interquartile distance over the
median), against the metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --workload sync-parquet --seeds 1-10

Run from the root of a checkout. Raw values go to
`perfbench/results/steadiness-<workload>.json`. Also reports the tail
percentile of the cycles pooled over all runs, which a single run is too
short to give.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchstats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="where to write the raw values "
                    "(default perfbench/results/steadiness-<workload>.json)")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    runs = []
    for seed in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit("seed %d failed with exit code %d" % (seed, p.returncode))
        last = json.loads(lines[-1])
        walls = next(json.loads(l.split(":", 1)[1]) for l in lines if l.startswith("cycle walls:"))
        steal = next(float(l.split(":", 1)[1]) for l in lines if l.startswith("host steal share:"))
        runs.append({"seed": seed, "result": last, "cycle_walls_s": walls, "host_steal_share": steal})
        print("seed %d: %s steal=%.3f" % (seed, " ".join("%s=%.4g" % (k, v["value"])
                                                         for k, v in last["metrics"].items()), steal),
              flush=True)
    summary = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
                         "within_third_of_bound": bound is not None and spread < bound / 3}
        print("%-22s median %-12.6g q1 %-12.6g q3 %-12.6g spread %.4f bound %s"
              % (name, med, q1, q3, spread, bound))
    pooled = [w for r in runs for w in r["cycle_walls_s"]]
    pct, value, above = benchstats.tail(pooled)
    print("pooled cycles %d: p%d = %.4f s with %d cycles above it" % (len(pooled), pct, value, above))
    out = a.out or os.path.join(HERE, "results", "steadiness-%s.json" % a.workload)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"workload": a.workload, "seconds": seconds, "cores": len(os.sched_getaffinity(0)),
                   "summary": summary,
                   "pooled_tail": {"cycles": len(pooled), "percentile": pct, "value_s": value,
                                   "above": above},
                   "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
