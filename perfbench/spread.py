#!/usr/bin/env python3
"""Run-to-run spread of the benchmark, the way its acceptance rule reads it.

    python3 perfbench/spread.py --workload etl_nightly --seeds 1-10 [--out runs.jsonl]

Runs the benchmark once per seed (trace off), then prints for every
end-to-end metric its median and the distance between the first and third
quartile as a share of the median, next to a third of the metric's bound
from BENCHMARK.json. Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="append each run's result line here")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        cmd = spec["command"] + ["--workload", a.workload, "--seed", str(s),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {s}: exit {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res["seed"], res["wall_s"] = s, round(time.time() - t0, 1)
        runs.append(res)
        print(f"seed {s}: {res['wall_s']} s, correct={res['correct']}", file=sys.stderr)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(res) + "\n")
    print(f"{a.workload}: {len(runs)} runs, mean wall {statistics.mean(r['wall_s'] for r in runs):.1f} s, "
          f"all correct: {all(r['correct'] for r in runs)}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med, sp = spread(vals)
        flag = "" if sp < m["bound"] / 3 else "  <-- above bound/3"
        print(f"  {m['name']:28s} median {med:14.6g} {m['unit']:7s} spread {sp:7.4f}"
              f"  bound/3 {m['bound'] / 3:.4f}{flag}")


if __name__ == "__main__":
    main()
