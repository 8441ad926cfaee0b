#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

  python3 perfbench/spread.py <workload> <first-seed> <runs> [seconds]

Runs the benchmark once per seed (first-seed, first-seed+1, ...) and
prints, per metric, the values, their median and the distance between the
first and third quartile as a share of the median.
"""
import json
import statistics
import subprocess
import sys
import time

HERE = __file__.rsplit("/", 1)[0] if "/" in __file__ else "."


def main():
    workload, first, runs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    with open(f"{HERE}/../BENCHMARK.json") as f:
        seconds = sys.argv[4] if len(sys.argv) > 4 else str(json.load(f)["run_seconds"])
    values = {}
    for seed in range(first, first + runs):
        started = time.time()
        out = subprocess.run([sys.executable, f"{HERE}/run.py", "--workload", workload,
                              "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                             check=True).stdout
        lines = out.strip().splitlines()
        res = json.loads(lines[-1])
        if not res["correct"]:
            print(f"seed {seed}: {res['failed']} of {res['attempted']} ops failed")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"{lines[0]}; run wall {time.time() - started:.1f} s")
        print(f"seed {seed}: " + " ".join(f"{k}={m['value']:.4f}" for k, m in res["metrics"].items()),
              flush=True)
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4)
        share = (q[2] - q[0]) / med if med else float("nan")
        print(f"{workload} {k}: median {med:.4f} iqr/median {share:.4f}")


if __name__ == "__main__":
    main()
