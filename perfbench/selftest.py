#!/usr/bin/env python3
"""Self-test: a wrong answer must count as failed.

  python3 perfbench/selftest.py

Runs mr_corpus with one generated tally off by one, and stream_drain
(traced) with one recorded digest off by one, and checks that each run
reports `correct: false` with a failed op. The traced run must also
report per-op self times that sum to the op's wall time.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--corrupt", "1"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    ok = True
    for workload, trace in (("mr_corpus", 0), ("stream_drain", 1)):
        r = run(workload, trace)
        caught = r["correct"] is False and r["failed"] >= 1
        # every pass runs each op once, and one op per pass checks against the bad answer
        print(f"{workload}: {r['failed']} of {r['attempted']} ops failed "
              f"({'caught' if caught else 'NOT caught'})")
        ok &= caught
        if trace:
            residual = r["metrics"]["trace.self_residual_ms"]["value"]
            print(f"{workload}: largest |sum of self times - op wall| = {residual:.6f} ms")
            ok &= residual < 1e-3
    print("selftest " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
