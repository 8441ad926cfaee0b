#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source (build.py), prepares the
workload's inputs, runs one fresh JVM (`local[4]`, 4 shuffle partitions)
that does setup (session start plus two untimed warm passes) and then timed
passes for `--seconds`, checks every op's output, and prints every metric
by name and unit. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.

Other modes:
  --record 1    run each query op of pipeline_loops / stream_drain once,
                dump its output for tools/verify_local.py and store its
                digest in perfbench/digests.json
  --corrupt 1   perturb one expected digest or tally (the self-test uses
                this to show a wrong answer is counted as failed)

Inputs: mr_corpus generates its corpus from the seed (corpus.py, cached
per seed under .bench_build/corpus). pipeline_loops reads the sf0.01
tables and stream_drain the sf0.1 tables of the test data directory
described in TESTDATA.md: $PERFBENCH_DATA, or ~/testdata when unset.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import corpus  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
DIGESTS = os.path.join(HERE, "digests.json")
SCALE = {"pipeline_loops": "sf0.01", "stream_drain": "sf0.1"}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
E2E = [("setup_s", "s"), ("pass_s", "s"), ("success_frac", "ratio"),
       ("retained_heap_mb", "MiB")]


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb") or "_mb_" in name:
        return "MiB"
    if name.endswith("_bytes") or name.endswith("bytes_read") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_share"):
        return "ratio"
    if name.endswith("tasks_per_stage"):
        return "tasks/stage"
    return "count"


def data_dir(workload):
    base = os.environ.get("PERFBENCH_DATA") or os.path.expanduser("~/testdata")
    d = os.path.join(base, SCALE[workload])
    if not os.path.isfile(os.path.join(d, "documents.parquet")):
        raise SystemExit(f"perfbench: no test data at {d} (set PERFBENCH_DATA)")
    return d


def load_digests():
    if os.path.isfile(DIGESTS):
        with open(DIGESTS) as f:
            return json.load(f)
    return {}


def run_jvm(cmd, run_dir, env):
    """Runs the benchmark JVM in `run_dir` and returns its result lines
    as a dict. The JVM is killed and reaped if it overruns or if this
    process is told to stop; the run directory is always removed."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
        if code != 0:
            raise SystemExit(f"perfbench: the benchmark JVM exited with {code}")
        with open(os.path.join(run_dir, "result.txt")) as f:
            return dict(line.rstrip("\n").split(" ", 1) for line in f if " " in line)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: the run exceeded {JVM_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["mr_corpus", "pipeline_loops", "stream_drain"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.record and a.workload == "mr_corpus":
        raise SystemExit("perfbench: mr_corpus checks against generated tallies, not digests")

    classpath = build.build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(run_dir, d))
    args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--run-dir", run_dir, "--result", os.path.join(run_dir, "result.txt")]

    if a.workload == "mr_corpus":
        root = corpus.ensure(os.path.join(BUILD, "corpus"), a.seed)
        tallies = os.path.join(root, "expected")
        if a.corrupt:
            tallies = os.path.join(run_dir, "expected")
            shutil.copytree(os.path.join(root, "expected"), tallies)
            with open(os.path.join(tallies, "wc.txt")) as f:
                lines = f.readlines()
            word, n = lines[0].split()
            lines[0] = f"{word} {int(n) + 1}\n"
            with open(os.path.join(tallies, "wc.txt"), "w") as f:
                f.writelines(lines)
        args += ["--corpus", os.path.join(root, "files"), "--tallies", tallies]
    else:
        args += ["--data", data_dir(a.workload)]
        if a.record:
            dump = os.path.join(BUILD, "record", a.workload)
            shutil.rmtree(dump, ignore_errors=True)
            args += ["--record", dump]
        else:
            want = load_digests().get(a.workload, {})
            if a.corrupt and want:
                k = sorted(want)[0]
                rows, h = want[k].split(":", 1)
                want = dict(want, **{k: f"{int(rows) + 1}:{h}"})
            expected = os.path.join(run_dir, "expected.txt")
            with open(expected, "w") as f:
                f.writelines(f"{k} {v}\n" for k, v in sorted(want.items()))
            args += ["--expected", expected]
    if a.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(traces, f"{a.workload}-s{a.seed}-{int(time.time())}.jsonl")
        args += ["--spans", spans]

    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [build.java(), "-XX:-UsePerfData", "-Xms4g", "-Xmx4g", "-Xss8m",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main"] + args

    launched = time.time()
    res = run_jvm(cmd, run_dir, env)
    if a.record:
        got = {k[len("digest."):]: v for k, v in res.items() if k.startswith("digest.")}
        allw = load_digests()
        allw[a.workload] = got
        with open(DIGESTS, "w") as f:
            json.dump(allw, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"recorded {len(got)} digests for {a.workload}; outputs in "
              f"{os.path.relpath(dump, ROOT)} (check with tools/verify_local.py)")
        return

    attempted, failed = int(res["attempted"]), int(res["failed"])
    setup_s = float(res["setup_end_epoch_s"]) - launched
    print(f"workload {a.workload} seed {a.seed}: {res['passes']} timed passes "
          f"({res['pass_s_all']} s), session start {float(res['session_start_s']):.3f} s, "
          f"store builds during timed passes {res['in_pass_store_builds']}")
    print(f"failed_frac {failed / attempted:.6f} ratio ({failed} of {attempted} ops)")
    if a.trace:
        metrics = {k[len("layer."):]: (float(v), layer_unit(k[len("layer."):]))
                   for k, v in res.items() if k.startswith("layer.")}
        print(f"spans written to {os.path.relpath(spans, ROOT)}")
    else:
        vals = {"setup_s": setup_s, "pass_s": float(res["pass_s"]),
                "success_frac": 1 - failed / attempted,
                "retained_heap_mb": float(res["retained_heap_mb"])}
        metrics = {k: (vals[k], u) for k, u in E2E}
    for k, (v, u) in metrics.items():
        print(f"{k} {v:.6g} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
