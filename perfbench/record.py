"""Record medians and quartiles of the benchmark over several seeds.

Runs every workload (or those named) once per seed with tracing off, and
once traced, then writes per workload and metric the median, the first and
third quartiles (`statistics.quantiles(values, n=4)`) and the spread
(quartile distance over median), plus the traced run's per-layer values.

    python3 perfbench/record.py --seeds 1-10 --out perfbench/baseline/HEAD.json
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
# the traced run's seed, apart from the untraced ones
TRACE_SEED = 101


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=ROOT)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stdout}\n{p.stderr}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    record = {"run_seconds": spec["run_seconds"], "seeds": a.seeds, "workloads": {}}
    if os.path.exists(a.out):
        with open(a.out) as f:
            record = json.load(f)
    for w in names:
        t0 = time.time()
        runs = [run(w, s, spec["run_seconds"], 0) for s in seeds(a.seeds)]
        metrics = {m["name"]: summarize([r["metrics"][m["name"]]["value"] for r in runs])
                   for m in spec["end_to_end"]}
        traced = run(w, TRACE_SEED, spec["run_seconds"], 1)
        record["workloads"][w] = {
            "correct": all(r["correct"] for r in runs) and traced["correct"],
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "end_to_end": metrics,
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            "wall_s_per_run": (time.time() - t0) / (len(runs) + 1)}
        print(w, {k: (round(v["median"], 4), round(v["spread"], 4)) for k, v in metrics.items()},
              flush=True)
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
