#!/usr/bin/env python3
"""graft benchmark: runs one workload with one seed in a single JVM and
prints its result as the last line of standard output.

    python3 perfbench/run.py --workload registry_light --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json): registry_light, batch_pipeline,
ingest_admit. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer metrics from the call-site ledger (and writes
the span/job trace to `.bench_build/traces/`).

The first run builds the library and the harness (`perfbench/build.py`)
and generates the input tables (`perfbench/datagen.py`) under
`.bench_build/`; later runs reuse them. Every run works in its own
directory under `.bench_build/runs/` (warehouse, Derby home, Spark local
dirs, temp files) and removes it at the end.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["registry_light", "batch_pipeline", "ingest_admit"]
DEFAULT_SF = 0.1
# batch_pipeline runs at sf0.01: one pass there already runs every stage's
# ~160 jobs in ~14 s on 4 cores, and an sf0.1 pass (21-23 s) does not fit
# the run budget
WORKLOAD_SF = {"batch_pipeline": 0.01}
DATA_SEED = 42
JVM_TIMEOUT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import build as _build  # noqa: E402


def bench_dir():
    os.makedirs(OUT, exist_ok=True)
    return OUT


def build():
    return _build.build()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def data_dir(sf):
    """Generated input tables, cached per (sf, data seed, generator)."""
    import datagen
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(OUT, "data", f"sf{sf}-s{DATA_SEED}-{gen}")
    if not os.path.exists(os.path.join(d, "done")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write(tmp, sf, DATA_SEED)
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def java(args, work, timeout=JVM_TIMEOUT_S, log=None):
    """Run the harness JVM with `args`; its working dir and temp dir are
    `work`. Kills the whole process group on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", _build.classpath(), "perfbench.Main"] + args)
    out = open(log, "w") if log else subprocess.DEVNULL
    p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: harness exceeded {timeout} s")
    finally:
        if log:
            out.close()
    if rc != 0:
        tail = ""
        if log:
            with open(log) as f:
                tail = f.read()[-4000:]
        raise SystemExit(f"perfbench: harness failed with exit code {rc}\n{tail}")


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="input scale (default per workload; tests use a tiny one)")
    ap.add_argument("--scale", default="",
                    help="workload sizes, e.g. ingest_rows=2000,stream_batch=50 (tests)")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected"),
                    help="directory of expected digests")
    a = ap.parse_args()

    names = metric_names(a.trace)
    t0 = time.time()
    stamp = build()
    sf = a.sf or WORKLOAD_SF.get(a.workload, DEFAULT_SF)
    data = data_dir(sf)
    # what runs leave for later runs (untraced op medians under the build's
    # stamp, per-seed admitted counts), kept apart per input scale and sizes
    state = os.path.join(OUT, "state", f"sf{sf}-{a.scale.replace('=', '').replace(',', '-') or 'default'}")
    work = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    try:
        java(["--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--expected", a.expected, "--work", work,
              "--out", result_file, "--state", state, "--stamp", stamp,
              "--cores", str(cores()), "--scale", a.scale],
             work, timeout=JVM_TIMEOUT_S, log=os.path.join(work, "harness.log"))
        with open(result_file) as f:
            res = json.load(f)
        if a.trace:
            traces = os.path.join(OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
            with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.ledger.json"), "w") as f:
                json.dump(res["ledger"], f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = res["end_to_end"]
    print(f"[perfbench] {a.workload} seed={a.seed} wall={time.time() - t0:.1f}s "
          f"tail=p{res['tail_percentile']:g} setups={res['setups_s']}")
    print("[perfbench]   phases " + " ".join(f"{k}={v:.1f}s" for k, v in res["phases_s"].items()))
    for k, v in e2e.items():
        print(f"[perfbench]   {k} = {v['value']:.6g} {v['unit']}")
    for f in res["failures"]:
        print(f"[perfbench]   FAILED {f}")
    if a.trace:
        for k, v in res["per_layer"].items():
            print(f"[perfbench]   layer {k} = {v:.6g}")
        # a layer the workload does not exercise reads 0
        metrics = {n: {"value": res["per_layer"].get(n, 0.0), "unit": u} for n, u in names}
    else:
        metrics = {n: e2e[n] for n, _ in names}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
