"""Benchmark of the spark-graft engine through its public entry point:
`registry.load_all()[name].fn(spark, data_dir)` followed by `.collect()`.

    python3 perfbench/run.py --workload graph_iter --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One run:

 1. generates the workload's input tables from the seed and the DuckDB
    oracle's expected result digests, cached per seed under `.perfbench/`
    (untimed; an untimed JVM pre-launch overlaps it);
 2. starts one fresh measuring process, which times its setup, the first
    pass, warm-up passes, then steady passes until `--seconds` have
    passed, checking every result's digest.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` — the end-to-end metrics with `--trace 0`, the per-layer
metrics of a traced run with `--trace 1`. A summary table and the run's
environment go to stderr; spans of a traced run go to
`.perfbench/trace/<workload>-s<seed>.json`. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Pinned run environment (see README.md, "Noise levers").
SLOTS = 3  # local[3]: one of the 4 cores stays free for the driver
DRIVER_MEM = "3g"
WARMUP_PASSES = 2  # untimed passes before the steady window (JIT still settling)
MIN_STEADY = 2  # steady passes even if --seconds is short (4 when traced)
QUERY_TIMEOUT_S = 60.0
RUN_LIMIT_S = 170.0  # the whole run, prepare included
CACHED_INPUTS = 48  # newest per-seed input sets kept under .perfbench/data (~2 MB each)

WORKLOADS = {
    # loop-driven, construction-bound: plans.iterate, operators.graph_iter,
    # the job-per-round floor; edges derive from the seeded lineitem
    "graph_iter": {
        "scale": 0.001,
        "queries": ["kcore", "pagerank"],
    },
    # short queries, per-call driver cost: sources.table, py4j, Catalyst,
    # streaming.pipeline, a memoized fixture hit, a CSV sink (plans.scratch)
    "interactive_mix": {
        "scale": 0.01,
        "queries": [
            "q6_forecast_revenue",
            "q1_pricing_summary",
            "events_windowed",
            "wordfreq_topk",
            "textstats_tokens",
            "intcount",
            "degree_stats",
            "scan_roundtrip",
        ],
    },
}

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "query_s_p50": "s",
    "query_s_p90": "s",
    "ok_frac": "frac",
    "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def child_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,  # python workers import the package too
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(SLOTS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # no hsperfdata files under /tmp: a run writes only inside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


class Child:
    """A worker process in its own process group; `wait` ends the whole
    group (the JVM and python workers it started) before returning."""

    def __init__(self, run_dir: str, spec: dict, name: str):
        self.spec_path = os.path.join(run_dir, f"{name}.spec.json")
        self.out_path = os.path.join(run_dir, f"{name}.out.json")
        with open(self.spec_path, "w") as f:
            json.dump(spec, f)
        self.log = open(os.path.join(run_dir, f"{name}.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), self.spec_path, self.out_path],
            cwd=run_dir,
            env=child_env(run_dir),
            stdout=self.log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )

    def wait(self, deadline: float) -> dict | None:
        try:
            self.proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            log(f"{os.path.basename(self.spec_path)}: over the run's time limit, killed")
        _end_group(self.proc)
        self.log.close()
        if self.proc.returncode != 0 or not os.path.exists(self.out_path):
            with open(self.log.name) as f:
                tail = f.read()[-2000:]
            log(f"{os.path.basename(self.spec_path)} failed (rc={self.proc.returncode}):\n{tail}")
            return None
        with open(self.out_path) as f:
            return json.load(f)


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _end_group(proc: subprocess.Popen) -> None:
    pgid = proc.pid
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        end = time.monotonic() + grace
        while time.monotonic() < end:
            proc.poll()
            if not _group_alive(pgid):
                return
            time.sleep(0.05)
    raise RuntimeError(f"process group {pgid} did not end")


def load_avg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def inputs(workload: str, seed: int, run_dir: str, deadline: float) -> tuple[str, dict]:
    """Per-seed input dir and expected digests, generated on first use while
    an untimed JVM pre-launch warms the page cache (a later run of the seed
    finds the cache warm from the run that generated its inputs)."""
    wl = WORKLOADS[workload]
    data_root = os.path.join(WORK, "data")
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        inputs_of = {"scale": wl["scale"], "queries": wl["queries"]}
        tag = hashlib.sha1(f.read() + json.dumps(inputs_of, sort_keys=True).encode()).hexdigest()
    key = f"{workload}-s{seed}-{tag[:10]}"
    data_dir = os.path.join(data_root, key)
    exp_path = os.path.join(data_dir, "expected.json")
    if not os.path.exists(exp_path):
        pre = Child(run_dir, {"mode": "prelaunch"}, "prelaunch")
        try:
            shutil.rmtree(data_dir, ignore_errors=True)
            spec = {"mode": "prepare", "data_dir": data_dir, "seed": seed, **inputs_of}
            prep = Child(run_dir, spec, "prepare").wait(deadline)
        finally:
            pre.wait(deadline)
        if prep is None:
            raise SystemExit("perfbench: input preparation failed")
        with open(exp_path, "w") as f:
            json.dump(prep["expected"], f)
    os.utime(data_dir)
    kept = sorted(
        (os.path.join(data_root, d) for d in os.listdir(data_root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in kept[CACHED_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    with open(exp_path) as f:
        return data_dir, json.load(f)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(res: dict) -> tuple[dict, int, int]:
    steady = res["steady"]
    lat = [r["latency_s"] for p in steady for r in p["invocations"]]
    invs = [r for p in [res["first"], *res["warmup"], *steady] for r in p["invocations"]]
    ok = sum(r["ok"] for r in invs)
    values = {
        "setup_s": res["setup_s"],
        "first_pass_s": res["first"]["pass_s"],
        "pass_s": statistics.median(p["pass_s"] for p in steady),
        "query_s_p50": quantile(lat, 0.5),
        "query_s_p90": quantile(lat, 0.9),
        "ok_frac": ok / len(invs),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return values, len(invs), len(invs) - ok


def measure(args, run_dir: str, start: float) -> int:
    deadline = start + RUN_LIMIT_S
    load_start = load_avg()
    wl = WORKLOADS[args.workload]
    data_dir, expected = inputs(args.workload, args.seed, run_dir, deadline)

    spec = {
        "mode": "run",
        "slots": SLOTS,
        "data_dir": data_dir,
        "queries": wl["queries"],
        "expected": expected,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "warmup": WARMUP_PASSES,
        "min_steady": MIN_STEADY + 2 * args.trace,
        "query_timeout_s": QUERY_TIMEOUT_S,
    }
    # the worker stops starting passes in time for a clean exit
    spec["budget_s"] = deadline - time.monotonic() - 30.0
    res = Child(run_dir, spec, "run").wait(deadline)
    if res is None:
        return 1
    load_end = load_avg()

    from report import PER_LAYER, per_layer, write_trace

    values, attempted, failed = end_to_end(res)
    env = {
        "slots": SLOTS,
        "driver_mem": DRIVER_MEM,
        "steady_pass_s": [round(p["pass_s"], 4) for p in res["steady"]],
        "load_avg_start": load_start,
        "load_avg_end": load_end,
        "wall_s": time.monotonic() - start,
    }
    log(json.dumps({"workload": args.workload, "seed": args.seed, "env": env}))
    if args.trace:
        metrics = per_layer(res, SLOTS)
        write_trace(os.path.join(WORK, "trace"), args.workload, args.seed, res, metrics)
        units = {k: unit for k, (unit, _) in PER_LAYER.items()}
    else:
        metrics, units = values, END_TO_END
    for q in wl["queries"]:
        first = [r["latency_s"] for r in res["first"]["invocations"] if r["query"] == q]
        rest = [r["latency_s"] for p in res["steady"] for r in p["invocations"] if r["query"] == q]
        log(f"{q:28s} first {first[0]:8.3f} s   steady median {statistics.median(rest):8.3f} s")
    for k, v in metrics.items():
        log(f"{args.workload:16s} {k:28s} {v:14.6f} {units[k]}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "gpu_mapreduce_spark", "registry.py")):
        log(f"no gpu_mapreduce_spark package under {ROOT}; run from a checkout root")
        return 2
    start = time.monotonic()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for d in os.listdir(WORK) if os.path.isdir(WORK) else []:
        if d.startswith("run-") and not os.path.exists(f"/proc/{d[4:]}"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)  # left by a killed run
    os.makedirs(run_dir)
    try:
        return measure(args, run_dir, start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
