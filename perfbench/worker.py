"""One benchmark process. `run.py` starts a fresh one per mode:

  prepare    generate a workload's inputs for a seed and the oracle digests
  prelaunch  start and stop a JVM gateway (untimed page-cache warm-up)
  run        setup, the first pass, warm-up passes, then steady passes for
             `seconds`

    python3 perfbench/worker.py <spec.json> <out.json>

The spec and the result are JSON files; the checkout root must be on
PYTHONPATH.
"""

from __future__ import annotations

import gc
import json
import os
import resource
import sys
import time

pc = time.perf_counter


def prepare(spec: dict) -> dict:
    from expected import oracle_digests
    from gen import generate

    generate(spec["data_dir"], spec["seed"], spec["scale"])
    return {"expected": oracle_digests(spec["data_dir"], spec["queries"])}


def prelaunch(spec: dict) -> dict:
    from pyspark.java_gateway import launch_gateway

    t = pc()
    gateway = launch_gateway()
    gateway.shutdown()
    return {"prelaunch_s": pc() - t}


def setup(spec: dict):
    """Session + registry + trivial action, each timed."""
    from gpu_mapreduce_spark import registry, session

    t0 = pc()
    spark = session.get_spark("perfbench", cpus=spec["slots"])
    t1 = pc()
    reg = registry.load_all()
    t2 = pc()
    spark.sparkContext.parallelize([0], 1).count()
    t3 = pc()
    times = {"get_spark_s": t1 - t0, "load_all_s": t2 - t1, "setup_s": t3 - t0}
    return spark, reg, times


class Passes:
    """Runs passes over the workload's queries and records each invocation."""

    def __init__(self, spec, spark, reg, tracer=None):
        self.spec, self.spark, self.reg, self.tracer = spec, spark, reg, tracer
        self.expected = spec["expected"]
        self.sc = spark.sparkContext
        mgmt = spark._jvm.java.lang.management.ManagementFactory
        self.gc_beans = list(mgmt.getGarbageCollectorMXBeans())
        self.heap = mgmt.getMemoryMXBean()
        self.jvm_pid = int(mgmt.getRuntimeMXBean().getPid())

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self.gc_beans) / 1e3

    def invoke(self, tag: str, name: str) -> dict:
        from expected import digest

        tr = self.tracer
        rec = {"query": name}
        if tr is not None and tr.enabled:
            self.sc.setJobGroup(tag, name)
            tr.invocation, tr.py4j_calls = tag, 0
            jobs = [tr.next_job_id()]
            tr.counting_py4j = True
        rows = err = None
        t0 = pc()
        try:
            df = self.reg[name].fn(self.spark, self.spec["data_dir"])
            t1 = pc()
            if tr is not None and tr.enabled:
                jobs.append(tr.next_job_id())
            rows = df.collect()
            t2 = pc()
        except Exception as e:  # a failing query is a miss, not a crash
            t1 = t2 = pc()
            err = f"{type(e).__name__}: {str(e)[:300]}"
        rec.update(construct_s=t1 - t0, collect_s=t2 - t1, latency_s=t2 - t0)
        if tr is not None and tr.enabled:
            tr.counting_py4j = False
            tr.invocation = None
            rec["py4j_calls"] = tr.py4j_calls
            if err is None:
                jobs.append(tr.next_job_id())
                rec["construct_jobs"] = jobs[1] - jobs[0]
                rec["collect_jobs"] = jobs[2] - jobs[1]
                rec["spark"] = tr.spark_counters(jobs[0], jobs[2])
        if err is None:
            rec["digest"] = digest(df.columns, rows)
            if rec["digest"] != self.expected.get(name):
                err = f"digest {rec['digest']} != expected {self.expected.get(name)}"
            elif rec["latency_s"] > self.spec["query_timeout_s"]:
                err = "timeout"
        rec["ok"] = err is None
        if err:
            rec["error"] = err
            print(f"perfbench: {name}: {err}", file=sys.stderr)
        return rec

    def run_pass(self, k: int) -> dict:
        gc0 = self.gc_s()
        invs = [self.invoke(f"p{k}.{i}.{q}", q) for i, q in enumerate(self.spec["queries"])]
        gc1 = self.gc_s()
        # forced GC between passes, outside every timed window
        gc.collect()
        self.spark._jvm.System.gc()
        return {
            "pass": k,
            "traced": bool(self.tracer is not None and self.tracer.enabled),
            "pass_s": sum(r["latency_s"] for r in invs),
            "gc_s": gc1 - gc0,
            "live_heap_mb": self.heap.getHeapMemoryUsage().getUsed() / 2**20,
            "invocations": invs,
        }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run(spec: dict) -> dict:
    stop_at = pc() + spec["budget_s"]
    tracer = None
    if spec["trace"]:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()  # before load_all imports the query modules
    spark, reg, times = setup(spec)
    if tracer is not None:
        tracer.attach(spark.sparkContext)
    p = Passes(spec, spark, reg, tracer)
    first = p.run_pass(0)
    if tracer is not None:
        tracer.enabled = False
    warmup = [p.run_pass(k) for k in range(1, spec["warmup"] + 1)]
    steady = []
    t0 = pc()
    # the traced run alternates traced and untraced passes (overhead A/B)
    while len(steady) < spec["min_steady"] or pc() - t0 < spec["seconds"]:
        if pc() > stop_at:
            break
        if tracer is not None:
            tracer.enabled = len(steady) % 2 == 0
        steady.append(p.run_pass(len(warmup) + len(steady) + 1))
    out = {
        **times,
        "first": first,
        "warmup": warmup,
        "steady": steady,
        "steady_wall_s": pc() - t0,
        "peak_rss_mb": vm_hwm_mb(p.jvm_pid)
        + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "jvm_pid": p.jvm_pid,
    }
    if tracer is not None:
        out["spans"] = tracer.spans
    spark.stop()
    return out


def main() -> None:
    spec_path, out_path = sys.argv[1], sys.argv[2]
    with open(spec_path) as f:
        spec = json.load(f)
    mode = spec["mode"]
    if mode == "prepare":
        out = prepare(spec)
    elif mode == "prelaunch":
        out = prelaunch(spec)
    else:
        out = run(spec)
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, out_path)


if __name__ == "__main__":
    main()
