"""Per-layer metrics of a traced run, and the spans file it leaves.

Every metric is per steady traced pass (median over those passes), except
`sources.derived.builds`/`.build_s`, which are the first pass's (memoized
inputs are built there), `sources.derived.hit_ratio`, which counts every
traced pass, and `jvm.gc_s`, the mean over every pass of the run. Layer
times are inclusive: a call nested inside a call into the same layer counts
once; `plans.s` and `sources.s` cover the whole layer. Self times,
per-module operator totals and sub-layer times that a workload may not call
in a steady pass (`plans.iterate.s`, `plans.scratch.s`, `sources.table.s`,
`streaming.pipeline.s`) are in the spans file.
"""

from __future__ import annotations

import json
import os
import statistics

from tracing import layer_totals

# name -> (unit, better); BENCHMARK.json's per_layer list mirrors this
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "registry.load_all_s": ("s", "lower"),
    "queries.construct_s": ("s", "lower"),
    "queries.construct_jobs": ("count", "lower"),
    "queries.collect_s": ("s", "lower"),
    "queries.collect_jobs": ("count", "lower"),
    "plans.s": ("s", "lower"),
    "plans.iterate.calls": ("count", "lower"),
    "plans.iterate.rounds": ("count", "lower"),
    "plans.iterate.jobs": ("count", "lower"),
    "plans.scratch.calls": ("count", "lower"),
    "sources.table.calls": ("count", "lower"),
    "sources.s": ("s", "lower"),
    "sources.derived.builds": ("count", "lower"),
    "sources.derived.hits": ("count", "higher"),
    "sources.derived.hit_ratio": ("frac", "higher"),
    "sources.derived.build_s": ("s", "lower"),
    "operators.calls": ("count", "lower"),
    "operators.s": ("s", "lower"),
    "streaming.pipeline.calls": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.slot_busy_frac": ("frac", "higher"),
    "jvm.gc_s": ("s", "lower"),
    "jvm.live_heap_mb": ("MB", "lower"),
    "py4j.calls": ("count", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
}

SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
)


def pass_layers(p: dict, spans: list[dict], slots: int) -> dict:
    """Per-layer figures of one traced pass."""
    mine = [s for s in spans if s["inv"] and s["inv"].startswith(f"p{p['pass']}.")]
    plain = layer_totals(mine)
    ops = layer_totals(
        [{**s, "layer": "operators" if s["layer"].startswith("operators.") else s["layer"]}
         for s in mine]
    )
    whole = layer_totals([{**s, "layer": s["layer"].split(".")[0]} for s in mine])
    invs = p["invocations"]

    def lt(table, layer, key):
        return table.get(layer, {}).get(key, 0)

    iterate_top = [
        s for s in mine
        if s["layer"] == "plans.iterate"
        and not any(a["layer"] == "plans.iterate" for a in _ancestors(s, mine))
    ]
    derived = [s for s in mine if s["layer"] == "sources.fixtures"]
    derived_top = [
        s for s in derived
        if not any(a["layer"] == "sources.fixtures" for a in _ancestors(s, mine))
    ]
    out = {
        "queries.construct_s": sum(r["construct_s"] for r in invs),
        "queries.construct_jobs": sum(r.get("construct_jobs", 0) for r in invs),
        "queries.collect_s": sum(r["collect_s"] for r in invs),
        "queries.collect_jobs": sum(r.get("collect_jobs", 0) for r in invs),
        "plans.s": lt(whole, "plans", "s"),
        "plans.iterate.calls": lt(plain, "plans.iterate", "calls"),
        "plans.iterate.rounds": sum(s.get("rounds") or 0 for s in iterate_top),
        "plans.iterate.jobs": lt(plain, "plans.iterate", "jobs"),
        "plans.scratch.calls": lt(plain, "plans.scratch", "calls"),
        "sources.table.calls": lt(plain, "sources.tables", "calls"),
        "sources.s": lt(whole, "sources", "s"),
        "sources.derived.builds": sum("build_s" in s for s in derived),
        "sources.derived.hits": sum(bool(s.get("hit")) for s in derived),
        "sources.derived.build_s": sum(s.get("build_s", 0.0) for s in derived_top),
        "operators.calls": lt(ops, "operators", "calls"),
        "operators.s": lt(ops, "operators", "s"),
        "streaming.pipeline.calls": lt(plain, "streaming.pipeline", "calls"),
        "jvm.gc_s": p["gc_s"],
        "jvm.live_heap_mb": p["live_heap_mb"],
        "py4j.calls": sum(r.get("py4j_calls", 0) for r in invs),
    }
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = sum(r.get("spark", {}).get(k, 0) for r in invs)
    out["spark.slot_busy_frac"] = out["spark.executor_run_s"] / (p["pass_s"] * slots)
    return out


def _ancestors(span: dict, spans: list[dict]):
    by_id = {s["id"]: s for s in spans}
    p = span["parent"]
    while p is not None and p in by_id:
        yield by_id[p]
        p = by_id[p]["parent"]


def per_layer(res: dict, slots: int) -> dict[str, float]:
    """name -> value for every PER_LAYER metric."""
    spans = res["spans"]
    first = pass_layers(res["first"], spans, slots)
    traced = [p for p in res["steady"] if p["traced"]]
    untraced = [p for p in res["steady"] if not p["traced"]]
    rows = [pass_layers(p, spans, slots) for p in traced]
    vals = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    vals["sources.derived.builds"] = first["sources.derived.builds"]
    vals["sources.derived.build_s"] = first["sources.derived.build_s"]
    builds = first["sources.derived.builds"] + sum(r["sources.derived.builds"] for r in rows)
    hits = first["sources.derived.hits"] + sum(r["sources.derived.hits"] for r in rows)
    vals["sources.derived.hit_ratio"] = hits / (hits + builds) if hits + builds else 1.0
    every = [res["first"], *res["warmup"], *res["steady"]]
    vals["jvm.gc_s"] = sum(p["gc_s"] for p in every) / len(every)
    vals["session.get_spark_s"] = res["get_spark_s"]
    vals["registry.load_all_s"] = res["load_all_s"]
    vals["trace.overhead_frac"] = (
        statistics.median(p["pass_s"] for p in traced)
        / statistics.median(p["pass_s"] for p in untraced)
        - 1.0
    )
    return {k: vals[k] for k in PER_LAYER}


def write_trace(trace_dir: str, workload: str, seed: int, res: dict, metrics: dict) -> str:
    """Spans, per-pass layer totals (self time, per module) and the metrics."""
    os.makedirs(trace_dir, exist_ok=True)
    spans = res["spans"]
    passes = []
    for p in [res["first"], *res["warmup"], *res["steady"]]:
        if not p["traced"]:
            passes.append({"pass": p["pass"], "traced": False, "pass_s": p["pass_s"]})
            continue
        mine = [s for s in spans if s["inv"] and s["inv"].startswith(f"p{p['pass']}.")]
        passes.append(
            {
                "pass": p["pass"],
                "traced": True,
                "pass_s": p["pass_s"],
                "layers": layer_totals(mine),
                "invocations": p["invocations"],
            }
        )
    path = os.path.join(trace_dir, f"{workload}-s{seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": workload,
                "seed": seed,
                "metrics": metrics,
                "passes": passes,
                "spans": spans,
            },
            f,
        )
    return path
