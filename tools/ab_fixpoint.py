"""Interleaved same-JVM A/B of the loop-state machinery in plans/iterate.

Two baselines, each injected by monkeypatching for the baseline side only:

  fixpoint     fixpoint_observed (r14, probe fused into the checkpoint) vs
               the classic r13 probe loop (eager checkpoint + isEmpty
               existence probe per round); default queries cc_find
               cc_find_skew kcore.
  materialize  materialize (checkpoint planned with AQE off, so snapshots
               keep their hash layout) vs `materialize_classic`, the same
               checkpoint planned with the session's AQE on (snapshots
               report UnknownPartitioning, so every round re-exchanges the
               arcs); default queries: every other registered user of
               materialize.

Runs the REGISTERED queries at $SPARK_GRAFT_SF_DIR, alternating variants
inside one JVM. Each variant keeps its own session memo of derived inputs
(the arc tables are built by its own checkpoint), warmed once before the
timed pairs. Asserts both variants return identical rows every sample;
reports wall seconds and, per call, jobs, stages (not skipped) and shuffle
write MB read from the status store.

    python tools/ab_fixpoint.py [fixpoint|materialize] [pairs] [query ...]
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gpu_mapreduce_spark.operators import graph_iter, rmat
from gpu_mapreduce_spark.plans import iterate
from gpu_mapreduce_spark.plans.iterate import fixpoint
from gpu_mapreduce_spark.queries import anomaly, collocations
from gpu_mapreduce_spark.registry import load_all
from gpu_mapreduce_spark.session import get_spark
from gpu_mapreduce_spark.sources import fixtures

# every module that binds plans.iterate.materialize by name
_MATERIALIZE_USERS = (iterate, graph_iter, rmat, anomaly, collocations)

_DEFAULT_QUERIES = {
    "fixpoint": ["cc_find", "cc_find_skew", "kcore"],
    "materialize": [
        "cc_find",
        "cc_find_skew",
        "sssp",
        "luby_find",
        "label_prop_communities",
        "personalized_pagerank",
        "ktruss_decomposition",
        "rmat",
        "arrival_rate_anomaly",
        "collocations_topk",
    ],
}


def _pred_of(col) -> str:
    s = str(col)  # Column<'count_if(pred)'>
    m = re.fullmatch(r"Column<'count_if\((.*)\)'>", s)
    assert m, f"unexpected metric shape: {s}"
    return m.group(1)


def fixpoint_classic(state, step, done_metric, done, max_iter=50):
    """The r13 loop: eager checkpoint, then a separately scheduled
    existence-probe job per round — plans/iterate.fixpoint with the
    metric's predicate as the probe, so it raises on max_iter exhaustion
    exactly like fixpoint_observed."""
    pred = _pred_of(done_metric())
    return fixpoint(
        state, step, lambda _prev, cur: cur.filter(pred).isEmpty(), max_iter
    )


_observed = graph_iter.fixpoint_observed
_materialize = iterate.materialize


def materialize_classic(df, metric=None, supersedes=None):
    """plans.iterate.materialize as it was before the scoped AQE switch:
    the checkpoint action is planned with the session's AQE on, so the
    snapshot's LogicalRDD reports UnknownPartitioning."""
    from pyspark.sql import Observation

    obs = None
    if metric is not None:
        obs = Observation()
        df = df.observe(obs, metric.alias("m"))
    out = df.localCheckpoint(eager=True)
    value = obs.get["m"] if obs is not None else None
    if supersedes is not None:
        iterate.unpersist_checkpoint(supersedes)
    return out, value


@contextmanager
def _patched(modules, attr, impl):
    saved = [getattr(m, attr) for m in modules]
    for m in modules:
        setattr(m, attr, impl)
    try:
        yield
    finally:
        for m, s in zip(modules, saved):
            setattr(m, attr, s)


def _variants(baseline: str):
    if baseline == "fixpoint":
        return {
            "classic": lambda: _patched(
                (graph_iter,), "fixpoint_observed", fixpoint_classic
            ),
            "observed": lambda: _patched(
                (graph_iter,), "fixpoint_observed", _observed
            ),
        }
    return {
        "classic": lambda: _patched(
            _MATERIALIZE_USERS, "materialize", materialize_classic
        ),
        "kept": lambda: _patched(_MATERIALIZE_USERS, "materialize", _materialize),
    }


class _Counters:
    """Jobs, stages (not skipped) and shuffle write of a job-id range."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        self._mapper = mapper
        self._no_q = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def next_job(self) -> int:
        return self._dag.nextJobId()

    def read(self, lo: int, hi: int) -> dict:
        self._bus.waitUntilEmpty()
        dump = lambda x: json.loads(self._mapper.writeValueAsString(x))
        jobs = [j for j in dump(self._store.jobsList(None)) if lo <= j["jobId"] < hi]
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in dump(self._store.stageList(None, False, False, self._no_q, None))
            if s["stageId"] in ids and s["status"] != "SKIPPED"
        ]
        return {
            "jobs": hi - lo,
            "stages": len(stages),
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
        }


def main() -> None:
    args = sys.argv[1:]
    baseline = "fixpoint"
    if args and args[0] in _DEFAULT_QUERIES:
        baseline = args.pop(0)
    pairs = int(args.pop(0)) if args and args[0].isdigit() else 3
    names = args or _DEFAULT_QUERIES[baseline]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab_fixpoint")
    spark.range(1000).count()
    qs = load_all()
    variants = _variants(baseline)
    counters = _Counters(spark)
    # one derived-input memo per variant: arc tables are built by the
    # variant's own checkpoint
    memo = {label: {} for label in variants}

    def run(label, fn):
        fixtures._DERIVED_CACHE.clear()
        fixtures._DERIVED_CACHE.update(memo[label])
        try:
            with variants[label]():
                j0 = counters.next_job()
                t0 = time.perf_counter()
                rows = fn(spark, sf_dir).collect()
                dt = time.perf_counter() - t0
                c = counters.read(j0, counters.next_job())
        finally:
            memo[label] = dict(fixtures._DERIVED_CACHE)
        return rows, dt, c

    out = {}
    for name in names:
        fn = qs[name].fn
        for label in variants:  # warm-up: builds each variant's memo
            run(label, fn)
        res = {label: [] for label in variants}
        ref = None
        for i in range(pairs):
            for label in variants:
                rows, dt, c = run(label, fn)
                res[label].append({"s": round(dt, 3), **c})
                key = sorted(map(tuple, rows))
                if ref is None:
                    ref = key
                assert key == ref, f"{name} {label}: rows diverged"
                print(
                    f"# {name} pair {i} {label}: {dt:.3f}s {c['jobs']} jobs"
                    f" {c['stages']} stages {c['shuffle_mb']:.3f} MB",
                    file=sys.stderr,
                    flush=True,
                )
        out[name] = {
            label: {
                "median_s": round(statistics.median(r["s"] for r in runs), 3),
                "s": [r["s"] for r in runs],
                "jobs": [r["jobs"] for r in runs],
                "stages": [r["stages"] for r in runs],
                "shuffle_mb": [round(r["shuffle_mb"], 3) for r in runs],
            }
            for label, runs in res.items()
        }
        out[name]["rows_identical"] = True
    print(json.dumps(out))


if __name__ == "__main__":
    main()
