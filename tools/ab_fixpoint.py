"""Interleaved same-JVM A/B: fixpoint_observed (r14, probe fused into the
checkpoint) vs the classic r13 probe loop (eager checkpoint + isEmpty
existence probe per round) — VERDICT r14 "Next round" item 1.

Runs the REGISTERED queries (default: cc_find cc_find_skew kcore) at
$SPARK_GRAFT_SF_DIR, alternating variants inside one JVM. The classic
variant is injected by monkeypatching operators.graph_iter's
fixpoint_observed with a shim that reproduces the r13 semantics exactly:
every fixpoint metric in the repo is `count_if(<pred>)`, and the r13
probes were `filter(<pred>).isEmpty()` on the just-checkpointed state.
Asserts both variants return identical rows every sample; reports wall
seconds and statusStore job-count deltas.

    python tools/ab_fixpoint.py [pairs] [query ...]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gpu_mapreduce_spark.operators import graph_iter
from gpu_mapreduce_spark.plans.iterate import fixpoint
from gpu_mapreduce_spark.registry import load_all
from gpu_mapreduce_spark.session import get_spark


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


def main() -> None:
    args = sys.argv[1:]
    pairs = int(args[0]) if args and args[0].isdigit() else 3
    names = [a for a in args if not a.isdigit()] or [
        "cc_find",
        "cc_find_skew",
        "kcore",
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab_fixpoint")
    spark.range(1000).count()
    qs = load_all()
    observed = graph_iter.fixpoint_observed

    def jobs() -> int:
        return spark._jsc.sc().statusStore().jobsList(None).size()

    out = {}
    for name in names:
        fn = qs[name].fn
        fn(spark, sf_dir).collect()  # warm-up (memoized arcs etc.)
        res = {"classic": [], "observed": []}
        jcounts = {"classic": [], "observed": []}
        ref = None
        for i in range(pairs):
            for label, impl in (
                ("classic", fixpoint_classic),
                ("observed", observed),
            ):
                graph_iter.fixpoint_observed = impl
                try:
                    j0 = jobs()
                    t0 = time.perf_counter()
                    rows = fn(spark, sf_dir).collect()
                    dt = time.perf_counter() - t0
                finally:
                    graph_iter.fixpoint_observed = observed
                res[label].append(round(dt, 3))
                jcounts[label].append(jobs() - j0)
                key = sorted(map(tuple, rows))
                if ref is None:
                    ref = key
                assert key == ref, f"{name} {label}: rows diverged"
                print(
                    f"# {name} pair {i} {label}: {dt:.3f}s"
                    f" {jcounts[label][-1]} jobs",
                    file=sys.stderr,
                    flush=True,
                )
        out[name] = {
            "classic_s": res["classic"],
            "observed_s": res["observed"],
            "classic_min": min(res["classic"]),
            "observed_min": min(res["observed"]),
            "classic_jobs": jcounts["classic"],
            "observed_jobs": jcounts["observed"],
            "rows_identical": True,
        }
    print(out)


if __name__ == "__main__":
    main()
