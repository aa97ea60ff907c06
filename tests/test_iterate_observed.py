"""Focused tests for the r14 optimization internals:

- plans/iterate.fixpoint_observed — convergence metric observed during the
  round's own eager localCheckpoint (zero probe jobs) must reproduce the
  classic probe-driven fixpoint exactly (same fixpoint, same round count);
  Observation is built nowhere else in the library but nprobe_curve.
- plans/iterate.materialize — the checkpoint keeps the frame's hash layout
  and leaves the caller's AQE setting as it found it.
- operators/similarity.recall_report — the pooled row derived from the
  MATERIALIZED per-query table must equal the naive
  per.unionByName(per.agg(...)) form row-for-row.
- operators/similarity.nearest_cid — the parsed-SQL centroid literal must
  be value-identical to the F.lit element form it replaced (the py4j
  round-trip fix must not move a single bit).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gpu_mapreduce_spark.plans.iterate import (
    fixpoint,
    fixpoint_observed,
    materialize,
)


@pytest.fixture(scope="module")
def spark():
    from gpu_mapreduce_spark.session import get_spark

    return get_spark("test_iterate_observed", cpus=4, shuffle_partitions=4)


def _halving_step(df):
    # toy fixpoint: drop the top half of the ids each round until empty
    mx = F.max("v").over(Window.partitionBy())
    return df.withColumn("_mx", mx).filter(F.col("v") * 2 < F.col("_mx")).drop(
        "_mx"
    )


def test_fixpoint_observed_matches_probe_fixpoint(spark):
    state0 = spark.range(64).select(F.col("id").alias("v"))

    fix_a, rounds_a = fixpoint(
        state0,
        _halving_step,
        lambda _prev, cur: cur.isEmpty(),
        max_iter=20,
    )
    fix_b, rounds_b = fixpoint_observed(
        state0,
        _halving_step,
        lambda: F.count(F.lit(1)),
        lambda n: n == 0,
        max_iter=20,
    )
    assert rounds_a == rounds_b
    assert sorted(r.v for r in fix_a.collect()) == sorted(
        r.v for r in fix_b.collect()
    )


def test_fixpoint_observed_nonzero_metric_keeps_iterating(spark):
    # converge when fewer than 10 rows remain — metric value (not just
    # emptiness) must drive the decision
    state0 = spark.range(100).select(F.col("id").alias("v"))
    fix, rounds = fixpoint_observed(
        state0,
        _halving_step,
        lambda: F.count(F.lit(1)),
        lambda n: n < 10,
        max_iter=20,
    )
    n = fix.count()
    assert n < 10
    assert rounds >= 2


def test_fixpoint_observed_rows_pass_through_unchanged(spark):
    # CollectMetrics must be transparent: one no-op round returns the
    # exact input rows
    state0 = spark.range(7).select((F.col("id") * 3).alias("v"))
    fix, rounds = fixpoint_observed(
        state0,
        lambda df: df,
        lambda: F.count(F.lit(1)),
        lambda n: True,  # converge immediately after one step
        max_iter=5,
    )
    assert rounds == 1
    assert sorted(r.v for r in fix.collect()) == [0, 3, 6, 9, 12, 15, 18]


def test_observation_is_constructed_only_in_plans_iterate():
    """Loop state is materialized one way: plans.iterate.materialize is the
    only place an Observation is built, except queries/nprobe_curve.py,
    which observes a candidate stream that is never checkpointed."""
    from pathlib import Path

    import gpu_mapreduce_spark

    root = Path(gpu_mapreduce_spark.__file__).parent
    users = sorted(
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if "Observation(" in p.read_text()
    )
    assert users == ["plans/iterate.py", "queries/nprobe_curve.py"]


@pytest.mark.parametrize("prior", ["true", "false"])
def test_materialize_restores_the_callers_aqe_setting(spark, prior):
    """materialize plans its checkpoint with AQE off and hands the caller's
    value back, on return and when the action raises."""
    key = "spark.sql.adaptive.enabled"
    spark.conf.set(key, prior)
    try:
        materialize(spark.range(5))
        assert spark.conf.get(key) == prior
        boom = spark.range(3).select(F.raise_error(F.lit("boom")).alias("x"))
        with pytest.raises(Exception, match="boom"):
            materialize(boom)
        assert spark.conf.get(key) == prior
    finally:
        spark.conf.set(key, "true")


def test_materialize_snapshot_keeps_hash_layout(spark):
    """A hash-repartitioned frame checkpointed through materialize keeps its
    layout in the snapshot's LogicalRDD, with AQE on in the session."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = spark.range(100).select(
        F.col("id").alias("src"), (F.col("id") % 7).alias("dst")
    )
    snap, _ = materialize(df.repartition(3, "dst"))
    plan = snap._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert plan.outputPartitioning().toString().startswith("hashpartitioning(dst")


def test_recall_report_equals_naive_union_form(spark):
    from gpu_mapreduce_spark.operators import similarity

    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 11), (2, 20)], "qid bigint, vec_id bigint"
    )
    exact = spark.createDataFrame(
        [(1, 10), (1, 12), (2, 21), (3, 30)], "qid bigint, vec_id bigint"
    )
    k = 2
    per = similarity.recall_at_k(approx, exact, k)
    pooled_naive = per.agg(
        F.sum("n_hits").cast("bigint").alias("n_hits"),
        F.expr(f"(10000 * sum(n_hits)) div (count(1) * {k})")
        .cast("bigint")
        .alias("recall_u"),
    ).select(F.lit(-1).cast("bigint").alias("qid"), "n_hits", "recall_u")
    naive = sorted(map(tuple, per.unionByName(pooled_naive).collect()))
    got = sorted(
        map(tuple, similarity.recall_report(approx, exact, k).collect())
    )
    assert got == naive


def test_nearest_cid_sql_literal_matches_lit_form(spark):
    from gpu_mapreduce_spark.operators.similarity import nearest_cid

    rows = [
        (1, [0.5, -0.25, 1e-7]),
        (0, [-1.0, 0.125, 3.3333333333333335]),
        (2, [0.1, 0.2, -0.30000000000000004]),
    ]
    # the replaced form, reproduced verbatim
    old_cmat = F.array(
        *[
            F.struct(
                F.lit(cid).cast("int").alias("cid"), F.lit(ce).alias("ce")
            )
            for cid, ce in sorted(rows)
        ]
    )
    one = spark.range(1)
    old_val = one.select(old_cmat.alias("m")).collect()[0]["m"]
    # extract the new form's literal from the operator itself by probing
    # the expression over the same row
    emb = F.expr("array(CAST(0.5 AS DOUBLE), CAST(0.5 AS DOUBLE), CAST(0.5 AS DOUBLE))")
    got_cid = one.select(nearest_cid(emb, rows).alias("c")).collect()[0]["c"]
    # winner under quantized cosine must match the one computed from the
    # old literal values driver-side via the same argmax convention
    import math

    def qsim(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return math.floor(1e6 * (dot / (na * nb)))

    e = [0.5, 0.5, 0.5]
    best = max(
        ((qsim(e, ce), -cid) for cid, ce in rows),
    )
    assert got_cid == -best[1]
    # and the literal VALUES are bit-identical
    new_val = one.select(
        F.expr(
            "array({})".format(
                ",".join(
                    "named_struct('cid', CAST({} AS INT), 'ce', array({}))".format(
                        cid, ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in ce)
                    )
                    for cid, ce in sorted(rows)
                )
            )
        ).alias("m")
    ).collect()[0]["m"]
    assert old_val == new_val
