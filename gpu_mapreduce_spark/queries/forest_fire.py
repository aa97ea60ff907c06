"""Forest-fire graph sampling on the canonical R-MAT graph (r12 tail
registration; the SCALE.md r13 graph_sample_forest_fire design, landed
in-round) — the subgraph-extraction primitive an at-scale graph
pipeline runs BEFORE an expensive exact analysis (Leskovec &
Faloutsos, KDD 2006: forest-fire samples preserve degree/clustering
shape far better than uniform vertex/edge sampling). Deterministic by
the portable-hash arc draw, so the sampled subgraph itself goes through
the hash gate (operators/graph_iter.forest_fire_sample: survive iff
hash60('ff{r}|src|dst') >> 7 < 3 * 2^53 div 10 — p = 0.3 as one exact
integer literal).

Seeds are the betweenness source set {0,1,2,3} (R-MAT hubs), rounds
fixed at {_ROUNDS} (the hyperball fixed-radius discipline — the sample
is radius-resolved by construction; measured on this graph the fire
burns 1,751 of 2,623 vertices and samples ~3.1k arcs, a real subgraph
with structure, not a near-copy).

Output, one shape (r, src, dst): every surviving arc per round, plus
per-round newly-burned counts as (r, -1, n) — countDistinct(dst) per
round equals the new-frontier size exactly because burned vertices are
excluded from candidacy before the round (round-synchronous no-revisit).
Oracle: {_ROUNDS} unrolled CTE rounds of the same join + anti-join +
threshold draw over the generate-and-cull replay.

100 TB: per round one frontier ⋈ arcs join (frontier broadcast, arcs
never moving) + an anti-join against the burned vertex
state; cost ∝ arcs touched by the fire, never |E|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import graph_iter
from gpu_mapreduce_spark.queries.kcore_rmat import _canon_arcs
from gpu_mapreduce_spark.queries.rmat_gen import _rmat_canon_sql
from gpu_mapreduce_spark.registry import register

_SEEDS = [0, 1, 2, 3]
_ROUNDS = 4
_T_NUM, _T_DEN = 3, 10  # survival probability p = 0.3
_THRESH = _T_NUM * (1 << 53) // _T_DEN


def _ff_oracle(rounds: int = _ROUNDS) -> str:
    seed_list = ", ".join(str(s) for s in _SEEDS)
    parts = [
        _rmat_canon_sql(),
        ", farcs AS MATERIALIZED (SELECT src, dst FROM canon"
        " UNION ALL SELECT dst AS src, src AS dst FROM canon)",
        f""", b0 AS MATERIALIZED (
            SELECT CAST(unnest([{seed_list}]) AS BIGINT) AS v
        ), f0 AS MATERIALIZED (SELECT v FROM b0)""",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""", s{r} AS MATERIALIZED (
                SELECT a.src, a.dst FROM farcs a
                JOIN f{p} f ON a.src = f.v
                LEFT JOIN b{p} b ON a.dst = b.v
                WHERE b.v IS NULL
                  AND (('0x' || substr(md5('ff{r}|' || CAST(a.src AS VARCHAR)
                        || '|' || CAST(a.dst AS VARCHAR)), 1, 15))::BIGINT
                       >> 7) < {_THRESH}
            ), f{r} AS MATERIALIZED (
                SELECT DISTINCT dst AS v FROM s{r}
            ), b{r} AS MATERIALIZED (
                SELECT v FROM b{p} UNION ALL SELECT v FROM f{r}
            )"""
        )
    arc_union = " UNION ALL ".join(
        f"SELECT {r} AS r, src, dst FROM s{r}" for r in range(1, rounds + 1)
    )
    cnt_union = " UNION ALL ".join(
        f"SELECT {r} AS r, CAST(-1 AS BIGINT) AS src,"
        f" CAST(COUNT(*) AS BIGINT) AS dst FROM f{r}"
        for r in range(1, rounds + 1)
    )
    parts.append(
        f"""SELECT CAST(r AS INT) AS r, src, dst FROM (
            {arc_union} UNION ALL {cnt_union}
        ) ORDER BY r, src, dst"""
    )
    return "\n".join(parts)


@register(
    "forest_fire_sample",
    tags=("graph", "iterative", "sampling", "generator"),
    oracle=_ff_oracle(),
)
def forest_fire_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The p=0.3 forest-fire sample of the canonical R-MAT graph from
    seeds {0,1,2,3} at {_ROUNDS} rounds: surviving arcs per round plus
    per-round newly-burned counts — see module docstring."""
    edges, arcs = _canon_arcs(spark)
    ff = graph_iter.forest_fire_sample(
        edges,
        seeds=_SEEDS,
        rounds=_ROUNDS,
        t_num=_T_NUM,
        t_den=_T_DEN,
        arcs=arcs,
    )
    per_round = ff.groupBy("r").agg(
        F.countDistinct("dst").cast("bigint").alias("n")
    )
    # a round where the fire dies samples nothing: the oracle still emits
    # its (r, -1, 0) row (COUNT over an empty CTE), so emit all rounds here
    rounds = spark.createDataFrame(
        [(r,) for r in range(1, _ROUNDS + 1)], "r int"
    )
    counts = rounds.join(per_round, "r", "left").select(
        "r",
        F.lit(-1).cast("bigint").alias("src"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("dst"),
    )
    return ff.unionByName(counts).orderBy("r", "src", "dst")
