"""HyperBall neighborhood function on the seeded R-MAT graph (r11 tail
registration; the SCALE.md r12 hyperball_neighborhood design, landed
in-round with its staged operator) — the graph × sketch crossover:
per-vertex HLL registers of the radius-r ball, folded register-wise
along edges one round at a time (Boldi & Vigna, *In-Core Computation of
Geometric Centralities with HyperBall*, 2013; Kang et al.'s HADI), THE
way distance distributions are computed when per-vertex BFS is
unaffordable.

Registered output, one shape (r, v, n_regs, reg_sum):
  * pooled rows (r, -1, total state rows, total register sum) for every
    round r = 0.._R — the integer-exact trajectory of the neighborhood
    function's sketch state (monotone non-decreasing in r, stationary
    iff converged);
  * per-vertex rows at r = _R only — each vertex's filled-bucket count
    and register sum for its radius-_R ball sketch.
Register sums are EXACT integers, so the gate needs no estimator
tolerance; the float HLL estimate stays out of the gate (the hll.py
discipline) and the estimator's honesty is pinned far more strongly in
tests/test_graph_algorithms.py: the round-_R registers of the R-MAT
hubs must equal the brute-force HLL sketch of their EXACT BFS
radius-_R balls — register-identical, not approximately right.

Oracle: _R unrolled rounds of the same register algebra in MATERIALIZED
DuckDB CTEs (the kcore/msf unroll discipline) — per round one
arcs ⋈ state join + per-(v, b) MAX — from the same canonicalized R-MAT
graph and functions/hllest's register derivation (its DuckDB mirror
over the 60-bit md5-prefix hash of the vertex id). Round count is FIXED
by construction on both sides, so there is no truncation risk to guard:
extra rounds would be fixed-point no-ops, fewer would change both
engines identically.

100 TB: per round ONE join of the arc list against a state table of
<= 64 rows per vertex — only (v, b, reg) BIGINT triples shuffle, the
map-side max-combine bounds hub fan-in, and no vertex ever
materializes its ball. Choosing _R below the diameter is not a
shortcut but the POINT: the registration is distance-resolved (on an
undirected graph the fixed point collapses to per-component-constant
sketches, which cc_find already answers exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions import hllest
from gpu_mapreduce_spark.operators import graph_iter
from gpu_mapreduce_spark.queries.kcore_rmat import _canon_arcs
from gpu_mapreduce_spark.queries.rmat_gen import _rmat_canon_sql
from gpu_mapreduce_spark.registry import register

_R = 3  # fixed radius: distance-resolved, below the ~6-8 R-MAT diameter


def _hyperball_cte_sql(rounds: int = _R) -> str:
    """The WITH-chain through hb{rounds}: canonical R-MAT graph, register
    init (hllest's derivation), and `rounds` unrolled register folds —
    shared with queries/hyperball_harmonic.py, whose estimator read-out
    layers on the same hb{r} states."""
    bucket, rho = hllest.duckdb_bucket_rho("h")
    parts = [
        _rmat_canon_sql(),
        f""", hverts AS MATERIALIZED (
            SELECT DISTINCT v FROM (
                SELECT src AS v FROM canon UNION SELECT dst FROM canon)
        ), harcs AS MATERIALIZED (
            SELECT src, dst FROM canon
            UNION ALL SELECT dst AS src, src AS dst FROM canon
        ), hb0 AS MATERIALIZED (
            SELECT v, CAST({bucket} AS BIGINT) AS b,
                   CAST({rho} AS BIGINT) AS reg
            FROM (SELECT v,
                         ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))
                             ::BIGINT AS h
                  FROM hverts)
        )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", hb{r} AS MATERIALIZED (
                SELECT v, b, MAX(reg) AS reg FROM (
                    SELECT v, b, reg FROM hb{r - 1}
                    UNION ALL
                    SELECT a.src AS v, s.b, s.reg
                    FROM harcs a JOIN hb{r - 1} s ON s.v = a.dst
                ) GROUP BY v, b
            )"""
        )
    return "\n".join(parts)


def _hyperball_oracle(rounds: int = _R) -> str:
    parts = [_hyperball_cte_sql(rounds)]
    pooled = " UNION ALL ".join(
        f"""SELECT {r} AS r, CAST(-1 AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS n_regs,
               CAST(SUM(reg) AS BIGINT) AS reg_sum FROM hb{r}"""
        for r in range(rounds + 1)
    )
    parts.append(
        f"""SELECT CAST(r AS INT) AS r, v, n_regs, reg_sum FROM (
            {pooled}
            UNION ALL
            SELECT {rounds} AS r, v, CAST(COUNT(*) AS BIGINT) AS n_regs,
                   CAST(SUM(reg) AS BIGINT) AS reg_sum
            FROM hb{rounds} GROUP BY v
        ) ORDER BY r, v"""
    )
    return "\n".join(parts)


@register(
    "hyperball_rmat",
    tags=("graph", "iterative", "sketch", "generator"),
    oracle=_hyperball_oracle(),
)
def hyperball_rmat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled per-round HyperBall state trajectory plus per-vertex
    radius-{_R} ball-sketch summaries on the canonical R-MAT graph —
    see module docstring."""
    edges, _arcs = _canon_arcs(spark)
    states = graph_iter.hyperball_rounds(edges, _R)
    pooled = [
        st.agg(
            F.lit(r).cast("int").alias("r"),
            F.lit(-1).cast("bigint").alias("v"),
            F.count(F.lit(1)).cast("bigint").alias("n_regs"),
            F.sum("reg").cast("bigint").alias("reg_sum"),
        )
        for r, st in enumerate(states)
    ]
    per_vertex = (
        states[_R]
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_regs"),
            F.sum("reg").cast("bigint").alias("reg_sum"),
        )
        .select(F.lit(_R).cast("int").alias("r"), "v", "n_regs", "reg_sum")
    )
    out = pooled[0]
    for p in pooled[1:]:
        out = out.unionAll(p)
    return out.unionAll(per_vertex).orderBy("r", "v")
