"""Jones-Plassmann graph coloring on a seeded R-MAT instance (r12 tail
registration; the SCALE.md r12 jones_plassmann_coloring design, operator
staged r11 at operators/graph_iter.jp_coloring) — greedy independent-set
coloring by deterministic hash priorities (Jones & Plassmann, SIAM J.
Sci. Comput. 1993), the scheduling / register-allocation primitive the
graph tier lacked.

Instance choice: the round count of JP is intrinsic to the priority
chains of the graph, not to the implementation — measured 84 rounds on
the shared N=12/Nz=4 R-MAT and 505 rounds on the sf0.1 edges fixture
(dense priority chains serialize), both beyond any honest CTE unroll.
The registration therefore runs its own deterministic power-law
instance, N=10 / Nz=2 / seed 12345 (602 vertices, 1 936 canonical
edges): measured 29 JP rounds, unrolled at {_JP_STAGES} with margin —
the kcore_rmat discipline of sizing the INSTANCE to a provable oracle
instead of truncating the ALGORITHM. The operator itself carries the
100 TB posture (broadcast vertex state against arcs that never move, the
cc_find posture).

Oracle: the parameterized generate-and-cull replay
(queries/rmat_gen._rmat_canon_sql at N=10/Nz=2) + {_JP_STAGES} unrolled
JP rounds, each exactly the operator's round: winners = strict maxima of
the packed (hash-priority, v) order among UNCOLORED neighbors (state
joined on arcs.src, neighbors read off dst — the operator's exact
orientation), min-absent color over candidates 0..k via the same
bounded series + anti-join. Rounds past completion are no-ops (the
uncolored set is empty), so the margin is harmless.

Output, one shape (v, color, n): per-vertex rows (v, color, -1) for the
full coloring, plus per-color class sizes as (-1, color, n) — the
hyperball_rmat pooled-rows convention. Properness and exact agreement
with a pure-Python JP twin are pinned in tests/test_graph_algorithms.py;
the hash gate here proves the Spark loop and the SQL unroll color every
vertex identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import graph, graph_iter, rmat
from gpu_mapreduce_spark.queries.rmat_gen import _rmat_canon_sql
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures

_N_JP, _NZ_JP, _SEED_GEN = 10, 2, 12345  # 602 verts, 1936 canonical edges
_GEN_K = 7  # measured: 4 generate-and-cull rounds; margin 3
_JP_SEED = 0
_JP_STAGES = 36  # measured convergence: 29 JP rounds; margin 7
_PRI_MOD = 1 << 40  # packed key: hash60 % 2^40 in the high bits ...
_V_SHIFT = 1 << 20  # ... vertex id in the low 20 (jp_coloring's envelope)


def _jp_edges(spark: SparkSession) -> DataFrame:
    """Canonical N=10/Nz=2 R-MAT edges, session-memoized (sf-independent,
    keyed under a fixed tag like the shared rmat graph)."""
    return fixtures.derived(
        spark,
        "-",
        "rmat_jp_edges",
        lambda: graph.edge_upper(
            rmat.rmat_edges(spark, _N_JP, _NZ_JP, seed=_SEED_GEN)[0]
        ).localCheckpoint(eager=True),
    )


def _jp_oracle(k: int = _JP_STAGES) -> str:
    """Generate-and-cull replay + K unrolled Jones-Plassmann rounds."""
    parts = [
        _rmat_canon_sql(_GEN_K, n=_N_JP, nz=_NZ_JP, seed=_SEED_GEN),
        ", jarcs AS MATERIALIZED (SELECT src, dst FROM canon"
        " UNION ALL SELECT dst AS src, src AS dst FROM canon)",
        f""", u0 AS MATERIALIZED (
            SELECT v,
                   (('0x' || substr(md5('jp{_JP_SEED}|' || CAST(v AS VARCHAR)),
                     1, 15))::BIGINT % {_PRI_MOD}) * {_V_SHIFT} + v AS p
            FROM (SELECT DISTINCT src AS v FROM jarcs)
        ), col0 AS MATERIALIZED (
            SELECT CAST(NULL AS BIGINT) AS v, CAST(NULL AS BIGINT) AS color
            WHERE 1 = 0
        )""",
    ]
    for i in range(1, k + 1):
        p = i - 1
        parts.append(
            f""", w{i} AS MATERIALIZED (
                SELECT u.v FROM u{p} u
                LEFT JOIN (
                    SELECT a.dst AS v, MAX(s.p) AS nmax
                    FROM jarcs a JOIN u{p} s ON a.src = s.v
                    GROUP BY a.dst
                ) n ON u.v = n.v
                WHERE n.v IS NULL OR u.p > n.nmax
            ), used{i} AS MATERIALIZED (
                SELECT w.v, c.color
                FROM w{i} w
                JOIN jarcs a ON a.dst = w.v
                JOIN col{p} c ON a.src = c.v
            ), ch{i} AS MATERIALIZED (
                SELECT cand.v, CAST(MIN(cand.c) AS BIGINT) AS color FROM (
                    SELECT v, unnest(generate_series(0, k)) AS c FROM (
                        SELECT w.v, COUNT(u2.color) AS k
                        FROM w{i} w LEFT JOIN used{i} u2 ON w.v = u2.v
                        GROUP BY w.v)
                ) cand
                LEFT JOIN used{i} u3 ON cand.v = u3.v AND cand.c = u3.color
                WHERE u3.v IS NULL
                GROUP BY cand.v
            ), col{i} AS MATERIALIZED (
                SELECT v, color FROM col{p}
                UNION ALL SELECT v, color FROM ch{i}
            ), u{i} AS MATERIALIZED (
                SELECT u.v, u.p FROM u{p} u
                LEFT JOIN w{i} w ON u.v = w.v WHERE w.v IS NULL
            )"""
        )
    parts.append(
        f"""SELECT v, color, CAST(-1 AS BIGINT) AS n FROM col{k}
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS v, color, CAST(COUNT(*) AS BIGINT) AS n
        FROM col{k} GROUP BY color
        ORDER BY v, color"""
    )
    return "\n".join(parts)


@register(
    "jones_plassmann_coloring",
    tags=("graph", "iterative", "generator"),
    # bench=False: ~29 driver-bounded rounds put the run at the iterative
    # scheduling floor (the msf_rmat precedent) — it pays its cost once per
    # rotation window in the driver correctness run instead
    oracle=_jp_oracle(),
)
def jones_plassmann_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full JP coloring of the N=10/Nz=2 R-MAT graph: per-vertex
    (v, color, -1) rows plus per-color class sizes (-1, color, n) — see
    module docstring. jp_coloring raises on bound exhaustion, so an
    oracle-unroll shortfall is loud, never a silent truncation."""
    edges = _jp_edges(spark)
    colored, _rounds = graph_iter.jp_coloring(
        edges, seed=_JP_SEED, max_rounds=_JP_STAGES
    )
    per_vertex = colored.select(
        "v", "color", F.lit(-1).cast("bigint").alias("n")
    )
    per_color = colored.groupBy("color").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).select(F.lit(-1).cast("bigint").alias("v"), "color", "n")
    return per_vertex.unionAll(per_color).orderBy("v", "color")
