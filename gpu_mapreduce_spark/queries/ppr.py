"""Personalized PageRank (r12 tail registration; the SCALE.md r13
personalized_pagerank design, landed in-round) — source-biased
random-walk proximity over the edges fixture: the teleport vector
concentrates on the betweenness_rmat source set {0, 1, 2, 3} instead of
uniform, making the scores 'closeness to these seeds under a damped
walk' — THE graph-proximity primitive recommendation and
query-expansion pipelines run, and the natural personalization of the
suite's pagerank (whose reference command is an empty stub the plain
registration already fills — oink/pagerank.cpp:54-56).

Semantics are pagerank's integer discipline verbatim
(operators/graph_iter.personalized_pagerank): ranks in PR_SCALE = 1e12
BIGINT units, per-round contributions (17 * r) div (20 * outdeg),
teleport 3 * PR_SCALE div (20 * 4) landing only on the four sources,
init PR_SCALE div 4 on sources / 0 elsewhere, 10 synchronous rounds.
Integer floor at every step → bit-identical across engines and
partitionings; remainder mass sheds identically (never redistributed —
the convention is written once in the operator docstring and replayed
by the oracle).

Oracle: 10 unrolled CTE rounds of the same integer algebra over the
fixtures edge CTE — pagerank's oracle with the CASE-gated teleport and
seeded init. 100 TB: identical posture to pagerank (one arcs_deg ⋈
state join + map-side-combinable SUM per round, the state broadcast
and the arcs never moving); the personalization adds only a
literal IN over the O(|S|) source list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gpu_mapreduce_spark.operators import graph_iter
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures

_SOURCES = [0, 1, 2, 3]  # the betweenness_rmat seed set, on-clique at every sf
_ITERS = 10


def _ppr_oracle(k: int = _ITERS) -> str:
    scale = graph_iter.PR_SCALE
    src_list = ", ".join(str(s) for s in _SOURCES)
    ns = len(_SOURCES)
    tele = 3 * scale // (20 * ns)
    parts = [
        fixtures.duckdb_with("edges"),
        ", arcs AS MATERIALIZED (SELECT src, dst FROM edges"
        " UNION ALL SELECT dst AS src, src AS dst FROM edges)",
        ", deg AS MATERIALIZED (SELECT src AS v, COUNT(*) AS outdeg"
        " FROM arcs GROUP BY src)",
        ", ad AS MATERIALIZED (SELECT a.src, a.dst, d.outdeg"
        " FROM arcs a JOIN deg d ON a.src = d.v)",
        f""", r0 AS MATERIALIZED (
            SELECT v, CAST(CASE WHEN v IN ({src_list})
                           THEN {scale // ns} ELSE 0 END AS BIGINT) AS r
            FROM deg
        )""",
    ]
    for i in range(1, k + 1):
        parts.append(
            f""", r{i} AS MATERIALIZED (
                SELECT p.v,
                       CAST(CASE WHEN p.v IN ({src_list}) THEN {tele}
                            ELSE 0 END + COALESCE(c.csum, 0) AS BIGINT) AS r
                FROM r{i - 1} p LEFT JOIN (
                    SELECT ad.dst AS v,
                           CAST(SUM((17 * rr.r) // (20 * ad.outdeg)) AS BIGINT) AS csum
                    FROM ad JOIN r{i - 1} rr ON ad.src = rr.v GROUP BY ad.dst
                ) c ON p.v = c.v
            )"""
        )
    parts.append(
        f"SELECT v, r AS ppr_units, r / CAST(1e12 AS DOUBLE) AS ppr"
        f" FROM r{k} ORDER BY v"
    )
    return "\n".join(parts)


@register(
    "personalized_pagerank",
    tags=("graph", "iterative"),
    oracle=_ppr_oracle(),
)
def personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10 rounds of source-biased PageRank from seeds {0,1,2,3} over the
    edges fixture, in exact PR_SCALE units — see module docstring."""
    adn = fixtures.derived(
        spark,
        sf_dir,
        "arcs_deg_by_dst",
        lambda: graph_iter.prepare_arcs_deg(
            fixtures.edges_materialized(spark, sf_dir)
        ),
    )
    return graph_iter.personalized_pagerank(
        fixtures.edges_materialized(spark, sf_dir),
        sources=_SOURCES,
        num_iter=_ITERS,
        arcs_deg_n=adn,
    ).orderBy("v")
