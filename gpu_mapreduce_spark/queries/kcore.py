"""K-core decomposition query (graph-layer extension; tail-registered per
the SURVEY §2.6 discipline so it queues behind the driver's staleness
window).

Oracle strategy: same as cc_find (queries/graph_iter.py) — DuckDB has no
fixpoint loop, so the oracle unrolls the synchronous peel as a generated
CTE chain. Peeling is idempotent at the fixpoint, so any unroll count at
or above the measured convergence round count replays it exactly
(measured: 6 rounds at sf0.01, 2 at sf0.001, 1 at sf0.1; unroll 14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import graph_iter
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures

# K = 24: the edges fixture embeds the 25-nation clique (fixtures.edges_raw
# unions `nation a x nation b`), and a 25-clique is a 24-core by
# construction — so the output is NON-EMPTY at every scale factor, while
# the lineitem-derived bulk of the graph peels away wherever its density
# sits below 24 (fully at sf0.001, over 6 rounds at sf0.01; at sf0.1 the
# whole graph is denser than 24 and survives round 1 — still a full
# induced-degree computation, just a one-round fixpoint).
_K = 24
_STAGES = 14


def _kcore_oracle(k: int = _K, stages: int = _STAGES) -> str:
    parts = [
        fixtures.duckdb_with("edges"),
        ", arcs AS MATERIALIZED (SELECT src, dst FROM edges"
        " UNION ALL SELECT dst AS src, src AS dst FROM edges)",
        ", r0 AS MATERIALIZED (SELECT src AS v,"
        " CAST(COUNT(*) AS BIGINT) AS core_deg FROM arcs GROUP BY src)",
    ]
    for i in range(1, stages + 1):
        parts.append(
            f""", c{i - 1} AS MATERIALIZED (
                SELECT v FROM r{i - 1} WHERE core_deg >= {k}
            ), r{i} AS MATERIALIZED (
                SELECT a.src AS v, CAST(COUNT(*) AS BIGINT) AS core_deg
                FROM arcs a
                JOIN c{i - 1} s ON a.src = s.v
                JOIN c{i - 1} t ON a.dst = t.v
                GROUP BY a.src
            )"""
        )
    parts.append(f"SELECT v, core_deg FROM r{stages} ORDER BY v")
    return "\n".join(parts)


@register(
    "kcore", bench=True, tags=("graph", "iterative"), oracle=_kcore_oracle()
)
def kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertices of the {_K}-core of the edges fixture with their degree
    inside the core-induced subgraph (operators/graph_iter.kcore — the
    synchronous-peel fixpoint; see its docstring for the per-round plan:
    the survivor set is broadcast against arcs that never move)."""
    from gpu_mapreduce_spark.queries.graph_iter import _arcs

    core, _rounds = graph_iter.kcore(
        fixtures.edges_materialized(spark, sf_dir),
        k=_K,
        arcs=_arcs(spark, sf_dir),
    )
    # the oracle replays exactly _STAGES peel rounds; peeling is idempotent
    # AT the fixpoint, so an unroll shortfall would surface as a silent
    # hash mismatch that looks like an operator bug — fail loudly instead
    # (ADVICE r04). Measured max is 6 rounds; margin 8.
    if _rounds > _STAGES:
        raise AssertionError(
            f"kcore converged in {_rounds} rounds > oracle unroll {_STAGES};"
            " raise _STAGES (oracle shortfall, not an operator bug)"
        )
    return core.orderBy("v")
