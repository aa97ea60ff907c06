"""Maximal weighted matching on the seeded R-MAT graph (r14 landing of
the SCALE.md wave-4 `greedy_matching` draft) — the pair-resolution
primitive dedup pipelines run after candidate generation: every
near-dup pair wants at most one partner kept per side, heaviest pairs
first (operators/graph_iter.greedy_matching — Luby rounds on the line
graph without materializing it).

Weights are the scale harness's deterministic convention
wu = (src*31 + dst) % 97 + 1 (the msf_rmat convention verbatim), so
both engines derive identical weights with no stored table; the packed
priority (weight DESC, then src, dst — boruvka's packing with the
weight field inverted) is a strict total order, so the matched edge
SET is unique and gate-hashable exactly like luby_find's MIS.

Measured on the fixture: 6 rounds, matched counts [230, 191, 117, 81,
33, 7] = 659 edges over 2,623 vertices, total weight 49,579; greedy's
1/2-approximation bound and by-construction maximality are pinned in
tests/test_matching.py (brute force on hand graphs + the no-free-pair
anti-join on the fixture).

Oracle: the round loop unrolled — 8 rounds (measured 6 + margin 2),
each carrying the per-vertex min over the src/dst-tagged union, the
both-endpoints-strict-best winner join, and the two-sided anti-join
drop; extra rounds are no-ops at the fixed point (the kcore-unroll
property). The in-query guard raises if the operator ever uses more
rounds than the unroll — loud on both sides (the msf_rmat discipline).

100 TB: per round cost ∝ LIVE edges (halving geometry like
luby/boruvka); the per-vertex min is one map-side-combinable aggregate
and the state joins broadcast the per-vertex mins. The
matched set streams out incrementally — nothing driver-side but one
count scalar per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import graph_iter
from gpu_mapreduce_spark.queries.kcore_rmat import _canon_arcs
from gpu_mapreduce_spark.queries.rmat_gen import _rmat_canon_sql
from gpu_mapreduce_spark.registry import register

_ROUNDS = 8  # measured 6 + margin 2
_VS = 1 << 20
_WU_CAP = (1 << 22) - 1


def _matching_oracle(rounds: int = _ROUNDS) -> str:
    parts = [
        _rmat_canon_sql(),
        f""", l1 AS MATERIALIZED (
            SELECT src, dst, (src * 31 + dst) % 97 + 1 AS wu,
                   ({_WU_CAP} - ((src * 31 + dst) % 97 + 1)) * {1 << 40}
                   + src * {_VS} + dst AS pk
            FROM canon
        )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", vm{r} AS MATERIALIZED (
                SELECT v, MIN(pk) AS vm FROM (
                    SELECT src AS v, pk FROM l{r}
                    UNION ALL
                    SELECT dst AS v, pk FROM l{r}
                ) GROUP BY v
            ), w{r} AS MATERIALIZED (
                SELECT e.src, e.dst, e.wu
                FROM l{r} e
                JOIN vm{r} a ON a.v = e.src AND a.vm = e.pk
                JOIN vm{r} b ON b.v = e.dst AND b.vm = e.pk
            ), mv{r} AS MATERIALIZED (
                SELECT src AS v FROM w{r}
                UNION
                SELECT dst AS v FROM w{r}
            ), l{r + 1} AS MATERIALIZED (
                SELECT e.src, e.dst, e.wu, e.pk
                FROM l{r} e
                LEFT JOIN mv{r} a ON a.v = e.src
                LEFT JOIN mv{r} b ON b.v = e.dst
                WHERE a.v IS NULL AND b.v IS NULL
            )"""
        )
    union = " UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS round, src, dst, wu FROM w{r}"
        for r in range(1, rounds + 1)
    )
    parts.append(
        f"""SELECT round, CAST(src AS BIGINT) AS src,
               CAST(dst AS BIGINT) AS dst, CAST(wu AS BIGINT) AS wu
        FROM ({union}) ORDER BY src, dst"""
    )
    return "\n".join(parts)


@register(
    "greedy_matching",
    # bench=False: the bench stdout line is at its tail-capture ceiling
    # (SCALE.md bench-set policy); the rotation driver run prices this
    tags=("graph", "iterative", "generator"),
    oracle=_matching_oracle(),
)
def greedy_matching_rmat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique maximal weighted matching (round, src, dst, wu) of the
    canonicalized R-MAT graph under deterministic weights — see module
    docstring."""
    edges, _arcs = _canon_arcs(spark)
    w = edges.select(
        "src",
        "dst",
        ((F.col("src") * 31 + F.col("dst")) % 97 + 1)
        .cast("bigint")
        .alias("wu"),
    )
    matched, counts = graph_iter.greedy_matching(w, max_rounds=_ROUNDS + 1)
    if len(counts) > _ROUNDS:
        raise AssertionError(
            f"greedy_matching ran {len(counts)} rounds > oracle unroll"
            f" {_ROUNDS}; raise _ROUNDS (oracle shortfall, not an operator"
            " bug)"
        )
    return matched.orderBy("src", "dst")
