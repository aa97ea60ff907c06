"""Oracle-checked queries for the iterative graph layer (cc_find, cc_stats,
cc_find_skew, sssp, pagerank; luby_find is registered in queries/rmat_gen.py
with its own unrolled-round oracle).

Oracle strategy: DuckDB has no fixpoint loop inside one statement, so each
oracle is a *generated* K-stage chain of CTEs running the same synchronous
rounds the Spark operator runs. K is fixed comfortably above the measured
convergence round count (min-label propagation converges in 9/5/3 rounds at
sf0.001/0.01/0.1 on the edges fixture), so oracle == fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import graph_iter
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures

_CC_STAGES = 16  # measured max convergence is 9 rounds (sf0.001); margin 7


def _cc_oracle_prefix(k: int = _CC_STAGES) -> str:
    """WITH-chain computing K synchronous min-label rounds over bidirected
    arcs; final labels in CTE l{k}(v, label)."""
    # Each stage references its predecessor twice; DuckDB inlines plain CTEs,
    # so without MATERIALIZED the expansion tree is O(2^k).
    parts = [
        fixtures.duckdb_with("edges"),
        ", arcs AS MATERIALIZED (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges)",
        ", l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS label FROM arcs)",
    ]
    for i in range(1, k + 1):
        parts.append(
            f""", l{i} AS MATERIALIZED (
                SELECT cur.v, LEAST(cur.label, COALESCE(mn.ml, cur.label)) AS label
                FROM l{i - 1} cur LEFT JOIN (
                    SELECT a.dst AS v, MIN(l.label) AS ml
                    FROM arcs a JOIN l{i - 1} l ON a.src = l.v GROUP BY a.dst
                ) mn ON cur.v = mn.v
            )"""
        )
    return "\n".join(parts)


def _arcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized dst-partitioned bidirected arc table (shared by
    cc_find, cc_stats, luby_find — the bucketed-at-rest analog)."""
    return fixtures.derived(
        spark,
        sf_dir,
        "arcs_by_dst",
        lambda: graph_iter.prepare_arcs(fixtures.edges_materialized(spark, sf_dir)),
    )


def _warcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized dst-partitioned weighted arc table (shared by sssp
    and sssp_multi): integer weight units wu = (31·src + dst) % 97 + 1.
    Derived from the materialized edge list: weighted_arcs reads its input
    twice (both directions), so an unmaterialized fixture would run the
    whole edges derivation twice."""

    def build() -> DataFrame:
        e = fixtures.edges_materialized(spark, sf_dir)
        wu = e.select(
            "src",
            "dst",
            ((F.col("src") * 31 + F.col("dst")) % 97 + 1).cast("bigint").alias("wu"),
        )
        return graph_iter.prepare_warcs(graph_iter.weighted_arcs(wu))

    return fixtures.derived(spark, sf_dir, "warcs_by_dst", build)


@register(
    "cc_find",
    bench=True,
    tags=("graph", "iterative"),
    oracle=f"""
        {_cc_oracle_prefix()}
        SELECT v, label AS zone FROM l{_CC_STAGES}
    """,
)
def cc_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc, _rounds = graph_iter.cc_find(
        fixtures.edges_materialized(spark, sf_dir), arcs=_arcs(spark, sf_dir)
    )
    return cc


@register(
    "cc_stats",
    tags=("graph", "iterative"),
    oracle=f"""
        {_cc_oracle_prefix()}
        SELECT csize, COUNT(*) AS ncomp
        FROM (SELECT label, COUNT(*) AS csize FROM l{_CC_STAGES} GROUP BY label)
        GROUP BY csize
        ORDER BY csize DESC
    """,
)
def cc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc, _rounds = graph_iter.cc_find(
        fixtures.edges_materialized(spark, sf_dir), arcs=_arcs(spark, sf_dir)
    )
    return graph_iter.cc_stats(cc)


_CC_SKEW_STAGES = 12  # measured convergence 5/3/2 rounds (sf0.001/0.01/0.1)


def _cc_skew_oracle_prefix(k: int = _CC_SKEW_STAGES) -> str:
    """Min-label rounds over the hub-skewed fixture graph (same chain shape
    as _cc_oracle_prefix, different input)."""
    parts = [
        fixtures.duckdb_with("edges_skew"),
        ", arcs AS MATERIALIZED (SELECT src, dst FROM edges_skew"
        " UNION ALL SELECT dst AS src, src AS dst FROM edges_skew)",
        ", l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS label FROM arcs)",
    ]
    for i in range(1, k + 1):
        parts.append(
            f""", l{i} AS MATERIALIZED (
                SELECT cur.v, LEAST(cur.label, COALESCE(mn.ml, cur.label)) AS label
                FROM l{i - 1} cur LEFT JOIN (
                    SELECT a.dst AS v, MIN(l.label) AS ml
                    FROM arcs a JOIN l{i - 1} l ON a.src = l.v GROUP BY a.dst
                ) mn ON cur.v = mn.v
            )"""
        )
    return "\n".join(parts)


@register(
    "cc_find_skew",
    bench=True,
    tags=("graph", "iterative", "skew"),
    oracle=f"""
        {_cc_skew_oracle_prefix()}
        SELECT csize, COUNT(*) AS ncomp
        FROM (SELECT label, COUNT(*) AS csize FROM l{_CC_SKEW_STAGES} GROUP BY label)
        GROUP BY csize
        ORDER BY csize DESC
    """,
)
def cc_find_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew stress for cc_find: connected components on the hub-skewed
    fixture graph (`edges_skew` — one vertex reaches degree |V|-1 at sf0.1,
    ~6.5% of all edges land on vertex 0). This is the workload the
    reference needed hand-rolled zone splitting for
    (oink/cc_find.cpp:43-55, zones > nthresh split across procs with hi-bit
    proc tags); here the same skew is absorbed by partial aggregation
    (the min-label groupBy runs over arcs already partitioned by dst, so
    the hub's updates collapse to one row in its own partition with no
    shuffle at all), with no operator-level special case. Output is the component-size
    histogram, so the driver check proves the giant component's exact
    size."""
    e = fixtures.derived(
        spark,
        sf_dir,
        "edges_skew_mat",
        lambda: fixtures.edges_skew(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True),
    )
    arcs = fixtures.derived(
        spark, sf_dir, "arcs_skew_by_dst", lambda: graph_iter.prepare_arcs(e)
    )
    cc, _rounds = graph_iter.cc_find(e, arcs=arcs)
    return graph_iter.cc_stats(cc)


_SSSP_STAGES = 24  # measured max convergence is 17 rounds (sf0.001); margin 7
_SSSP_SOURCE = 0  # always present: the 25-clique covers vertices 0..24


def _sssp_oracle(k: int = _SSSP_STAGES) -> str:
    parts = [
        fixtures.duckdb_with("wedges_u"),
        ", warcs AS MATERIALIZED (SELECT src, dst, wu FROM wedges_u"
        " UNION ALL SELECT dst AS src, src AS dst, wu FROM wedges_u)",
        f", d0 AS MATERIALIZED (SELECT CAST({_SSSP_SOURCE} AS BIGINT) AS v,"
        " CAST(0 AS BIGINT) AS du)",
    ]
    for i in range(1, k + 1):
        parts.append(
            f""", d{i} AS MATERIALIZED (
                SELECT v, MIN(du) AS du FROM (
                    SELECT v, du FROM d{i - 1}
                    UNION ALL
                    SELECT a.dst AS v, d.du + a.wu AS du
                    FROM warcs a JOIN d{i - 1} d ON a.src = d.v
                ) GROUP BY v
            )"""
        )
    parts.append(
        f"SELECT v, du, du / CAST(97.0 AS DOUBLE) AS dist FROM d{k}"
    )
    return "\n".join(parts)


@register(
    "sssp",
    bench=True,
    tags=("graph", "iterative"),
    oracle=_sssp_oracle(),
)
def sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest paths from vertex 0 in integer weight units (distances are
    sums of k/97 weights, so du = 97·dist is exact). Unreached vertices are
    omitted (the reference likewise only emits vertices whose distance was
    ever set, oink/sssp.cpp:170-172)."""
    warcs = _warcs(spark, sf_dir)
    dist, _rounds = graph_iter.sssp(warcs, _SSSP_SOURCE, arcs=warcs)
    return dist.select("v", "du", (F.col("du") / F.lit(97.0)).alias("dist"))


_SSSP_SOURCES = (0, 1, 2)  # clique members: valid sources at every sf


def _sssp_multi_oracle(k: int = _SSSP_STAGES) -> str:
    seeds = " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS s, CAST({s} AS BIGINT) AS v,"
        f" CAST(0 AS BIGINT) AS du"
        for s in _SSSP_SOURCES
    )
    parts = [
        fixtures.duckdb_with("wedges_u"),
        ", warcs AS MATERIALIZED (SELECT src, dst, wu FROM wedges_u"
        " UNION ALL SELECT dst AS src, src AS dst, wu FROM wedges_u)",
        f", d0 AS MATERIALIZED ({seeds})",
    ]
    for i in range(1, k + 1):
        parts.append(
            f""", d{i} AS MATERIALIZED (
                SELECT s, v, MIN(du) AS du FROM (
                    SELECT s, v, du FROM d{i - 1}
                    UNION ALL
                    SELECT d.s, a.dst AS v, d.du + a.wu AS du
                    FROM warcs a JOIN d{i - 1} d ON a.src = d.v
                ) GROUP BY s, v
            )"""
        )
    parts.append(
        f"SELECT s, v, du, du / CAST(97.0 AS DOUBLE) AS dist FROM d{k}"
    )
    return "\n".join(parts)


@register(
    "sssp_multi",
    tags=("graph", "iterative"),
    oracle=_sssp_multi_oracle(),
)
def sssp_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest paths from three sources in ONE keyed-frontier loop — the
    reference reruns its whole BFS per source (oink/sssp.cpp:88-180
    per-source driver loop); batching sources into the frontier key makes
    total rounds = max per-source rounds, not the sum. Shares the prepared
    weighted-arc table with sssp."""
    warcs = _warcs(spark, sf_dir)
    dist, _rounds = graph_iter.sssp_multi(
        warcs, list(_SSSP_SOURCES), arcs=warcs
    )
    return dist.select("s", "v", "du", (F.col("du") / F.lit(97.0)).alias("dist"))


_PR_ITERS = 10


def _pagerank_oracle(k: int = _PR_ITERS) -> str:
    scale = graph_iter.PR_SCALE
    parts = [
        fixtures.duckdb_with("edges"),
        ", arcs AS MATERIALIZED (SELECT src, dst FROM edges"
        " UNION ALL SELECT dst AS src, src AS dst FROM edges)",
        ", deg AS MATERIALIZED (SELECT src AS v, COUNT(*) AS outdeg"
        " FROM arcs GROUP BY src)",
        ", ad AS MATERIALIZED (SELECT a.src, a.dst, d.outdeg"
        " FROM arcs a JOIN deg d ON a.src = d.v)",
        f", tele AS (SELECT CAST(3 * {scale} // (20 * COUNT(*)) AS BIGINT) AS t,"
        f" CAST({scale} // COUNT(*) AS BIGINT) AS r0 FROM deg)",
        ", r0 AS MATERIALIZED (SELECT v, (SELECT r0 FROM tele) AS r FROM deg)",
    ]
    for i in range(1, k + 1):
        parts.append(
            f""", r{i} AS MATERIALIZED (
                SELECT p.v,
                       CAST((SELECT t FROM tele) + COALESCE(c.csum, 0) AS BIGINT) AS r
                FROM r{i - 1} p LEFT JOIN (
                    SELECT ad.dst AS v,
                           CAST(SUM((17 * rr.r) // (20 * ad.outdeg)) AS BIGINT) AS csum
                    FROM ad JOIN r{i - 1} rr ON ad.src = rr.v GROUP BY ad.dst
                ) c ON p.v = c.v
            )"""
        )
    parts.append(
        f"SELECT v, r AS rank_units, r / CAST(1e12 AS DOUBLE) AS rank FROM r{k}"
    )
    return "\n".join(parts)


@register(
    "pagerank",
    bench=True,
    tags=("graph", "iterative"),
    oracle=_pagerank_oracle(),
)
def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real pagerank (the reference's command is an empty stub,
    oink/pagerank.cpp:54-56): 10 synchronous iterations, alpha=0.85, in
    integer PR_SCALE-units so both engines agree bit-for-bit."""
    adn = fixtures.derived(
        spark,
        sf_dir,
        "arcs_deg_by_dst",
        lambda: graph_iter.prepare_arcs_deg(
            fixtures.edges_materialized(spark, sf_dir)
        ),
    )
    return graph_iter.pagerank(
        fixtures.edges_materialized(spark, sf_dir),
        num_iter=_PR_ITERS,
        arcs_deg_n=adn,
    )
