"""Distribution-drift monitor over the classifier score tier (r14 landing
of the SCALE.md wave-4 `score_drift_monitor` draft; core STAGED r13 in
functions/drift.py + tests/test_drift.py — the betweenness/hyperball/
qsketch discipline: risky integer convention one round early, Spark
wiring + oracle the round after).

Semantics (one convention, written in functions/drift.py, replayed
verbatim here and in the oracle): bin the quality-classifier scores
(operators/textstats.classifier_scores — the exact-integer linear score
every other quality registration shares) into fixed-width histogram
bins, split the corpus into two deterministic snapshots by doc_id
parity (the decontam split discipline: parity stands in for week A/B),
and compute the chi-square-style two-sample statistic in EXACT
cross-multiplied integers:

    bin i with counts n_i (N total) vs m_i (M total):
      contrib_i = (n_i*M - m_i*N)^2 div (n_i*M + m_i*N)
    stat = sum(contrib_i)       [empty-on-both-sides bins contribute 0]

PSI's ln and the classic chi-square's float division are NOT gateable
(the Efraimidis-Spirakis rejection); this statistic is bit-replayable in
both engines. Binning keeps every operand non-negative — bin_id =
(score_u + _SHIFT) div _BIN_W with _SHIFT = -1 * the provable score
floor — so DuckDB `//` == Spark `div` with no floor/truncate divergence.

The drift FLAG is pinned in scale-free classic-chi-square units so one
threshold transfers across snapshot sizes: stat is ~ N*M/(N+M) * chi2,
so  flag_drift = 1  iff  stat * (N + M) >= _K_CHI2 * N * M  — exact
integers throughout (HUGEINT in the oracle; arbitrary-precision Python
driver-side). _K_CHI2 = 50 is pinned against measured same-distribution
noise: the doc_id-parity split of the fixture corpus measures
chi2-normalized 10.5 (sf0.01) / 16.7 (sf0.001) / 14.4 (sf0.1) over
9-10 occupied bins — 50 sits >= 3x above all three while a genuine
share shift of a few percent at production N clears it immediately
(chi2 grows linearly in N at fixed drift; the noise term stays ~ #bins).

Plan shape: ONE corpus scan (the codegen classifier-score projection)
-> ONE map-side-combinable groupBy(bin_id) aggregate with the two
parity counters -> <= ~35 bounded rows collected driver-side (the
qsketch sketch-state discipline) -> the STAGED functions/drift.py core
computes contributions + statistic (its loud N*M BIGINT-envelope guard
is the registration's envelope assert — larger corpora rebin to
per-mille shares first, documented there) -> the result table is
rebuilt as a LocalTableScan. Output per occupied bin: (bin_id, n_i,
m_i, contrib) + the repeated (stat, n_tot, m_tot, flag_drift) — the
whole monitor state is the gate surface.

100 TB: the monitor reads two bounded histograms — cost is one scan of
each snapshot (in production the histogram is the map-side-combined
by-product of the quality gate's own scan, so the monitor itself moves
O(bins) rows); the driver fold is O(bins) integer algebra on kilobytes.
The anomaly-tier posture applied to model scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions.drift import drift_stat
from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.queries.quality_classifier import clf_score_ctes
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table, widen

# score_u = 3*stop_u + 2*uniq_u - 2*dup2_u - 1*top_u + 5*min(n_tokens, cap)
# with each ratio unit in [0, CLF_SCALE]: provable floor = -(2+1)*CLF_SCALE.
_SHIFT = 3 * ts.CLF_SCALE  # makes every binning operand non-negative
_BIN_W = 2500  # fixed width; score range spans <= (3+2)*SCALE + 5*cap
_K_CHI2 = 50  # scale-free flag threshold; >= 3x measured parity noise


def _hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin parity histogram: one scan, one combinable aggregate."""
    docs = table(spark, sf_dir, "documents")
    # compute-bound scoring over a single-split parquet: widen first
    scores = ts.classifier_scores(widen(docs)).select(
        F.expr(f"CAST((score_u + {_SHIFT}) div {_BIN_W} AS BIGINT)").alias(
            "bin_id"
        ),
        (F.col("doc_id") % 2).alias("par"),
    )
    return scores.groupBy("bin_id").agg(
        F.sum(F.when(F.col("par") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_i"),
        F.sum(F.when(F.col("par") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("m_i"),
    )


@register(
    "score_drift_monitor",
    # bench=False: the 67-query stdout line is at its tail-capture
    # ceiling (SCALE.md bench-set policy); the per-rotation driver run
    # prices this query's one corpus scan instead
    tags=("llm", "quality", "sketch"),
    oracle=f"""
        WITH {clf_score_ctes("documents")},
        h AS (
            SELECT (score_u + {_SHIFT}) // {_BIN_W} AS bin_id,
                   CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_i,
                   CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS m_i
            FROM sc GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(n_i) AS BIGINT) AS n_tot,
                   CAST(SUM(m_i) AS BIGINT) AS m_tot
            FROM h
        ),
        c AS (
            SELECT bin_id, n_i, m_i,
                   CASE WHEN n_i = 0 AND m_i = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(((n_i * m_tot - m_i * n_tot)
                                   * (n_i * m_tot - m_i * n_tot))
                                  // (n_i * m_tot + m_i * n_tot)
                                  AS BIGINT) END AS contrib,
                   n_tot, m_tot
            FROM h, tot
        ),
        s AS (SELECT CAST(SUM(contrib) AS BIGINT) AS stat FROM c)
        SELECT bin_id, n_i, m_i, contrib, stat, n_tot, m_tot,
               CAST(CASE WHEN CAST(stat AS HUGEINT) * (n_tot + m_tot)
                              >= {_K_CHI2} * CAST(n_tot AS HUGEINT) * m_tot
                         THEN 1 ELSE 0 END AS BIGINT) AS flag_drift
        FROM c, s ORDER BY bin_id
    """,
)
def score_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot score-drift monitor: per-bin parity histogram +
    exact-integer chi-square-style statistic + the scale-free flag —
    see module docstring."""
    bins = _hist(spark, sf_dir).collect()  # bounded: <= ~35 score bins
    a = {r.bin_id: r.n_i for r in bins}
    b = {r.bin_id: r.m_i for r in bins}
    # the STAGED core: contributions + statistic + the loud N*M
    # BIGINT-envelope guard (functions/drift.py)
    stat, contribs = drift_stat(a, b)
    n_tot, m_tot = sum(a.values()), sum(b.values())
    flag = 1 if stat * (n_tot + m_tot) >= _K_CHI2 * n_tot * m_tot else 0
    rows = [
        (i, a.get(i, 0), b.get(i, 0), contribs[i], stat, n_tot, m_tot, flag)
        for i in sorted(contribs)
    ]
    return spark.createDataFrame(
        rows,
        "bin_id bigint, n_i bigint, m_i bigint, contrib bigint,"
        " stat bigint, n_tot bigint, m_tot bigint, flag_drift bigint",
    ).orderBy("bin_id")
