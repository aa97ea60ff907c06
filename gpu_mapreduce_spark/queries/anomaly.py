"""Arrival-rate anomaly flags over the event stream (r12 tail
registration; the SCALE.md r13 arrival_rate_anomaly design, landed
in-round) — the monitoring query every event pipeline runs against
itself: per (hour-of-day, event_type) a long-run baseline of the
per-(day, hour) arrival counts, and a spike flag for cells that exceed
it by more than K sigma. Everything is EXACT integer arithmetic — no
sqrt, no float variance — so the flags themselves go through the hash
gate:

    z^2 > K^2  <=>  (n*cnt - s1)^2 > K^2 * (n*s2 - s1^2)
    spike-only:  n*cnt > s1

with n = observed (day, hour, type) cells for that (hour, type), s1 =
sum of their counts, s2 = sum of squares (the kmeanspp/PPS
cross-multiplication discipline: the compare is the definition). K = 2
(measured 42 / 131 / 93 flags of 868 / 3,385 / 3,600 cells at the three
driver scales — a real signal, not an empty or saturated gate).
Convention notes, stated not hidden: the baseline is over OBSERVED
cells only (an hour with zero events contributes no cell — right for
spike detection, which is the registered direction; dropout detection
would need the day-spine densification this deliberately avoids), and
the integer envelope n * s2 < 2^62 is ASSERTED loudly Spark-side (at
the fixture scale max n*s2 ~ 1e13; a deployment past the envelope
re-derives in DECIMAL — the hllest.py machinery).

Output, one shape (sec, d, hh, event_type, a, b, c):
  * ('mom', '*', hh, type, n, s1, s2) — the baseline table itself
    (<= 24 * |types| rows), so the gate verifies the moments, not just
    their consequences;
  * ('flag', d, hh, type, cnt, n*cnt - s1, n) — every flagged cell
    with its deviation numerator.

100 TB: the fine count is ONE map-side-combinable aggregate over the
raw stream (the hist_rollup posture — the stream is touched once); the
moment fold runs on the geometry-bounded fine table (days * 24 * types
rows); the flag join broadcasts the <= 24 * |types| baseline back onto
it. Nothing data-sized shuffles twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.plans.iterate import materialize
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table

_K = 2  # flag threshold in sigmas (exact: K^2 on the cross-multiplied form)


@register(
    "arrival_rate_anomaly",
    tags=("analytics", "events", "sketch"),
    oracle=f"""
        WITH fine AS (
            SELECT strftime(ts, '%Y-%m-%d') AS d, strftime(ts, '%H') AS hh,
                   event_type, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2, 3
        ), mom AS (
            SELECT hh, event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cnt) AS BIGINT) AS s1,
                   CAST(SUM(cnt * cnt) AS BIGINT) AS s2
            FROM fine GROUP BY hh, event_type
        )
        SELECT sec, d, hh, event_type, a, b, c FROM (
            SELECT 'mom' AS sec, '*' AS d, hh, event_type,
                   n AS a, s1 AS b, s2 AS c
            FROM mom
            UNION ALL
            SELECT 'flag', f.d, f.hh, f.event_type,
                   f.cnt, m.n * f.cnt - m.s1, m.n
            FROM fine f JOIN mom m ON f.hh = m.hh
                                  AND f.event_type = m.event_type
            WHERE m.n * f.cnt > m.s1
              AND (m.n * f.cnt - m.s1) * (m.n * f.cnt - m.s1)
                  > {_K * _K} * (m.n * m.s2 - m.s1 * m.s1)
        ) ORDER BY sec, d, hh, event_type
    """,
)
def arrival_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(hour, type) integer moment baseline plus K={_K}-sigma spike
    flags over the per-(day, hour, type) arrival counts — see module
    docstring."""
    # fine has THREE consumers (the moment fold, the mom rows branch and
    # the flag join) — materialize the one stream-touching aggregate once
    # (r14: the lazy form re-ran the events scan+group per branch, so the
    # docstring's "the stream is touched once" was only true per-branch).
    fine = (
        table(spark, sf_dir, "events")
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
            F.date_format("ts", "HH").alias("hh"),
            "event_type",
        )
        .groupBy("d", "hh", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    # the BIGINT-envelope scalar rides the baseline's own checkpoint
    # (plans.iterate.materialize: no separate probe job)
    mom, env = materialize(
        fine.groupBy("hh", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cnt").cast("bigint").alias("s1"),
            F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("s2"),
        ),
        F.max(F.col("n") * F.col("s2")),
    )
    if env is not None and env >= 1 << 62:
        raise RuntimeError(
            f"arrival_rate_anomaly: n*s2 = {env} breaches the BIGINT"
            " variance envelope; re-derive the compare in DECIMAL"
        )
    mom_rows = mom.select(
        F.lit("mom").alias("sec"),
        F.lit("*").alias("d"),
        "hh",
        "event_type",
        F.col("n").alias("a"),
        F.col("s1").alias("b"),
        F.col("s2").alias("c"),
    )
    # bcast-audit: the <= 24 * |types| baseline joins back onto fine
    dev = F.col("n") * F.col("cnt") - F.col("s1")
    flags = (
        fine.join(F.broadcast(mom), ["hh", "event_type"])
        .filter(
            (F.col("n") * F.col("cnt") > F.col("s1"))
            & (
                dev * dev
                > F.lit(_K * _K)
                * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
            )
        )
        .select(
            F.lit("flag").alias("sec"),
            "d",
            "hh",
            "event_type",
            F.col("cnt").alias("a"),
            dev.cast("bigint").alias("b"),
            F.col("n").alias("c"),
        )
    )
    return mom_rows.unionByName(flags).orderBy("sec", "d", "hh", "event_type")
