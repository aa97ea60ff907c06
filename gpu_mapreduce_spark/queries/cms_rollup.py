"""Count-min sketch grain rollup (r11 tail registration; the SCALE.md
r12 cms_merge_rollup design, landed in-round) — the mergeability PROOF
for the frequency sketch, completing the trio: HLL registers fold by
elementwise MAX (hll_merge_rollup), histogram bins by elementwise SUM
(hist_quantile_rollup), and count-min cells by elementwise SUM too —
CMS is a LINEAR sketch (Cormode-Muthukrishnan §4.1), so folding partial
sketches is exact, not merely error-preserving: sketch(A ∪ B) =
sketch(A) + sketch(B) cell for cell.

Physical-path proof (the hll_merge_rollup discipline): the Spark side
computes per-(day, hour, row, bucket) partial counters and folds the 24
hourly partials into per-(day, row, bucket) by integer addition; the
DuckDB oracle computes the daily cells DIRECTLY from raw events. Hash
equality of the full (d, j, b, c) cell table across engines IS the
linearity law, exercised on 30 days x 24 hours of real grouping keys.

The hash family is cms_heavy_hitters' (functions/cms.py, one
definition for every CMS query), so the folded daily sketch is THE
estimator already pinned: the one-sided
estimate law (min over rows >= exact count, collisions one-sided) is
re-checked at the rolled-up grain in tests/test_cms_rollup.py, keeping
the estimator read-out out of the gate exactly as hll_rollup keeps the
float estimate out.

Sketch key = event_type (5 values at every sf — every non-empty cell is
some key's bucket, so the registered cell table covers the entire
reachable sketch). 100 TB: the raw stream is touched ONCE at the finest
grain in one map-side-combinable count; every coarser grain folds
d*w = 64 integer cells per group — the rollup shuffles kilobytes, and
the merge tree can have any shape (addition is associative/commutative,
retry-safe under exactly-once folds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions import cms
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table


@register(
    "cms_merge_rollup",
    tags=("analytics", "sketch", "incremental", "events"),
    # the oracle computes daily cells DIRECTLY from raw; the Spark side
    # folds hourly partials cell-wise — one result, two physical paths
    # (the sketch-linearity law through the hash gate)
    oracle=f"""
        WITH e AS (
            SELECT strftime(ts, '%Y-%m-%d') AS d, event_type AS k
            FROM events
        ),
        entries AS (
            SELECT d, g.j, {cms.duckdb_entries("k")} AS b
            FROM e, generate_series(0, {cms.D - 1}) g(j)
        )
        SELECT d, CAST(j AS INT) AS j, CAST(b AS INT) AS b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM entries GROUP BY d, j, b ORDER BY d, j, b
    """,
)
def cms_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(day, row, bucket) count-min cells over events.event_type,
    computed as a cell-wise SUM of per-(day, hour) partial sketches —
    hash-equal to the oracle's direct daily construction."""
    ev = table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.date_format("ts", "HH").alias("hh"),
        F.col("event_type").alias("k"),
    )
    entries = ev.select(
        "d", "hh", cms.entries(F.col("k")).alias("e")
    ).select("d", "hh", "e.j", "e.b")
    hourly = entries.groupBy("d", "hh", "j", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_h")
    )
    return (
        hourly.groupBy("d", "j", "b")
        .agg(F.sum("c_h").cast("bigint").alias("c"))
        .select(
            "d",
            F.col("j").cast("int").alias("j"),
            F.col("b").cast("int").alias("b"),
            "c",
        )
        .orderBy("d", "j", "b")
    )
