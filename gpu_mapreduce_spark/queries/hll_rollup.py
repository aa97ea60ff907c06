"""HLL grain rollup (r10 tail registration) — the MERGEABILITY of the
cardinality sketch proven through the hash gate over a real two-grain
physical rollup, not just a unit-test law.

hll_registers pins the sketch itself; this registers the property that
makes sketches viable at 100 TB: partial sketches built at a fine grain
(per hour) merge REGISTER-WISE (elementwise max) into the coarse grain
(per day) with zero loss — a warehouse stores 24 tiny hourly register
tables and answers daily (or weekly, monthly) distinct-user questions by
folding them, never re-touching the raw events. max is associative and
idempotent, so the merge tree can have any shape, survive retries, and
combine map-side.

Physical-path proof (the compaction/ingest discipline): the Spark side
computes the TWO-LEVEL path — per-(day, hour, bucket) max(rho) partials,
then per-(day, bucket) max over the 24 hourly partials — while the
DuckDB oracle computes the daily registers DIRECTLY from raw events.
Hash equality of (d, bucket, reg) rows across engines IS the
mergeability law, exercised on 30 days x 24 hours of real grouping keys.

Register derivation is functions/hllest.bucket_rho over the portable
60-bit hash of the user_id string, replayed in the oracle by its DuckDB
mirror. The float estimate stays out of the gate (tests/test_hll.py
pins estimate accuracy for this family).

100 TB: the raw stream is touched ONCE at the finest grain; every
coarser grain is a fold over m=64-row register tables per group — the
whole rollup shuffles kilobytes. Day boundaries agree across engines via
the session-UTC convention (sources/tables.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions import hllest
from gpu_mapreduce_spark.functions.portable import hash60
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table

_BUCKET_SQL, _RHO_SQL = hllest.duckdb_bucket_rho("h")


@register(
    "hll_merge_rollup",
    tags=("analytics", "sketch", "incremental", "events"),
    # the oracle computes daily registers DIRECTLY from raw; the Spark
    # side rolls hourly partials up register-wise — one result, two
    # physical paths (the mergeability law through the hash gate)
    oracle=f"""
        WITH hv AS (
            SELECT strftime(ts, '%Y-%m-%d') AS d,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM events
        ),
        rr AS (
            SELECT d, CAST({_BUCKET_SQL} AS INT) AS bucket, {_RHO_SQL} AS rho
            FROM hv
        )
        SELECT d, bucket, CAST(MAX(rho) AS INT) AS reg
        FROM rr GROUP BY d, bucket ORDER BY d, bucket
    """,
)
def hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(day, bucket) HLL registers over events' distinct users,
    computed as a register-wise MERGE of per-(day, hour) partial
    sketches — hash-equal to the oracle's direct daily derivation."""
    ev = table(spark, sf_dir, "events")
    bucket, rho = hllest.bucket_rho(hash60(F.col("user_id").cast("string")))
    rr = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.date_format("ts", "HH").alias("hh"),
        bucket.cast("int").alias("bucket"),
        rho.cast("int").alias("rho"),
    )
    hourly = rr.groupBy("d", "hh", "bucket").agg(
        F.max("rho").alias("reg_h")
    )
    return (
        hourly.groupBy("d", "bucket")
        .agg(F.max("reg_h").cast("int").alias("reg"))
        .orderBy("d", "bucket")
    )
