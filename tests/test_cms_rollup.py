"""cms_merge_rollup cross-checks.

The registration's hash gate proves the hourly→daily cell-wise SUM fold
matches the oracle's direct construction; what the gate deliberately
leaves out (the hll_rollup discipline) is the ESTIMATOR read-out. Pin it
here at the rolled-up grain: for every (day, event_type) the count-min
estimate — min over hash rows of the key's bucket counter in the FOLDED
daily sketch — must be >= the exact count (the one-sided CMS law), and
with only 5 keys against w=16 buckets at least some estimates must be
exactly tight (no collision in some row).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions.cms import D as _D, W as _W
from gpu_mapreduce_spark.queries.cms_rollup import cms_merge_rollup
from gpu_mapreduce_spark.sources.tables import table
from tests.conftest import SF_DIR


def _bucket(j: int, key: str) -> int:
    # hash60's python twin: md5 hex prefix 15 -> 60-bit int, mod w
    return int(hashlib.md5(f"cms{j}|{key}".encode()).hexdigest()[:15], 16) % _W


def test_cms_stream_ingest_equals_batch_and_replays_idempotently(spark):
    """The r13 stream path: base cells ∪ microbatch partials must fold
    to EXACTLY cms_merge_rollup's batch output (linearity across
    arbitrary batch boundaries), and a RETRIED batch — its partial dir
    overwritten, the at-least-once contract — must leave the fold
    unchanged (the double-count hazard the batch-id dir naming
    exists to kill)."""
    import tempfile

    from gpu_mapreduce_spark.queries import cms_stream as cs
    from gpu_mapreduce_spark.registry import load_all

    qs = load_all()
    got = [
        tuple(r)
        for r in qs["cms_stream_ingest"].fn(spark, SF_DIR).collect()
    ]
    want = [tuple(r) for r in cms_merge_rollup(spark, SF_DIR).collect()]
    assert got == want
    # retry simulation: one delta slice's partial written twice to the
    # SAME dir (mode overwrite) folds identically to written once
    delta = cs._fine_rows(spark, SF_DIR).filter(
        F.col("event_id") % cs._MOD == cs._REM
    )
    with tempfile.TemporaryDirectory(prefix="cms_retry_") as d:
        cs._cells(delta).write.mode("overwrite").parquet(f"{d}/ingest_0")
        once = {
            (r.d, r.j, r.b): r.c_p
            for r in spark.read.schema(cs._PARTIAL)
            .parquet(f"{d}/ingest_*")
            .collect()
        }
        cs._cells(delta).write.mode("overwrite").parquet(f"{d}/ingest_0")
        twice = {
            (r.d, r.j, r.b): r.c_p
            for r in spark.read.schema(cs._PARTIAL)
            .parquet(f"{d}/ingest_*")
            .collect()
        }
    assert once == twice


def test_rolled_sketch_estimates_are_one_sided_and_sometimes_tight(spark):
    cells = {
        (r.d, r.j, r.b): r.c for r in cms_merge_rollup(spark, SF_DIR).collect()
    }
    exact = (
        table(spark, SF_DIR, "events")
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
            F.col("event_type").alias("k"),
        )
        .groupBy("d", "k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    assert exact
    tight = 0
    for r in exact:
        est = min(
            cells[(r.d, j, _bucket(j, r.k))] for j in range(_D)
        )
        assert est >= r.cnt, f"CMS underestimated ({r.d}, {r.k}): {est} < {r.cnt}"
        tight += est == r.cnt
    assert tight > 0, "no exact estimate anywhere — bucket map suspect"
