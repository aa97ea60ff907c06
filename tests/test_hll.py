"""HLL accuracy + mergeability — the claims the integer-exact register
oracle can't express (IEEE estimate arithmetic is engine-dependent)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions.hllest import M as _M
from gpu_mapreduce_spark.operators import dedup
from gpu_mapreduce_spark.queries.hll import hll_registers
from gpu_mapreduce_spark.sources.tables import table
from tests.conftest import SF_DIR


def _estimate(regs: dict[int, int]) -> float:
    """Standard HLL estimator with the small-range linear-counting
    correction; missing buckets are reg=0."""
    full = [regs.get(b, 0) for b in range(_M)]
    raw = 0.709 * _M * _M / sum(2.0 ** -r for r in full)
    zeros = full.count(0)
    if raw <= 2.5 * _M and zeros:
        return _M * math.log(_M / zeros)
    return raw


def test_hll_estimate_within_error(spark):
    docs = table(spark, SF_DIR, "documents")
    regs = {r.bucket: r.reg for r in hll_registers(docs).collect()}
    truth = (
        dedup.shingle_set(docs).select("sh").distinct().count()
    )
    est = _estimate(regs)
    # standard error is 1.04/sqrt(64) ~ 13%; allow 3 sigma
    assert abs(est - truth) / truth < 0.40, (est, truth)


def test_hll_registers_merge_by_max(spark):
    """Mergeability: the union's registers are the elementwise max of the
    halves' registers — the property that makes the sketch shardable
    (per-partition sketches combine without rescanning)."""
    docs = table(spark, SF_DIR, "documents")
    lo = docs.filter(F.col("doc_id") % 2 == 0)
    hi = docs.filter(F.col("doc_id") % 2 == 1)
    r_all = {r.bucket: r.reg for r in hll_registers(docs).collect()}
    r_lo = {r.bucket: r.reg for r in hll_registers(lo).collect()}
    r_hi = {r.bucket: r.reg for r in hll_registers(hi).collect()}
    merged = {
        b: max(r_lo.get(b, 0), r_hi.get(b, 0))
        for b in set(r_lo) | set(r_hi)
    }
    assert merged == r_all
