"""HyperLogLog distinct-count sketch (Flajolet et al. 2007) — the
cardinality tier of the sketch suite (r06 tail registration), closing the
bounded-state quartet: kv_stats (exact), kmv_stats (k-minimum values),
cms_heavy_hitters (frequency), hll_registers (cardinality).

The sketch state is m=64 six-bit registers — 64 rows total regardless of
corpus size, built by ONE map-side-combinable 64-group max aggregation
over the raw (globally un-deduplicated) shingle stream: max is idempotent,
so the stream needs no distinct pass, which is HLL's whole point at
100 TB (a distinct would shuffle the corpus; the sketch shuffles 64
partial registers per partition). The register derivation is
functions/hllest.bucket_rho: pure integer arithmetic on the portable
60-bit hash that the DuckDB oracle replays bit-identically (hllest's
mirror).

The float estimate alpha*m^2/sum(2^-rho) is deliberately NOT in the
oracle-checked output (IEEE summation order is engine-dependent);
tests/test_hll.py computes it from the registers and pins the accuracy
claim against the exact distinct count (standard error 1.04/sqrt(64) ~
13%) plus the mergeability law (registers of a union = elementwise max).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions import hllest
from gpu_mapreduce_spark.operators import dedup
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table, widen

_BUCKET_SQL, _RHO_SQL = hllest.duckdb_bucket_rho("h")


def hll_registers(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(bucket, reg) HLL registers over the per-doc exploded 3-gram
    shingle stream. Only non-empty buckets are emitted — deterministic on
    both engines, so the oracle needs no zero-register padding (the m=64
    state reconstructs with reg=0 for missing buckets, which is exactly
    how tests/test_hll.py estimates)."""
    from gpu_mapreduce_spark.functions.portable import hash60

    sh = dedup.shingle_set(docs, text_col=text_col)
    hv = sh.select(hash60(F.col("sh")).alias("h"))
    bucket, rho = hllest.bucket_rho(F.col("h"))
    rr = hv.select(
        bucket.cast("int").alias("bucket"), rho.cast("int").alias("rho")
    )
    return (
        rr.groupBy("bucket")
        .agg(F.max("rho").cast("int").alias("reg"))
        .orderBy("bucket")
    )


@register(
    "hll_registers",
    bench=True,
    tags=("llm", "textstats", "sketch"),
    oracle=f"""
        WITH toksrc AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               t -> t <> '') AS toks
            FROM documents
        ),
        sh AS (
            SELECT unnest(list_distinct(
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(generate_series(1, len(toks) - 2),
                                                i -> array_to_string(toks[i:i+2], ' '))
                            ELSE [] END
                   )) AS s
            FROM toksrc
        ),
        hv AS (SELECT ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
        rr AS (
            SELECT CAST({_BUCKET_SQL} AS INT) AS bucket, {_RHO_SQL} AS rho
            FROM hv
        )
        SELECT bucket, CAST(MAX(rho) AS INT) AS reg
        FROM rr GROUP BY bucket ORDER BY bucket
    """,
)
def hll_registers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The m=64 HLL register table over the documents table's shingle
    stream — the persistable, mergeable distinct-shingle sketch. The
    corpus is widened to full parallelism before the compute-bound
    shingle pass (r15; sources.tables.widen — the documents parquet
    arrives in ONE input split at test scale, so the shingling otherwise
    runs single-task: measured 11.9 s at the 10x scale point with zero
    shuffle, pure serial CPU)."""
    return hll_registers(widen(table(spark, sf_dir, "documents")))
