"""Streaming theta/KMV sketch ingest (r12 tail registration; the
SCALE.md r13 stream_theta_ingest design, landed in-round) — the theta
tier's stream path, giving the KMV family the one-oracle-many-physical-
paths story the histogram (stream_hist_ingest) and layout
(stream_zorder_ingest) tiers already have: source A's shingle stream
arrives as microbatches, each batch reduced to its OWN k-minimum-values
partial, and the post-drain k-min union must hash-equal the sketch
theta_sketch_ops builds from the raw source — stream ≡ batch through
the same mergeability law the at-rest gate proves (the k smallest
distinct hashes of a union are each among their own batch's k smallest,
for ANY split — so the fold is exact under arbitrary batch boundaries,
no time ordering required, unlike the sessionize dual).

Physical path: the even-doc_id documents as 4 parquet files (a random
repartition split — order-independence is the point here),
maxFilesPerTrigger=1, foreachBatch writing each batch's partial (its
distinct shingle hashes' TakeOrdered k) to a batch-id-named subdir with
mode('overwrite') — idempotent under the at-least-once contract, and
doubly safe for KMV: the union fold is idempotent and commutative, so
even a duplicated partial could not corrupt it. Post-drain: distinct ∪
of the partials, k smallest — one bounded aggregate over <= 4k rows.

Per-microbatch cost: |batch| hashes + one partial-agg distinct + one
TakeOrdered k; no streaming state at all. 100 TB: this is how the
cross-source overlap audit stays CURRENT — per-batch partials land at
ingest time and the day's sketch is a k-row fold, never a re-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions.portable import hash60
from gpu_mapreduce_spark.operators import dedup
from gpu_mapreduce_spark.plans.scratch import sink_roundtrip
from gpu_mapreduce_spark.queries.theta_ops import _K, _SHINGLE_CTE
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import table

_N_SRC_FILES = 4
_DOCS = "doc_id bigint, text string"


def _src_dir(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized stream source: source A's documents as
    _N_SRC_FILES files — a RANDOM split, because KMV's fold is
    order-independent (the claim under test)."""

    def write(path: str) -> None:
        (
            table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 2 == 0)
            .select("doc_id", "text")
            .repartition(_N_SRC_FILES)
            .write.mode("overwrite")
            .parquet(path)
        )

    return fixtures.derived_dir(spark, sf_dir, "theta_stream_dir", write)


@register(
    "stream_theta_ingest",
    tags=("llm", "textstats", "sketch", "streaming", "incremental"),
    # theta_sketch_ops' source-A sketch, verbatim CTEs: the streamed
    # k-min union must equal the sketch built from the raw source
    oracle=f"""
        {_SHINGLE_CTE}
        SELECT h FROM kA ORDER BY h
    """,
)
def stream_theta_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain source A's document stream through a foreachBatch KMV
    partial writer, fold the partials by k-min union, and report the
    assembled sketch — identical rows to the raw-built sketch, which is
    the claim."""
    src = _src_dir(spark, sf_dir)

    def build(path: str) -> DataFrame:
        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            # this batch's KMV partial; a retried batch overwrites itself
            (
                dedup.shingle_set(batch_df)
                .select(hash60(F.col("sh")).alias("h"))
                .distinct()
                .orderBy("h")
                .limit(_K)
                .write.mode("overwrite")
                .parquet(f"{path}/ingest_{batch_id}")
            )

        q = (
            spark.readStream.schema(_DOCS)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{path}/_chk")
            .start()
        )
        q.awaitTermination()
        partials = spark.read.schema("h bigint").parquet(f"{path}/ingest_*")
        return partials.distinct().orderBy("h").limit(_K)

    return sink_roundtrip("theta_assemble_", build)
