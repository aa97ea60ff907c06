"""Streaming index ingest (r09 tail registration; SCALE.md r10 design 1 of
the fresh wave, landed early): the delta batch arrives as a STREAM of
embeddings and a foreachBatch writer appends each microbatch — encoded
under the same frozen artifacts by the same two scan projections — into
the IVFPQ codes layout; after the availableNow drain the query reports the
identical per-cell inventory digest.

This closes the loop between the streaming tier and the at-rest index
tier, and it is the suite's one STREAMING registration with a FULL hash
gate: the funnel/sessionize tier is equality-tested against its batch dual
(rows-only to the driver), but here the oracle is ann_ivfpq_append's full
re-encode verbatim — batch-boundary-invariant by construction, since the
encode is a pure per-row projection and the inventory aggregates the union
of all batches. Proving stream ingest ≡ batch append ≡ full rebuild is
exactly the invariant a store's ingestion pipeline is audited against.

Idempotence (the exactly-once-on-files discipline): foreachBatch writes
each microbatch to its OWN batch-id-named subdirectory with
mode('overwrite') — a retried microbatch replaces its previous attempt's
files instead of double-appending, which a bare mode('append') would get
wrong under Structured Streaming's at-least-once foreachBatch contract.

Scale notes (100 TB): per-microbatch cost is |batch| x broadcast-literal
scoring + one file write; state is NOTHING (the encode is stateless — all
streaming state disciplines live in the funnel/dedup tier); the file
source stands in for Kafka as everywhere else in streaming/pipeline.py.
The drain processes the delta in 4+ microbatches (the source dir is
written as multiple files and read with maxFilesPerTrigger=1), so the
batch-invariance claim is exercised, not vacuous."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import similarity
from gpu_mapreduce_spark.plans.scratch import sink_roundtrip
from gpu_mapreduce_spark.queries.ann_append import (
    _MOD,
    _REM,
    _ivf_existing_at_rest,
)
from gpu_mapreduce_spark.queries.ivfpq_append import (
    _CODES_SCHEMA,
    _ivfpq_existing_at_rest,
    _pq_books_existing,
    codes_inventory,
)
from gpu_mapreduce_spark.registry import QUERIES, register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import table

_EMB_SCHEMA = "vec_id bigint, embedding array<float>, label int"
_N_SRC_FILES = 4


def _delta_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized stream source: the delta embeddings written as
    _N_SRC_FILES parquet files so maxFilesPerTrigger=1 yields that many
    microbatches — the bus stand-in (swap for Kafka, nothing downstream
    changes)."""

    def write(path: str) -> None:
        (
            table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") % _MOD == _REM)
            .repartition(_N_SRC_FILES)
            .write.mode("overwrite")
            .parquet(path)
        )

    return fixtures.derived_dir(spark, sf_dir, "delta_stream_dir", write)


@register(
    "streaming_index_ingest",
    tags=("llm", "similarity", "streaming", "incremental"),
    # the batch append's oracle VERBATIM: stream ingest ≡ batch append ≡
    # full rebuild under the frozen artifacts
    oracle=QUERIES["ann_ivfpq_append"].oracle,
)
def streaming_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the delta-embedding stream through a foreachBatch encoder into
    the IVFPQ codes layout (one batch-id-named subdir per microbatch), then
    report the combined per-cell inventory: (cid, n_vecs, n_delta,
    inv_digest) — identical to ann_ivfpq_append's, which is the claim."""
    centroids, _base_path = _ivf_existing_at_rest(spark, sf_dir)
    books = _pq_books_existing(spark, sf_dir)
    base_root = _ivfpq_existing_at_rest(spark, sf_dir)
    src_dir = _delta_stream_dir(spark, sf_dir)

    def build(path: str) -> DataFrame:
        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            rows = similarity.pq_encode(batch_df, books).join(
                similarity.ivf_assign(batch_df, centroids).select(
                    "vec_id", "cid"
                ),
                "vec_id",
            )
            # idempotent: a retried batch overwrites its own subdir
            rows.write.mode("overwrite").parquet(f"{path}/ingest_{batch_id}")

        stream = (
            spark.readStream.schema(_EMB_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = (
            stream.writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{path}/_chk")
            .start()
        )
        q.awaitTermination()
        added = spark.read.schema(_CODES_SCHEMA).parquet(
            f"{path}/ingest_*"
        )
        return codes_inventory(spark, base_root, added)

    return sink_roundtrip("stream_ingest_", build)
