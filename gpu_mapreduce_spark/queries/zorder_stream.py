"""Streaming ingest into the z-ordered layout (r10 tail registration;
SCALE.md r11 design, landed in-round) — the relational layout tier's
trilogy closer: zorder_layout proved the full rewrite, zorder_incremental
proved append + partial compaction, and this proves STREAM ingest, all
against the same from-raw-events oracle. One oracle, three physical
paths — the ivfpq/stream_ingest/compaction discipline replayed on the
second at-rest tier.

The delta events arrive as a stream of z-projected rows (file source
standing in for Kafka, as everywhere in streaming/; the au/tb/Morton
zcell projection — pure div/mod arithmetic — is applied once at the
source, and the oracle replays it from RAW events regardless, so the
gate covers the projection either way); a foreachBatch writer lands
each microbatch in its OWN batch-id-named subdirectory with
mode('overwrite') — idempotent under Structured Streaming's
at-least-once foreachBatch contract (a retried batch replaces its
earlier attempt instead of double-appending). The drain is
availableNow over maxFilesPerTrigger=1, so 4+ real microbatches exercise
batch-boundary invariance (the projection is stateless per row, so the
per-cell inventory over the union of batches is invariant by
construction — which is exactly what the hash gate checks).

100 TB: per-microbatch cost is |batch| x one scan projection + one file
write; no streaming state at all. Day-2 compaction of the accumulated
small batch files is zorder_incremental's partial compaction — the two
registrations compose into the full ingest-then-maintain story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.plans.scratch import sink_roundtrip
from gpu_mapreduce_spark.queries.zorder import zed_events
from gpu_mapreduce_spark.queries.zorder_inc import (
    _MOD,
    _REM,
    _zorder_existing_at_rest,
)
from gpu_mapreduce_spark.registry import QUERIES, register
from gpu_mapreduce_spark.sources import fixtures

_N_SRC_FILES = 4
_ZROWS = "event_id bigint, au bigint, tb bigint, zcell bigint"


def _zdelta_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized stream source: the z-projected delta events
    written as _N_SRC_FILES parquet files so maxFilesPerTrigger=1 yields
    that many microbatches. Pre-projecting keeps the stream schema free
    of timestamp-roundtrip concerns; the oracle replays the projection
    from raw events either way."""

    def write(path: str) -> None:
        (
            zed_events(spark, sf_dir)
            .filter(F.col("event_id") % _MOD == _REM)
            .repartition(_N_SRC_FILES)
            .write.mode("overwrite")
            .parquet(path)
        )

    return fixtures.derived_dir(spark, sf_dir, "zdelta_stream_dir", write)


@register(
    "stream_zorder_ingest",
    tags=("sources", "events", "streaming", "incremental"),
    # zorder_incremental's oracle VERBATIM: stream ingest ≡ append +
    # partial compaction ≡ from-scratch layout
    oracle=QUERIES["zorder_incremental"].oracle,
)
def stream_zorder_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the delta-event stream through a foreachBatch z-writer (one
    batch-id-named subdir per microbatch), then report the per-cell
    inventory of base ∪ ingested: (zcell, n_events, n_delta, ev_digest) —
    identical to zorder_incremental's, which is the claim."""
    base_root = _zorder_existing_at_rest(spark, sf_dir)
    src_dir = _zdelta_stream_dir(spark, sf_dir)

    def build(path: str) -> DataFrame:
        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            # idempotent: a retried batch overwrites its own subdir
            batch_df.write.mode("overwrite").parquet(
                f"{path}/ingest_{batch_id}"
            )

        stream = (
            spark.readStream.schema(_ZROWS)
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
        added = spark.read.schema(_ZROWS).parquet(f"{path}/ingest_*")
        base = spark.read.parquet(base_root).select(
            "event_id",
            "au",
            "tb",
            F.col("zcell").cast("bigint").alias("zcell"),
        )
        return (
            base.unionByName(added)
            .groupBy("zcell")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum((F.col("event_id") % _MOD == _REM).cast("int"))
                .cast("bigint")
                .alias("n_delta"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.array_sort(F.collect_list("event_id")).cast(
                            "array<string>"
                        ),
                    )
                ).alias("ev_digest"),
            )
            .orderBy("zcell")
        )

    return sink_roundtrip("zstream_", build)
