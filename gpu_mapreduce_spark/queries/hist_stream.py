"""Streaming ingest of histogram partials (r11 tail registration; the
SCALE.md r12 stream_hist_ingest design, landed in-round) — the sketch
tier's one-oracle-many-physical-paths closer, mirroring what
stream_zorder_ingest did for the layout tier: hist_quantile_rollup
proved the hourly→daily FOLD over a batch two-level aggregate; this
proves the same daily table assembles from MICROBATCH partials, i.e.
the histogram's mergeability holds across ARBITRARY batch boundaries,
not just the hour grain (two batches covering the same (d, hh) fold by
the same integer addition — associativity is the whole claim).

Physical path: the EXISTING events' hourly partials (event_id % 8 != 7,
the ann_append/zorder split) sit at rest since session start; the delta
events arrive as 4 real microbatches (file source, maxFilesPerTrigger=1
— Kafka's stand-in, as everywhere in streaming/), each batch reduced to
its OWN (d, hh, bin, n_h) partial table by foreachBatch and written to a
batch-id-named subdir with mode('overwrite') — idempotent under
Structured Streaming's at-least-once foreachBatch contract (a retried
batch replaces its attempt instead of double-counting, the property a
non-linear sketch would NOT survive). Post-drain, base ∪ ingested
partials fold to the daily grain and project through the SAME
daily_to_output as the batch registration; the oracle is
hist_quantile_rollup's VERBATIM, so the gate proves
stream ≡ batch ≡ direct-from-raw.

100 TB: per-microbatch cost is |batch| x one projection + one bounded
aggregate to <= hours*bins rows; no streaming state at all. The at-rest
partial tables are the day-2 artifact a warehouse folds into ANY coarser
grain on demand; compaction of the accumulated batch files is the
layout tier's partial-compaction story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.plans.scratch import sink_roundtrip
from gpu_mapreduce_spark.queries.hist_rollup import _W, daily_to_output
from gpu_mapreduce_spark.registry import QUERIES, register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import table

_MOD, _REM = 8, 7  # delta batch = event_id % 8 == 7 (the suite's split)
_N_SRC_FILES = 4
_FINE = "event_id bigint, d string, hh string, bin int"
_PARTIAL = "d string, hh string, bin int, n_h bigint"


def _fine_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events projected to (event_id, d, hh, bin) — the binning
    projection shared by base and delta (hist_rollup's, plus the id for
    the split)."""
    return table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.date_format("ts", "HH").alias("hh"),
        F.floor(F.col("value") / _W).cast("int").alias("bin"),
    )


def _base_partials_at_rest(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized at-rest hourly partials of the EXISTING events
    (d, hh, bin, n_h) — the immutable base table microbatch partials
    fold into."""

    def write(path: str) -> None:
        base = (
            _fine_rows(spark, sf_dir)
            .filter(F.col("event_id") % _MOD != _REM)
            .groupBy("d", "hh", "bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_h"))
        )
        base.write.mode("overwrite").parquet(path)

    return fixtures.derived_dir(spark, sf_dir, "hist_base_partials", write)


def _delta_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized stream source: the delta events' fine rows as
    _N_SRC_FILES parquet files so maxFilesPerTrigger=1 yields that many
    microbatches."""

    def write(path: str) -> None:
        (
            _fine_rows(spark, sf_dir)
            .filter(F.col("event_id") % _MOD == _REM)
            .repartition(_N_SRC_FILES)
            .write.mode("overwrite")
            .parquet(path)
        )

    return fixtures.derived_dir(spark, sf_dir, "hist_delta_stream_dir", write)


@register(
    "stream_hist_ingest",
    tags=("analytics", "sketch", "streaming", "incremental", "events"),
    # hist_quantile_rollup's oracle VERBATIM: stream-assembled partials ≡
    # batch two-level fold ≡ direct-from-raw daily binning
    oracle=QUERIES["hist_quantile_rollup"].oracle,
)
def stream_hist_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the delta-event stream through a foreachBatch partial-
    histogram writer (one batch-id-named subdir per microbatch), fold
    base ∪ ingested partials to the daily grain, and report
    hist_quantile_rollup's exact output shape — identical rows, which is
    the claim."""
    base_path = _base_partials_at_rest(spark, sf_dir)
    src_dir = _delta_stream_dir(spark, sf_dir)

    def build(path: str) -> DataFrame:
        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            # reduce THIS batch to its own partial table; idempotent —
            # a retried batch overwrites its own subdir, never adds
            (
                batch_df.groupBy("d", "hh", "bin")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_h"))
                .write.mode("overwrite")
                .parquet(f"{path}/ingest_{batch_id}")
            )

        q = (
            spark.readStream.schema(_FINE)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
            .writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{path}/_chk")
            .start()
        )
        q.awaitTermination()
        base = spark.read.schema(_PARTIAL).parquet(base_path)
        added = spark.read.schema(_PARTIAL).parquet(f"{path}/ingest_*")
        daily = (
            base.unionByName(added)
            .groupBy("d", "bin")
            .agg(F.sum("n_h").cast("bigint").alias("n"))
        )
        return daily_to_output(daily)

    return sink_roundtrip("hist_stream_", build)
