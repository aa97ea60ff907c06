"""Streaming ingest of count-min partials (r13 landing of the SCALE.md
r14 cms_stream_ingest draft, landed in-round) — the LAST sketch without
a stream path once theta landed r12: hist (SUM-mergeable bins), theta
(k-min union) and now CMS (cell-wise SUM — a LINEAR sketch, so the fold
is exact, not error-preserving) each prove stream ≡ batch through their
batch registration's VERBATIM oracle.

Physical path (the stream_hist_ingest contract verbatim): the EXISTING
events' per-(d, j, b) cells (event_id % 8 != 7, the suite's split) sit
at rest since session start; the delta events arrive as 4 real
microbatches (file source, maxFilesPerTrigger=1 — Kafka's stand-in),
each batch reduced to its OWN (d, j, b, c_p) partial cell table by
foreachBatch and written to a batch-id-named subdir with
mode('overwrite') — idempotent under the at-least-once foreachBatch
contract (a retried batch replaces its attempt instead of
double-counting; linearity makes duplication the failure mode that
MATTERS for CMS, which is why the dir-name convention carries the
batch id and nothing else). Post-drain: base ∪ ingested partials fold
cell-wise to cms_merge_rollup's exact output shape; the oracle is that
registration's VERBATIM direct-from-raw construction, so the gate
proves stream ≡ batch ≡ direct at once, under ARBITRARY batch
boundaries (vector addition is associative/commutative — no time
ordering needed, the theta property for the frequency sketch).

100 TB: per-microbatch cost is |batch| x d bucket hashes + one bounded
aggregate to <= days*d*w rows; zero streaming state. The accumulated
batch-dir cells compact by the same SUM whenever the layout tier's
partial-compaction runs; heavy-hitter point reads (min over d rows)
stay O(d) per key against the assembled table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions import cms
from gpu_mapreduce_spark.plans.scratch import sink_roundtrip
from gpu_mapreduce_spark.registry import QUERIES, register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import table

_MOD, _REM = 8, 7  # delta batch = event_id % 8 == 7 (the suite's split)
_N_SRC_FILES = 4
_PARTIAL = "d string, j int, b int, c_p bigint"


def _entries(spark_df: DataFrame) -> DataFrame:
    """(event_id, d, j, b) — one row per event per hash row, the
    cms_merge_rollup projection plus the id for the split."""
    return spark_df.select(
        "event_id", "d", cms.entries(F.col("k")).alias("e")
    ).select("event_id", "d", "e.j", "e.b")


def _fine_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.col("event_type").alias("k"),
    )


def _cells(df: DataFrame) -> DataFrame:
    return (
        _entries(df)
        .groupBy("d", "j", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_p"))
        .select(
            "d",
            F.col("j").cast("int").alias("j"),
            F.col("b").cast("int").alias("b"),
            "c_p",
        )
    )


def _base_cells_at_rest(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized at-rest cells of the EXISTING events — the
    immutable base the microbatch partials fold into."""

    def write(path: str) -> None:
        (
            _cells(
                _fine_rows(spark, sf_dir).filter(
                    F.col("event_id") % _MOD != _REM
                )
            )
            .write.mode("overwrite")
            .parquet(path)
        )

    return fixtures.derived_dir(spark, sf_dir, "cms_base_cells", write)


def _delta_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized stream source: the delta events as
    _N_SRC_FILES parquet files so maxFilesPerTrigger=1 yields that
    many microbatches."""

    def write(path: str) -> None:
        (
            _fine_rows(spark, sf_dir)
            .filter(F.col("event_id") % _MOD == _REM)
            .repartition(_N_SRC_FILES)
            .write.mode("overwrite")
            .parquet(path)
        )

    return fixtures.derived_dir(spark, sf_dir, "cms_delta_stream_dir", write)


@register(
    "cms_stream_ingest",
    tags=("analytics", "sketch", "streaming", "incremental", "events"),
    # cms_merge_rollup's oracle VERBATIM: stream-assembled cells ≡ batch
    # hourly fold ≡ direct-from-raw daily construction
    oracle=QUERIES["cms_merge_rollup"].oracle,
)
def cms_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the delta-event stream through a foreachBatch CMS-partial
    writer (one batch-id-named subdir per microbatch), fold base ∪
    ingested partials cell-wise, and report cms_merge_rollup's exact
    output shape — identical rows, which is the linearity claim."""
    base = _base_cells_at_rest(spark, sf_dir)
    src = _delta_stream_dir(spark, sf_dir)

    def build(path: str) -> DataFrame:
        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            # this batch's partial cells; a retried batch overwrites
            # itself (linearity makes double-counting the real hazard)
            _cells(batch_df).write.mode("overwrite").parquet(
                f"{path}/ingest_{batch_id}"
            )

        q = (
            spark.readStream.schema("event_id bigint, d string, k string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{path}/_chk")
            .start()
        )
        q.awaitTermination()
        ingested = spark.read.schema(_PARTIAL).parquet(f"{path}/ingest_*")
        both = spark.read.schema(_PARTIAL).parquet(base).unionByName(
            ingested
        )
        return (
            both.groupBy("d", "j", "b")
            .agg(F.sum("c_p").cast("bigint").alias("c"))
            .select(
                "d",
                F.col("j").cast("int").alias("j"),
                F.col("b").cast("int").alias("b"),
                "c",
            )
            .orderBy("d", "j", "b")
        )

    return sink_roundtrip("cms_assemble_", build)
