"""Streaming sessionization ingest (r12 tail registration; the SCALE.md
follow-on sessionize.py's docstring promised) — the event tier's missing
physical path: every other ingest tier (z-order layout, histogram
sketch, IVFPQ index) already proves one oracle over batch, incremental
AND stream assembly; sessions had only the batch window query. This
registration drains the SAME events through the stateful streaming
operator (streaming/pipeline.sessionize_stream_ids,
applyInPandasWithState) and must reproduce sessionize_events' output
EXACTLY — the oracle is that registration's VERBATIM, so the gate proves
stream ≡ batch.

Physical path: events projected to (user_id, event_id, ts_ms) and laid
out as {_N_SLICES} TIME-RANGE slices, one parquet file each with
strictly increasing modification times — the file source's stand-in for
a time-ordered bus (Kafka with log-append time), giving the per-user
non-decreasing cross-batch arrival the bounded fold requires (the
operator docstring's delivery contract; sessionization is
order-dependent, so a random file split — hist_stream's shape — would
be dishonest here). maxFilesPerTrigger=1 makes each slice a real
microbatch; sessions SPANNING slice boundaries are the state-carry case
the dual exists to prove. Each microbatch's emitted rows land in a
batch-id-named subdir with mode('overwrite') — idempotent under
foreachBatch's at-least-once contract (a retried batch replaces its
attempt; tests/test_streaming.py replays one). Post-drain, the
max-emit_seq row per (user, session) — one co-partitioned aggregate —
is each session's final truth, open sessions included.

100 TB: per-microbatch cost is the batch's rows through one
groupBy(user_id) stateful pass; state is O(active users) fixed-width
rows; no global order is ever imposed — the time ordering is the BUS's
property, not a sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.plans.scratch import sink_roundtrip
from gpu_mapreduce_spark.queries.sessionize import _GAP_MS
from gpu_mapreduce_spark.registry import QUERIES, register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import table
from gpu_mapreduce_spark.streaming.pipeline import sessionize_stream_ids

_N_SLICES = 4
_FEED = "user_id bigint, event_id bigint, ts_ms bigint"
_EMIT = (
    "user_id bigint, session_id bigint, n_events bigint,"
    " t_start_ms bigint, t_end_ms bigint, emit_seq bigint"
)


def _sliced_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized stream source: the events feed as _N_SLICES
    time-range slices, one file each, mtimes strictly increasing so the
    file source (which orders by modification time) drains them in time
    order — the time-ordered-bus contract."""

    def write(path: str) -> None:
        import glob
        import os
        import shutil
        import tempfile

        ev = table(spark, sf_dir, "events").select(
            "user_id", "event_id", F.unix_millis("ts").alias("ts_ms")
        )
        mn, mx = ev.agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
        span = mx - mn + 1
        base = None
        for i in range(_N_SLICES):
            lo = mn + span * i // _N_SLICES
            hi = mn + span * (i + 1) // _N_SLICES
            tmp = tempfile.mkdtemp(prefix="sessionize_slice_")
            (
                ev.filter((F.col("ts_ms") >= lo) & (F.col("ts_ms") < hi))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            (part,) = glob.glob(f"{tmp}/part-*.parquet")
            target = f"{path}/slice_{i}.parquet"
            shutil.move(part, target)
            shutil.rmtree(tmp, ignore_errors=True)
            if base is None:
                base = os.path.getmtime(target)
            os.utime(target, (base + 10 * i, base + 10 * i))

    return fixtures.derived_dir(spark, sf_dir, "sessionize_stream_dir", write)


@register(
    "stream_sessionize_ingest",
    tags=("analytics", "events", "streaming", "incremental", "order"),
    # sessionize_events' oracle VERBATIM: stream-assembled sessions ≡ the
    # batch window query — the event tier's stream ≡ batch proof
    oracle=QUERIES["sessionize_events"].oracle,
)
def stream_sessionize_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the time-sliced event feed through the stateful streaming
    sessionizer (one batch-id-named emit dir per microbatch), reduce to
    the max-emit_seq row per (user, session), and report
    sessionize_events' exact output shape — identical rows, which is the
    claim."""
    src_dir = _sliced_stream_dir(spark, sf_dir)

    def build(path: str) -> DataFrame:
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # idempotent: a retried batch overwrites its own subdir
            batch_df.write.mode("overwrite").parquet(
                f"{path}/emit_{batch_id}"
            )

        q = (
            spark.readStream.schema(_FEED)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
            .transform(lambda df: sessionize_stream_ids(df, _GAP_MS))
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{path}/_chk")
            .start()
        )
        q.awaitTermination()
        emitted = spark.read.schema(_EMIT).parquet(f"{path}/emit_*")
        latest = emitted.groupBy("user_id", "session_id").agg(
            F.max(
                F.struct("emit_seq", "n_events", "t_start_ms", "t_end_ms")
            ).alias("s")
        )
        return latest.select(
            "user_id",
            "session_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.t_start_ms").alias("t_start_ms"),
            F.col("s.t_end_ms").alias("t_end_ms"),
            F.expr(
                "CAST((s.t_end_ms - s.t_start_ms) div 1000 AS BIGINT)"
            ).alias("dur_s"),
        ).orderBy("user_id", "session_id")

    return sink_roundtrip("sessionize_stream_", build)
