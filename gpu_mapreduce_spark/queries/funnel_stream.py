"""Per-user funnel stage table — the batch half of the funnel's
batch/stream dual (r06 tail registration).

event_funnel reduces the per-user stage timestamps to a one-row report;
this registration exposes the stage table itself (user_id, t1, t2, t3 —
the exact per-user state a streaming funnel maintains) and anchors the
suite's last missing streaming shape: streaming/pipeline.
funnel_stages_stream_buffered runs the SAME semantics as an
applyInPandasWithState job and tests/test_streaming.py asserts the two
halves are row-identical — the events_attributed equality discipline
applied to custom per-key state.

Scale notes (100 TB): identical topology to event_funnel (chained
user-keyed min-reductions, one timestamp of state per user per stage,
no window over a user's event list) minus the final global reduce —
the output is user-cardinality, which is what a funnel SERVICE stores.

Streaming-half delivery contract: consumers keep the row with the MAX
emit_seq per user_id (a monotone marker held in state, so 'last' is
derivable from row contents on unordered sinks). The fold is exact under
ARBITRARY cross-batch order: its state buffers the clicks and purchases
that an earlier-arriving view could still pull into a conversion window,
pruned by reachability (clicks dead past t1 + conv, purchases past
t1 + 2·conv, since t1 only decreases) and by the watermark;
tests/test_streaming.py proves it equal to the batch half on a
one-trigger drain, on time-ordered and time-reversed two-batch feeds and
on a watermarked feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gpu_mapreduce_spark.queries.funnel import _CONV_MS, _STAGES
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table
from gpu_mapreduce_spark.streaming.pipeline import funnel_stages_batch


@register(
    "funnel_user_stages",
    bench=True,
    tags=("analytics", "events", "streaming"),
    oracle=f"""
        WITH s1 AS (
            SELECT user_id, epoch_ms(MIN(ts)) AS t1 FROM events
            WHERE event_type = '{_STAGES[0]}' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, epoch_ms(MIN(e.ts)) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = '{_STAGES[1]}'
              AND epoch_ms(e.ts) > s1.t1
              AND epoch_ms(e.ts) <= s1.t1 + {_CONV_MS}
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, epoch_ms(MIN(e.ts)) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = '{_STAGES[2]}'
              AND epoch_ms(e.ts) > s2.t2
              AND epoch_ms(e.ts) <= s2.t2 + {_CONV_MS}
            GROUP BY e.user_id
        )
        SELECT s1.user_id,
               CAST(s1.t1 AS BIGINT) AS t1,
               CAST(COALESCE(s2.t2, -1) AS BIGINT) AS t2,
               CAST(COALESCE(s3.t3, -1) AS BIGINT) AS t3
        FROM s1
        LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
        ORDER BY s1.user_id
    """,
)
def funnel_user_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, t1, t2, t3): earliest view, earliest click within 24 h
    after it, earliest purchase within 24 h after that; -1 = not reached.
    One row per user with at least one view."""
    return funnel_stages_batch(table(spark, sf_dir, "events"))
