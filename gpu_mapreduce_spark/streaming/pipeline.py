"""Structured Streaming over the `events` table (builder brief
"beyond-reference" §streaming; the reference has no streaming at all —
SURVEY.md §0).

Batch/stream duality: every streaming aggregation here shares its transform
with a batch query in queries/streaming_batch.py — the batch run is the
oracle-checked truth, the streaming run (file source + availableNow trigger)
must reproduce it exactly, and tests/test_streaming.py asserts that.

Scale notes: the file source is a stand-in for Kafka/Kinesis — swap
`readStream.format("parquet")` for the bus, everything downstream is
unchanged. Watermarks bound state: the windowed aggregation keeps only
windows younger than the watermark; the sessionizer uses per-key
GroupState with a processing-time timeout so abandoned users are flushed;
the funnel fold (funnel_stages_stream_buffered) keeps per-user stage
timestamps plus event buffers pruned by reachability and the watermark.
State volume ∝ active keys (windows/users in the lateness horizon), not
stream length.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gpu_mapreduce_spark.functions.numeric import dsum

SESSION_GAP_MIN = 30

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string,"
    " value double, props string"
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a stream (file source; schema must be declared —
    streaming sources can't infer). The file stores timestamp-without-
    timezone micros; declaring `ts timestamp` reads the raw micros as
    session-UTC TIMESTAMP — the identical values the batch reader
    (sources/tables.py) produces, verified by tests/test_streaming.py."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def windowed_counts(events: DataFrame, with_watermark: bool = False) -> DataFrame:
    """Tumbling 1-hour counts + exact value sums per event_type. One
    transform for both batch (with_watermark=False) and streaming
    (True: 2-hour lateness horizon bounds window state)."""
    if with_watermark:
        events = events.withWatermark("ts", "2 hours")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_ms"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def hopping_counts(events: DataFrame, with_watermark: bool = False) -> DataFrame:
    """HOPPING (sliding) 1-hour windows every 15 minutes: each event lands
    in 4 overlapping windows — the smoothed-trend view tumbling windows
    can't give. Same transform for batch and streaming; the watermark
    bounds state to (lateness + window length) / slide open windows per
    (window, type) key. Spark's window() materializes the per-event window
    list at the scan (a 4-way explode), so the aggregate stays a plain
    partial-aggregated groupBy — the hop multiplies shuffle rows by
    window/slide, which is the known, bounded cost of the overlap."""
    if with_watermark:
        events = events.withWatermark("ts", "2 hours")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_ms"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def enriched_type_counts(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static enrichment: every event joined to the (static) customer
    dimension, then exact counts/sums per (mktsegment, event_type).

    One transform for both halves — Structured Streaming joins a stream to
    a batch DataFrame natively (the dim is read fresh per micro-batch, so a
    slowly-changing dimension picks up updates between batches), and the
    explicit broadcast keeps the stream side shuffle-free: the same plan a
    100-TB batch enrichment wants."""
    # bcast-audit: sf-dim (stream-static customer; cluster scale: state-store join)
    dim = F.broadcast(
        customers.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    return (
        events.join(dim, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("sum_value"),
        )
    )


def with_redelivery(events: DataFrame) -> DataFrame:
    """Simulate an at-least-once bus: every 3rd event is delivered twice
    (exact copies — the redelivery case; same shape for batch and stream
    inputs, so the dual tests share one corruption)."""
    return events.unionAll(events.filter(F.col("event_id") % 3 == 0))


def dedup_events(events: DataFrame, streaming: bool = False) -> DataFrame:
    """Exactly-once repair over an at-least-once delivery: drop redelivered
    event_ids. The streaming half uses dropDuplicatesWithinWatermark so the
    dedup state is BOUNDED by the lateness horizon — the plain streaming
    dropDuplicates keeps every key ever seen and grows without limit, which
    is the difference between a pipeline that runs for a week and one that
    OOMs. Batch uses plain dropDuplicates (duplicates are exact copies, so
    keep-any is deterministic)."""
    if streaming:
        return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


ATTRIBUTION_MIN = 30


def attributed_purchases(events: DataFrame, streaming: bool = False) -> DataFrame:
    """Funnel attribution: every (purchase, view) pair from the same user
    with the view at most ATTRIBUTION_MIN minutes before (or at) the
    purchase. One transform for both halves:

    Batch: equi-join on user_id with the time bound as a join-level
    predicate — one shuffle per side, per-user sorted probe; pair volume is
    bounded per user, never |events|².

    Streaming: a genuine STREAM-STREAM inner join (the only join class the
    stream-static enrichment can't express — both sides keep arriving).
    Watermarks on both inputs plus the two-sided time bound let Spark
    compute exactly how long a buffered view can still match a future
    purchase, so join state is evicted at `watermark + ATTRIBUTION_MIN`:
    state ∝ the lateness horizon, not stream length."""
    purch = events.filter(F.col("event_type") == "purchase")
    views = events.filter(F.col("event_type") == "view")
    if streaming:
        purch = purch.withWatermark("ts", "2 hours")
        views = views.withWatermark("ts", "2 hours")
    p = purch.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") > F.col("p_ts") - F.expr(f"interval {ATTRIBUTION_MIN} minutes"))
        & (F.col("v_ts") <= F.col("p_ts"))
    )
    return p.join(v, cond).select(
        "purchase_id",
        "view_id",
        F.col("p_user").alias("user_id"),
        (F.unix_millis("p_ts") - F.unix_millis("v_ts")).alias("lag_ms"),
    )


# SINGLE source for the funnel's stage names and 24 h conversion window —
# queries/funnel.py and queries/funnel_stream.py import these (and splice
# them into both registered oracles); a second copy would let an oracle
# and the streaming dual silently diverge (review note r06). Defined HERE
# rather than in queries/funnel.py because importing a registering module
# from this side-effect-free one would fire funnel's registrations at the
# importer's load position and scramble the registry-order discipline.
FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_CONV_MS = 24 * 3600 * 1000  # conversion window per stage: 24 hours
#   (chosen to discriminate on the fixture's ~2-events/user/day stream:
#    sf0.01 funnel 150 -> 60 -> 25, sf0.1 1500 -> 536 -> 217; without a
#    window every user eventually does everything and the ordered
#    semantics are invisible)


def funnel_stages_batch(
    events: DataFrame, conv_ms: int = FUNNEL_CONV_MS
) -> DataFrame:
    """Per-user funnel stage table (user_id, t1, t2, t3 — epoch ms, -1 for
    a stage not reached): the batch half of the funnel dual. Same chained
    ordered-window semantics as queries/funnel.event_funnel (which reduces
    this table to its one-row report); -1 sentinels instead of NULLs so the
    streaming half's rows and the oracle compare exactly (the
    dedup_incremental sentinel discipline)."""
    ev = events.select(
        "user_id", "event_type", F.unix_millis("ts").alias("tms")
    )
    # s1 feeds s2 AND the final join (s2 likewise): eager checkpoints keep
    # each stage computed once — the same multi-consumer discipline this
    # chain's twin in queries/funnel.event_funnel applies
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("tms").alias("t1"))
        .localCheckpoint(eager=True)
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(s1, "user_id")
        .filter(
            (F.col("tms") > F.col("t1"))
            & (F.col("tms") <= F.col("t1") + conv_ms)
        )
        .groupBy("user_id")
        .agg(F.min("tms").alias("t2"))
        .localCheckpoint(eager=True)
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(s2, "user_id")
        .filter(
            (F.col("tms") > F.col("t2"))
            & (F.col("tms") <= F.col("t2") + conv_ms)
        )
        .groupBy("user_id")
        .agg(F.min("tms").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            F.col("t1").cast("bigint").alias("t1"),
            F.coalesce("t2", F.lit(-1)).cast("bigint").alias("t2"),
            F.coalesce("t3", F.lit(-1)).cast("bigint").alias("t3"),
        )
    )


def _prune_buffers(
    t1: int,
    clicks: list[int],
    purchases: list[int],
    conv_ms: int,
    wm_ms: int,
) -> tuple[list[int], list[int]]:
    """Buffered-funnel state pruning (pure; unit-tested directly).

    With a first view known (t1 >= 0): a click above t1 + conv and a
    purchase above t1 + 2·conv can never enter their windows again (t1
    only decreases). Without one (t1 = -1): every future view has event
    time >= the watermark, so timestamps below wm - 2·conv are
    unreachable by any future window; wm_ms = 0 (no watermark configured)
    disables that arm."""
    if t1 >= 0:
        return (
            [c for c in clicks if c <= t1 + conv_ms],
            [p for p in purchases if p <= t1 + 2 * conv_ms],
        )
    if wm_ms > 0:
        horizon = wm_ms - 2 * conv_ms
        return (
            [c for c in clicks if c >= horizon],
            [p for p in purchases if p >= horizon],
        )
    return clicks, purchases


def funnel_stages_stream_buffered(
    events: DataFrame, conv_ms: int = FUNNEL_CONV_MS
) -> DataFrame:
    """Custom stateful streaming operator: the per-user funnel stage table
    as an applyInPandasWithState fold, exact under ARBITRARY cross-batch
    arrival order. State buffers the stage-2/3 event timestamps that might
    yet fall inside a conversion window, so an earlier-arriving view (a
    later micro-batch delivering an older event) recovers the clicks and
    purchases that arrived before it. A fold holding only the three stage
    timestamps would have discarded them.

    State = (t1, t2, t3, clicks[], purchases[], seq). The buffers are
    PRUNED by what could still matter, exploiting that t1 = min(views)
    only ever decreases as older events arrive:
      - a click c is dead once c > t1 + conv_ms (the window (t1, t1+conv]
        only moves EARLIER as t1 decreases, so c can never re-enter);
      - a purchase p is dead once p > t1 + 2·conv_ms (max possible
        t2 = t1 + conv_ms, so p can never fall inside (t2, t2+conv]).
    Until a first view arrives (t1 = -1) the t1-window rules can't fire,
    so the WATERMARK horizon prunes instead (wired via
    state.getCurrentWatermarkMs(), nonzero when the source stream has
    withWatermark on ts): events older than the watermark cannot arrive,
    so every future view has ts >= wm, which caps the reachable windows
    at (wm, wm+conv] for clicks and (wm, wm+2·conv] for purchases —
    buffered timestamps below (wm - 2·conv) are dead under ANY future
    view, the horizon the module has documented since r08. On an
    unwatermarked feed (wm = 0) the horizon is negative and the prune is
    a no-op, preserving the availableNow equality tests. Buffers are
    deduped sorted lists, so at-least-once redelivery cannot grow state;
    with the horizon wired, a continuous feed of view-less users no
    longer accumulates unbounded click/purchase buffers (r08 ADVICE).

    Emits only when (t1, t2, t3) changed (append mode would otherwise
    re-emit every sighted user on every trigger), each row stamped with
    `emit_seq`, a per-user monotone counter held in state: 'keep the LAST
    row per user' is then max emit_seq, derivable from row CONTENTS on any
    sink (append-mode file sinks guarantee no cross-batch ordering).
    Keep-max-emit_seq per user equals the batch chain on ANY feed order
    (tests/test_streaming.py: one-trigger drain, time-ordered and
    time-reversed two-batch feeds, a watermarked feed)."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows = pd.concat(list(pdfs))
        tms = rows["ts"].astype("int64") // 1_000_000  # pandas ns → ms
        views = tms[rows["event_type"] == FUNNEL_STAGES[0]].tolist()
        clicks = tms[rows["event_type"] == FUNNEL_STAGES[1]].tolist()
        purchases = tms[rows["event_type"] == FUNNEL_STAGES[2]].tolist()
        if state.exists:
            st1, st2, st3, sclicks, spurchases, seq = state.get
            prior = (st1, st2, st3)
            if st1 >= 0:
                views.append(st1)
            clicks += list(sclicks)
            purchases += list(spurchases)
        else:
            prior, seq = None, 0
        t1 = min(views, default=-1)
        try:
            wm_ms = state.getCurrentWatermarkMs()
        except PySparkRuntimeError:  # no withWatermark on the source stream
            wm_ms = 0
        clicks, purchases = _prune_buffers(t1, clicks, purchases, conv_ms, wm_ms)
        t2 = min((c for c in clicks if t1 >= 0 and t1 < c <= t1 + conv_ms),
                 default=-1)
        t3 = min((p for p in purchases if t2 >= 0 and t2 < p <= t2 + conv_ms),
                 default=-1)
        new = (int(t1), int(t2), int(t3))
        emit = t1 >= 0 and new != prior
        if emit:
            seq += 1
        state.update(
            (
                *new,
                sorted(set(int(c) for c in clicks)),
                sorted(set(int(p) for p in purchases)),
                int(seq),
            )
        )
        if emit:
            yield pd.DataFrame(
                {
                    "user_id": [user_id], "t1": [new[0]], "t2": [new[1]],
                    "t3": [new[2]], "emit_seq": [int(seq)],
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id bigint, t1 bigint, t2 bigint, t3 bigint, emit_seq bigint"
        ),
        stateStructType=(
            "t1 bigint, t2 bigint, t3 bigint,"
            " clicks array<bigint>, purchases array<bigint>, seq bigint"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_batch(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Batch sessionization: a session breaks after a gap > gap_min minutes
    without events from that user. Window-function formulation (the
    reference has no window functions at all — SURVEY.md §2.1 note)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap_ms = gap_min * 60 * 1000
    marked = events.select(
        "user_id",
        "ts",
        "value",
        (
            (F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))) > gap_ms
        ).cast("int").alias("is_new"),
    ).select(
        "user_id",
        "ts",
        "value",
        F.sum(F.coalesce("is_new", F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("session_no"),
    )
    return marked.groupBy("user_id", "session_no").agg(
        F.unix_millis(F.min("ts")).alias("session_start_ms"),
        F.unix_millis(F.max("ts")).alias("session_end_ms"),
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )


def sessionize_stream(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization with
    applyInPandasWithState. State = the open session (start, last ts, count,
    value units); a session is emitted as soon as a later event proves the
    gap. Value totals accumulate in integer units inside state (same
    exactness discipline as functions/numeric.py).

    Open sessions stay in state (NoTimeout): a long-running deployment would
    use GroupStateTimeout.ProcessingTimeTimeout to flush idle users, but
    under the availableNow trigger a registered timeout forces the query to
    spin state-cleanup batches until the wall-clock deadline passes —
    pointless when the trigger's purpose is to drain available data and
    stop."""
    gap_ms = gap_min * 60 * 1000

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows = pd.concat(list(pdfs)).sort_values("ts")
        if state.exists:
            start, last, n, cents = state.get
        else:
            start = last = None
            n = cents = 0
        out: dict[str, list] = {
            "user_id": [],
            "session_start_ms": [],
            "session_end_ms": [],
            "n_events": [],
            "sum_value": [],
        }
        for ts, value in zip(rows["ts"], rows["value"]):
            ts_ms = int(ts.value // 1_000_000)  # pandas ns → ms
            if start is None:
                start, last, n, cents = ts_ms, ts_ms, 1, int(value * 10000)
            elif ts_ms - last > gap_ms:
                out["user_id"].append(user_id)
                out["session_start_ms"].append(start)
                out["session_end_ms"].append(last)
                out["n_events"].append(n)
                out["sum_value"].append(cents / 10000.0)
                start, last, n, cents = ts_ms, ts_ms, 1, int(value * 10000)
            else:
                last = ts_ms
                n += 1
                cents += int(value * 10000)
        state.update((start, last, n, cents))
        if out["user_id"]:
            yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id bigint, session_start_ms bigint, session_end_ms bigint,"
            " n_events bigint, sum_value double"
        ),
        stateStructType="start bigint, last bigint, n bigint, cents bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_stream_ids(
    events: DataFrame, gap_ms: int
) -> DataFrame:
    """The streaming dual of queries/sessionize.sessionize_events — the
    same gap rule, the same 1-based per-user session ids, emitted with
    the funnel tier's monotone ``emit_seq`` marker so 'keep the LAST row
    per (user, session)' is derivable from row CONTENTS on any
    append-mode sink.

    State per user is FOUR BIGINTs plus the counter: (current session
    id, open-session start/last/count, emit_seq) — never an event
    buffer. Each batch folds its events (sorted by the batch's total
    order (ts_ms, event_id)) into the open session: a proven gap emits
    the closed session's FINAL row and opens the next id; the still-open
    session is re-emitted as a PROVISIONAL snapshot whenever it changed,
    so after any drain the max-emit_seq row per (user, session) is that
    session's latest truth — open sessions included, which is what makes
    stream-assembled output comparable to the batch query without a
    state flush. Delivery contract: per-user event time must be
    non-decreasing ACROSS batches (a time-ordered bus / the registered
    query's time-sliced file feed); within a batch order is free. A
    session spanning a batch boundary is exactly the state carry case.

    Expects columns (user_id, event_id, ts_ms) — pre-projected epoch ms,
    so the file-source feed needs no timestamp-zone handling. 100 TB:
    state is O(active users) fixed-width rows; each emitted row is one
    of at most sessions+batches rows per user, and the final
    keep-max-emit_seq reduction is one co-partitioned aggregate."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows = pd.concat(list(pdfs)).sort_values(["ts_ms", "event_id"])
        if state.exists:
            sid, start, last, n, seq = state.get
        else:
            sid, start, last, n, seq = 0, -1, -1, 0, 0
        out: dict[str, list] = {
            "user_id": [], "session_id": [], "n_events": [],
            "t_start_ms": [], "t_end_ms": [], "emit_seq": [],
        }

        def emit() -> None:
            nonlocal seq
            seq += 1
            out["user_id"].append(user_id)
            out["session_id"].append(sid)
            out["n_events"].append(n)
            out["t_start_ms"].append(start)
            out["t_end_ms"].append(last)
            out["emit_seq"].append(seq)

        for ts in rows["ts_ms"]:
            ts = int(ts)
            if start < 0:
                sid, start, last, n = sid + 1, ts, ts, 1
            elif ts - last > gap_ms:
                emit()  # closed session: final row
                sid, start, last, n = sid + 1, ts, ts, 1
            else:
                last, n = ts, n + 1
        emit()  # open session: provisional snapshot (superseded by seq)
        state.update((int(sid), int(start), int(last), int(n), int(seq)))
        yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id bigint, session_id bigint, n_events bigint,"
            " t_start_ms bigint, t_end_ms bigint, emit_seq bigint"
        ),
        stateStructType=(
            "sid bigint, start bigint, last bigint, n bigint, seq bigint"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(
    stream_df: DataFrame, name: str, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming DataFrame to completion on the available data
    (availableNow trigger + memory sink) and return the materialized result.
    output_mode: 'complete' for aggregations, 'append' for stateful ops."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
