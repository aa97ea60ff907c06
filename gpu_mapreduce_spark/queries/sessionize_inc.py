"""Incremental session-index maintenance (r12 tail registration; the
SCALE.md r13 sessionize_incremental design, landed in-round) — the
event tier's third physical path, completing the batch ≡ stream ≡
INCREMENTAL trilogy the layout (zorder), sketch (hist) and ANN (ivfpq)
tiers already have: an at-rest per-user session table absorbs a delta
batch of strictly-later events, and the UPDATED table must hash-equal
sessionize_events rebuilt over everything — updated ≡ rebuilt, through
that registration's VERBATIM oracle (one oracle, three physical paths).

Split: the stream dual's time boundary — base = events in the first
three quarters of the ts span, delta = the last quarter (the
time-ordered append contract sessionization requires; an id-parity
split would interleave times and be dishonest for an order-dependent
fold). The at-rest base = sessionize_events' own transform over the
base events (shared code — queries/sessionize._sessionize — so the
baseline cannot drift from the gated semantics), persisted parquet,
session-memoized.

The fold (the entire point — cost ∝ |delta| + |touched users|, never
the at-rest history):
  * carried state = each touched user's LAST base session (one
    argmax-struct row per user, joined only for users present in the
    delta);
  * the carried session enters the delta's window stream as ONE SEED
    ROW (ts = its t_end, event_id = -1, so it sorts first and never
    ties — base times precede the boundary, delta times follow): the
    first real delta event's lag test then reads the carried t_end
    EXACTLY as the batch lag would, deciding extend-vs-new with the
    same `> gap` rule;
  * per-user session ids continue arithmetically: sid = carried last
    id + running new-session count (seeds contribute 0);
  * the aggregate counts only real rows; an extended session merges the
    carried (t_start, n) by one equi-join; base sessions not extended
    pass through untouched (anti-join on the extended keys).
Output re-emits the full session table because the GATE hashes whole
results; at rest the same fold is a MERGE into the user-partitioned
table touching only delta users' partitions (the dup_span_ingest
note). Edge semantics pinned in tests/test_sessionize_inc.py: a
boundary-spanning session folds, a gap of exactly _GAP_MS continues
(the rule is strict >), a gap past it opens last_sid + 1, and a
first-ever-seen user starts at session 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gpu_mapreduce_spark.queries.sessionize import _GAP_MS, _sessionize
from gpu_mapreduce_spark.registry import QUERIES, register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import table

_SESS = (
    "user_id bigint, session_id bigint, n_events bigint,"
    " t_start_ms bigint, t_end_ms bigint, dur_s bigint"
)


def _events_ms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms")
    )


def _boundary(spark: SparkSession, sf_dir: str) -> int:
    """The delta boundary: last quarter of the ts span (the stream
    dual's final slice), session-memoized."""

    def build() -> int:
        mn, mx = (
            _events_ms(spark, sf_dir)
            .agg(F.min("ts_ms"), F.max("ts_ms"))
            .collect()[0]
        )
        return mn + (mx - mn + 1) * 3 // 4

    return fixtures.derived(spark, sf_dir, "sessionize_inc_boundary", build)


def _base_sessions_at_rest(spark: SparkSession, sf_dir: str) -> str:
    """At-rest session table over the base (pre-boundary) events, built
    by the REGISTERED transform itself and persisted — the immutable
    index the delta folds into."""

    def write(path: str) -> None:
        t = _boundary(spark, sf_dir)
        base = _sessionize(
            _events_ms(spark, sf_dir).filter(F.col("ts_ms") < t)
        )
        base.write.mode("overwrite").parquet(path)

    return fixtures.derived_dir(spark, sf_dir, "sessionize_inc_base", write)


def fold_delta_sessions(
    base: DataFrame, delta: DataFrame, gap_ms: int = _GAP_MS
) -> DataFrame:
    """Fold strictly-later delta events (user_id, event_id, ts_ms) into
    an at-rest session table — see module docstring. Returns the full
    updated session table (unordered; callers order for the gate)."""
    carried = (
        base.groupBy("user_id")
        .agg(
            F.max(
                F.struct("session_id", "t_start_ms", "t_end_ms", "n_events")
            ).alias("s")
        )
        .select(
            "user_id",
            F.col("s.session_id").alias("last_sid"),
            F.col("s.t_start_ms").alias("b_start"),
            F.col("s.t_end_ms").alias("b_end"),
            F.col("s.n_events").alias("b_n"),
        )
        # only users the delta touches enter the fold (cost ∝ delta)
        .join(delta.select("user_id").distinct(), "user_id", "left_semi")
    )
    seeds = carried.select(
        "user_id",
        F.lit(-1).cast("bigint").alias("event_id"),
        F.col("b_end").alias("ts_ms"),
        F.lit(1).alias("is_seed"),
    )
    stream = delta.select(
        "user_id", "event_id", "ts_ms", F.lit(0).alias("is_seed")
    ).unionByName(seeds)
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    flagged = stream.select(
        "user_id",
        "ts_ms",
        "event_id",
        "is_seed",
        F.when(F.col("is_seed") == 1, 0)
        .when(
            F.lag("ts_ms").over(w).isNull()
            | (F.col("ts_ms") - F.lag("ts_ms").over(w) > gap_ms),
            1,
        )
        .otherwise(0)
        .alias("nf"),
    )
    local = flagged.select(
        "user_id",
        "ts_ms",
        "is_seed",
        F.sum("nf")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts_ms", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("local_sid"),
    )
    delta_agg = (
        local.join(
            carried.select("user_id", "last_sid"), "user_id", "left"
        )
        .select(
            "user_id",
            "ts_ms",
            "is_seed",
            (F.coalesce("last_sid", F.lit(0)) + F.col("local_sid"))
            .cast("bigint")
            .alias("session_id"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.sum(1 - F.col("is_seed")).cast("bigint").alias("dn"),
            F.min(F.when(F.col("is_seed") == 0, F.col("ts_ms"))).alias(
                "d_start"
            ),
            F.max(F.when(F.col("is_seed") == 0, F.col("ts_ms"))).alias(
                "d_end"
            ),
        )
        .filter(F.col("dn") > 0)  # a seed whose session got no delta rows
    )
    merged = (
        delta_agg.join(
            carried,
            (delta_agg.user_id == carried.user_id)
            & (delta_agg.session_id == carried.last_sid),
            "left",
        )
        .select(
            delta_agg.user_id.alias("user_id"),
            "session_id",
            (F.col("dn") + F.coalesce("b_n", F.lit(0)))
            .cast("bigint")
            .alias("n_events"),
            F.coalesce("b_start", F.col("d_start"))
            .cast("bigint")
            .alias("t_start_ms"),
            F.col("d_end").cast("bigint").alias("t_end_ms"),
        )
        .withColumn(
            "dur_s",
            F.expr("CAST((t_end_ms - t_start_ms) div 1000 AS BIGINT)"),
        )
    )
    untouched = base.join(
        merged.select("user_id", "session_id"),
        ["user_id", "session_id"],
        "left_anti",
    )
    return untouched.unionByName(merged)


@register(
    "sessionize_incremental",
    tags=("analytics", "events", "incremental", "order"),
    # sessionize_events' oracle VERBATIM (its third physical path):
    # at-rest base + delta fold ≡ batch rebuild over everything
    oracle=QUERIES["sessionize_events"].oracle,
)
def sessionize_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold the post-boundary delta events into the at-rest base session
    table and report sessionize_events' exact output shape — identical
    rows, which is the claim."""
    t = _boundary(spark, sf_dir)
    base = spark.read.schema(_SESS).parquet(
        _base_sessions_at_rest(spark, sf_dir)
    )
    delta = _events_ms(spark, sf_dir).filter(F.col("ts_ms") >= t)
    return fold_delta_sessions(base, delta).orderBy("user_id", "session_id")
