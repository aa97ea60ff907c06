"""Stream/batch duality checks: the streaming runs (availableNow trigger)
must reproduce their oracle-checked batch halves."""

from __future__ import annotations

from gpu_mapreduce_spark.sources.tables import table
from gpu_mapreduce_spark.streaming import pipeline
from tests.conftest import SF_DIR


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_windowed_stream_equals_batch(spark):
    batch = pipeline.windowed_counts(table(spark, SF_DIR, "events"))
    stream = pipeline.windowed_counts(
        pipeline.events_stream(spark, SF_DIR), with_watermark=True
    )
    got = pipeline.run_stream_to_memory(stream, "t_windowed", spark)
    cols = ["window_ms", "event_type", "n", "sum_value"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_sessionize_stream_closes_batch_sessions(spark):
    """availableNow processes the file as one batch, so the stateful
    sessionizer emits exactly the sessions *closed by a later event within
    the batch* — i.e. every batch session except each user's final one
    (which stays in state awaiting the processing-time timeout)."""
    batch = pipeline.sessionize_batch(table(spark, SF_DIR, "events"))
    stream = pipeline.sessionize_stream(pipeline.events_stream(spark, SF_DIR))
    got = pipeline.run_stream_to_memory(
        stream, "t_sessions", spark, output_mode="append"
    )
    cols = ["user_id", "session_start_ms", "session_end_ms", "n_events", "sum_value"]
    got_rows = set(_rows(got, cols))

    batch_rows = [
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events, r.sum_value, r.session_no)
        for r in batch.collect()
    ]
    last_no = {}
    for u, *_rest, no in batch_rows:
        last_no[u] = max(last_no.get(u, -1), no)
    want = {
        (u, s, e, n, v)
        for (u, s, e, n, v, no) in batch_rows
        if no != last_no[u]
    }
    assert got_rows == want
    assert len(want) > 0


def test_dedup_stream_equals_batch(spark):
    """At-least-once repair: the watermark-bounded streaming dedup over the
    redelivered stream must yield exactly the batch dedup's row set (= the
    original events, since event_id is unique in the source)."""
    from pyspark.sql import functions as F

    def normalize(df):
        return df.select(
            "event_id", F.unix_millis("ts").alias("ts_ms"), "user_id",
            "event_type", "value",
        )

    batch = pipeline.dedup_events(
        pipeline.with_redelivery(table(spark, SF_DIR, "events"))
    )
    stream = pipeline.dedup_events(
        pipeline.with_redelivery(pipeline.events_stream(spark, SF_DIR)),
        streaming=True,
    )
    got = pipeline.run_stream_to_memory(
        normalize(stream), "t_dedup", spark, output_mode="append"
    )
    cols = ["event_id", "ts_ms", "user_id", "event_type", "value"]
    assert _rows(got, cols) == _rows(normalize(batch), cols)
    assert got.count() == table(spark, SF_DIR, "events").count()


def test_attributed_stream_equals_batch(spark):
    """Stream-stream inner join: with availableNow draining both sides, the
    watermarked purchase⋈view attribution must equal the batch join
    exactly (no pair lost to state eviction — the watermark horizon exceeds
    the attribution window)."""
    batch = pipeline.attributed_purchases(table(spark, SF_DIR, "events"))
    stream = pipeline.attributed_purchases(
        pipeline.events_stream(spark, SF_DIR), streaming=True
    )
    got = pipeline.run_stream_to_memory(
        stream, "t_attributed", spark, output_mode="append"
    )
    cols = ["purchase_id", "view_id", "user_id", "lag_ms"]
    assert _rows(got, cols) == _rows(batch, cols)
    assert got.count() > 0


def test_enriched_stream_equals_batch(spark):
    """Stream-static join: the streaming half joins each micro-batch to the
    static customer dim; with availableNow draining everything, the result
    must equal the batch enrichment exactly."""
    customers = table(spark, SF_DIR, "customer")
    batch = pipeline.enriched_type_counts(table(spark, SF_DIR, "events"), customers)
    stream = pipeline.enriched_type_counts(
        pipeline.events_stream(spark, SF_DIR), customers
    )
    got = pipeline.run_stream_to_memory(stream, "t_enriched", spark)
    cols = ["c_mktsegment", "event_type", "n", "sum_value"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_hopping_stream_equals_batch(spark):
    batch = pipeline.hopping_counts(table(spark, SF_DIR, "events"))
    stream = pipeline.hopping_counts(
        pipeline.events_stream(spark, SF_DIR), with_watermark=True
    )
    got = pipeline.run_stream_to_memory(stream, "t_hopping", spark)
    cols = ["window_ms", "event_type", "n", "sum_value"]
    assert _rows(got, cols) == _rows(batch, cols)
    # every tumbling bucket appears in exactly window/slide hops: total row
    # weight quadruples relative to the tumbling view
    tumbling_n = sum(r.n for r in pipeline.windowed_counts(
        table(spark, SF_DIR, "events")).collect())
    assert sum(r.n for r in batch.collect()) == 4 * tumbling_n


def test_checkpointed_restart_is_exactly_once(spark, tmp_path):
    """Offset recovery across a restart: a file-source stream with a
    checkpointLocation processes batch A, stops, the source grows by batch
    B, and a NEW query object restarted on the SAME checkpoint processes
    ONLY B — the parquet sink ends with exactly A+B rows, no reprocessing
    of A and no gap. This is the exactly-once file-sink contract every
    incremental ingest pipeline leans on; nothing else in the suite
    exercises restart recovery."""
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ev = table(spark, SF_DIR, "events")
    a = ev.filter(F.col("user_id") % 2 == 0)
    b = ev.filter(F.col("user_id") % 2 == 1)
    a.write.parquet(str(src / "a"))

    def run_once():
        stream = (
            spark.readStream.schema(pipeline.EVENTS_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
            .select("event_id", "user_id")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    got_a = spark.read.parquet(sink).count()
    assert got_a == a.count()
    b.write.parquet(str(src / "b"))
    run_once()  # fresh query object, same checkpoint
    final = spark.read.parquet(sink)
    assert final.count() == a.count() + b.count()
    # row identity, not just counts: no duplicate event_ids, none missing
    assert final.select("event_id").distinct().count() == ev.count()


def test_funnel_stream_equals_batch(spark):
    """Custom stateful funnel (applyInPandasWithState): with availableNow
    draining the file in one trigger, the per-user stage table must equal
    the batch chain exactly — including users stalled mid-funnel (t2/t3 =
    -1 sentinels)."""
    batch = pipeline.funnel_stages_batch(table(spark, SF_DIR, "events"))
    stream = pipeline.funnel_stages_stream_buffered(
        pipeline.events_stream(spark, SF_DIR)
    )
    got = pipeline.run_stream_to_memory(
        stream, "t_funnel", spark, output_mode="append"
    )
    cols = ["user_id", "t1", "t2", "t3"]
    assert _rows(got, cols) == _rows(batch, cols)
    rows = _rows(got, cols)
    assert rows, "fixture must produce funnel entrants"
    # the ordered semantics must be visible: some users stall at each stage
    assert any(r[2] == -1 for r in rows) and any(
        r[2] != -1 and r[3] == -1 for r in rows
    )


def test_funnel_stream_multibatch_emits_only_on_change(spark, tmp_path):
    """Two time-ordered microbatches (maxFilesPerTrigger=1): a user whose
    state tuple does not change in a batch must NOT re-emit (the r06
    append-mode duplicate bug), and keep-LAST-row-per-user must equal the
    batch chain over the union. Out-of-order feeds are covered by
    test_funnel_buffered_recovers_out_of_order_batches."""
    import time as _time

    from pyspark.sql import functions as F

    ev = table(spark, SF_DIR, "events")
    # cut EARLY (2% of the timeline): every 24 h conversion window closes
    # inside the first half at a median cut, so no funnel would straddle
    # the batch boundary and the evolve case would go unexercised
    cut = ev.agg(F.expr("percentile_approx(ts, 0.02)").alias("m")).collect()[0].m
    d = str(tmp_path / "feed")
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(d)
    _time.sleep(1.1)  # file-source batches order by modification time
    ev.filter(F.col("ts") > cut).coalesce(1).write.mode("append").parquet(d)

    stream = pipeline.funnel_stages_stream_buffered(
        spark.readStream.schema(pipeline.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    got = pipeline.run_stream_to_memory(
        stream, "t_funnel_mb", spark, output_mode="append"
    )
    rows = [(r.user_id, r.t1, r.t2, r.t3) for r in got.collect()]
    # emit-on-change: identical (user, state) rows never repeat
    assert len(rows) == len(set(rows)), "duplicate unchanged-state emissions"
    # multi-batch contract: LAST row per user == the batch chain's row.
    # Memory-sink rows arrive in batch order, so 'last' = later batch wins.
    last: dict[int, tuple] = {}
    for r in rows:
        last[r[0]] = r[1:]
    batch = pipeline.funnel_stages_batch(ev)
    want = {r.user_id: (r.t1, r.t2, r.t3) for r in batch.collect()}
    assert last == want
    # the test is only meaningful if some users actually evolved across
    # batches (emitted twice) and some emitted once
    per_user = {}
    for r in rows:
        per_user[r[0]] = per_user.get(r[0], 0) + 1
    assert any(v == 2 for v in per_user.values())
    assert any(v == 1 for v in per_user.values())


def test_funnel_buffered_recovers_out_of_order_batches(spark, tmp_path):
    """Adversarial cross-batch delivery: batch 1 is the LATER half of the
    timeline (a user's clicks/purchases arrive before any of their views),
    batch 2 the EARLIER half. A click that arrives while t1 = -1 must be
    kept until the earlier view arrives — a fold holding only the three
    stage timestamps would discard it — so keep-max-emit_seq per user must
    equal the batch chain exactly. emit_seq (not sink order) defines
    'last', per the unordered-sink contract."""
    import time as _time

    from pyspark.sql import functions as F

    ev = table(spark, SF_DIR, "events")
    # cut EARLY (2%), like the ordered multibatch test: conversion windows
    # are 24 h, so only a cut near the start leaves windows STRADDLING the
    # batch boundary — a view just before the cut whose click lands after
    # it, delivered click first.
    cut, cut_ms = (
        ev.agg(F.expr("percentile_approx(ts, 0.02)").alias("m"))
        .select("m", F.unix_millis("m"))
        .collect()[0]
    )
    d = str(tmp_path / "feed")
    ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(d)  # LATE half 1st
    _time.sleep(1.1)  # file-source batch order = modification time
    ev.filter(F.col("ts") <= cut).coalesce(1).write.mode("append").parquet(d)

    stream = pipeline.funnel_stages_stream_buffered(
        spark.readStream.schema(pipeline.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    got = pipeline.run_stream_to_memory(
        stream, "t_funnel_buf", spark, output_mode="append"
    )
    last = {}
    for r in got.collect():
        if r.user_id not in last or r.emit_seq > last[r.user_id][0]:
            last[r.user_id] = (r.emit_seq, r.t1, r.t2, r.t3)
    want = {
        r.user_id: (r.t1, r.t2, r.t3)
        for r in pipeline.funnel_stages_batch(ev).collect()
    }
    assert {u: v[1:] for u, v in last.items()} == want
    # the feed must actually be adversarial: some conversion window
    # straddles the cut, so its click (ts > cut, batch 1) is delivered
    # before its view (ts <= cut, batch 2); otherwise this proves nothing
    assert any(t1 <= cut_ms < t2 for t1, t2, _ in want.values())


def test_funnel_buffered_equals_bounded_on_ordered_feed(spark):
    """On the single-trigger drain (every event in one batch) the buffered
    fold must be a drop-in for a bounded 3-timestamp fold: one row per
    funnel entrant, emitted once (emit_seq 1, no buffer-driven re-emits),
    and the identical stage table."""
    batch = pipeline.funnel_stages_batch(table(spark, SF_DIR, "events"))
    stream = pipeline.funnel_stages_stream_buffered(
        pipeline.events_stream(spark, SF_DIR)
    )
    got = pipeline.run_stream_to_memory(
        stream, "t_funnel_buf_one", spark, output_mode="append"
    )
    rows = got.collect()
    assert rows, "fixture must produce funnel entrants"
    assert {r.emit_seq for r in rows} == {1}
    assert len({r.user_id for r in rows}) == len(rows)
    cols = ["user_id", "t1", "t2", "t3"]
    assert sorted(tuple(r[c] for c in cols) for r in rows) == _rows(batch, cols)


def test_prune_buffers_unit():
    """Pure-fold contract of the buffered funnel's state pruning: the
    t1-window rules with a view, the watermark horizon (wm - 2*conv)
    without one, and a no-op on an unwatermarked feed (wm = 0)."""
    conv = 100
    # with a view: clicks capped at t1+conv, purchases at t1+2*conv
    c, p = pipeline._prune_buffers(50, [100, 150, 151], [200, 250, 251], conv, 0)
    assert c == [100, 150] and p == [200, 250]
    # view-less + watermark: drop below wm - 2*conv
    c, p = pipeline._prune_buffers(-1, [99, 100, 500], [1, 300, 900], conv, 300)
    assert c == [100, 500] and p == [300, 900]
    # view-less + no watermark: keep everything (availableNow equality runs)
    c, p = pipeline._prune_buffers(-1, [1, 2], [3], conv, 0)
    assert c == [1, 2] and p == [3]


def test_funnel_buffered_watermarked_feed_equals_batch(spark, tmp_path):
    """The watermark-horizon prune must drop only DEAD state: on a
    two-batch watermarked feed whose first batch delivers a view-less
    user's clicks (buffered, then pruned once the watermark passes their
    horizon), the final keep-max-emit_seq table still equals the batch
    fold — pruned timestamps were unreachable by any admissible later
    view, so no conversion is lost."""
    import time as _time

    from pyspark.sql import functions as F

    ev = table(spark, SF_DIR, "events")
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)").alias("m")).collect()[0].m
    d = str(tmp_path / "feed_wm")
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(d)
    _time.sleep(1.1)  # file-source batch order = modification time
    ev.filter(F.col("ts") > cut).coalesce(1).write.mode("append").parquet(d)
    stream = pipeline.funnel_stages_stream_buffered(
        spark.readStream.schema(pipeline.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withWatermark("ts", "1 hour")
    )
    got = pipeline.run_stream_to_memory(
        stream, "t_funnel_wm", spark, output_mode="append"
    )
    last: dict = {}
    for r in got.collect():
        if r.user_id not in last or r.emit_seq > last[r.user_id][0]:
            last[r.user_id] = (r.emit_seq, r.t1, r.t2, r.t3)
    want = {
        r.user_id: (r.t1, r.t2, r.t3)
        for r in pipeline.funnel_stages_batch(ev).collect()
    }
    assert {u: v[1:] for u, v in last.items()} == want


def test_stream_sessionize_ingest_equals_batch_and_replays_idempotently(
    spark,
):
    """The r12 event-tier dual: stream-assembled sessions must equal
    sessionize_events' batch output row-for-row, and re-writing any
    microbatch's emit dir (foreachBatch's at-least-once retry) must not
    change the assembled result — overwrite-per-batch idempotency."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gpu_mapreduce_spark.queries.sessionize_stream import (
        _EMIT,
        _FEED,
        _GAP_MS,
        _sliced_stream_dir,
    )
    from gpu_mapreduce_spark.registry import load_all

    qs = load_all()
    batch = qs["sessionize_events"].fn(spark, SF_DIR)
    cols = [
        "user_id", "session_id", "n_events", "t_start_ms", "t_end_ms",
        "dur_s",
    ]
    want = _rows(batch, cols)

    # drain into a kept scratch dir so the emit dirs survive for replay
    path = tempfile.mkdtemp(prefix="sessionize_replay_")
    try:
        src_dir = _sliced_stream_dir(spark, SF_DIR)

        def sink(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(
                f"{path}/emit_{batch_id}"
            )

        q = (
            spark.readStream.schema(_FEED)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
            .transform(
                lambda df: pipeline.sessionize_stream_ids(df, _GAP_MS)
            )
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{path}/_chk")
            .start()
        )
        q.awaitTermination()
        emit_dirs = sorted(glob.glob(f"{path}/emit_*"))
        assert len(emit_dirs) == 4, emit_dirs  # one per time slice

        def assemble():
            emitted = spark.read.schema(_EMIT).parquet(f"{path}/emit_*")
            latest = emitted.groupBy("user_id", "session_id").agg(
                F.max(
                    F.struct(
                        "emit_seq", "n_events", "t_start_ms", "t_end_ms"
                    )
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
            )

        got = _rows(assemble(), cols)
        assert got == want

        # replay batch 1: rewrite its emit dir from its own rows (what a
        # foreachBatch retry does) — the assembled result must not move
        replay = spark.read.schema(_EMIT).parquet(emit_dirs[1]).collect()
        shutil.rmtree(emit_dirs[1])
        spark.createDataFrame(replay, _EMIT).write.mode(
            "overwrite"
        ).parquet(emit_dirs[1])
        assert _rows(assemble(), cols) == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_sessionize_stream_ids_carries_sessions_across_batches(spark):
    """State-carry semantics on a hand feed driven batch-by-batch: a
    session spanning the batch boundary must keep its id and fold its
    counts; the provisional open-session snapshot must be superseded by
    the final row via max emit_seq."""
    import pandas as pd

    from gpu_mapreduce_spark.streaming.pipeline import sessionize_stream_ids

    gap = 10_000
    # user 7: batch A ends an open session (ts 0, 5k), batch B continues
    # it (8k) then breaks it (50k) — one session (0..8k, n=3), one open
    # (50k). user 8 appears only in batch B.
    batch_a = [(7, 1, 0), (7, 2, 5_000)]
    batch_b = [(7, 3, 8_000), (7, 4, 50_000), (8, 5, 1_000)]

    import tempfile
    import shutil
    import glob
    import os

    src = tempfile.mkdtemp(prefix="carry_src_")
    out = tempfile.mkdtemp(prefix="carry_out_")
    try:
        for i, batch in enumerate((batch_a, batch_b)):
            tmp = tempfile.mkdtemp(prefix="carry_slice_")
            spark.createDataFrame(
                batch, "user_id bigint, event_id bigint, ts_ms bigint"
            ).coalesce(1).write.mode("overwrite").parquet(tmp)
            (part,) = glob.glob(f"{tmp}/part-*.parquet")
            target = f"{src}/slice_{i}.parquet"
            shutil.move(part, target)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(target, (1_000_000_000 + 60 * i,) * 2)

        rows = []

        def sink(batch_df, batch_id):
            rows.append((batch_id, batch_df.collect()))

        q = (
            spark.readStream.schema(
                "user_id bigint, event_id bigint, ts_ms bigint"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .transform(lambda df: sessionize_stream_ids(df, gap))
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{out}/_chk")
            .start()
        )
        q.awaitTermination()
        assert len(rows) == 2
        by_key = {}
        for _bid, rs in rows:
            for r in rs:
                k = (r.user_id, r.session_id)
                if (
                    k not in by_key
                    or r.emit_seq > by_key[k].emit_seq
                ):
                    by_key[k] = r
        final = {
            k: (v.n_events, v.t_start_ms, v.t_end_ms)
            for k, v in by_key.items()
        }
        assert final == {
            (7, 1): (3, 0, 8_000),  # folded across the boundary
            (7, 2): (1, 50_000, 50_000),  # open at drain end
            (8, 1): (1, 1_000, 1_000),
        }
        # batch A emitted the provisional (7,1) snapshot with n=2; the
        # final n=3 row must carry a HIGHER emit_seq (the supersede law)
        a_rows = {(r.user_id, r.session_id): r for r in rows[0][1]}
        assert a_rows[(7, 1)].n_events == 2
        assert by_key[(7, 1)].emit_seq > a_rows[(7, 1)].emit_seq
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
