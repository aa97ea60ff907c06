"""Incremental APPEND to the packed training-shard layout (r06 tail
registration; the dedup_incremental discipline applied to the shard sink).

packed_shards_roundtrip proves the one-shot corpus→shards write; a real
training-data pipeline doesn't rewrite its shards per ingest — it appends
each delta batch to the existing layout. This query makes that real over
the dup-injected `corpus` fixture (existing = doc_id < 1e6, delta batch =
the injected docs >= 1e6): the existing corpus's packed JSONL shards are
written once per session (at rest, immutable), then each run

  1. recovers the per-shard packing state FROM THE AT-REST LAYOUT itself
     (tail offset = sum of n_tokens per shard directory — no side state),
  2. packs ONLY the delta batch: one delta-sized shard-partitioned window
     cumsum, continued from the recovered tails via a broadcast join
     (`shards` rows of state — bounded),
  3. writes the delta assignment as NEW files alongside the old (append =
     new immutable files; the existing shards are never rewritten), and
  4. reads the combined layout back and digests per (shard, bin).

The oracle replays the packing of the FULL union in one window — so the
hash gate proves the append-consistency claim itself: incremental packing
continued from recovered tails lands every delta doc in exactly the bin a
full re-pack would have chosen (delta doc_ids sort after all existing
ones), while old bins' membership, token totals, and content digests are
byte-identical.

Scale notes (100 TB): per-batch cost is window(delta) + broadcast of
`shards` tail rows + one partitioned write of the delta — nothing scales
with the existing corpus except the final verification scan (which a
production pipeline samples or maintains as running per-bin digests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.plans.scratch import sink_roundtrip
from gpu_mapreduce_spark.queries.packing import _CAP, _SHARDS, _TOKS
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures

_SPLIT = 1_000_000
_BACK_SCHEMA = (
    "doc_id bigint, n_tokens bigint, bin bigint, text string, shard int"
)


def _packed_base(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized at-rest shard layout of the EXISTING corpus
    (doc_id < split): pack_assignments' layout written partitionBy(shard)
    as JSONL once per (session, sf_dir). Immutable for the session — the
    append query lays new delta files alongside, never rewriting these."""

    def write(path: str) -> None:
        existing = fixtures.corpus(spark, sf_dir).filter(
            F.col("doc_id") < _SPLIT
        )
        rows = ts.pack_assignments(
            existing, capacity=_CAP, shards=_SHARDS, carry=("text",)
        )
        rows.write.mode("overwrite").option(
            "ignoreNullFields", "false"
        ).partitionBy("shard").json(path)

    return fixtures.derived_dir(spark, sf_dir, "packed_base", write)


@register(
    "packed_shards_append",
    bench=True,
    tags=("llm", "packing", "sources", "incremental"),
    oracle=f"""
        {fixtures.duckdb_with('corpus')},
        sized AS (
            SELECT doc_id,
                   CAST(doc_id % {_SHARDS} AS INT) AS shard,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   text
            FROM corpus
        ),
        laid AS (
            SELECT doc_id, shard, n_tokens, text,
                   SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                       - n_tokens AS start_off
            FROM sized
        )
        SELECT shard,
               CAST(start_off // {_CAP} AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) FILTER (WHERE doc_id >= {_SPLIT}) AS BIGINT)
                   AS n_delta,
               CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
               md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text),
                              ',' ORDER BY doc_id)) AS content_digest
        FROM laid
        GROUP BY shard, CAST(start_off // {_CAP} AS BIGINT)
        ORDER BY shard, bin
    """,
)
def packed_shards_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(shard, bin) accounting of the layout AFTER appending the delta
    batch to the at-rest shards: (shard, bin, n_docs, n_delta, bin_tokens,
    content_digest), where n_delta counts appended docs in the bin and the
    digest covers membership + content of old and new docs alike. The
    oracle is a full re-pack of the union — matching it proves the
    incremental append reproduced the one-shot layout exactly."""
    base_path = _packed_base(spark, sf_dir)
    base = spark.read.schema(_BACK_SCHEMA).json(base_path)

    # packing state recovered from the layout itself: one row per shard
    tails = base.groupBy("shard").agg(F.sum("n_tokens").alias("tail_off"))

    delta = fixtures.corpus(spark, sf_dir).filter(F.col("doc_id") >= _SPLIT)
    sized = delta.select(
        "doc_id",
        (F.col("doc_id") % _SHARDS).cast("int").alias("shard"),
        F.size(ts.tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        "text",
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    laid = (
        # bcast-audit: bounded (`shards` rows of tail state)
        sized.join(F.broadcast(tails), "shard", "left")
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            (
                F.sum("n_tokens").over(w)
                - F.col("n_tokens")
                + F.coalesce("tail_off", F.lit(0))
            ).alias("start_off"),
            "text",
        )
    )
    rows = laid.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.expr(f"start_off div {_CAP}").cast("bigint").alias("bin"),
        "text",
    )

    def build(path: str) -> DataFrame:
        # append = NEW files only; the base layout is untouched on disk
        rows.write.mode("overwrite").option(
            "ignoreNullFields", "false"
        ).partitionBy("shard").json(path)
        back = spark.read.schema(_BACK_SCHEMA).json(path)
        combined = base.unionByName(back)
        pairs = F.sort_array(
            F.collect_list(F.struct("doc_id", F.md5("text").alias("h")))
        )
        return (
            combined.groupBy("shard", "bin")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum((F.col("doc_id") >= _SPLIT).cast("int"))
                .cast("bigint")
                .alias("n_delta"),
                F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            pairs,
                            lambda s: F.concat_ws(
                                ":", s.doc_id.cast("string"), s.h
                            ),
                        ),
                    )
                ).alias("content_digest"),
            )
            .orderBy("shard", "bin")
        )

    return sink_roundtrip("packed_append_", build)
