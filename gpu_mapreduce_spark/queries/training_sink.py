"""Training-corpus shard sink: the step that CLOSES the corpus-build loop
(clean → dedup → pack → WRITE training-ready artifact). Tail-registered per
the SURVEY §2.6 discipline so it queues behind the staleness window.

The pipeline composes pack_sequences' layout but until now never wrote an
artifact a trainer could consume; this query writes the packed corpus as
JSONL shards — the de-facto LLM interchange format (queries/formats.py) —
laid out one directory per shard (`shard=<k>/part-*.json`, the layout a
data loader maps to workers), then proves the sink lossless by reading the
shards back with an explicit schema and digesting per-bin membership AND
text content. The oracle recomputes the identical report straight from the
parquet source of truth, so a dropped, duplicated, or corrupted row — or a
mis-assigned shard/bin — flips the hash gate.

Scale notes (100 TB): the per-doc assignment is pack_assignments' single
shard-partitioned window (text rides the one exchange as a carry column —
no join-back); the write is a distributed partitionBy("shard") with
`shards` directories (shard count scales with the cluster, not |docs|);
the read-back check is one scan + one (shard, bin) groupBy whose state is
bounded by the bin capacity (a bin holds at most capacity+straddle docs,
each contributing a fixed-width "id:md5" token to the digest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.plans.scratch import sink_roundtrip
from gpu_mapreduce_spark.queries.packing import _CAP, _SHARDS, _TOKS
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table, widen


@register(
    "packed_shards_roundtrip",
    tags=("llm", "packing", "sources"),
    oracle=f"""
        WITH sized AS (
            SELECT doc_id,
                   CAST(doc_id % {_SHARDS} AS INT) AS shard,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   text
            FROM documents
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
               CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
               md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text),
                              ',' ORDER BY doc_id)) AS content_digest
        FROM laid
        GROUP BY shard, CAST(start_off // {_CAP} AS BIGINT)
        ORDER BY shard, bin
    """,
)
def packed_shards_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → pack_assignments layout (carrying text) → JSONL shard
    directories → explicit-schema read-back → per-(shard, bin) accounting
    with an md5 digest over the doc_id:md5(text) sequence in doc_id order.
    The digest covers membership, assignment, and byte content of every
    document in every shard — the sink is proven, not assumed, lossless."""
    docs = widen(table(spark, sf_dir, "documents"))

    def build(path: str) -> DataFrame:
        rows = ts.pack_assignments(
            docs, capacity=_CAP, shards=_SHARDS, carry=("text",)
        )
        # ignoreNullFields=false: Spark's JSON sink DROPS null fields by
        # default, which would silently diverge the read-back digest from
        # the DuckDB oracle asymmetrically (concat_ws skips a null md5 while
        # string_agg drops the whole row) — the lossless claim must not
        # depend on the carry columns happening to be non-null.
        rows.write.mode("overwrite").option(
            "ignoreNullFields", "false"
        ).partitionBy("shard").json(path)
        back = spark.read.schema(
            "doc_id bigint, n_tokens bigint, bin bigint, text string,"
            " shard int"
        ).json(path)
        # sort the (doc_id, md5) pairs NUMERICALLY by doc_id (a string sort
        # of "id:md5" would order 10 before 2 and break oracle parity)
        pairs = F.sort_array(
            F.collect_list(F.struct("doc_id", F.md5("text").alias("h")))
        )
        return (
            back.groupBy("shard", "bin")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
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

    return sink_roundtrip("packed_shards_", build)
