"""Sequence-packing query (beyond-reference LLM-pipeline layer).

Registered after embedding_io (i.e. LAST) for the same reason documented
there: new queries queue behind the current staleness window rather than
displacing a never-driver-checked query (SURVEY §2.6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table, widen

_CAP = 512
_SHARDS = 8

# DuckDB mirror of operators/textstats.tokens (same string as
# queries/textstats._TOKS; duplicated to keep this module import-light)
_TOKS = r"list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"


@register(
    "pack_sequences",
    tags=("llm", "textstats", "packing"),
    oracle=f"""
        WITH sized AS (
            SELECT doc_id,
                   CAST(doc_id % {_SHARDS} AS INT) AS shard,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens
            FROM documents
        ),
        laid AS (
            SELECT doc_id, shard, n_tokens,
                   SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                       - n_tokens AS start_off
            FROM sized
        )
        SELECT shard,
               CAST(start_off // {_CAP} AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
               md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
                   AS docs_digest
        FROM laid
        GROUP BY shard, CAST(start_off // {_CAP} AS BIGINT)
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the documents table into {_SHARDS} shards of {_CAP}-token bins
    (operators/textstats.pack_sequences): per-bin doc count, token total
    (capacity + bounded straddle slack), and an md5 digest of the exact
    doc_id membership."""
    return ts.pack_sequences(
        widen(table(spark, sf_dir, "documents")), capacity=_CAP, shards=_SHARDS
    )
