"""Document chunking for retrieval/embedding pipelines (r05 tail
registration per SURVEY §2.6).

The RAG-prep primitive: split every document into fixed-size token
chunks with overlap (CHUNK=32 tokens, STRIDE=24 → 8-token overlap), the
layout an embedding/indexing stage consumes. Deterministic chunk grid —
chunk i covers tokens [i*STRIDE+1, i*STRIDE+CHUNK], i in
0..floor((T-1)/STRIDE) for a T-token doc — so a re-run anywhere yields
byte-identical chunks (each proven by an md5 fingerprint of the joined
token text, the pii_redact fingerprint discipline).

Scale notes (100 TB): one scan, zero shuffles, zero Python — the chunk
grid is a per-row transform/explode entirely inside codegen. The token
array is materialized as its OWN projection before the transform lambda
(the higher-order-function rule from passage_dup_pairs: an expensive
array expression spliced inside the lambda re-evaluates per element).
Chunk count ~ T/STRIDE rows out per doc — output is ~4/3 of the token
stream, the same blow-up every overlapping chunker pays."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.queries.textstats import _TOKS
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table, widen

CHUNK = 32
STRIDE = 24
_EMPTY = "array<struct<chunk_id:bigint,ctoks:array<string>>>"


@register(
    "doc_chunks",
    bench=True,
    tags=("llm", "text", "chunking"),
    oracle=f"""
        WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        c AS (
            -- unnest(range(...)) rather than a lateral generate_series:
            -- DuckDB's table-function form rejects column bounds
            SELECT doc_id, toks,
                   unnest(range(0,
                       CAST(floor((len(toks) - 1) / {STRIDE}) AS BIGINT) + 1
                   )) AS chunk_id
            FROM tok WHERE len(toks) >= 1
        ),
        sl AS (
            SELECT doc_id, chunk_id,
                   list_slice(toks, chunk_id * {STRIDE} + 1,
                              chunk_id * {STRIDE} + {CHUNK}) AS ctoks
            FROM c
        )
        SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(len(ctoks) AS BIGINT) AS n_toks,
               md5(array_to_string(ctoks, ' ')) AS chunk_fp
        FROM sl ORDER BY doc_id, chunk_id
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping {CHUNK}-token chunks on a {STRIDE}-token stride over
    every document: (doc_id, chunk_id, n_toks, chunk_fp). The final chunk
    may be short (the grid clamps at the doc end); zero-token docs emit
    no chunks."""
    staged = widen(table(spark, sf_dir, "documents")).select(
        "doc_id", ts.tokens(F.col("text")).alias("toks")
    )
    n = F.size("toks")
    grid = F.transform(
        F.sequence(
            F.lit(0), F.floor((n - 1) / F.lit(float(STRIDE))).cast("int")
        ),
        lambda i: F.struct(
            i.cast("bigint").alias("chunk_id"),
            F.slice(F.col("toks"), i * STRIDE + 1, F.lit(CHUNK)).alias(
                "ctoks"
            ),
        ),
    )
    return (
        staged.select(
            "doc_id",
            # guard: Spark's sequence DESCENDS when stop < start, so the
            # zero-token doc must short-circuit to an empty array
            F.explode(
                F.when(n >= 1, grid).otherwise(F.array().cast(_EMPTY))
            ).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size("c.ctoks").cast("bigint").alias("n_toks"),
            F.md5(F.concat_ws(" ", "c.ctoks").cast("binary")).alias(
                "chunk_fp"
            ),
        )
        .orderBy("doc_id", "chunk_id")
    )
