"""Vocabulary statistics for tokenizer preparation (beyond-reference
LLM-pipeline layer). Tail-registered per the SURVEY §2.6 discipline."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table, widen

_TOP = 32

# DuckDB mirror of operators/textstats.bpe_ish_tokens
_BPE_SQL = r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')"


@register(
    "vocab_topk_coverage",
    tags=("llm", "textstats", "vocab"),
    oracle=f"""
        WITH tok AS (
            SELECT unnest({_BPE_SQL}) AS t FROM documents
        ),
        freq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM tok GROUP BY t),
        total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM freq)
        SELECT f.t AS token, f.cnt,
               f.cnt / CAST(total.n AS DOUBLE) AS frac
        FROM freq f, total
        ORDER BY f.cnt DESC, f.t
        LIMIT {_TOP}
    """,
)
def vocab_topk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary report: the {_TOP} most frequent BPE-ish
    tokens (operators/textstats.bpe_ish_tokens — letter runs / digit runs /
    single glyphs) with each token's share of all token occurrences.

    Plan: explode + one partial-aggregated groupBy (vocab-sized, not
    corpus-sized, after map-side combine), top-k FIRST as
    TakeOrderedAndProject with a total order (cnt desc, token), THEN the
    1-row corpus total attached to the 32 surviving rows. The total join
    has no natural equi-key (a literal key constant-folds away), so it is
    a BroadcastNestedLoopJoin — bounded to 32 x 1 rows by construction
    and whitelisted as such in tests/test_plan_audit.py. At 100 TB the
    shuffle carries one row per (partition, distinct token) — the
    standard wordfreq scaling argument, here over the sub-word alphabet."""
    d = widen(table(spark, sf_dir, "documents"))
    freq = (
        d.select(F.explode(ts.bpe_ish_tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    total = freq.agg(F.sum("cnt").cast("bigint").alias("n"))
    topk = freq.orderBy(F.desc("cnt"), "t").limit(_TOP)
    return (
        # bcast-audit: bounded (1-row total)
        topk.join(F.broadcast(total))
        .select(
            F.col("t").alias("token"),
            "cnt",
            (F.col("cnt") / F.col("n").cast("double")).alias("frac"),
        )
        .orderBy(F.desc("cnt"), "token")
    )
