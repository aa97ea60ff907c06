"""PMI collocation mining (r05 tail registration per SURVEY §2.6).

The classic LM-prep collocation pass (Church & Hanks 1990): rank
adjacent word pairs by pointwise mutual information — how much more
often the pair occurs than its unigram frequencies predict. Completes
the n-gram family: ngram_counts_topk ranks by RAW count (dominated by
frequent-word pairs); PMI surfaces the pairs that are GLUED, which is
what a tokenizer-merge or phrase-detection stage actually wants.

Determinism: PMI is a log of a ratio — instead of IEEE logs, the score
is the exact-integer scaled ratio pmi_e4 = (n_ab * N * 10000) //
(n_a * n_b) (monotone in PMI, so the ranking is identical), with ties
broken by bigram text. BIGINT bounds: n_ab <= N and the product tops out
near N^2 * 1e4 — fine for fixture scales and for per-shard counts; a
100 TB global pass would widen to DECIMAL(38) the same way the
power-iteration query guards its sums.

Scale notes (100 TB): two explode scans (unigrams, bigrams), each into a
partial-aggregated count; the PMI join keys bigrams to their two unigram
counts by word — plain shuffle equi-joins (the vocabulary is NOT assumed
broadcastable; at fixture scale AQE turns them into broadcast joins on
its own). Total-token count N is one collected scalar."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.queries.textstats import _TOKS, _sql_ngrams
from gpu_mapreduce_spark.plans.iterate import materialize
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table, widen

_MIN_COUNT = 5
_TOPK = 20


@register(
    "collocations_topk",
    bench=True,
    tags=("llm", "textstats", "text"),
    oracle=f"""
        WITH tok AS (SELECT {_TOKS} AS toks FROM documents),
        uni AS (SELECT unnest(toks) AS w FROM tok),
        ucnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM uni GROUP BY w),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM uni),
        big AS (SELECT unnest({_sql_ngrams(2)}) AS g FROM tok),
        bcnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_ab FROM big
                 GROUP BY g HAVING COUNT(*) >= {_MIN_COUNT}),
        scored AS (
            SELECT b.g AS bigram, b.n_ab,
                   CAST(b.n_ab * (SELECT nn FROM tot) * 10000
                        // (ua.n * ub.n) AS BIGINT) AS pmi_e4
            FROM bcnt b
            JOIN ucnt ua ON split_part(b.g, ' ', 1) = ua.w
            JOIN ucnt ub ON split_part(b.g, ' ', 2) = ub.w
        )
        SELECT bigram, n_ab, pmi_e4 FROM scored
        ORDER BY pmi_e4 DESC, bigram LIMIT {_TOPK}
    """,
)
def collocations_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TOPK} adjacent-pair collocations by exact-integer scaled PMI:
    (bigram, n_ab, pmi_e4) with pmi_e4 = n_ab*N*10000 // (n_a*n_b),
    min pair count {_MIN_COUNT}."""
    staged = widen(table(spark, sf_dir, "documents")).select(
        ts.tokens(F.col("text")).alias("toks")
    )
    uni = staged.select(F.explode("toks").alias("w"))
    # vocab-sized; checkpointed so N and both PMI join sides read the one
    # materialized count table instead of re-tokenizing the corpus (a bare
    # uni.count() here would be a whole extra explode scan for a scalar)
    # N rides the count table's own checkpoint (plans.iterate.materialize):
    # no separate sum job over the checkpointed vocab
    ucnt, n_total = materialize(
        uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("n")),
        F.sum("n"),
    )
    bcnt = (
        staged.select(F.explode(ts._ngrams(F.col("toks"), 2)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= _MIN_COUNT)
    )
    ua = ucnt.select(F.col("w").alias("_wa"), F.col("n").alias("n_a"))
    ub = ucnt.select(F.col("w").alias("_wb"), F.col("n").alias("n_b"))
    return (
        bcnt.withColumn("_wa", F.split_part(F.col("g"), F.lit(" "), F.lit(1)))
        .withColumn("_wb", F.split_part(F.col("g"), F.lit(" "), F.lit(2)))
        .join(ua, "_wa")
        .join(ub, "_wb")
        .select(
            F.col("g").alias("bigram"),
            "n_ab",
            F.expr(f"n_ab * {n_total}L * 10000 div (n_a * n_b)")
            .cast("bigint")
            .alias("pmi_e4"),
        )
        .orderBy(F.desc("pmi_e4"), "bigram")
        .limit(_TOPK)
    )
