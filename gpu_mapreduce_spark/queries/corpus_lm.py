"""Corpus language-model prep + passage-level dedup queries (r05 tail —
registered behind the staleness window per SURVEY §2.6).

Two additions to the LLM-pipeline layer:
  ngram_counts_topk   corpus bigram counts with min-count pruning, top-32 —
                      wordfreq's n-gram generalization (the KenLM-style
                      counts pass a tokenizer/LM prep pipeline runs).
  passage_dup_pairs   winnowing (MOSS) fingerprint candidates — the
                      PASSAGE-level dedup tier: catches a copied paragraph
                      inside an otherwise-novel document, which whole-doc
                      Jaccard/MinHash structurally cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import dedup, text
from gpu_mapreduce_spark.queries.textstats import _TOKS, _sql_ngrams
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import table, widen

_N = 2
_MIN_COUNT = 2
_TOPK = 32


@register(
    "ngram_counts_topk",
    tags=("llm", "textstats", "text"),
    oracle=f"""
        WITH tok AS (SELECT {_TOKS} AS toks FROM documents),
        grams AS (SELECT unnest({_sql_ngrams(_N)}) AS g FROM tok)
        SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM grams
        GROUP BY g
        HAVING COUNT(*) >= {_MIN_COUNT}
        ORDER BY cnt DESC, g
        LIMIT {_TOPK}
    """,
)
def ngram_counts_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TOPK} corpus bigrams by occurrence count (min count
    {_MIN_COUNT}; operators/text.ngram_counts), total-ordered by
    (cnt desc, gram) so the LIMIT is deterministic. One explode + one
    partially-aggregated shuffle + TakeOrderedAndProject."""
    counts = text.ngram_counts(
        widen(table(spark, sf_dir, "documents")), n=_N, min_count=_MIN_COUNT
    )
    return counts.orderBy(F.desc("cnt"), "g").limit(_TOPK)


_K, _W = 5, 4
_MIN_SHARED = 2
_MAX_FP_FREQ = 64

# DuckDB replay of operators/dedup.winnow_fingerprints: per-doc distinct
# window minima of md5-hex-slice gram hashes (the luby hash idiom;
# list_slice is 1-based inclusive, range(a, b) = [a, b)).
_SQL_FPS = f"""
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(hs) >= {_W} THEN
            list_transform(range(1, len(hs) - {_W} + 2),
                           i -> list_min(list_slice(hs, i, i + {_W - 1})))
        WHEN len(hs) >= 1 THEN [list_min(hs)]
        ELSE CAST([] AS BIGINT[]) END)) AS fp
    FROM (
        SELECT doc_id,
               list_transform({_sql_ngrams(_K)},
                   x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
        FROM (SELECT doc_id, {_TOKS} AS toks FROM corpus)
    )
"""


@register(
    "passage_dup_pairs",
    tags=("llm", "dedup"),
    oracle=f"""
        {fixtures.duckdb_with("corpus")},
        fps AS MATERIALIZED ({_SQL_FPS}),
        keep AS (SELECT fp FROM fps GROUP BY fp
                 HAVING COUNT(*) <= {_MAX_FP_FREQ}),
        kf AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep k ON f.fp = k.fp)
        SELECT a.doc_id AS a, b.doc_id AS b,
               CAST(COUNT(*) AS BIGINT) AS shared_fps
        FROM kf a JOIN kf b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= {_MIN_SHARED}
    """,
)
def passage_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing passage-duplicate candidates over the dup-injected corpus
    fixture: pairs sharing >= {_MIN_SHARED} fingerprints after the
    boilerplate-fingerprint exclusion (freq > {_MAX_FP_FREQ} docs). The
    injected exact and appended-tail near-dups all surface here (they share
    whole passages), and the oracle replays fingerprint selection, the
    exclusion, and the pair counts exactly."""
    return dedup.passage_dup_pairs(
        widen(fixtures.corpus(spark, sf_dir)),
        k=_K,
        w=_W,
        min_shared=_MIN_SHARED,
        max_fp_freq=_MAX_FP_FREQ,
    )
