"""Bloom-prefiltered benchmark decontamination (r06 tail registration).

contamination_ngrams broadcasts the benchmark GRAM SET; that stops working
when the eval suite's gram set outgrows a broadcast (100M grams of string
payload). The production shape is a Bloom prefilter: fold the benchmark
grams into a fixed bit array (here 16384 bits carried as one string
constant; at real sizing the bits ship as a broadcast variable or via
Spark's built-in runtime Bloom-filter injection — see
operators/textstats.bloom_probe on mechanism vs scale), test every
corpus gram's K bits IN-ROW (no join), and run the exact verification
join only over the survivors. Bloom filters have no false negatives by construction, so the
prefilter is sound — the output is the exact contamination report over the
hashed gram identity (the dedup_minhash pattern: approximate candidates,
exact verify, exact oracle — but with a guaranteed rather than
probabilistic recall argument).

Gram identity is the portable 60-bit hash assigned at the explode (the
split_contamination allocation discipline: gram strings die in the scan
projection, the checkpoint/exchange carry 8-byte keys) and the Bloom bit
positions are 14-bit slices of that same key — zero additional hashing.
The DuckDB oracle replays the identical hashed-gram joins.

tests/test_textstats_ops.py pins the pruning claim (false-positive mass
measured directly against the probe) and result-equality with the
string-keyed set-broadcast path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.queries.textstats import _TOKS, _sql_ngrams
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import widen


@register(
    "contamination_bloom",
    bench=True,
    tags=("llm", "textstats", "dedup", "sketch"),
    oracle=f"""
        {fixtures.duckdb_with('corpus')},
        tok AS (SELECT doc_id, {_TOKS} AS toks FROM corpus),
        grams AS (SELECT doc_id,
                         unnest(list_distinct(list_transform(
                             {_sql_ngrams(5)},
                             s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                         ))) AS h
                  FROM tok),
        bench AS (SELECT DISTINCT h FROM grams
                  WHERE doc_id % 97 = 0 AND doc_id < 1000000),
        hits AS (SELECT g.doc_id, CAST(COUNT(*) AS INT) AS n_contam
                 FROM grams g JOIN bench b ON g.h = b.h
                 GROUP BY g.doc_id)
        SELECT t.doc_id,
               CAST(COALESCE(h.n_contam, 0) AS INT) AS n_contam,
               COALESCE(h.n_contam, 0) > 0 AS contaminated
        FROM tok t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
)
def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc contamination report (doc_id, n_contam, contaminated) —
    identical selection to contamination_ngrams over hashed gram identity,
    Bloom-prefiltered physical path (operators/textstats.
    contamination_bloom); the oracle is the exact hashed join because
    verification removes every false positive."""
    return ts.contamination_bloom(widen(fixtures.corpus(spark, sf_dir)))
