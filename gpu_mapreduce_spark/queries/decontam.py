"""Cross-split leakage audit — eval decontamination between the derived
train/test splits (r05 tail registration per SURVEY §2.6).

contamination_ngrams checks the corpus against a FIXED benchmark set;
this closes the other decontamination loop a training pipeline runs: after
dataset_split_report's deterministic 95/4/1 hash split, does the TEST
split share content with TRAIN? Over the dup-injected fixture corpus the
answer is structurally yes — an injected copy (doc_id + 1e6/2e6) hashes
into a split independently of its original, so ~95% of test-split
duplicates have their twin in train — exactly the leakage this audit
exists to surface before anyone trains on the split.

Scale notes (100 TB): per-doc distinct 5-grams explode in one scan per
side; the leak check is a LEFT SEMI equi-join on the gram key — a plain
shuffle join (NEITHER side broadcasts: unlike the bounded benchmark set of
contamination_ngrams, the train-gram side IS the corpus), followed by
doc-keyed partial-aggregated counts. No all-pairs anything; skew on a
boilerplate gram is bounded by semi-join dedup semantics (one output row
per test gram regardless of train-side multiplicity).

Gram identity is the portable 60-bit hash (`functions/portable.hash60`),
not the gram string: the semi-join exchange carries 8-byte BIGINT keys
instead of ~40-byte strings — the same key discipline as
`passage_dup_pairs` and `cms_heavy_hitters`. This is not just bandwidth:
the string-keyed variant's allocation profile reproducibly flipped the
JVM into a degraded-heap regime (samples [3.7 s, 29 s] on an idle
machine, r05 verdict) — BIGINT keys keep the exchange primitive-typed.
The DuckDB oracle replays the identical hash, so both engines agree
bit-for-bit even on the (negligible, 60-bit) collision mass."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions.portable import hash60
from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.queries.textstats import _TOKS, _sql_ngrams
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import widen

_N = 5
_TRAIN_LT = 95  # bucket < 95 -> train (dataset_split_report's split rule)
_TEST_GE = 99  # bucket >= 99 -> test
_BUCKET_SQL = (
    "('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))"
    "::BIGINT % 100"
)


@register(
    "split_contamination",
    bench=True,
    tags=("llm", "textstats", "dedup", "sampling"),
    oracle=f"""
        {fixtures.duckdb_with('corpus')},
        b AS (SELECT doc_id, {_TOKS} AS toks, {_BUCKET_SQL} AS bkt
              FROM corpus),
        grams AS (SELECT doc_id, bkt,
                         unnest(list_distinct(list_transform(
                             {_sql_ngrams(_N)},
                             s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                         ))) AS g
                  FROM b),
        train_g AS (SELECT DISTINCT g FROM grams WHERE bkt < {_TRAIN_LT}),
        test_g AS (SELECT doc_id, g FROM grams WHERE bkt >= {_TEST_GE}),
        tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
                FROM test_g GROUP BY doc_id),
        leaks AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_leaked
                  FROM test_g t JOIN train_g r ON t.g = r.g
                  GROUP BY t.doc_id)
        SELECT tot.doc_id, tot.n_grams,
               CAST(COALESCE(l.n_leaked, 0) AS BIGINT) AS n_leaked,
               CAST(COALESCE(l.n_leaked, 0) * 10000 // tot.n_grams
                    AS BIGINT) AS leak_bp
        FROM tot LEFT JOIN leaks l ON tot.doc_id = l.doc_id
        ORDER BY tot.doc_id
    """,
)
def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TEST-doc leakage report: (doc_id, n_grams, n_leaked, leak_bp)
    where n_leaked counts the doc's distinct word 5-grams that also occur
    anywhere in the TRAIN split (split = the portable 'split|doc_id' hash
    of dataset_split_report, so this audits exactly the split a pipeline
    would materialize). Test docs shorter than 5 tokens have no grams and
    drop out — there is nothing to leak."""
    corpus = widen(fixtures.corpus(spark, sf_dir))
    bkt = (
        hash60(F.concat_ws("|", F.lit("split"), F.col("doc_id").cast("string")))
        % 100
    )
    # shared flat gram front end (codegen md5, no HOF-interpreted hashing —
    # see operators/textstats.hashed_grams shape rationale); bkt derives
    # from doc_id so it rides on top of the deduped pair table
    grams = ts.hashed_grams(corpus, _N).select(
        "doc_id", bkt.alias("bkt"), F.col("h").alias("g")
    )
    train_g = grams.filter(F.col("bkt") < _TRAIN_LT).select("g")
    test_g = grams.filter(F.col("bkt") >= _TEST_GE).select("doc_id", "g")
    tot = test_g.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    # LEFT SEMI: one row per test gram however many train docs contain it —
    # the dedup is in the join semantics, not a distinct over the corpus
    leaks = (
        test_g.join(train_g, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_leaked"))
    )
    return (
        tot.join(leaks, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_leaked", F.lit(0)).cast("bigint").alias("n_leaked"),
            F.expr("coalesce(n_leaked, 0) * 10000 div n_grams")
            .cast("bigint")
            .alias("leak_bp"),
        )
        .orderBy("doc_id")
    )
