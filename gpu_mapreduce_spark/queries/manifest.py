"""Corpus data card + curriculum mixture (r09 tail registrations; SCALE.md
r10 designs, landed early). Two composition queries over the at-rest tiers
the suite already maintains — the point is the COMPOSITION: these are the
artifacts that make a 100 TB snapshot auditable and rebalanceable without
bespoke re-scans.

corpus_manifest — the per-source data card a dataset release publishes:
doc counts, whitespace-token mass, exact-duplicate surplus (docs minus
distinct content fingerprints — the dedup_exact md5 discipline), quality-
kept counts at the classifier threshold (the quality_classifier score
tier), and the three seeded split sizes (dataset_split's assignment). All
columns are already-oracled machinery, so the oracle is their composed
SQL. Topology: the duplicate surplus aggregates per (source, fp) FIRST
(map-side-combinable, never a COUNT(DISTINCT) expand), then three narrow
per-source aggregates join on the bounded source key.

mixture_by_split — the standard temperature rebalance of training data,
INSIDE the train split only (holdout membership stays pinned by
dataset_split; a mixture that touches val/test is a contamination bug):
per-source keep-rates from a sqrt temperature, every arithmetic step
integer or correctly-rounded IEEE —
    n_min        = MIN over sources of n_train
    rate_bp      = least(10000, (10000 * FLOOR(SQRT(n_min * n_src)))
                                // n_src)        = 10000 * sqrt(n_min/n_src)
    keep(doc)    = hash60('mix|' || doc_id) % 10000 < rate_bp
so the smallest source keeps everything (sqrt of the perfect square
n_min² is exact -> 10000) and a source 100x larger keeps ~10x the docs
(kept mass ∝ sqrt(n) — τ = 0.5); the keep decision is a pure integer
bucket compare, no float threshold anywhere. The double product is exact
while n_min * n_src < 2^53 (~9e15; at counts past ~2^26 per source,
derive rates on coarser units — thousands of docs — before the sqrt).
n_min crosses the driver as ONE scalar (the pagerank discipline).
Output = per-source (n_train, rate_bp, n_kept, kept_tokens)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions.portable import hash60
from gpu_mapreduce_spark.operators import sampling
from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.queries.quality_classifier import clf_score_ctes
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table, widen

_SPLIT = sampling.sql_split_expr("split", "doc_id")
_FP = r"md5(lower(regexp_replace(text, '\s+', ' ', 'g')))"


@register(
    "corpus_manifest",
    tags=("llm", "dedup", "textstats", "sampling", "pipeline"),
    oracle=f"""
        WITH {clf_score_ctes("documents", ("source",))},
        d AS (
            SELECT source, doc_id, {_FP} AS fp, {_SPLIT} AS split
            FROM documents
        ),
        fpg AS (SELECT source, fp, COUNT(*) AS c FROM d
                GROUP BY source, fp),
        dups AS (SELECT source,
                        CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup_extra
                 FROM fpg GROUP BY source),
        quality AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN score_u >= {ts.CLF_THRESHOLD}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
            FROM sc GROUP BY source
        ),
        splits AS (
            SELECT source,
                   CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_train,
                   CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_val,
                   CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_test
            FROM d GROUP BY source
        )
        SELECT q.source, q.n_docs, q.n_tokens, du.n_dup_extra, q.n_kept,
               s.n_train, s.n_val, s.n_test
        FROM quality q
        JOIN dups du USING (source)
        JOIN splits s USING (source)
    """,
)
def corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per source: (source, n_docs, n_tokens, n_dup_extra, n_kept,
    n_train, n_val, n_test) — the release data card, composed from the
    fingerprint, classifier-score, and split disciplines. Every count is
    an exact integer, so the hash gate pins the whole card."""
    docs = table(spark, sf_dir, "documents")
    scored = ts.classifier_scores(widen(docs)).select(
        "doc_id", "n_tokens", "score_u"
    )
    quality = (
        docs.select("source", "doc_id")
        .join(scored, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(
                (F.col("score_u") >= ts.CLF_THRESHOLD).cast("bigint")
            ).cast("bigint").alias("n_kept"),
        )
    )
    fp = F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))
    dups = (
        docs.select("source", fp.alias("fp"))
        .groupBy("source", "fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg((F.sum("c") - F.count(F.lit(1))).cast("bigint").alias("n_dup_extra"))
    )
    splits = (
        sampling.hash_split(docs.select("source", "doc_id"), "doc_id")
        .groupBy("source")
        .agg(
            *[
                F.sum((F.col("split") == s).cast("bigint"))
                .cast("bigint")
                .alias(f"n_{s}")
                for s in ("train", "val", "test")
            ]
        )
    )
    # bcast-audit: bounded (|sources| rows per side)
    return quality.join(F.broadcast(dups), "source").join(
        F.broadcast(splits), "source"
    )


@register(
    "mixture_by_split",
    tags=("llm", "sampling", "pipeline"),
    oracle=f"""
        WITH tr AS (
            SELECT source, doc_id,
                   CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                        t -> t <> '')) AS BIGINT) AS n_tok,
                   (('0x' || substr(md5('mix' || '|' ||
                        CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000)
                       AS mb
            FROM documents
            WHERE {_SPLIT} = 'train'
        ),
        agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train
                FROM tr GROUP BY source),
        rates AS (
            SELECT source, n_train,
                   least(10000,
                         (10000 * CAST(FLOOR(SQRT(
                              CAST((SELECT MIN(n_train) FROM agg) AS DOUBLE)
                              * n_train)) AS BIGINT)) // n_train)
                       AS rate_bp
            FROM agg
        ),
        kept AS (
            SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(t.n_tok) AS BIGINT) AS kept_tokens
            FROM tr t JOIN rates r USING (source)
            WHERE t.mb < r.rate_bp
            GROUP BY t.source
        )
        SELECT r.source, r.n_train, CAST(r.rate_bp AS BIGINT) AS rate_bp,
               CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
        FROM rates r LEFT JOIN kept k USING (source)
    """,
)
def mixture_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sqrt-temperature mixture over the train split: (source, n_train,
    rate_bp, n_kept, kept_tokens). Sources with an empty train split emit
    no row on either engine (there is nothing to rate)."""
    docs = sampling.hash_split(table(spark, sf_dir, "documents"), "doc_id")
    ntok = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    ).cast("bigint")
    mb = hash60(
        F.concat_ws("|", F.lit("mix"), F.col("doc_id").cast("string"))
    ) % 10000
    tr = docs.filter(F.col("split") == "train").select(
        "source", ntok.alias("n_tok"), mb.alias("mb")
    )
    agg = tr.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train")
    )
    # ONE scalar crosses the driver (the pagerank discipline). On a
    # degenerate corpus (empty documents table / empty train split) the
    # MIN aggregate is NULL — return the empty frame the oracle also
    # produces instead of raising on int(None) (ADVICE r09).
    n_min_row = agg.agg(F.min("n_train")).collect()[0][0]
    if n_min_row is None:
        return spark.createDataFrame(
            [],
            "source string, n_train bigint, rate_bp bigint,"
            " n_kept bigint, kept_tokens bigint",
        )
    n_min = int(n_min_row)
    rates = agg.select(
        "source",
        "n_train",
        F.least(
            F.lit(10000).cast("bigint"),
            F.expr(
                f"(10000 * CAST(FLOOR(SQRT(CAST({n_min} AS DOUBLE)"
                " * n_train)) AS BIGINT)) div n_train"
            ),
        ).alias("rate_bp"),
    )
    kept = (
        # bcast-audit: bounded (|sources| rows)
        tr.join(F.broadcast(rates), "source")
        .filter(F.col("mb") < F.col("rate_bp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("n_tok").cast("bigint").alias("kept_tokens"),
        )
    )
    return rates.join(kept, "source", "left").select(
        "source",
        "n_train",
        "rate_bp",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
    )
