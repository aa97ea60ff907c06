"""Quality-classifier score tier + pipeline join (r08 tail registration;
SCALE.md r08 design 3): a per-doc LINEAR classifier score over the exact
integer text features (operators/textstats.classifier_scores), joined back
to the corpus for a threshold gate and per-source kept/dropped accounting
— the fasttext-quality-filter pipeline shape.

The score table is eagerly checkpointed before the join: it is the
NARROW at-rest artifact a production pipeline persists beside the corpus
(16-byte-ish rows), and materializing it keeps the tokenization to one
corpus scan (otherwise the join's probe side would re-derive every
feature). At 100 TB the join is a co-partitioned equi-join on doc_id and
recomputation is delta-only (the packed_shards_append discipline); at
fixture scale AQE broadcasts the narrow side — both physical choices
select the same rows.

Oracle: integer weights × integer fixed-point features, replayed verbatim
(DuckDB `//` == Spark `div` on the non-negative operands used here)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.queries.textstats import _TOKS, _inlist, _sql_ngrams
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table, widen

_G2 = _sql_ngrams(2)
_W = ts.CLF_W


def clf_score_ctes(src: str, carry: tuple[str, ...] = ()) -> str:
    """WITH-clause fragment replaying operators/textstats.classifier_scores
    per document over `src`: CTEs f (exact integer features), u (fixed-point
    ratio units), sc (doc_id [, carry...], n_tokens, score_u). Shared by
    quality_classifier_join (src=documents, carry=('source',)) and
    dedup_canonical_keep (src=corpus) so the score replay can never drift
    between the two registrations."""
    cols = "".join(f", {c}" for c in carry)
    return f"""
        f AS (
            SELECT doc_id{cols},
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(toks,
                        t -> lower(t) IN ({_inlist('en')}))) AS BIGINT) AS n_stop,
                   CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
                   CAST(len({_G2}) AS BIGINT) AS n_bi,
                   CAST(len({_G2}) - len(list_distinct({_G2})) AS BIGINT)
                       AS dup_bi,
                   CAST(CASE WHEN len(toks) > 0 THEN
                        list_max(list_transform(list_distinct(toks),
                             x -> len(list_filter(toks, y -> y = x))))
                        ELSE 0 END AS BIGINT) AS top_cnt
            FROM (SELECT doc_id{cols}, text, {_TOKS} AS toks FROM {src})
        ),
        u AS (
            SELECT doc_id{cols}, n_tokens,
                   CASE WHEN n_tokens > 0
                        THEN ({ts.CLF_SCALE} * n_stop) // n_tokens
                        ELSE 0 END AS stop_u,
                   CASE WHEN n_tokens > 0
                        THEN ({ts.CLF_SCALE} * n_uniq) // n_tokens
                        ELSE 0 END AS uniq_u,
                   CASE WHEN n_bi > 0
                        THEN ({ts.CLF_SCALE} * dup_bi) // n_bi
                        ELSE 0 END AS dup2_u,
                   CASE WHEN n_tokens > 0
                        THEN ({ts.CLF_SCALE} * top_cnt) // n_tokens
                        ELSE 0 END AS top_u
            FROM f
        ),
        sc AS (
            SELECT doc_id{cols}, n_tokens,
                   CAST({_W['stop_u']} * stop_u + {_W['uniq_u']} * uniq_u
                        + ({_W['dup2_u']}) * dup2_u + ({_W['top_u']}) * top_u
                        + {_W['len']} * least(n_tokens, {ts.CLF_LEN_CAP})
                        AS BIGINT) AS score_u
            FROM u
        )"""


@register(
    "quality_classifier_join",
    bench=True,
    tags=("llm", "textstats", "pipeline"),
    oracle=f"""
        WITH {clf_score_ctes("documents", ("source",))}
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN score_u >= {ts.CLF_THRESHOLD}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN score_u >= {ts.CLF_THRESHOLD}
                             THEN n_tokens ELSE 0 END) AS BIGINT)
                   AS kept_tokens,
               CAST(SUM(score_u) AS BIGINT) AS sum_score_u
        FROM sc GROUP BY source
    """,
)
def quality_classifier_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score table (materialized) ⋈ corpus on doc_id -> threshold gate ->
    per-source accounting: docs/kept counts, total/kept token mass, exact
    score sum — the report a corpus-curation run publishes per source."""
    docs = table(spark, sf_dir, "documents")
    # the feature projection is compute-bound and the documents parquet
    # arrives in one input split at test scale — widen to full parallelism
    # BEFORE scoring (no pushdown lost, the scorer reads every row)
    scores = ts.classifier_scores(widen(docs)).localCheckpoint(eager=True)
    gated = docs.select("doc_id", "source").join(scores, "doc_id")
    return gated.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("keep").cast("bigint")).cast("bigint").alias("n_kept"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_tokens"),
        F.sum("score_u").cast("bigint").alias("sum_score_u"),
    )
