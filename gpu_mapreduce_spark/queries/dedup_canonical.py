"""Cluster-representative selection by QUALITY (r09 tail registration;
SCALE.md r09 design 2): the step after candidate dedup in every production
pipeline — given near-dup clusters, keep the BEST-scoring copy, not an
arbitrary one. Composition of three already-verified tiers: dedup_clusters'
membership (MinHash-LSH candidates -> exact-Jaccard verify -> connected
components over the corpus fixture), quality_classifier_join's integer
score table (operators/textstats.classifier_scores), and the packed-struct
argmax of operators/dedup.canonical_by_score (no window: one equi-join +
one cluster-keyed MAX).

Near-dup clusters are the meaningful input here: their members genuinely
differ (the fixture's ' near dup tail' variants add tokens, shifting
score_u), so the survivor choice exercises the score, unlike exact-dup
clusters whose normalized-identical texts tie and collapse to min doc_id
(operators/dedup.canonical_by_score docstring).

100 TB: membership and scores are both narrow at-rest tables in a real
pipeline (cluster map beside the corpus, score tier from
quality_classifier_join's discipline); this query's only shuffles are the
doc_id equi-join and the cluster-keyed aggregate — candidate discovery
cost was already paid by the dedup tier.

Oracle: queries/dedup.cluster_cte_chain (exact-pair label propagation) +
queries/quality_classifier.clf_score_ctes over the corpus fixture + a
windowed argmax — every input is exact (md5 fingerprint clusters, integer
scores), so the survivor table hash-compares verbatim. The residual
LSH-recall risk documented at dedup_clusters applies identically (the
Spark side clusters banded candidates, the oracle exact pairs; per-pair
recall 1 - 1.2e-7)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gpu_mapreduce_spark.operators import dedup
from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.queries.dedup import (
    _CLUSTER_ROUNDS,
    cluster_cte_chain,
    cluster_members,
)
from gpu_mapreduce_spark.queries.quality_classifier import clf_score_ctes
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import widen


@register(
    "dedup_canonical_keep",
    bench=True,
    tags=("llm", "dedup", "textstats", "graph"),
    oracle=cluster_cte_chain()
    + ","
    + clf_score_ctes("corpus")
    + f"""
        SELECT cluster, survivor_id, best_score_u, n_members FROM (
            SELECT l.label AS cluster,
                   CAST(l.v AS BIGINT) AS survivor_id,
                   CAST(sc.score_u AS BIGINT) AS best_score_u,
                   CAST(COUNT(*) OVER (PARTITION BY l.label) AS BIGINT)
                       AS n_members,
                   row_number() OVER (PARTITION BY l.label
                       ORDER BY sc.score_u DESC, l.v) AS rn
            FROM l{_CLUSTER_ROUNDS} l JOIN sc ON l.v = sc.doc_id
        ) WHERE rn = 1
    """,
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster: (cluster, survivor_id, best_score_u,
    n_members) with survivor = argmax(score_u, -doc_id) — 'keep the best
    copy'. The cluster label is the component's min doc_id (cc_find's
    zone), so the output also proves the survivor DIFFERS from the naive
    min-id rule wherever a higher-quality later copy exists."""
    corpus = fixtures.corpus(spark, sf_dir)
    members = cluster_members(spark, sf_dir)
    # score only the clustered docs: the members table is dedup-bounded
    # (pair-graph vertices << corpus), so the equi-join prunes the corpus
    # BEFORE the compute-bound tokenization (AQE broadcasts the small
    # members side at fixture scale; at 100 TB the score tier is an
    # at-rest table and this whole branch is a plain narrow join). The
    # pruned scan is widened off its 1-2 input splits.
    clustered = widen(corpus.join(members.select("doc_id"), "doc_id"))
    scores = ts.classifier_scores(clustered).select("doc_id", "score_u")
    return dedup.canonical_by_score(members, scores)
