"""Theta/KMV sketch set algebra (r12 tail registration; the SCALE.md r13
kmv_set_ops design, landed in-round) — distinct-set INTERSECTION /
DIFFERENCE estimates across sources, the operation HLL registers cannot
give (register max folds lose everything but the union): the k-minimum-
values sketch (Bar-Yossef et al. 2002; Dasgupta et al.'s theta sketches)
keeps the k smallest distinct hashes per source, and set operations
become O(k) integer algebra. (Distinct from the reference's `kmv_stats`
— src/mapreduce.cpp:2937 "key-multivalue" counters, already mapped at
operators/core.py:168; the name collision is historical, the sketches
are unrelated.)

Sketch: the _K = 64 smallest DISTINCT portable 60-bit hashes of each
source's shingle stream (sources A = even doc_ids, B = doc_ids % 3 == 0
— genuinely overlapping shingle sets). Plan (r15, kmv_sketch_pair): ONE
tagged pass — per-doc distinct shingles (dedup.shingle_set) → hash →
source tags exploded map-side → one k-min-distinct partial per
(scan-partition, tag), folded per tag by a k-min union aggregate on the
executors (the driver collects 2 rows) — no full sort, no window, no
global distinct materialization. The
UNION sketch is computed FROM THE SKETCHES (k smallest of S_A ∪ S_B),
while the oracle builds it from the raw distinct union — equality
through the hash gate IS the KMV mergeability law (the k smallest of a
union all live in the k smallest of the parts, losslessly — the
hll_merge_rollup discipline for the theta family).

Estimator convention (the functions/hllest.py discipline: integer
convention over float correction, every step engine-replayable):
    U = 2^60 (the hash space), theta = min(max S_A, max S_B), exclusive
    est_fp4(X)  = (k-1) * U * 10^4 div kth_X        [KMV estimator]
    est_fp4(∩)  = |{h in S_A ∩ S_B : h < theta}| * U * 10^4 div theta
    est_fp4(A∖B) = est_fp4(A) - est_fp4(∩)          [can dip negative
                    within estimator noise; reported as-is]
Numerators reach 63 * 2^60 * 10^4 ~ 7.3e23 — exact in Python ints
(Spark side: the algebra runs on the two COLLECTED 64-row sketches,
a bounded k-row collect like kmeans' centroids; the corpus-sized work
stays distributed) and HUGEINT (oracle). Both sketches must be full
(>= k distinct per source) — asserted loudly, never silently padded.

Output, one shape (sec, h, v): sketch rows ('A'|'B'|'U', hash, -1) —
the exact states, gate-hashed — plus stat rows ('theta'|'n_inter'|
'est_a'|'est_b'|'est_union'|'est_inter'|'est_diff_ab', -1, value).
Accuracy (est vs exact distinct counts, ~1/sqrt(k) relative error) is
pinned in tests/test_theta_ops.py, outside the gate.

100 TB: each source is scanned ONCE into 64 BIGINTs; every set
operation after that is O(k) — cross-source overlap audits (train vs
eval contamination at the distinct-shingle grain) for the price of two
sketch scans, and sketches persist/merge like the HLL registers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions.portable import hash60
from gpu_mapreduce_spark.operators import dedup
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table, widen

_K = 64
_U = 1 << 60
_SCALE = 10_000


def kmv_sketch(docs: DataFrame, k: int = _K) -> list[int]:
    """The k smallest distinct shingle hashes of a documents frame,
    ascending — the KMV sketch state (k BIGINTs, a bounded collect)."""
    sh = dedup.shingle_set(docs)
    rows = (
        sh.select(hash60(F.col("sh")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
        .collect()
    )
    return [r.h for r in rows]


def kmv_sketch_pair(docs: DataFrame, k: int = _K) -> tuple[list[int], list[int]]:
    """BOTH source sketches (A = even doc_ids, B = doc_id % 3 == 0) in ONE
    tagged corpus pass (r15; guide §2.4 remove passes outright — the two
    kmv_sketch jobs each re-scanned and re-shingled the corpus, with the
    %6 overlap shingled twice).

    Topology = stream_theta_ingest's partial fold, batched: every shingle
    hash is tagged with the sources it belongs to (exploded map-side, no
    shuffle), then ONE aggregate per (scan-partition, tag) computes that
    partition's k smallest distinct hashes. The group key includes
    spark_partition_id(), so each group lives entirely in one scan
    partition and the partial collect_set completes map-side holding the
    same per-partition distinct-hash state the classic plan's partial
    DISTINCT aggregate held — the exchange carries each within-partition
    distinct hash once, exactly the bytes the two classic distinct
    exchanges carried combined, in half the passes. A second aggregate
    per tag folds those <= partitions * k candidates by k-min union on
    the executors, so the driver collects 2 rows of k hashes whatever
    the partition count — exact for ANY split by the KMV mergeability law
    (the k smallest distinct hashes of a union are each among their own
    part's k smallest), the same law stream_theta_ingest's gate proves
    against theta_sketch_ops. The arbitrary-split invariance also makes
    the fold retry-safe: a recomputed partition changes which partial a
    hash lands in, never the folded sketch."""
    both = docs.filter(
        (F.col("doc_id") % 2 == 0) | (F.col("doc_id") % 3 == 0)
    )
    # widen before the compute-bound shingle pass (r15; one input split
    # at test scale otherwise serializes the whole pass on one task)
    sh = dedup.shingle_set(widen(both))
    tagged = sh.select(
        F.explode(
            F.expr(
                "filter(array(CASE WHEN doc_id % 2 = 0 THEN 'A' END,"
                " CASE WHEN doc_id % 3 = 0 THEN 'B' END),"
                " t -> t IS NOT NULL)"
            )
        ).alias("tag"),
        hash60(F.col("sh")).alias("h"),
    )
    rows = (
        tagged.groupBy(F.spark_partition_id().alias("pid"), "tag")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("ks"))
        .groupBy("tag")
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("ks")))),
                1,
                k,
            ).alias("ks")
        )
        .collect()
    )
    got = {r.tag: r.ks for r in rows}
    return got.get("A", []), got.get("B", [])


def theta_ops(ska: list[int], skb: list[int], k: int = _K) -> dict[str, int]:
    """O(k) integer set algebra over two full KMV sketches — the exact
    convention the oracle replays in HUGEINT."""
    if len(ska) < k or len(skb) < k:
        raise ValueError(
            f"theta_sketch_ops: sketches must be full (k={k}); got"
            f" {len(ska)}/{len(skb)} — source too small for the estimator"
        )
    kth_a, kth_b = max(ska), max(skb)
    sku = sorted(set(ska) | set(skb))[:k]
    theta = min(kth_a, kth_b)
    n_inter = len({h for h in ska if h < theta} & set(skb))
    return {
        "theta": theta,
        "n_inter": n_inter,
        "est_a": (k - 1) * _U * _SCALE // kth_a,
        "est_b": (k - 1) * _U * _SCALE // kth_b,
        "est_union": (k - 1) * _U * _SCALE // max(sku),
        "est_inter": n_inter * _U * _SCALE // theta,
        "est_diff_ab": (k - 1) * _U * _SCALE // kth_a
        - n_inter * _U * _SCALE // theta,
        "_sku": sku,  # stripped by the caller; here so tests see it
    }


_SHINGLE_CTE = r"""
WITH toksrc AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'),
                       t -> t <> '') AS toks
    FROM documents
),
grams AS (
    SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                                        i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [] END
           )) AS s
    FROM toksrc
),
shA AS (SELECT DISTINCT ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
        FROM grams WHERE doc_id % 2 = 0),
shB AS (SELECT DISTINCT ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
        FROM grams WHERE doc_id % 3 = 0),
kA AS MATERIALIZED (SELECT h FROM shA ORDER BY h LIMIT 64),
kB AS MATERIALIZED (SELECT h FROM shB ORDER BY h LIMIT 64),
-- union sketch from the RAW distinct union: hash-equality with the
-- Spark side's sketch-of-sketches IS the mergeability law
kU AS MATERIALIZED (
    SELECT h FROM (SELECT h FROM shA UNION SELECT h FROM shB)
    ORDER BY h LIMIT 64
),
scal AS MATERIALIZED (
    SELECT (SELECT MAX(h) FROM kA) AS kth_a,
           (SELECT MAX(h) FROM kB) AS kth_b,
           (SELECT MAX(h) FROM kU) AS kth_u,
           LEAST((SELECT MAX(h) FROM kA), (SELECT MAX(h) FROM kB)) AS theta
),
inter AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS c
    FROM kA JOIN kB USING (h)
    WHERE h < (SELECT theta FROM scal)
)
"""


@register(
    "theta_sketch_ops",
    bench=True,
    tags=("llm", "textstats", "sketch"),
    oracle=f"""
        {_SHINGLE_CTE}
        SELECT sec, h, v FROM (
            SELECT 'A' AS sec, h, CAST(-1 AS BIGINT) AS v FROM kA
            UNION ALL SELECT 'B', h, -1 FROM kB
            UNION ALL SELECT 'U', h, -1 FROM kU
            UNION ALL SELECT 'theta', -1, theta FROM scal
            UNION ALL SELECT 'n_inter', -1, (SELECT c FROM inter) FROM scal
            UNION ALL SELECT 'est_a', -1,
                CAST((63::HUGEINT * {_U} * {_SCALE}) // kth_a AS BIGINT)
                FROM scal
            UNION ALL SELECT 'est_b', -1,
                CAST((63::HUGEINT * {_U} * {_SCALE}) // kth_b AS BIGINT)
                FROM scal
            UNION ALL SELECT 'est_union', -1,
                CAST((63::HUGEINT * {_U} * {_SCALE}) // kth_u AS BIGINT)
                FROM scal
            UNION ALL SELECT 'est_inter', -1,
                CAST(((SELECT c FROM inter)::HUGEINT * {_U} * {_SCALE})
                     // theta AS BIGINT)
                FROM scal
            UNION ALL SELECT 'est_diff_ab', -1,
                CAST((63::HUGEINT * {_U} * {_SCALE}) // kth_a
                     - ((SELECT c FROM inter)::HUGEINT * {_U} * {_SCALE})
                       // theta AS BIGINT)
                FROM scal
        ) ORDER BY sec, h, v
    """,
)
def theta_sketch_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketches of two overlapping document sources plus the O(k)
    theta set-algebra read-outs — see module docstring."""
    docs = table(spark, sf_dir, "documents")
    ska, skb = kmv_sketch_pair(docs)
    ops = theta_ops(ska, skb)
    sku = ops.pop("_sku")
    rows = (
        [("A", h, -1) for h in ska]
        + [("B", h, -1) for h in skb]
        + [("U", h, -1) for h in sku]
        + [(name, -1, val) for name, val in ops.items()]
    )
    return spark.createDataFrame(
        rows, "sec string, h bigint, v bigint"
    ).orderBy("sec", "h", "v")
