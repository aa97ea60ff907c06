"""All-pairs source-overlap audit via theta/KMV sketches (r13 landing
of the SCALE.md r14 theta_overlap_matrix draft, landed in-round) —
theta_sketch_ops proves the set algebra on two fixed sources; a
production contamination review wants the FULL matrix: which of my
sources share distinct content, pairwise, before their mixture weights
are set. One sketch pass per corpus, then O(|S|^2 k) integer algebra.

Pipeline:
  1. One KMV sketch per `source` — the k = 64 smallest DISTINCT
     portable shingle hashes per source (theta_ops' sketch at the
     qsketch_rollup grain), computed as a TWO-PHASE distributed min-k
     (per-(input-partition, source) candidates first — a source-only
     window would funnel each source's whole distinct-hash set through
     one task at scale; the decayed_sample discipline), then a bounded
     |S| * k collect.
  2. Driver-side, for every pair (a < b) the theta_ops convention
     VERBATIM (imported, never re-derived): theta = min(kth_a, kth_b),
     n_inter = |{h in sk_a : h < theta} ∩ sk_b|, est_inter_fp4 =
     n_inter * 2^60 * 10^4 div theta — exact Python-int / HUGEINT on
     the two engines.

Small-source convention (the ONE decision the draft flagged): a source
with fewer than k distinct shingles raises theta_ops' full-sketch
ValueError loudly — never a silent estimate from a partial sketch (the
fixture's smallest source carries ~25 docs * dozens of shingles, far
above k; a corpus that trips this lowers k or exact-counts the small
sources out of band).

Output (sec, sa, sb, v): ('sk', src, '*', hash) — every sketch state,
the mergeability anchor — plus ('est', src, '*', est_fp4) per source
and ('theta'|'ninter'|'inter', a, b, value) per pair.

100 TB: each source is scanned ONCE into k BIGINTs; the 190-pair
matrix at |S| = 20 costs microseconds of driver integer algebra — the
audit every data-mixture review wants for the price of one sketch
pass, and the at-rest sketches union/intersect with any future
source's sketch without touching the corpus again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions.portable import hash60
from gpu_mapreduce_spark.operators import dedup
from gpu_mapreduce_spark.queries.theta_ops import _K, _SCALE, _U, theta_ops
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table, widen

# f-string: the KMV parameters interpolate from theta_ops' _K so both
# engines share ONE constant (ADVICE r13: a hardcoded 64/63 here would
# silently encode a stale k if theta_ops ever re-tuned)
_SHINGLE_SRC_CTE = rf"""
WITH toksrc AS (
    SELECT source, list_filter(regexp_split_to_array(text, '\s+'),
                               t -> t <> '') AS toks
    FROM documents
),
grams AS (
    SELECT source, unnest(list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                                        i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [] END
           )) AS s
    FROM toksrc
),
hs AS MATERIALIZED (
    SELECT DISTINCT source AS src, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
    FROM grams
),
sk AS MATERIALIZED (
    SELECT src, h FROM (
        SELECT src, h, row_number() OVER (PARTITION BY src ORDER BY h) AS rn
        FROM hs
    ) WHERE rn <= {_K}
),
kth AS MATERIALIZED (SELECT src, MAX(h) AS kth FROM sk GROUP BY src),
pairs AS MATERIALIZED (
    SELECT a.src AS sa, b.src AS sb,
           LEAST(a.kth, b.kth) AS theta, a.kth AS ka, b.kth AS kb
    FROM kth a JOIN kth b ON a.src < b.src
),
inter AS MATERIALIZED (
    SELECT p.sa, p.sb, p.theta,
           CAST(COUNT(x.h) AS BIGINT) AS n
    FROM pairs p
    LEFT JOIN (
        SELECT a.src AS sa, b.src AS sb, a.h
        FROM sk a JOIN sk b ON a.h = b.h AND a.src < b.src
    ) x ON x.sa = p.sa AND x.sb = p.sb AND x.h < p.theta
    GROUP BY p.sa, p.sb, p.theta
)
"""


@register(
    "theta_overlap_matrix",
    tags=("llm", "textstats", "sketch", "dedup"),
    oracle=f"""
        {_SHINGLE_SRC_CTE}
        SELECT sec, sa, sb, v FROM (
            SELECT 'sk' AS sec, src AS sa, '*' AS sb, h AS v FROM sk
            UNION ALL
            SELECT 'est', src, '*',
                   CAST(({_K - 1}::HUGEINT * {_U} * {_SCALE}) // kth
                        AS BIGINT)
            FROM kth
            UNION ALL
            SELECT 'theta', sa, sb, theta FROM pairs
            UNION ALL
            SELECT 'ninter', sa, sb, n FROM inter
            UNION ALL
            SELECT 'inter', sa, sb,
                   CAST((n::HUGEINT * {_U} * {_SCALE}) // theta AS BIGINT)
            FROM inter
        ) ORDER BY sec, sa, sb, v
    """,
)
def theta_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KMV sketches + the pairwise theta intersection
    matrix — sketches, thetas, survivor counts and estimates all
    gate-hashed; see module docstring."""
    docs = table(spark, sf_dir, "documents")
    # widen before the compute-bound shingle pass (r15)
    sh = dedup.shingle_set(widen(docs)).join(
        docs.select("doc_id", F.col("source").alias("src")), "doc_id"
    )
    hs = sh.select("src", hash60(F.col("sh")).alias("h")).distinct()
    # two-phase distributed min-k per source (the decayed_sample
    # pattern: a source-only window would funnel at corpus scale)
    cand = (
        hs.withColumn("pid", F.spark_partition_id())
        .withColumn(
            "prn",
            F.row_number().over(
                Window.partitionBy("pid", "src").orderBy("h")
            ),
        )
        .filter(F.col("prn") <= _K)
        .drop("pid", "prn")
    )
    top = (
        cand.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("src").orderBy("h")),
        )
        .filter(F.col("rn") <= _K)
    )
    rows = top.collect()  # bounded: |S| * k
    sks: dict[str, list[int]] = {}
    for r in rows:
        sks.setdefault(str(r.src), []).append(int(r.h))
    for src in sks:
        sks[src].sort()
    out: list[tuple] = []
    for src in sorted(sks):
        if len(sks[src]) < _K:
            raise ValueError(
                f"theta_overlap_matrix: source {src!r} has only"
                f" {len(sks[src])} distinct shingle hashes (< k={_K}) —"
                " lower k or exact-count the small source out of band"
            )
        out.append(
            ("est", src, "*", (_K - 1) * _U * _SCALE // max(sks[src]))
        )
        out += [("sk", src, "*", h) for h in sks[src]]
    srcs = sorted(sks)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            ops = theta_ops(sks[a], sks[b])
            out.append(("theta", a, b, ops["theta"]))
            out.append(("ninter", a, b, ops["n_inter"]))
            out.append(("inter", a, b, ops["est_inter"]))
    return spark.createDataFrame(
        out, "sec string, sa string, sb string, v bigint"
    ).orderBy("sec", "sa", "sb", "v")
