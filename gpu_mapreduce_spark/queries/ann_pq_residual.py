"""Residual product quantization (r13 landing of the SCALE.md
ann_pq_residual draft) — the FAISS-style IVFPQ refinement: codes
quantize (v − centroid(v)) instead of v, so the codebooks spend their
bytes on the WITHIN-CELL variance (the coarse quantizer already encodes
the between-cell part). Identical storage (8 codes per vector + the cid
directory key).

MEASURED TWO-REGIME LAW (r13 finding completed r14 — the
sessionize-whale "documented finding" discipline, both regimes now
pinned mechanically in tests/test_ann_pq_residual.py):

- Isotropic regime (the sf fixtures — unit-norm, near-isotropic): the
  premise FAILS. Best cosine against the 16 hash-sampled coarse
  centroids is small, so residual norms AVERAGE 1.21x the raw vectors
  (sf0.01); quantization RMS plain 0.87 vs residual 1.02; pooled
  recall@10 residual 9/5/4 vs plain 10/10/8 at the three scales. Do
  not default to the residual path on corpora like this.
- Clustered regime (planted 8-cluster fixture, noise 0.1): the premise
  HOLDS — residual norms average 0.128 vs raw 1.0 — and the
  quantizer-level sign FLIPS decisively: reconstruction RMS residual
  0.104 vs plain 0.243 through the same sampled codebooks. Served
  recall on that fixture measures residual 13 vs plain 10 pooled hits
  (pinned as measured). Honesty note: at the suite's 5-query probe
  pool the recall margin is seed-noise scale — a replica simulation
  over many seeds puts the pooled direction at +10-15% residual but
  individual 5-query fixtures swing both ways; the ROBUST clustered
  law is premise + reconstruction RMS. Converting the RMS win into a
  dependable recall win takes k-means codebook refinement (the
  production path pq_codebooks' docstring already names — it changes
  constants, not consumers) and a larger probe pool.

Pipeline (every stage the proven PQ/IVF replay, with the residual
subtraction folded in):
  ivf_assign (shared session index) -> residual projection (one
  broadcast equi-join against the 16-row centroid table; per element
  CAST(float AS DOUBLE) - CAST(float AS DOUBLE), a single IEEE double
  subtract identical in both engines — THE residual-units convention,
  pinned here next to the PQ constants and nowhere else) ->
  pq_codebooks / pq_encode trained ON residuals (the codewords are
  copied residual subvectors, so they are exact doubles both engines
  share) -> codes written cid-partitioned at rest -> serving probes the
  nprobe nearest cells per query and ADC-scores by the INNER-PRODUCT
  residual decomposition.

Scoring convention (differs deliberately from the draft's
q − centroid(cell) LUT, which is the L2/IVFADC formulation): this
suite ranks by inner product, where the EXACT split is
    <q, v> = <q, ce(cell)> + <q, v − ce(cell)>,
so the honest residual ADC is lut = <q_sub, residual codeword> over
the FULL query plus the per-(query, probed-cell) constant
floor(1e6 * <q, ce>). The constant restores cross-cell comparability;
the quantization error moves from |<q, v − v̂>| to |<q, r_v − r̂_v>|,
i.e. scales with the residual spread — measured first: the q − ce LUT
variant scored far below even this one (5/3/2 pooled hits vs 9/5/4)
because it drops the candidate-varying <ce, v − ce> term; this
decomposition is exact in the centroid component, and its remaining
deficit vs plain IVFPQ on this fixture is the geometric finding
documented above.

Output, one shape (sec, a, b, v): ('code', vec_id, -1, packed) — the
full at-rest code table, 4 bits per subspace packed into one BIGINT, so
the gate hashes the INDEX, not just the answers — plus
('topk', qid, vec_id, score_e6) — the served top-k.

100 TB: unchanged from ann_ivfpq_topk — the residual projection rides
the existing assignment scan (no new shuffle), the serving plan reads
only the probed cell directories (PartitionFilters) at 32x-compressed
width, and the per-(query, cell) LUTs are nprobe * |Q| bounded rows on
the broadcast side of a cid equi-join.

Reference parity: none (the reference ships no vector index); this is
the builder-brief similarity tier, composed from Jegou et al. 2011
(IVFADC) exactly as FAISS's IndexIVFPQ serves it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import similarity
from gpu_mapreduce_spark.operators.similarity import PQ_SUB
from gpu_mapreduce_spark.queries.ann_pq import pq_ctes
from gpu_mapreduce_spark.queries.similarity import (
    _IVF_NPROBE,
    _ivf_index,
    _qsim_sql,
    _queries,
    IVF_ASSIGN_CTES,
    N_QUERIES,
    TOP_K,
)
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures

_CODES_SCHEMA = "vec_id bigint, codes array<int>, cid int"


def _residual(emb: Column, ce: Column) -> Column:
    """THE residual-units convention: per element, one IEEE double
    subtract of the two float32-exact doubles — bit-identical in Spark
    and DuckDB, so every downstream quantization floor agrees."""
    return F.zip_with(
        emb, ce, lambda x, c: x.cast("double") - c.cast("double")
    )


def residual_frame(assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cid, embedding = v − centroid(v) as ARRAY<DOUBLE>): one
    broadcast equi-join against the bounded centroid table, riding the
    existing assignment scan — no new shuffle."""
    # bcast-audit: bounded (k centroids)
    return assigned.join(F.broadcast(centroids), "cid").select(
        "vec_id",
        "cid",
        _residual(F.col("embedding"), F.col("ce")).alias("embedding"),
    )


def _respq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[int, list[tuple[int, list[float]]]], str]:
    """Session-memoized residual-PQ index: (residual codebooks as
    driver-side literals, path of the cid-partitioned codes-at-rest
    root). The one-time build cost lands on the first consumer (the
    _ivfpq_at_rest amortization discipline)."""

    def build() -> tuple[dict[int, list[tuple[int, list[float]]]], str]:
        centroids, assigned = _ivf_index(spark, sf_dir)
        res = residual_frame(assigned, centroids).localCheckpoint(
            eager=True
        )
        books = similarity._books_rows(similarity.pq_codebooks(res))
        codes = similarity.pq_encode(res, books)

        def write(path: str) -> None:
            (
                codes.join(res.select("vec_id", "cid"), "vec_id")
                .write.mode("overwrite")
                .partitionBy("cid")
                .parquet(path)
            )

        return books, fixtures.derived_dir(spark, sf_dir, "respq_at_rest", write)

    return fixtures.derived(spark, sf_dir, "respq_index", build)


def respq_topk(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """Residual-IVFPQ serving path: probe nprobe cells per query, read
    only those cell directories of the codes root (PartitionFilters),
    ADC-score against the PER-(query, cell) residual LUT, rank
    (score_e6 DESC, vec_id). Exposed for the recall comparison test."""
    centroids, _assigned = _ivf_index(spark, sf_dir)
    books, path = _respq_index(spark, sf_dir)
    probes = similarity.ivf_probes(
        _queries(spark, sf_dir), centroids, nprobe=_IVF_NPROBE
    ).localCheckpoint(eager=True)
    probe_cids = sorted({r.cid for r in probes.select("cid").collect()})
    # bcast-audit: bounded (probe list ∝ query set; 16-row centroids)
    qlut = probes.join(F.broadcast(centroids), "cid").select(
        "qid",
        "cid",
        similarity.pq_lut_expr(books, "qe").alias("lut"),
        similarity._qdot_e6(F.col("qe"), F.col("ce")).alias("c_e6"),
    )
    cells = (
        spark.read.schema(_CODES_SCHEMA)
        .parquet(path)
        .filter(F.col("cid").isin(probe_cids))
    )
    score = F.col("c_e6") + F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("lut"), lambda c, l: F.element_at(l, c)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    # bcast-audit: bounded (per-(query, cell) LUTs ∝ query set * nprobe)
    scored = (
        cells.join(F.broadcast(qlut), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", score.alias("score_e6"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score_e6"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


_PACK = (
    "aggregate(zip_with(codes, sequence(0, 7),"
    " (c, i) -> shiftleft(CAST(c - 1 AS BIGINT), 4 * i)),"
    " CAST(0 AS BIGINT), (a, x) -> a + x)"
)


@register(
    "ann_pq_residual",
    bench=True,
    tags=("llm", "similarity", "pushdown"),
    oracle=f"""
        WITH {IVF_ASSIGN_CTES.lstrip()},
        res AS MATERIALIZED (
            SELECT a.vec_id,
                   list_transform(generate_series(1, {similarity.EMB_DIM}),
                       i -> CAST(a.embedding[i] AS DOUBLE)
                          - CAST(c.ce[i] AS DOUBLE)) AS embedding,
                   a.cid
            FROM assigned a JOIN centroids c USING (cid)
        ),
        {pq_ctes(prefix="r", source="res").lstrip()},
        pq_q AS (SELECT vec_id AS qid, embedding AS qe
                 FROM embeddings WHERE vec_id < {N_QUERIES}),
        probes AS (
            SELECT qid, cid FROM (
                SELECT q.qid, c.cid,
                       row_number() OVER (PARTITION BY q.qid
                           ORDER BY {_qsim_sql("q.qe", "c.ce")} DESC, c.cid)
                           AS rn
                FROM pq_q q, centroids c
            ) WHERE rn <= {_IVF_NPROBE}
        ),
        cterm AS (
            SELECT p.qid, p.cid,
                   CAST(FLOOR(1e6 * list_sum(list_transform(
                       generate_series(1, {similarity.EMB_DIM}),
                       i -> CAST(q.qe[i] AS DOUBLE)
                          * CAST(c.ce[i] AS DOUBLE)))) AS BIGINT) AS c_e6
            FROM probes p
            JOIN pq_q q ON q.qid = p.qid
            JOIN centroids c ON c.cid = p.cid
        ),
        rlut AS (
            SELECT p.qid, p.cid, b.m, b.code,
                   CAST(FLOOR(1e6 * list_sum(list_transform(
                       generate_series(1, {PQ_SUB}),
                       i -> CAST(q.qe[b.m * {PQ_SUB} + i] AS DOUBLE)
                          * b.cw[i]))) AS BIGINT) AS l_e6
            FROM probes p
            JOIN pq_q q ON q.qid = p.qid, rpq_books b
        ),
        scored AS (
            SELECT l.qid, v.vec_id,
                   ct.c_e6 + CAST(SUM(l.l_e6) AS BIGINT) AS score_e6
            FROM assigned v
            JOIN rlut l ON l.cid = v.cid
            JOIN cterm ct ON ct.qid = l.qid AND ct.cid = v.cid
            JOIN rpq_assigned a
                 ON a.vec_id = v.vec_id AND a.m = l.m AND a.code = l.code
            WHERE v.vec_id <> l.qid
            GROUP BY l.qid, v.vec_id, ct.c_e6
        ),
        topk AS (
            SELECT qid, vec_id, score_e6 FROM scored
            QUALIFY row_number() OVER (PARTITION BY qid
                                       ORDER BY score_e6 DESC, vec_id)
                    <= {TOP_K}
        ),
        packed AS (
            SELECT vec_id,
                   CAST(SUM((code - 1)::BIGINT << (4 * m)) AS BIGINT) AS pk
            FROM rpq_assigned GROUP BY vec_id
        )
        SELECT sec, a, b, v FROM (
            SELECT 'code' AS sec, vec_id AS a, CAST(-1 AS BIGINT) AS b,
                   pk AS v
            FROM packed
            UNION ALL
            SELECT 'topk', qid, vec_id, score_e6 FROM topk
        ) ORDER BY sec, a, b, v
    """,
)
def ann_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-PQ codes (packed, the full at-rest index) + the served
    residual-IVFPQ top-{TOP_K} — both gate-hashed. See module
    docstring; the recall-vs-plain-PQ claim is pinned in tests."""
    _books, path = _respq_index(spark, sf_dir)
    codes = (
        spark.read.schema(_CODES_SCHEMA)
        .parquet(path)
        .select(
            F.lit("code").alias("sec"),
            F.col("vec_id").alias("a"),
            F.lit(-1).cast("bigint").alias("b"),
            F.expr(_PACK).alias("v"),
        )
    )
    topk = respq_topk(spark, sf_dir).select(
        F.lit("topk").alias("sec"),
        F.col("qid").alias("a"),
        F.col("vec_id").alias("b"),
        F.col("score_e6").alias("v"),
    )
    return codes.unionByName(topk).orderBy("sec", "a", "b", "v")
