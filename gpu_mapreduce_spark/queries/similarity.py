"""Similarity-search queries over the `embeddings` base table.

ann_bruteforce_topk is the oracle-checked correctness baseline (the DuckDB
oracle is the same brute-force scan). The approximate paths are
oracle-checked by REPLAY: the hyperplane weights and the IVF sampling hash
are portable constants (operators/similarity.plane_weights, md5-hex-slice
hash), so the DuckDB oracle runs the same algorithm — band signatures +
band join for ann_lsh_topk, centroid pick + cell assignment + probe for
ann_ivf_topk — and must reproduce the output exactly. Recall vs the exact
baseline is separately asserted in tests/test_similarity.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import kmeans, similarity
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table

N_QUERIES = 5  # query set = vec_id 0..4
TOP_K = 10


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )


_DOT = (
    "list_sum(list_transform(generate_series(1, len(e.embedding)),"
    " i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))"
)
_NORM_E = (
    "sqrt(list_sum(list_transform(e.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)
_NORM_Q = (
    "sqrt(list_sum(list_transform(q.qe,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


@register(
    "ann_bruteforce_topk",
    bench=True,
    tags=("llm", "similarity"),
    oracle=f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qe
                   FROM embeddings WHERE vec_id < {N_QUERIES})
        SELECT qid, vec_id, sim_e6 FROM (
            SELECT q.qid, e.vec_id,
                   CAST(FLOOR(1e6 * ({_DOT} / ({_NORM_E} * {_NORM_Q}))) AS BIGINT)
                       AS sim_e6
            FROM embeddings e, q
            WHERE e.vec_id <> q.qid
        )
        QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim_e6 DESC, vec_id)
                <= {TOP_K}
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{TOP_K} for {N_QUERIES} query vectors — one corpus
    pass, query side broadcast, similarity quantized to sim_e6 so ranking
    ties are impossible across engines."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _queries(spark, sf_dir), k=TOP_K)


def _qsim_sql(a: str, b: str) -> str:
    """Quantized cosine in DuckDB SQL, matching operators.similarity's
    fold-order exactly (index-order sums; proven bit-identical by the
    existing brute-force oracles)."""
    dot = (
        f"list_sum(list_transform(generate_series(1, {similarity.EMB_DIM}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    na = f"sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    return f"CAST(FLOOR(1e6 * ({dot} / ({na} * {nb}))) AS BIGINT)"


def _band_sql(col: str, seed: int) -> str:
    """SQL select-list fragment computing the 8 packed band values of
    operators.similarity._sig_bands(col, seed) — same literal ±1.0 plane
    weights, same sign-bit packing."""
    weights = similarity.plane_weights(seed)
    projs = []
    for p in range(len(weights)):
        wlist = "[" + ", ".join(repr(w) for w in weights[p]) + "]"
        projs.append(
            f"list_sum(list_transform(generate_series(1, {similarity.EMB_DIM}),"
            f" i -> CAST({col}[i] AS DOUBLE) * ({wlist})[i]))"
        )
    per = similarity.PER_BAND
    bands = []
    for b in range(len(weights) // per):
        bits = " + ".join(
            f"(CASE WHEN {projs[b * per + i]} >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(per)
        )
        bands.append(f"({bits}) AS band{b}")
    return ", ".join(bands)


_LSH_SEED = 52
_BAND_MATCH = " OR ".join(f"esig.band{b} = qsig.band{b}" for b in range(8))


@register(
    "ann_lsh_topk",
    tags=("llm", "similarity"),
    oracle=f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qe
                   FROM embeddings WHERE vec_id < {N_QUERIES}),
        esig AS (SELECT vec_id, embedding, {_band_sql("embedding", _LSH_SEED)}
                 FROM embeddings),
        qsig AS (SELECT qid, qe, {_band_sql("qe", _LSH_SEED)} FROM q),
        cand AS (
            SELECT qsig.qid, qsig.qe, esig.vec_id, esig.embedding
            FROM esig, qsig
            WHERE esig.vec_id <> qsig.qid AND ({_BAND_MATCH})
        )
        SELECT qid, vec_id, sim_e6 FROM (
            SELECT qid, vec_id, {_qsim_sql("embedding", "qe")} AS sim_e6
            FROM cand
        )
        QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim_e6 DESC, vec_id)
                <= {TOP_K}
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed approximate top-k (the scale path: corpus
    bucketed once, queries probe their buckets). Oracle = full DuckDB
    replay (shared literal hyperplanes, same band join + exact re-rank);
    recall@k vs the brute-force baseline asserted in tests."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(emb, _queries(spark, sf_dir), k=TOP_K)


_IVF_SEED = 11
_IVF_CENTROIDS = 16
_IVF_NPROBE = 4


def _ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Session-memoized IVF index: (centroids, cell assignment), both
    eagerly checkpointed — the at-rest artifact every IVF consumer probes
    (ann_ivf_topk, ann_ivf_at_rest's persisted layout, dedup_semantic's
    candidate cells), built ONCE per (session, sf_dir) via
    fixtures.derived like the canonical edge list. This makes the
    'assignment is computed once and persists, amortized over all
    queries' claim in ivf_build real across the driver's
    one-session-many-queries round."""
    from gpu_mapreduce_spark.sources import fixtures

    def build() -> tuple[DataFrame, DataFrame]:
        centroids, assigned = similarity.ivf_build(
            table(spark, sf_dir, "embeddings"),
            n_centroids=_IVF_CENTROIDS,
            seed=_IVF_SEED,
        )
        # centroids arrive already eagerly checkpointed by ivf_build
        return centroids, assigned.localCheckpoint(eager=True)

    return fixtures.derived(spark, sf_dir, "ivf_index", build)


# Read-back schema of the at-rest index (cid is the partition directory key,
# cast from the path per this schema)
_AT_REST_SCHEMA = "vec_id bigint, embedding array<float>, cid int"


def _ivf_at_rest(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """Session-memoized AT-REST IVF index: (centroids, path) where `path`
    is the cid-partitioned parquet layout of the cell assignment, written
    ONCE per (session, sf_dir). This is the vector-store-on-disk artifact:
    ann_ivf_at_rest probes it directory-pruned, dedup_semantic's candidate
    join reads the full assignment from it — so neither query's steady-state
    cost depends on which one ran first (the r05 order-dependent-baseline
    defect): the one-time build+write lands on whichever consumer's warm-up
    touches it, and every timed sample measures read+probe/join only,
    exactly how a production store amortizes its index build. The scratch
    dir lives for the session (atexit-removed)."""
    from gpu_mapreduce_spark.sources import fixtures

    centroids, assigned = _ivf_index(spark, sf_dir)

    def write(path: str) -> None:
        assigned.write.mode("overwrite").partitionBy("cid").parquet(path)

    return centroids, fixtures.derived_dir(spark, sf_dir, "ivf_at_rest", write)


def ivf_assign_ctes(prefix: str = "", train_where: str = "") -> str:
    """SQL replay of ivf_build's deterministic cell assignment: CTEs
    {prefix}ranked / {prefix}centroids / {prefix}assigned — md5-hex-slice
    centroid sampling (optionally over a `train_where`-filtered training
    corpus: the frozen existing-trained quantizer of ann_index_append /
    ivf_index_swap), nearest-centroid assignment of the FULL corpus with
    ties toward the lower cid. `prefix` lets one oracle hold two quantizer
    replays side by side (ivf_index_swap's old/new migration join)."""
    p = prefix
    return f"""
        {p}ranked AS (
            SELECT vec_id, embedding,
                   row_number() OVER (ORDER BY
                       ('0x' || substr(md5('{_IVF_SEED}' || '|' ||
                                           CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                       vec_id) AS cid
            FROM embeddings {train_where}
        ),
        {p}centroids AS (SELECT cid, embedding AS ce FROM {p}ranked
                      WHERE cid <= {_IVF_CENTROIDS}),
        {p}assigned AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {_qsim_sql("e.embedding", "c.ce")} DESC, c.cid)
                           AS rn
                FROM embeddings e, {p}centroids c
            ) WHERE rn = 1
        )"""


# The shared unprefixed instance: the CTE prefix of every full-corpus-trained
# IVF oracle (ann_ivf_topk, ann_ivf_at_rest, dedup_semantic, ann_rerank).
IVF_ASSIGN_CTES = ivf_assign_ctes()

# Shared by ann_ivf_topk and ann_ivf_at_rest (queries/ann_at_rest.py): the
# at-rest variant persists the cell assignment and probes it through a
# partition-pruned scan, but SELECTS the identical result — one oracle, two
# physical paths.
IVF_ORACLE = f"""
        WITH {IVF_ASSIGN_CTES},
        q AS (SELECT vec_id AS qid, embedding AS qe
              FROM embeddings WHERE vec_id < {N_QUERIES}),
        probes AS (
            SELECT qid, qe, cid FROM (
                SELECT q.qid, q.qe, c.cid,
                       row_number() OVER (PARTITION BY q.qid
                           ORDER BY {_qsim_sql("q.qe", "c.ce")} DESC, c.cid) AS rn
                FROM q, centroids c
            ) WHERE rn <= {_IVF_NPROBE}
        )
        SELECT qid, vec_id, sim_e6 FROM (
            SELECT p.qid, a.vec_id, {_qsim_sql("a.embedding", "p.qe")} AS sim_e6
            FROM assigned a JOIN probes p USING (cid)
            WHERE a.vec_id <> p.qid
        )
        QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sim_e6 DESC, vec_id)
                <= {TOP_K}
    """


@register(
    "ann_ivf_topk",
    tags=("llm", "similarity"),
    oracle=IVF_ORACLE,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-k: hash-sampled centroid cells assigned
    once, each query exhaustively re-ranks only its nprobe nearest cells.
    Oracle = full DuckDB replay (portable md5-hex-slice sampling hash, same
    assignment and probe ranking); recall@k vs the brute-force baseline
    asserted in tests. Probes the session-memoized index (_ivf_index) —
    ivf_topk's build/probe/rerank staging with the build amortized."""
    centroids, assigned = _ivf_index(spark, sf_dir)
    probes = similarity.ivf_probes(
        _queries(spark, sf_dir), centroids, nprobe=_IVF_NPROBE
    )
    return similarity.ivf_rerank(assigned, probes, k=TOP_K)


DUP_T_E6 = 400_000  # cosine >= 0.4 — the synthetic embeddings are near-random,
#                     so higher (realistic) thresholds would select zero pairs


@register(
    "dedup_embedding",
    tags=("llm", "dedup", "similarity"),
    oracle=f"""
        SELECT * FROM (
            SELECT a.vec_id AS a, b.vec_id AS b,
                   CAST(FLOOR(1e6 * (
                       list_sum(list_transform(generate_series(1, len(a.embedding)),
                           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   )) AS BIGINT) AS sim_e6
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ) WHERE sim_e6 >= {DUP_T_E6}
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact baseline): all (a < b)
    with quantized cosine >= {DUP_T_E6}/1e6. The oracle is the same
    all-pairs scan; the corpus^2-free path is dedup_embedding_lsh."""
    return similarity.dup_pairs(
        table(spark, sf_dir, "embeddings"), threshold_e6=DUP_T_E6
    )


_DUP_BAND_MATCH = " OR ".join(f"sa.band{b} = sb.band{b}" for b in range(8))


@register(
    "dedup_embedding_lsh",
    tags=("llm", "dedup", "similarity"),
    oracle=f"""
        WITH esig AS (
            SELECT vec_id, embedding, {_band_sql("embedding", _LSH_SEED)}
            FROM embeddings
        )
        SELECT a, b, sim_e6 FROM (
            SELECT sa.vec_id AS a, sb.vec_id AS b,
                   {_qsim_sql("sa.embedding", "sb.embedding")} AS sim_e6
            FROM esig sa, esig sb
            WHERE sa.vec_id < sb.vec_id AND ({_DUP_BAND_MATCH})
        ) WHERE sim_e6 >= {DUP_T_E6}
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH banded candidates + exact cosine verification — the
    scale path for embedding near-dup.

    Oracle = ALGORITHM REPLAY (same literal hyperplanes, same band
    equi-collision candidate rule, same exact verification) — the
    ann_lsh_topk discipline. It is deliberately NOT the exact all-pairs
    scan: at the 0.4 cosine threshold per-pair banding recall is only
    ~0.98 (8 bands x 2 bits), and the r04 sf0.1 sweep surfaced exactly the
    expected miss (the earlier exact oracle matched at sf0.001/sf0.01 by
    luck of the draw). Equality-to-exact is therefore a MEASURED recall
    property (tests/test_similarity.py asserts soundness + recall vs the
    dedup_embedding baseline), while the hash gate verifies what the
    operator actually computes at every scale. Contrast dedup_clusters,
    which keeps its exact oracle on purpose: MinHash banding at J >= 0.8
    has per-pair recall 1-1e-7 and is equality-pinned at driver scale by
    tests/test_dedup.py."""
    return similarity.dup_pairs_lsh(
        table(spark, sf_dir, "embeddings"), threshold_e6=DUP_T_E6
    )


def _kmeans_oracle(k: int, iters: int, pack: int, scale: int = 10000) -> str:
    """CTE replay of the fixed-point Lloyd iterations (operators/kmeans.py):
    same quantization, same md5 init, same packed-score argmin, same
    floored exact-sum mean — the oracle runs the ALGORITHM, not a
    reference implementation."""
    parts = [
        f"""WITH pts AS (
            SELECT vec_id AS id,
                   CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * {scale}) AS BIGINT) AS xu,
                   CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * {scale}) AS BIGINT) AS yu
            FROM embeddings
        ), c0 AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, id) - 1 AS BIGINT) AS ck,
                   xu AS cx, yu AS cy
            FROM (
                SELECT id, xu, yu,
                       ('0x' || substr(md5('km|' || CAST(id AS VARCHAR)), 1, 15))::BIGINT AS h
                FROM pts ORDER BY h, id LIMIT {k}
            )
        )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", a{i} AS (
                SELECT p.id, p.xu, p.yu,
                       MIN(((p.xu - c.cx) * (p.xu - c.cx)
                            + (p.yu - c.cy) * (p.yu - c.cy)) * {pack} + c.ck)
                           % {pack} AS ck
                FROM pts p CROSS JOIN c{i - 1} c
                GROUP BY p.id, p.xu, p.yu
            ), c{i} AS (
                SELECT ck,
                       CAST(FLOOR(CAST(SUM(xu) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx,
                       CAST(FLOOR(CAST(SUM(yu) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cy,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM a{i} GROUP BY ck
            )"""
        )
    parts.append(
        f"SELECT ck AS k, cx AS x_u, cy AS y_u, n FROM c{iters}"
    )
    return "\n".join(parts)


@register(
    "kmeans_2d",
    bench=True,
    tags=("iterative", "clustering"),
    oracle=_kmeans_oracle(kmeans.K, kmeans.ITERS, kmeans.PACK),
)
def kmeans_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chapter benchmark's k-means workload (chapter_final.pdf §3.4 —
    GPMR comparison; the fork itself ships no k-means, see BASELINE.md):
    2-D points from the embeddings table, k=8, 5 Lloyd iterations, exact
    fixed-point arithmetic. Assignment is a codegen least() projection,
    update one k-group shuffle per round — see operators/kmeans.py."""
    pts = kmeans.quantize_2d(table(spark, sf_dir, "embeddings"))
    return kmeans.kmeans_2d(spark, pts)
