"""Incremental APPEND to the composed IVFPQ index (r09 tail registration;
SCALE.md r10 design 1, landed early) — ann_index_append's discipline lifted
to the compressed root a store actually serves from.

A production vector store never retrains its artifacts per ingest: the
coarse centroids AND the PQ codebooks are FROZEN at build time (FAISS
`IndexIVFPQ.add` — new vectors only extend inverted lists with their
codes). Both frozen artifacts here are trained on the EXISTING corpus only
(vec_id % 8 != 7 — the ann_index_append convention): the coarse quantizer
from queries/ann_append._ivf_existing_at_rest, the codebooks
session-memoized by this module. Each run encodes ONLY the delta batch
(vec_id % 8 == 7) through the two scan projections (nearest_cid + the
per-subspace code argmins — the embedding never enters an exchange), lays
the delta's cell files alongside the immutable base codes root, and reports
the combined per-cell inventory with a digest over BOTH membership and the
8-code vectors.

The oracle assigns AND encodes the FULL corpus under the same frozen
existing-trained artifacts in one pass (ivf_assign_ctes + pq_ctes, both
train_where-restricted) — matching it proves the composed append
consistency: incremental add lands every delta vector in exactly the cell,
with exactly the codes, a full rebuild under the frozen artifacts would
produce.

Scale notes (100 TB): per-batch cost is |delta| x (k + m_sub*ks)
broadcast-literal scoring + one partitioned write of 8-int rows; nothing
re-reads or rewrites the base root except the final inventory scan (the
PROOF, not the steady-state bookkeeping — a store maintains per-cell
counts incrementally). Codebook/centroid drift under sustained appends is
the documented operational limit; the escape hatch is ivf_index_swap's
out-of-band retrain-and-flip, which applies to this root unchanged."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import similarity
from gpu_mapreduce_spark.plans.scratch import sink_roundtrip
from gpu_mapreduce_spark.queries.ann_append import (
    _MOD,
    _REM,
    _ivf_existing_at_rest,
)
from gpu_mapreduce_spark.queries.ann_pq import pq_ctes
from gpu_mapreduce_spark.queries.similarity import ivf_assign_ctes
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import table

_CODES_SCHEMA = "vec_id bigint, codes array<int>, cid int"
_EXISTING = f"WHERE vec_id % {_MOD} <> {_REM}"


def _pq_books_existing(spark: SparkSession, sf_dir: str):
    """Session-memoized frozen codebooks trained on the EXISTING corpus
    only — the published codebook artifact of the vector tier (bounded:
    PQ_M * PQ_KS rows as driver-side literals)."""

    def build():
        existing = table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % _MOD != _REM
        )
        return similarity._books_rows(similarity.pq_codebooks(existing))

    return fixtures.derived(spark, sf_dir, "pq_books_existing", build)


def _ivfpq_existing_at_rest(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized base IVFPQ codes root: the existing corpus's
    (vec_id, codes) under the frozen existing-trained artifacts, written
    cid-partitioned once. Immutable for the session — appends lay new
    files alongside."""

    def write(path: str) -> None:
        from gpu_mapreduce_spark.queries.similarity import _AT_REST_SCHEMA

        _centroids, base_path = _ivf_existing_at_rest(spark, sf_dir)
        books = _pq_books_existing(spark, sf_dir)
        existing = table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % _MOD != _REM
        )
        base_cids = (
            spark.read.schema(_AT_REST_SCHEMA)
            .parquet(base_path)
            .select("vec_id", "cid")
        )
        (
            similarity.pq_encode(existing, books)
            .join(base_cids, "vec_id")
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(path)
        )

    return fixtures.derived_dir(spark, sf_dir, "ivfpq_existing_at_rest", write)


@register(
    "ann_ivfpq_append",
    tags=("llm", "similarity", "sources", "incremental"),
    oracle=f"""
        WITH {ivf_assign_ctes("", _EXISTING).lstrip()},
        {pq_ctes("o_", _EXISTING).lstrip()},
        vcodes AS (
            SELECT vec_id,
                   string_agg(CAST(code AS VARCHAR), '.' ORDER BY m) AS cs
            FROM o_pq_assigned GROUP BY vec_id
        )
        SELECT CAST(a.cid AS INT) AS cid,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) FILTER (WHERE a.vec_id % {_MOD} = {_REM})
                    AS BIGINT) AS n_delta,
               md5(string_agg(CAST(a.vec_id AS VARCHAR) || ':' || v.cs,
                              ',' ORDER BY a.vec_id)) AS inv_digest
        FROM assigned a JOIN vcodes v USING (vec_id)
        GROUP BY a.cid
    """,
)
def ann_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell inventory of the IVFPQ root AFTER appending the delta
    batch: (cid, n_vecs, n_delta, inv_digest) with inv_digest over the
    sorted 'vec_id:c1.c2...c8' strings — the hash gate pins membership AND
    every appended code vector against the oracle's full re-encode under
    the frozen artifacts."""
    centroids, _base_path = _ivf_existing_at_rest(spark, sf_dir)
    books = _pq_books_existing(spark, sf_dir)
    base_root = _ivfpq_existing_at_rest(spark, sf_dir)
    delta = table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % _MOD == _REM
    )
    delta_rows = similarity.pq_encode(delta, books).join(
        similarity.ivf_assign(delta, centroids).select("vec_id", "cid"),
        "vec_id",
    )

    def build(path: str) -> DataFrame:
        # append = NEW files only; the base codes root is untouched on disk
        delta_rows.write.mode("overwrite").partitionBy("cid").parquet(path)
        added = spark.read.schema(_CODES_SCHEMA).parquet(path)
        return codes_inventory(spark, base_root, added)

    return sink_roundtrip("ivfpq_append_", build)


def codes_inventory(
    spark: SparkSession, base_root: str, added: DataFrame
) -> DataFrame:
    """Per-cell inventory of base-root ∪ added codes rows — shared by the
    batch append and the streaming ingest so the two paths provably
    aggregate identically."""
    base = spark.read.schema(_CODES_SCHEMA).parquet(base_root)
    return inventory_agg(base.unionByName(added))


def inventory_agg(codes_rows: DataFrame) -> DataFrame:
    """(cid, n_vecs, n_delta, inv_digest) rollup of a codes row set, the
    digest over sorted 'vec_id:c1.c2...' strings — the shared aggregate of
    every IVFPQ physical path (batch append, stream ingest, compaction)."""
    combined = codes_rows.select(
        "vec_id",
        "cid",
        F.concat_ws(".", F.col("codes").cast("array<string>")).alias("cs"),
    )
    return combined.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum((F.col("vec_id") % _MOD == _REM).cast("int"))
        .cast("bigint")
        .alias("n_delta"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("vec_id", "cs"))
                    ),
                    lambda x: F.concat_ws(
                        ":", x["vec_id"].cast("string"), x["cs"]
                    ),
                ),
            )
        ).alias("inv_digest"),
    ).select(
        F.col("cid").cast("int").alias("cid"),
        "n_vecs",
        "n_delta",
        "inv_digest",
    )
