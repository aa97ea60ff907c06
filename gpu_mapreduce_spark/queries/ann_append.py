"""Incremental APPEND to the at-rest IVF vector index (r06 tail
registration; completes the incremental-maintenance triad with
packed_shards_append and dedup_lsh_at_rest).

ann_ivf_at_rest proves the one-shot build→persist→probe path; a production
vector store doesn't rebuild its index per ingest — it ADDS each embedding
batch into the existing coarse quantizer's cells (FAISS `IndexIVF.add`:
centroids are FROZEN at build time, new vectors only extend inverted
lists). This query makes that real: centroids are trained on the EXISTING
corpus only (vec_id % 8 != 7) and persisted with its cid-partitioned
assignment once per session; each run assigns ONLY the delta batch
(vec_id % 8 == 7) against the frozen centroids, lays the delta's cell
files alongside the immutable base index, and reports the combined
per-cell inventory. The oracle assigns the FULL corpus against the same
existing-trained centroids in one pass — matching it proves the
append-consistency claim: incremental add lands every delta vector in
exactly the cell a full assignment under the frozen quantizer would.

Scale notes (100 TB): per-batch cost is |delta| × k broadcast-centroid
scoring + one partitioned write — nothing re-reads or rewrites the base
index except the final inventory scan (a production store maintains
per-cell counts incrementally; the full-scan digest here is the PROOF,
not the steady-state bookkeeping). Centroid drift under sustained appends
is the documented operational limit — the store retrains its quantizer
out-of-band and swaps indexes, exactly as this layout supports (build a
second root, flip the path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import similarity
from gpu_mapreduce_spark.plans.scratch import sink_roundtrip
from gpu_mapreduce_spark.queries.similarity import (
    _AT_REST_SCHEMA,
    _IVF_CENTROIDS,
    _IVF_SEED,
    ivf_assign_ctes,
)
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import table

_MOD, _REM = 8, 7  # delta batch = vec_id % _MOD == _REM (scale-independent)


def _ivf_existing_at_rest(spark: SparkSession, sf_dir: str):
    """Session-memoized (centroids, path): the coarse quantizer trained on
    the EXISTING corpus only, with its cid-partitioned base assignment at
    rest. Immutable for the session — appends lay new files alongside."""

    def build():
        existing = table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % _MOD != _REM
        )
        centroids, assigned = similarity.ivf_build(
            existing, n_centroids=_IVF_CENTROIDS, seed=_IVF_SEED
        )

        def write(path: str) -> None:
            assigned.write.mode("overwrite").partitionBy("cid").parquet(path)

        return centroids, fixtures.derived_dir(spark, sf_dir, "ivf_base", write)

    return fixtures.derived(spark, sf_dir, "ivf_existing_at_rest", build)


@register(
    "ann_index_append",
    bench=True,
    tags=("llm", "similarity", "sources", "incremental"),
    oracle=f"""
        WITH {ivf_assign_ctes("", f"WHERE vec_id % {_MOD} <> {_REM}")}
        SELECT CAST(cid AS INT) AS cid,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) FILTER (WHERE vec_id % {_MOD} = {_REM})
                    AS BIGINT) AS n_delta,
               md5(string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id))
                   AS vec_digest
        FROM assigned
        GROUP BY cid
        ORDER BY cid
    """,
)
def ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell inventory of the index AFTER appending the delta batch:
    (cid, n_vecs, n_delta, vec_digest) over base + appended files. The
    oracle is a full one-pass assignment of the whole corpus under the
    same frozen (existing-trained) centroids, so the hash gate proves
    append ≡ full assignment."""
    centroids, base_path = _ivf_existing_at_rest(spark, sf_dir)
    delta = table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % _MOD == _REM
    )
    delta_assigned = similarity.ivf_assign(delta, centroids)

    def build(path: str) -> DataFrame:
        # append = NEW files only; the base index is untouched on disk
        delta_assigned.write.mode("overwrite").partitionBy("cid").parquet(
            path
        )
        base = spark.read.schema(_AT_REST_SCHEMA).parquet(base_path)
        added = spark.read.schema(_AT_REST_SCHEMA).parquet(path)
        combined = base.unionByName(added)
        return (
            combined.groupBy("cid")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                F.sum((F.col("vec_id") % _MOD == _REM).cast("int"))
                .cast("bigint")
                .alias("n_delta"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.sort_array(F.collect_list("vec_id")).cast(
                            "array<string>"
                        ),
                    )
                ).alias("vec_digest"),
            )
            .select(
                F.col("cid").cast("int").alias("cid"),
                "n_vecs",
                "n_delta",
                "vec_digest",
            )
            .orderBy("cid")
        )

    return sink_roundtrip("ivf_append_", build)
