"""Out-of-band IVF quantizer retrain + atomic index swap (r09 tail
registration; SCALE.md r09 design 3) — ann_index_append's documented
operational limit made real. A store that keeps appending into frozen
centroids accumulates quantizer drift; the remedy is scheduled out-of-band:
retrain the coarse quantizer, build a SECOND cid-partitioned root, verify
its per-cell inventory, then flip the path — the swap itself is metadata.

The two roots here are exactly the suite's existing artifacts:
  OLD  the post-append steady state ann_index_append proves — centroids
       trained on the EXISTING corpus only (vec_id % 8 != 7), the full
       corpus assigned under them, at rest cid-partitioned
       (_ivf_old_full_at_rest, built once per session).
  NEW  the full-corpus-trained root every at-rest consumer probes
       (queries/similarity._ivf_at_rest) — after the swap, ann_ivf_at_rest
       and dedup_semantic are ALREADY reading it, which is the path flip.

Query output = the (old_cid -> new_cid) migration histogram (the drift
metric that triggers a retrain, and the proof artifact of the swap: how
much each old cell scattered) UNION the new root's per-cell inventory with
a full membership digest (the ann_index_append digest discipline).

Lean-shape contract (the r08 100x measurement, VERDICT r08 item 5): the
re-assignment must not carry the embedding payload through any exchange —
both assignments are computed by ivf_assign's scan projection (broadcast-
literal centroids, argmax in the row), the quantizer trains on a BOUNDED
hash-sample of the corpus (ivf_build's k-row pick — never clustering all N
at k ~ N), and this query reads ONLY (vec_id, cid) back from the two
parquet roots: column pruning drops the embedding at the scan, so the
migration join and both aggregates exchange 12-byte rows. At 100 TB both
reads are the narrow at-rest assignments, co-partitioned on vec_id.

Oracle: two ivf_assign_ctes replays side by side (existing-trained via
train_where, full-trained unprefixed), joined on vec_id — both exact."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import similarity
from gpu_mapreduce_spark.queries.ann_append import (
    _MOD,
    _REM,
    _ivf_existing_at_rest,
)
from gpu_mapreduce_spark.queries.similarity import (
    _AT_REST_SCHEMA,
    _ivf_at_rest,
    ivf_assign_ctes,
)
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import table


def _ivf_old_full_at_rest(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized OLD index root: the existing-trained quantizer's
    assignment of the FULL corpus (base rows from _ivf_existing_at_rest's
    immutable root + the delta batch assigned under the same frozen
    centroids), written cid-partitioned once — the accumulated store state
    an out-of-band retrain supersedes."""

    def write(path: str) -> None:
        centroids, base_path = _ivf_existing_at_rest(spark, sf_dir)
        delta = table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % _MOD == _REM
        )
        base = spark.read.schema(_AT_REST_SCHEMA).parquet(base_path)
        full = base.unionByName(similarity.ivf_assign(delta, centroids))
        full.write.mode("overwrite").partitionBy("cid").parquet(path)

    return fixtures.derived_dir(spark, sf_dir, "ivf_old_full_at_rest", write)


@register(
    "ivf_index_swap",
    bench=True,
    tags=("llm", "similarity", "sources", "incremental"),
    oracle=f"""
        WITH {ivf_assign_ctes("o_", f"WHERE vec_id % {_MOD} <> {_REM}")},
        {ivf_assign_ctes("n_").lstrip()}
        SELECT 'mig' AS kind,
               CAST(o.cid AS INT) AS old_cid,
               CAST(n.cid AS INT) AS new_cid,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               '' AS vec_digest
        FROM o_assigned o JOIN n_assigned n USING (vec_id)
        GROUP BY o.cid, n.cid
        UNION ALL
        SELECT 'cell', CAST(-1 AS INT), CAST(cid AS INT),
               CAST(COUNT(*) AS BIGINT),
               md5(string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id))
        FROM n_assigned GROUP BY cid
    """,
)
def ivf_index_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrain-and-swap report: 'mig' rows = the (old_cid, new_cid, n_vecs)
    drift histogram from joining the two at-rest roots on vec_id; 'cell'
    rows = the NEW root's per-cell inventory (count + full vec_id digest),
    verifying the swapped-in artifact byte-for-byte. Both roots are read
    with only (vec_id, cid) projected — the embedding never enters this
    query's plan (operators/similarity.assignment_migration)."""
    old_path = _ivf_old_full_at_rest(spark, sf_dir)
    _centroids, new_path = _ivf_at_rest(spark, sf_dir)
    old = spark.read.schema(_AT_REST_SCHEMA).parquet(old_path).select(
        "vec_id", "cid"
    )
    new = spark.read.schema(_AT_REST_SCHEMA).parquet(new_path).select(
        "vec_id", "cid"
    )
    mig = similarity.assignment_migration(old, new).select(
        F.lit("mig").alias("kind"),
        F.col("old_cid").cast("int").alias("old_cid"),
        F.col("new_cid").cast("int").alias("new_cid"),
        "n_vecs",
        F.lit("").alias("vec_digest"),
    )
    cells = (
        new.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
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
            F.lit("cell").alias("kind"),
            F.lit(-1).cast("int").alias("old_cid"),
            F.col("cid").cast("int").alias("new_cid"),
            "n_vecs",
            "vec_digest",
        )
    )
    return mig.unionByName(cells)
