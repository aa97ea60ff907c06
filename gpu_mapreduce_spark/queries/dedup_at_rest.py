"""MinHash-LSH dedup index AT REST — the persisted band index a
continuously-ingesting corpus probes per delta batch (r06 tail
registration; the dedup analog of ann_ivf_at_rest's vector index).

dedup_incremental classifies a delta batch against the existing corpus but
recomputes the existing side's shingles/signatures in-session; a production
incremental-dedup service keeps the existing corpus's LSH index ON DISK and
only ever computes signatures for the new batch. This query makes that
layout real: the EXISTING corpus's (doc_id, band, bh) bucket entries are
written once per session as band-partitioned parquet alongside the per-doc
shingle arrays (the verification payload), then each run signs ONLY the
delta batch, equi-joins its bucket entries against the at-rest index for
candidates, and verifies with exact Jaccard whose existing-side shingles
are READ FROM THE INDEX — the existing corpus's text is never re-shingled.

Scale notes (100 TB): index build cost is one signature pass over the
corpus, paid once at ingest (here: session-memoized, so the one-time
build+write lands on the first consumer's warm-up); per-batch cost is
delta-signature + an equi-join on (band, bh) whose candidate volume is
proportional to the DELTA, never the corpus; verification joins only the
banding-bounded candidate pairs back to the two shingle stores. At cluster
scale the index would additionally be bucketed by bh within each band
directory (sources/bucketed.bucketed_table's layout) so the probe join
needs no exchange on the index side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import dedup
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import widen

_SPLIT = 1_000_000  # existing corpus: doc_id < split; delta batch: >= split
_T = 0.8
_C = fixtures.duckdb_with("corpus")

# read-back schemas (band is the partition directory key)
_BANDS_SCHEMA = "doc_id bigint, bh bigint, band int"
_SHINGLES_SCHEMA = "doc_id bigint, shs array<string>"


def _lsh_index_at_rest(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized at-rest LSH index root: `<root>/bands` holds the
    existing corpus's bucket entries partitioned by band, `<root>/shingles`
    the per-doc distinct-shingle arrays (exact-verification payload).
    Written once per (session, sf_dir); the dir lives for the session
    (atexit-removed) — on a cluster this is the persisted index a dedup
    service maintains at ingest."""

    def write(root: str) -> None:
        corpus = fixtures.corpus(spark, sf_dir)
        existing = widen(corpus.filter(F.col("doc_id") < _SPLIT))
        docs = (
            existing.select(
                "doc_id", dedup.shingle_array(text_col="text").alias("shs")
            )
            .localCheckpoint(eager=True)
            .filter(F.size("shs") > 0)
        )
        dedup.minhash_band_entries(docs).write.mode("overwrite").partitionBy(
            "band"
        ).parquet(f"{root}/bands")
        docs.write.mode("overwrite").parquet(f"{root}/shingles")

    return fixtures.derived_dir(spark, sf_dir, "lsh_index_at_rest", write)


@register(
    "dedup_lsh_at_rest",
    bench=True,
    tags=("llm", "dedup", "sources", "incremental"),
    oracle=f"""
        {_C},
        toksrc AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               t -> t <> '') AS toks
            FROM corpus
        ),
        shs AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(generate_series(1, len(toks) - 2),
                                                i -> array_to_string(toks[i:i+2], ' '))
                            ELSE [] END
                   ) AS s
            FROM toksrc
        )
        SELECT a, b, inter / CAST(na + nb - inter AS DOUBLE) AS jac
        FROM (
            SELECT x.doc_id AS a, y.doc_id AS b,
                   len(list_intersect(x.s, y.s)) AS inter,
                   len(x.s) AS na, len(y.s) AS nb
            FROM shs x JOIN shs y
              ON x.doc_id < {_SPLIT} AND y.doc_id >= {_SPLIT}
                 -- exact-preserving size prune (dedup_minhash_lsh's bound):
                 -- J >= 0.8 forces 5*min >= 4*max, so no qualifying pair
                 -- is dropped while ~3/4 of the intersects are skipped
                 AND len(x.s) * 5 >= len(y.s) * 4
                 AND len(y.s) * 5 >= len(x.s) * 4
        )
        WHERE inter / CAST(na + nb - inter AS DOUBLE) >= {_T}
    """,
)
def dedup_lsh_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-batch near-dup pairs (a = existing doc, b = delta doc,
    jac >= {_T}) probed through the persisted LSH index: only the delta is
    signed per run; candidates come from the (band, bh) equi-join against
    the at-rest bucket entries and existing-side verification shingles are
    read from the index. Oracle = the EXACT cross-set Jaccard pairs (same
    recall argument as dedup_minhash_lsh: every candidate is verified with
    exact Jaccard, and a true pair at J >= 0.8 escapes all 16 bands with
    p ~ 1e-7, so output == exact set or the hash gate fails loudly)."""
    root = _lsh_index_at_rest(spark, sf_dir)
    idx_bands = (
        spark.read.schema(_BANDS_SCHEMA)
        .parquet(f"{root}/bands")
        .select(F.col("doc_id").alias("a"), "band", "bh")
    )
    idx_sh = spark.read.schema(_SHINGLES_SCHEMA).parquet(f"{root}/shingles")

    corpus = fixtures.corpus(spark, sf_dir)
    delta = corpus.filter(F.col("doc_id") >= _SPLIT)
    ddocs = (
        delta.select(
            "doc_id", dedup.shingle_array(text_col="text").alias("shs")
        )
        .localCheckpoint(eager=True)
        .filter(F.size("shs") > 0)
    )
    dentries = dedup.minhash_band_entries(ddocs).select(
        F.col("doc_id").alias("b"), "band", "bh"
    )
    cand = (
        idx_bands.join(dentries, ["band", "bh"])
        .select("a", "b")
        .distinct()
    )
    # verification: candidate volume is banding-bounded but grows with the
    # delta size and bucket collisions (a skewed shingle inflates it), so
    # the candidate side carries NO unconditional broadcast hint — AQE's
    # runtime size check (autoBroadcastJoinThreshold against the candidates'
    # ACTUAL bytes) is the count-gate, degrading to a hash join on keys
    # when a batch outgrows it. Only the existing-side index scan stays
    # shuffle-free by construction (pruned columns, joined on its own a
    # key); the delta-side shingle arrays shuffle on b unless AQE
    # broadcasts db too — |delta|-proportional, never corpus-proportional.
    da = idx_sh.select(F.col("doc_id").alias("a"), F.col("shs").alias("sha"))
    db = ddocs.select(F.col("doc_id").alias("b"), F.col("shs").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    return (
        da.join(cand, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            (
                inter
                / (F.size("sha") + F.size("shb") - inter).cast("double")
            ).alias("jac"),
        )
        .filter(F.col("jac") >= _T)
    )
