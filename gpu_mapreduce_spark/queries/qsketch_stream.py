"""Streaming quantile-sketch ingest (r13 landing of the SCALE.md r14
qsketch_stream_ingest draft, landed in-round) — the FOURTH sketch
family's stream path, completing "every sketch has a stream dual":
hist (r11, SUM bins), theta (r12, k-min union), CMS (r13, cell SUM),
and now the deterministic KLL quantile sketch.

The critical deviation from the theta/CMS ingest contract, and the
reason this one needs the sessionize-style DETERMINISTIC feed: the
qsketch fold is order-DEPENDENT (deterministic compaction is not
order-associative), and a bulk partial is only equal to the registered
batch build if it covers its group's WHOLE multiset. So the source is
not a random repartition split — the documents feed arrives as
_N_SLICES = P files, slice g holding exactly group g (doc_id % P, the
quantile_sketch_merge gate layout), mtimes increasing so the file
source drains them in slice order. Each microbatch then IS one
complete group: foreachBatch bulk-builds that group's partial (state +
counter rows, the qsketch_merge partial shape) into a batch-id-named
overwrite dir — a retried batch rewrites its own slot (at-least-once
safety is the dir contract, NOT algebra: unlike KMV/CMS, a duplicated
qsketch partial would corrupt the fold, which is why assembly also
raises loudly on a duplicated group). Post-drain, the partials fold by
fixed slots in group order (qsketch.fold_slots) — byte-identical to
quantile_sketch_merge's canonical fold, so the oracle is that
registration's VERBATIM generated replay: stream ≡ batch ≡ the
closed-form oracle, three physical paths through one gate.

Per-microbatch cost: |batch| values into one bulk build (O(n log n)
local sort), state out O(c log(n/c)); no streaming state. 100 TB: the
day's quantile read-out is a fold of at-rest partial states, never a
re-scan — the hist/theta/CMS ingest property extended to rank
queries at arbitrary resolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions import qsketch
from gpu_mapreduce_spark.plans.scratch import sink_roundtrip
from gpu_mapreduce_spark.queries.qsketch_merge import (
    _PARTIAL_SCHEMA,
    _build_group,
    fold_and_read,
    P,
)
from gpu_mapreduce_spark.registry import QUERIES, register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import table


def _sliced_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized stream source: documents (doc_id, n_chars) as P
    group slices — slice g = the rows with doc_id % P == g, one file
    each, mtimes strictly increasing (the sessionize_stream
    deterministic-bus contract)."""

    def write(path: str) -> None:
        import glob
        import os
        import shutil
        import tempfile

        docs = table(spark, sf_dir, "documents").select(
            "doc_id", F.col("n_chars").cast("long").alias("val")
        )
        base = None
        for g in range(P):
            tmp = tempfile.mkdtemp(prefix="qsketch_slice_")
            (
                docs.filter(F.col("doc_id") % P == g)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            (part,) = glob.glob(f"{tmp}/part-*.parquet")
            target = f"{path}/slice_{g}.parquet"
            shutil.move(part, target)
            shutil.rmtree(tmp, ignore_errors=True)
            if base is None:
                base = os.path.getmtime(target)
            os.utime(target, (base + 10 * g, base + 10 * g))

    return fixtures.derived_dir(spark, sf_dir, "qsketch_stream_dir", write)


def _slots(rows) -> list["qsketch.QSketch | None"]:
    """Decode the ingested partial rows into the P group slots (None = no
    partial for that group; qsketch.decode raises on a duplicate)."""
    per = qsketch.decode(rows, lambda r: int(r.g))
    unknown = set(per) - set(range(P))
    if unknown:
        raise ValueError(
            f"qsketch_stream: out-of-range groups {sorted(unknown)}"
        )
    return [per.get(g) for g in range(P)]


@register(
    "qsketch_stream_ingest",
    tags=("llm", "sketch", "streaming", "incremental"),
    # quantile_sketch_merge's generated oracle VERBATIM: the streamed
    # fold must reproduce the batch registration's exact sketch state
    oracle=QUERIES["quantile_sketch_merge"].oracle,
)
def qsketch_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the group-sliced documents feed through a foreachBatch
    bulk-partial writer, fold the ingested partials by fixed slots, and
    report quantile_sketch_merge's exact output — identical state,
    which is the claim."""
    src = _sliced_stream_dir(spark, sf_dir)

    def build(path: str) -> DataFrame:
        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            gs = (
                batch_df.select(
                    (F.col("doc_id") % P).cast("int").alias("g"), "val"
                )
                .groupBy("g")
                .applyInPandas(_build_group, schema=_PARTIAL_SCHEMA)
            )
            # one complete group per slice-batch (the deterministic-bus
            # contract); a retried batch overwrites its own dir
            gs.write.mode("overwrite").parquet(f"{path}/ingest_{batch_id}")

        q = (
            spark.readStream.schema("doc_id bigint, val long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{path}/_chk")
            .start()
        )
        q.awaitTermination()
        partials = spark.read.schema(_PARTIAL_SCHEMA).parquet(
            f"{path}/ingest_*"
        )
        slots = _slots(partials.collect())  # bounded state rows
        missing = [g for g, s in enumerate(slots) if s is None]
        if missing:
            raise ValueError(
                f"qsketch_stream: no partial ingested for groups"
                f" {missing} — a slice batch was lost"
            )
        out = fold_and_read(slots)
        return spark.createDataFrame(
            out, "sec string, k bigint, v bigint"
        ).orderBy("sec", "k", "v")

    return sink_roundtrip("qsketch_assemble_", build)
