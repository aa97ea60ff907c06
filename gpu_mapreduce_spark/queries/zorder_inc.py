"""Incremental maintenance of the z-ordered layout (r10 tail
registration; SCALE.md r11 design 3, landed early) — the op that keeps
zorder_layout's promise alive under appends: a delta batch lands as new
files in its z-cells, then compaction rewrites ONLY the touched cells,
and every untouched cell's files stay BYTE-IDENTICAL (at store scale the
untouched entries are manifest repoints, not copies — the local-FS
analog here is a verbatim file copy, and tests/test_zorder.py pins the
byte identity with a raw-bytes comparison, something no row digest can
see).

This is the ivfpq trilogy (batch append ≡ stream ingest ≡ compacted
rewrite, one oracle over many physical paths) replayed on the relational
layout tier, plus the one check the trilogy does not pin: PARTIAL
compaction. The registered output is the per-cell inventory of the root
AFTER append + partial compaction — (zcell, n_events, n_delta,
ev_digest) — and the oracle derives the same inventory from the raw
events table directly, so the hash gate proves the two-step physical
path (base at rest since session start, delta appended, touched cells
rewritten) reproduces the from-scratch layout row for row.

Topology (100 TB): the delta write touches only its own cells'
directories; the compaction reads base rows ONLY for touched cells (a
partition-pruned scan — PartitionFilters on zcell) plus the delta, one
repartition on the cell key, one partitioned write; the touched-cell set
crossing the driver is bounded by the cell count (<= 64 here; at store
scale, by the delta's z-locality — a time-ordered delta touches a band
of cells, not all of them).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.plans.scratch import sink_roundtrip
from gpu_mapreduce_spark.queries.zorder import (
    _ORACLE_AU,
    _ORACLE_TB,
    z_interleave_sql,
    zed_events,
)
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures

_MOD, _REM = 8, 7  # delta batch = event_id % 8 == 7 (the ann_append split)
_CELL_SHIFT = 64


def _zorder_existing_at_rest(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized at-rest z-layout of the EXISTING events (the
    immutable base root appends lay files alongside — the
    _ivfpq_existing_at_rest pattern)."""

    def write(path: str) -> None:
        zed = zed_events(spark, sf_dir).filter(
            F.col("event_id") % _MOD != _REM
        )
        (
            zed.repartition(F.col("zcell"))
            .write.mode("overwrite")
            .partitionBy("zcell")
            .parquet(path)
        )

    return fixtures.derived_dir(spark, sf_dir, "zorder_existing_at_rest", write)


def partial_compact(
    spark: SparkSession, base_root: str, delta: DataFrame, out_root: str
) -> tuple[set[int], set[int]]:
    """Append `delta` to the layout at `base_root` and compact ONLY the
    touched cells into `out_root`: untouched cell directories are carried
    over verbatim (byte-identical files — the manifest-repoint analog),
    touched cells are rewritten once each from (pruned base rows ∪ delta).
    Returns (touched, untouched) cell-id sets; the touched set crossing
    the driver is bounded by the cell count."""
    touched = {
        int(r.zcell) for r in delta.select("zcell").distinct().collect()
    }
    base_cells = {
        int(d.split("=")[1])
        for d in os.listdir(base_root)
        if d.startswith("zcell=")
    }
    untouched = base_cells - touched
    os.makedirs(out_root, exist_ok=True)
    for c in sorted(untouched):
        shutil.copytree(f"{base_root}/zcell={c}", f"{out_root}/zcell={c}")
    base_touched = (
        spark.read.parquet(base_root)
        .filter(F.col("zcell").isin(sorted(touched)))
        .select(
            "event_id",
            "au",
            "tb",
            F.col("zcell").cast("bigint").alias("zcell"),
        )
    )
    both = base_touched.unionByName(
        delta.select("event_id", "au", "tb", "zcell")
    )
    (
        both.repartition(F.col("zcell"))
        .write.mode("append")
        .partitionBy("zcell")
        .parquet(out_root)
    )
    return touched, untouched


@register(
    "zorder_incremental",
    tags=("sources", "events", "incremental", "pushdown"),
    oracle=f"""
        WITH e AS (
            SELECT event_id,
                   CAST({_ORACLE_AU} AS BIGINT) AS au,
                   CAST({_ORACLE_TB} AS BIGINT) AS tb
            FROM events
        ),
        z AS (
            SELECT event_id, au, tb,
                   CAST(({z_interleave_sql("au", "tb", "//")}) AS BIGINT)
                       // {_CELL_SHIFT} AS zcell
            FROM e
        )
        SELECT zcell,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_id % {_MOD} = {_REM} THEN 1
                             ELSE 0 END) AS BIGINT) AS n_delta,
               md5(string_agg(CAST(event_id AS VARCHAR), ','
                              ORDER BY event_id)) AS ev_digest
        FROM z GROUP BY zcell ORDER BY zcell
    """,
)
def zorder_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell inventory of the z-layout AFTER appending the delta batch
    and partially compacting: (zcell, n_events, n_delta, ev_digest) —
    hash-equal to the oracle's from-scratch derivation over raw events."""
    base_root = _zorder_existing_at_rest(spark, sf_dir)
    delta = zed_events(spark, sf_dir).filter(
        F.col("event_id") % _MOD == _REM
    )

    def build(path: str) -> DataFrame:
        out_root = f"{path}/compact"
        partial_compact(spark, base_root, delta, out_root)
        back = spark.read.parquet(out_root)
        return (
            back.groupBy(F.col("zcell").cast("bigint").alias("zcell"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum((F.col("event_id") % _MOD == _REM).cast("int"))
                .cast("bigint")
                .alias("n_delta"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.array_sort(F.collect_list("event_id")).cast(
                            "array<string>"
                        ),
                    )
                ).alias("ev_digest"),
            )
            .orderBy("zcell")
        )

    return sink_roundtrip("zorder_inc_", build)
