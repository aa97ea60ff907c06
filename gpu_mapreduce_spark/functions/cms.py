"""Count-min sketch geometry and bucket hash — the one definition the
CMS queries (cms_heavy_hitters, cms_merge_rollup, cms_stream_ingest)
share, as a Spark column and its DuckDB mirror.

The sketch is D rows x W buckets of counters; row j puts key k in bucket
hash60('cms{j}|' || k) mod W, the portable md5-prefix hash
(functions/portable.py) that DuckDB replays bit-identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions.portable import hash60

D = 4  # hash rows
W = 16  # buckets per row — below the fixture vocabulary, so collisions occur


def bucket(key: Column, j: int) -> Column:
    """Row j's bucket of a string key column."""
    return hash60(F.concat(F.lit(f"cms{j}|"), key)) % W


def entries(key: Column) -> Column:
    """One exploded (j, b) struct per hash row; select it as `e` and read
    `e.j`, `e.b`."""
    return F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("j"), bucket(key, j).alias("b"))
                for j in range(D)
            ]
        )
    )


def duckdb_entries(key: str) -> str:
    """DuckDB mirror of `entries`: the bucket of the VARCHAR expression
    `key` in hash row `g.j`, for a query crossed with
    generate_series(0, D - 1) g(j)."""
    whens = " ".join(
        f"WHEN {j} THEN ('0x' || substr(md5('cms{j}|' || {key}), 1, 15))"
        f"::BIGINT % {W}"
        for j in range(D)
    )
    return f"CASE g.j {whens} END"
