"""Bucketed fact tables — the at-rest layout that deletes the big-big join
shuffle (SCALE.md "q3-style joins").

A join of two facts bucketed by the join key into the same bucket count is
exchange-free: each bucketed parquet scan reports
`HashPartitioning(bucket_col, nbuckets)`, so the sort-merge join's
distribution requirement is already satisfied and so is any downstream
groupBy whose keys include the bucket column (subset rule). On a cluster
this layout is written once at ingest; here the first query per (session,
table) pays a one-time `bucketBy().sortBy().saveAsTable()` into a temp
dir (fixtures.derived_dir: removed at exit) and every later use is a plain
bucketed scan.

The reference has no analog — its `aggregate` re-shuffles every pipeline
(src/mapreduce.cpp:385-563); pre-bucketed storage is exactly the shuffle it
could never avoid.

tests/test_bucketed.py asserts the no-exchange property mechanically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gpu_mapreduce_spark.sources.fixtures import derived_dir
from gpu_mapreduce_spark.sources.tables import table

NBUCKETS = 16


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    bucket_col: str,
    nbuckets: int = NBUCKETS,
) -> DataFrame:
    """The base table `name`, as a parquet table bucketed (and per-file
    sorted) by `bucket_col` — written once per (session, sf_dir, table) into
    a temp dir, scanned from then on with HashPartitioning visible to the
    planner."""
    sf_tag = "".join(c if c.isalnum() else "_" for c in sf_dir.rstrip("/").rsplit("/", 1)[-1])
    tbl = f"bkt_{sf_tag}_{name}_{bucket_col}_{nbuckets}"
    derived_dir(
        spark,
        sf_dir,
        tbl,
        lambda path: table(spark, sf_dir, name)
        .write.format("parquet")
        .bucketBy(nbuckets, bucket_col)
        .sortBy(bucket_col)
        .mode("overwrite")
        .option("path", f"{path}/{tbl}")
        .saveAsTable(tbl),
    )
    return spark.table(tbl)
