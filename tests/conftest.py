"""Shared test fixtures: one SparkSession per session, a DuckDB connection
with the base tables registered as views (mirroring the driver's oracle
setup), and a comparison helper that mimics the driver's check:
row count + column names + order-insensitive value comparison."""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import pytest

from gpu_mapreduce_spark.session import get_spark
from gpu_mapreduce_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# the driver's exact correctness scale — for tests that deliberately pin
# sf0.01 regardless of the SF_DIR override (e.g. LSH-recall pins)
SF001_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if hasattr(v, "tolist"):  # numpy scalar / ndarray
        v = v.tolist()
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None  # pandas NULL for numeric cols is NaN
        # floats in our queries are exact-by-construction (decimal-summed);
        # a 12-sig-digit repr absorbs only true last-ulp noise
        return f"{v:.12g}"
    if hasattr(v, "isoformat"):  # date/datetime
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def compare_frames(spark_df, ddb_rel) -> None:
    """Assert Spark result == DuckDB result (schema names + multiset of rows,
    column-order/row-order insensitive) — the driver's check, locally."""
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(c.lower() for c in ddb_rel.columns)
    assert [c.lower() for c in s_cols] == d_cols, f"schema {s_cols} vs {d_cols}"

    s_rows = spark_df.select(*s_cols).collect()
    d_df = ddb_rel.fetchdf()
    d_df.columns = [c.lower() for c in d_df.columns]
    d_df = d_df[[c.lower() for c in s_cols]]

    s_set = sorted(
        (tuple(_norm(v) for v in row) for row in s_rows), key=str
    )
    d_set = sorted(
        (tuple(_norm(v) for v in row) for row in d_df.itertuples(index=False)),
        key=str,
    )
    assert len(s_set) == len(d_set), f"rowcount {len(s_set)} vs {len(d_set)}"
    mismatches = [(a, b) for a, b in zip(s_set, d_set) if a != b]
    assert not mismatches, f"{len(mismatches)} row mismatches; first: {mismatches[:3]}"


def named_actions(spark, group, call, names=None) -> Counter:
    """Names of the jobs `call()` runs under job group `group` ("isEmpty",
    "localCheckpoint", "parquet", ...), restricted to `names` if given."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = (
        store.job(j).name().split(" at ")[0]
        for j in sc.statusTracker().getJobIdsForGroup(group)
    )
    return Counter(n for n in got if names is None or n in names)
