"""SparkSession factory.

The reference tunes execution with `memsize`/`outofcore`/`all2all`/`fpath`
settings (src/mapreduce.h:28-41, doc/settings.txt); the Spark equivalents are
shuffle-partition count, AQE, and Tungsten spill — all set here once.

Scale notes (the configs below are chosen for a 1000-executor / 100 TB
deployment, then overridden down for local[N] testing):
  - AQE on: runtime partition coalescing + skew-join splitting replaces the
    reference's hand-rolled flow control (src/mapreduce.cpp:480-540) and zone
    splitting (oink/cc_find.cpp:43-55). The one exception is the loop-state
    checkpoint (plans.iterate.materialize), planned with AQE off so the
    snapshot keeps its hash layout and later rounds need no exchange.
  - shuffle.partitions is a *default* only; AQE coalesces post-shuffle, and
    heavy operators repartition explicitly by key where it matters.
  - Arrow enabled: every Python-side operator uses pandas UDFs / mapInPandas,
    never row-at-a-time UDFs (doc/Technical.txt "Python overhead" warns of the
    per-element ctypes boundary; Arrow batching is the fix).
  - Session timezone pinned to UTC so timestamp results agree with the
    DuckDB oracle (UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "gpu_mapreduce_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    ui: bool = False,
) -> SparkSession:
    """Build (or reuse) the session.

    Local mode is a single JVM; `spark.driver.memory` is the only memory
    knob. On a real cluster the same builder is used minus `.master`.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # defensive: if a dataset ships TIMESTAMP(NANOS) parquet (which the
        # vectorized reader otherwise rejects) surface it as BIGINT nanos;
        # sources/tables.py normalizes that — like the current
        # timestamp-without-timezone layout — to session-UTC TIMESTAMP
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
