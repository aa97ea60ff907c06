"""Parquet table sources.

The reference reads inputs via its three `map()` file variants — file list,
recursive dirs, record-boundary-safe chunking (src/mapreduce.cpp:1060-1558).
Spark's DataSource framework subsumes all of that: `spark.read.parquet` gives
splittable columnar scans with predicate pushdown and column pruning, and
`spark.read.text` / `binaryFile` with `recursiveFileLookup` cover the
text/binary corpus cases (see sources/text_corpus.py).

At 100 TB the scan layer is where most time goes, so every query in this repo
is written to keep filters and projections at the scan (verify via
`.explain("formatted")` → `PushedFilters` / `ReadSchema`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one base table as a DataFrame (lazy; scan-level pruning applies).

    Timestamp normalization: whatever the file's physical type — timestamp
    without timezone (Spark TIMESTAMP_NTZ, the driver's current layout),
    timestamp with timezone, or legacy BIGINT nanoseconds — every timestamp
    column is emitted as session-UTC TIMESTAMP. DuckDB reads the same files
    as naive timestamps and treats them as UTC in epoch_ms(), so pinning the
    session timezone to UTC here makes unix_millis() agree with the oracle
    byte-for-byte. Done once at the source so no downstream operator ever
    sees a mixed NTZ/LTZ pair (a union or comparison of the two is an
    AnalysisException)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    # set at read time, not only in our session factory, so the queries also
    # agree with the UTC-naive oracle under a driver-provided bare session;
    # same for the nanos guard — without it a bare session cannot even scan
    # a legacy TIMESTAMP(NANOS) file (the vectorized reader rejects it
    # before the bigint branch below could normalize)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    from pyspark.sql import functions as F

    # Columns stored as TIMESTAMP(NANOS) surface as raw BIGINT nanos under
    # the nanosAsLong guard — indistinguishable from a genuine bigint by
    # Spark dtype alone, so identify them from the parquet footer (cheap
    # local metadata read) and normalize exactly those. Without this, a
    # nanos column in any table would silently hash-compare raw nanos
    # against the oracle's real timestamps.
    nanos_cols: set[str] = set()
    if any(dtype == "bigint" for _, dtype in df.dtypes):
        import pyarrow as pa
        import pyarrow.parquet as pq

        # type-level check, not str(f.type) == 'timestamp[ns]': a tz-aware
        # timestamp[ns, tz=UTC] column is also surfaced as bigint by
        # nanosAsLong and must be normalized the same way (its stored int64
        # is epoch-UTC nanos, exactly what timestamp_micros expects)
        nanos_cols = {
            f.name
            for f in pq.read_schema(f"{sf_dir}/{name}.parquet")
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        }
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        elif dtype == "bigint" and col in nanos_cols:
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all base tables and register them as temp views.

    Registration makes `spark.sql` usable alongside the DataFrame API with the
    same table names the DuckDB oracle sees.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def widen(df: DataFrame) -> DataFrame:
    """Round-robin a corpus scan to full parallelism before a compute-bound
    pass (tokenize, shingle, score). Every fixture parquet arrives in one
    input split at test scale, so those passes would otherwise run as one
    task — measured 10.9-12.2 s serial at the 10x scale point for the BPE
    encode paths. No pushdown is lost: the passes read every row."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
