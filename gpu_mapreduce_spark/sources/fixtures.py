"""Deterministic derived fixtures (FIXTURES.md).

The reference consumes edge lists, word streams, HTML part-files and binary
int streams (SURVEY.md §1.4). The driver's tables are TPC-H-ish, so we derive
those input shapes from them with pure arithmetic/string expressions — no RNG —
so the exact same fixture is computable by Spark (DataFrame builders below)
and by DuckDB (CTE strings below) and every operator stays oracle-checkable.

IMPORTANT: each fixture exists twice — a Spark builder and a DuckDB SQL CTE.
They MUST stay in sync; the oracle-parity tests (tests/test_parity.py) enforce
this for every registered query, so drift shows up as a hash mismatch.

Graph shape: `edges_raw` = a pseudo-random multigraph on V=4000 vertices from
lineitem arithmetic (duplicates + self-loops kept, so edge_upper has work to
do, mirroring oink/map_read_edge.cpp raw input) UNION a 25-clique on vertices
0..24 from nation×nation (guarantees ≥ C(25,3)=2300 triangles at every scale
factor). `edges` = canonicalized via edge_upper semantics
(oink/map_edge_upper.cpp). `wedges` adds a deterministic weight in (0,1]
(oink/map_read_edge_weight.cpp shape).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.sources import tables

NUM_VERTICES = 4000  # vertex-id space of the derived graph
NUM_FILES = 64  # inverted-index corpus part-file count
NUM_URLS = 50  # distinct urls embedded in the corpus

# ---------------------------------------------------------------------------
# DuckDB side: each fixture as a SQL query over the pre-registered base views.
# ---------------------------------------------------------------------------

DUCKDB_FIXTURE_SQL: dict[str, str] = {
    # generic (key,value) stream — histo/collate/compress input (oink/histo.cpp)
    "kvpairs": """
        SELECT l_returnflag || l_linestatus AS k, l_linenumber AS v
        FROM lineitem
    """,
    # 32-bit int stream — IntCount input (cpu/IntCount.cpp:179-180)
    "ints": """
        SELECT CAST(l_partkey % 1000 AS INTEGER) AS v
        FROM lineitem
    """,
    # whitespace token stream — wordfreq input; any-whitespace rule matching
    # the reference tokenizer (examples/wordfreq.cpp:120-129, strtok " \t\n")
    "words": r"""
        SELECT doc_id, w AS word
        FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w
              FROM documents)
        WHERE w <> ''
    """,
    # HTML-ish part-file corpus with <a href="..."> anchors — InvertedIndex
    # input (cuda/InvertedIndex.cu:284-307). Many doc rows collapse into one
    # "file"; anchors are deterministic functions of doc_id.
    "docs": """
        SELECT
            'part-' || lpad(CAST(doc_id % {NUM_FILES} AS VARCHAR), 5, '0') AS filename,
            text
            || ' <a href="url-' || CAST((doc_id * 3) % {NUM_URLS} AS VARCHAR) || '">x</a>'
            || ' <a href="url-' || CAST((doc_id * 7 + 1) % {NUM_URLS} AS VARCHAR) || '">y</a>'
            || CASE WHEN doc_id % 3 = 0
                    THEN ' <a href="url-' || CAST((doc_id * 13 + 2) % {NUM_URLS} AS VARCHAR) || '">z</a>'
                    ELSE '' END AS text
        FROM documents
    """,
    # raw multigraph: dupes + self-loops possible; clique on 0..24 appended
    "edges_raw": """
        SELECT CAST((l_orderkey * 37 + l_linenumber) % {NUM_VERTICES} AS BIGINT) AS src,
               CAST((l_partkey * 53 + l_suppkey) % {NUM_VERTICES} AS BIGINT) AS dst
        FROM lineitem
        UNION ALL
        SELECT CAST(a.n_nationkey AS BIGINT) AS src, CAST(b.n_nationkey AS BIGINT) AS dst
        FROM nation a, nation b
        WHERE a.n_nationkey < b.n_nationkey
    """,
    # canonical undirected simple graph (edge_upper semantics:
    # oink/map_edge_upper.cpp — min/max endpoints, drop self-loops, dedupe)
    "edges": """
        SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
        FROM edges_raw
        WHERE src <> dst
    """,
    # weighted edges, weight in (0,1] (oink/map_read_edge_weight.cpp shape)
    "wedges": """
        SELECT src, dst,
               CAST(((src * 31 + dst) % 97 + 1) AS DOUBLE) / 97.0 AS weight
        FROM edges
    """,
    # same weights in integer units of 1/97 — iterative algorithms (sssp)
    # work in units so distance sums are integer-exact on both engines
    "wedges_u": """
        SELECT src, dst, CAST((src * 31 + dst) % 97 + 1 AS BIGINT) AS wu
        FROM edges
    """,
    # hub-skewed graph: dst is drawn from a 1..64-wide window whose width
    # cycles with the order key, so low vertex ids absorb mass from EVERY
    # window width (P[dst=0] ≈ ln(64)/64 ≈ 6.5% of all edges) — a handful of
    # huge hubs and a giant component. The deterministic stand-in for the
    # power-law graphs the reference's zone splitting existed for
    # (oink/cc_find.cpp:43-55).
    "edges_skew": """
        SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
        FROM (
            SELECT CAST((l_orderkey * 37 + l_linenumber) % {NUM_VERTICES} AS BIGINT) AS src,
                   CAST((l_partkey * 53 + l_suppkey) % (1 + (l_orderkey % 64)) AS BIGINT) AS dst
            FROM lineitem
        )
        WHERE src <> dst
    """,
    # dedup corpus: documents + injected exact duplicates (every 5th doc) and
    # near-duplicates (every 7th doc with a short appended tail), so the
    # dedup operators have known positives at every scale factor
    "corpus": """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text || ' near dup tail' AS text
        FROM documents WHERE doc_id % 7 = 0
    """,
    # PII-injected corpus: the base documents are synthetic word salad with
    # no PII-shaped substrings, so known positives are appended
    # deterministically (email on every 3rd doc, phone on every 4th, IPv4 on
    # every 10th) — the pii_redact operator has exact expected counts at
    # every scale factor
    "pii_corpus": """
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com now'
                       ELSE '' END
               || CASE WHEN doc_id % 4 = 0
                       THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                            || ' today'
                       ELSE '' END
               || CASE WHEN doc_id % 10 = 0
                       THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                            || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' logged'
                       ELSE '' END AS text
        FROM documents
    """,
}

# Interpolate the shared constants so both engines derive from one definition
# (editing NUM_* can never silently desync Spark from the oracle).
DUCKDB_FIXTURE_SQL = {
    name: sql.format(
        NUM_VERTICES=NUM_VERTICES, NUM_FILES=NUM_FILES, NUM_URLS=NUM_URLS
    )
    for name, sql in DUCKDB_FIXTURE_SQL.items()
}

_FIXTURE_DEPS: dict[str, list[str]] = {
    "edges": ["edges_raw"],
    "wedges": ["edges_raw", "edges"],
    "wedges_u": ["edges_raw", "edges"],
}


def duckdb_with(*names: str) -> str:
    """Compose a `WITH f1 AS (...), f2 AS (...)` prefix for an oracle query,
    resolving fixture dependencies in order."""
    ordered: list[str] = []
    for n in names:
        for dep in _FIXTURE_DEPS.get(n, []) + [n]:
            if dep not in ordered:
                ordered.append(dep)
    parts = [f"{n} AS ({DUCKDB_FIXTURE_SQL[n]})" for n in ordered]
    return "WITH " + ",\n".join(parts)


# ---------------------------------------------------------------------------
# Spark side: DataFrame builders mirroring the SQL above 1:1.
# ---------------------------------------------------------------------------


def kvpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.table(spark, sf_dir, "lineitem")
    return li.select(
        F.concat("l_returnflag", "l_linestatus").alias("k"),
        F.col("l_linenumber").alias("v"),
    )


def ints(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.table(spark, sf_dir, "lineitem")
    return li.select((F.col("l_partkey") % 1000).cast("int").alias("v"))


def words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )


def docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.table(spark, sf_dir, "documents")

    def url(expr):
        return F.concat(F.lit(' <a href="url-'), expr.cast("string"), F.lit('">'))

    did = F.col("doc_id")
    return d.select(
        F.concat(
            F.lit("part-"), F.lpad((did % NUM_FILES).cast("string"), 5, "0")
        ).alias("filename"),
        F.concat(
            F.col("text"),
            url((did * 3) % NUM_URLS), F.lit("x</a>"),
            url((did * 7 + 1) % NUM_URLS), F.lit("y</a>"),
            F.when(
                did % 3 == 0,
                F.concat(url((did * 13 + 2) % NUM_URLS), F.lit("z</a>")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def edges_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.table(spark, sf_dir, "lineitem")
    na = tables.table(spark, sf_dir, "nation").alias("a")
    nb = tables.table(spark, sf_dir, "nation").alias("b")
    mod_graph = li.select(
        ((F.col("l_orderkey") * 37 + F.col("l_linenumber")) % NUM_VERTICES)
        .cast("bigint")
        .alias("src"),
        ((F.col("l_partkey") * 53 + F.col("l_suppkey")) % NUM_VERTICES)
        .cast("bigint")
        .alias("dst"),
    )
    clique = (
        na.crossJoin(nb)
        .filter(F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        .select(
            F.col("a.n_nationkey").cast("bigint").alias("src"),
            F.col("b.n_nationkey").cast("bigint").alias("dst"),
        )
    )
    return mod_graph.unionAll(clique)


def edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = edges_raw(spark, sf_dir)
    return (
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )


_EDGES_CACHE: dict[tuple[str, str], DataFrame] = {}

_DERIVED_CACHE: dict[tuple[str, str, str], object] = {}


def derived(spark: SparkSession, sf_dir: str, name: str, builder):
    """Session-memoized derived input (same contract as edges_materialized,
    generalized): `builder()` runs once per (session, sf_dir, name) and its
    result — typically a checkpointed, purpose-partitioned table — is reused
    by every later query in the session. The cluster-scale analog is a
    persisted derived table (e.g. the bucketed-by-dst arc list) built once,
    not per query."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _DERIVED_CACHE:
        _DERIVED_CACHE[key] = builder()
    return _DERIVED_CACHE[key]


def derived_dir(spark: SparkSession, sf_dir: str, name: str, write) -> str:
    """Session-memoized at-rest directory: a fresh temp dir that
    `write(path)` fills once per (session, sf_dir, name) — memoized through
    `derived` under the same key — and that is removed at interpreter exit.
    Returns the path. The cluster-scale analog is an artifact persisted
    once at ingest."""

    def build() -> str:
        path = tempfile.mkdtemp(prefix=f"{name}_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        write(path)
        return path

    return derived(spark, sf_dir, name, build)


def edges_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical edges, materialized once (eager localCheckpoint) and memoized
    per (session, sf_dir).

    Queries that reference `edges` several times in one plan (tri_find's two
    self-joins, degree_weight, every iterative algorithm) would otherwise
    recompute the whole derivation per reference — Catalyst doesn't reuse the
    exchange because each reference prunes different columns (verified: the
    naive tri_count plan held 42 parquet scans). The memo extends the saving
    across queries: the driver runs every registered query in one session, so
    the derivation (a 600k-row distinct at sf0.1) runs once per round, not
    once per graph query. At cluster scale the canonical edge list is a
    persisted (bucketed-by-src) table, derived once; localCheckpoint + memo
    is the single-session stand-in for that materialization.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _EDGES_CACHE.get(key)
    if cached is None:
        # re-widen before checkpointing: AQE coalesces the distinct's output
        # by bytes, and a few MB of skinny edge rows land in 1-2 partitions —
        # which would then cap the parallelism of every downstream arc scan
        # (each iterative round's join probe) at 1-2 cores
        parallelism = spark.sparkContext.defaultParallelism
        cached = (
            edges(spark, sf_dir)
            .repartition(parallelism)
            .localCheckpoint(eager=True)
        )
        _EDGES_CACHE[key] = cached
    return cached


def wedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges(spark, sf_dir)
    return e.select(
        "src",
        "dst",
        (((F.col("src") * 31 + F.col("dst")) % 97 + 1).cast("double") / 97.0).alias(
            "weight"
        ),
    )


def edges_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.table(spark, sf_dir, "lineitem")
    raw = li.select(
        ((F.col("l_orderkey") * 37 + F.col("l_linenumber")) % NUM_VERTICES)
        .cast("bigint")
        .alias("src"),
        (
            (F.col("l_partkey") * 53 + F.col("l_suppkey"))
            % (1 + (F.col("l_orderkey") % 64))
        )
        .cast("bigint")
        .alias("dst"),
    )
    return (
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )


def corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.table(spark, sf_dir, "documents")
    exact = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" near dup tail")).alias("text"),
    )
    return d.select("doc_id", "text").unionAll(exact).unionAll(near)


def pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    email = F.when(
        did % 3 == 0,
        F.concat(
            F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 4 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" today"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 10 == 0,
        F.concat(
            F.lit(" from 10."),
            (did % 256).cast("string"),
            F.lit(".0."),
            (did % 100).cast("string"),
            F.lit(" logged"),
        ),
    ).otherwise(F.lit(""))
    return d.select(
        "doc_id", F.concat(F.col("text"), email, phone, ip).alias("text")
    )


def wedges_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = edges(spark, sf_dir)
    return e.select(
        "src",
        "dst",
        ((F.col("src") * 31 + F.col("dst")) % 97 + 1).cast("bigint").alias("wu"),
    )


SPARK_FIXTURES = {
    "kvpairs": kvpairs,
    "ints": ints,
    "words": words,
    "docs": docs,
    "edges_raw": edges_raw,
    "edges": edges,
    "edges_skew": edges_skew,
    "wedges": wedges,
    "wedges_u": wedges_u,
    "corpus": corpus,
    "pii_corpus": pii_corpus,
}
