"""Count-min sketch heavy hitters — bounded-state frequency estimation
(r05 tail registration per SURVEY §2.6).

The sketch tier of the stats family: kv_stats/kmv_stats cover exact and
KMV-distinct accounting; this adds the Cormode-Muthukrishnan count-min
sketch (J. Algorithms 2005), THE bounded-state frequency structure a
100 TB pipeline uses when the token vocabulary does not fit anywhere —
d×w integer counters total, independent of corpus size, built by one
map-side-combinable aggregation (sketch merge = counter addition, which
is exactly what partial aggregation does for free).

The registered query builds the sketch over the corpus token stream,
takes the exact top-K tokens (the ground truth a test harness can afford
at fixture scale), and reports estimate vs exact per heavy hitter. CMS
guarantees est >= exact always, with overestimates from bucket
collisions; w is deliberately smaller than the fixture vocabulary so the
collisions actually happen and the report shows the trade
(tests/test_sketches.py pins the one-sided error and that collisions are
present). The sketch geometry and bucket hash are functions/cms.py's
(the portable md5-hex-slice), so DuckDB replays sketch construction
bit-identically.

Scale notes (100 TB): token explode is one scan; the sketch groupBy has
d*w = 64 groups (partial agg makes the shuffle d*w rows per partition);
the exact top-K uses TakeOrderedAndProject only at fixture scale for
ground truth — the production artifact is the SKETCH, queried point-wise.
The estimate join broadcasts the 64-row sketch — bounded by
construction."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions import cms
from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.queries.textstats import _TOKS
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table, widen

_TOPK = 20


@register(
    "cms_heavy_hitters",
    bench=True,
    tags=("llm", "textstats", "sketch"),
    oracle=f"""
        WITH tok AS (
            SELECT unnest({_TOKS}) AS tok FROM documents
        ),
        exact AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tok GROUP BY tok
        ),
        topk AS (
            SELECT tok, cnt FROM exact ORDER BY cnt DESC, tok LIMIT {_TOPK}
        ),
        entries AS (
            SELECT g.j, {cms.duckdb_entries("tok")} AS b
            FROM tok, generate_series(0, {cms.D - 1}) g(j)
        ),
        sketch AS (
            SELECT j, b, CAST(COUNT(*) AS BIGINT) AS c
            FROM entries GROUP BY j, b
        ),
        probes AS (
            SELECT t.tok, t.cnt, g.j, {cms.duckdb_entries("tok")} AS b
            FROM topk t, generate_series(0, {cms.D - 1}) g(j)
        )
        SELECT p.tok, p.cnt, MIN(s.c) AS est,
               CAST(MIN(s.c) - p.cnt AS BIGINT) AS overcount
        FROM probes p JOIN sketch s ON p.j = s.j AND p.b = s.b
        GROUP BY p.tok, p.cnt
        ORDER BY p.cnt DESC, p.tok
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-{_TOPK} corpus tokens with their count-min estimates:
    (tok, cnt, est, overcount). The sketch is d={cms.D} rows × w={cms.W} buckets
    of exact BIGINT counters; est = min over rows of the token's bucket
    counter, so est >= cnt always and overcount isolates the collision
    error the bounded state buys."""
    toks = (
        widen(table(spark, sf_dir, "documents"))
        .select(F.explode(ts.tokens(F.col("text"))).alias("tok"))
        .localCheckpoint(eager=True)
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    topk = exact.orderBy(F.desc("cnt"), "tok").limit(_TOPK)
    entries = toks.select(cms.entries(F.col("tok")).alias("e")).select(
        "e.j", "e.b"
    )
    sketch = entries.groupBy("j", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    probes = topk.select(
        "tok", "cnt", cms.entries(F.col("tok")).alias("e")
    ).select("tok", "cnt", "e.j", "e.b")
    return (
        # bcast-audit: bounded (d*w = 64 sketch counters)
        probes.join(F.broadcast(sketch), ["j", "b"])
        .groupBy("tok", "cnt")
        .agg(F.min("c").alias("est"))
        .select(
            "tok",
            "cnt",
            "est",
            (F.col("est") - F.col("cnt")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.desc("cnt"), "tok")
    )
