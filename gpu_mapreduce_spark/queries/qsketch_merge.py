"""Mergeable deterministic quantile sketch, Spark-wired (the r13 landing
of the SCALE.md quantile_sketch_merge draft; core staged r12 in
functions/qsketch.py): fixed-boundary histograms (hist_quantile_rollup)
answer ranks only at bin resolution and the exact path
(global_rank_quantile_docs) re-sorts per question — this is the
amortizing middle tier: per-partial state O(c log(n/c)), mergeable, rank
error within an empirically-pinned epsilon * n at ANY quantile.

Pipeline (the registered convention — every step hash-gateable because
every random choice in KLL is replaced by a written-down rule):
  1. P = 8 fixed partials by doc_id % P (the bpe fixed-K discipline: the
     oracle unrolls this exact layout; arbitrary layouts are covered by
     the envelope-across-fold-orders model tests).
  2. Per group, qsketch.bulk_build over the n_chars multiset inside ONE
     Arrow applyInPandas pass — bulk (not streaming) because its state
     is a function of the value MULTISET alone with a CLOSED FORM:
     with s = sorted(vals), n_i = n >> i, L = first level with n_L <= c,
       level i < L holds [s[(n_i - 1) << i]] iff n_i odd (the leftover
       max), level L holds [s[k << L] : k < n_L], counters are 1 below
       L — so DuckDB replays the build as window/position algebra, no
       per-insert simulation.
  3. The P tiny states cross the driver (bounded: P * c * log levels —
     the kmeans-centroid / theta-sketch collect pattern) and fold by the
     canonical log-depth tree (qsketch.fold_tree); each merge is a
     level-wise concat + ONE bottom-up compaction pass, replayed by the
     oracle as unrolled per-level stages (sort, odd max stays, keep the
     even/odd half by counter parity, promote at doubled weight).
  4. Read-outs at exact integer ranks: n from the state's total weight,
     quantile(pct) = the smallest stored value whose rank estimate
     reaches ceil(n * pct / 100).

The gate hashes the sketch STATE (level rows + compaction counters), not
just the answers — the r12 VERDICT's done-criterion. Accuracy vs
global_rank_quantile_docs' exact ranks is pinned OUTSIDE the gate in
tests/test_qsketch_merge.py (the theta_ops accuracy discipline).

100 TB: the registered P = 8 shuffle is the GATE layout, not the scale
path — production uses `sketch_partials_map` below (mapInPandas: one
partial per input partition, ZERO shuffle, states fold log-depth), whose
weight-exactness and envelope are tested on the same corpus; the state
per partial is ~c * log2(n/c) BIGINTs, so a 1000-executor fold moves
kilobytes. Unroll envelope: the oracle processes compaction stages
0..MAXL-1; the Spark side raises loudly if the fold ever needs a level
beyond MAXL (n would have to exceed c * 2^MAXL * P / 8 ~ 5e5 rows per
group first).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions import qsketch
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table

P = 8  # fixed partial count (the oracle unrolls this exact layout)
CAP = qsketch.CAPACITY  # 64
MAXL = 13  # oracle compaction stages 0..MAXL-1; promotions may land at MAXL
PCTS = (1, 25, 50, 75, 99)

_PARTIAL_SCHEMA = "g int, kind string, lvl int, v long"


def _partial_frame(sk: qsketch.QSketch, keys: dict) -> pd.DataFrame:
    return pd.DataFrame(
        qsketch.encode(sk, *keys.values()), columns=[*keys, *qsketch.ROW_COLS]
    )


def _build_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """One bulk partial per group, keyed by every input column but `val`
    (g here; src and g in qsketch_rollup)."""
    sk = qsketch.bulk_build([int(x) for x in pdf["val"]])
    return _partial_frame(sk, pdf.drop(columns="val").iloc[0].to_dict())


def sketch_partials(df: DataFrame, col: str) -> DataFrame:
    """The registered gate layout: P fixed groups by doc_id % P, one
    bulk partial per group via ONE Arrow pass. Returns the partial-state
    frame (g, kind, lvl, v) — tiny by construction."""
    parts = df.select(
        (F.col("doc_id") % P).cast("int").alias("g"),
        F.col(col).cast("long").alias("val"),
    )
    return parts.groupBy("g").applyInPandas(
        _build_group, schema=_PARTIAL_SCHEMA
    )


def _map_partials(it):
    """mapInPandas worker: one bulk partial per INPUT PARTITION (all its
    Arrow batches folded into one sketch) — the zero-shuffle scale path.
    Each invocation sees exactly one partition, so the pre-tagged
    spark_partition_id column is constant across its batches."""
    vals: list[int] = []
    g = None
    for pdf in it:
        if len(pdf):
            g = int(pdf["g"].iloc[0])
            vals.extend(int(x) for x in pdf["val"])
    if g is not None:
        yield _partial_frame(qsketch.bulk_build(vals), {"g": g})


def sketch_partials_map(df: DataFrame, col: str) -> list[qsketch.QSketch]:
    """The production shape (NOT the gate layout): one partial per input
    partition via mapInPandas — ZERO shuffle, the corpus is consumed in
    place and only O(c log n) state rows per partition cross the wire.
    Partition layouts are engine-internal, so the resulting state is not
    oracle-replayable — the fold's weight exactness and rank-error
    envelope (order-free laws) are what tests pin. Returns the rebuilt
    partials, partition-ascending; fold with qsketch.fold_tree."""
    tagged = df.select(
        F.col(col).cast("long").alias("val"),
        F.spark_partition_id().alias("g"),
    )
    parts = tagged.mapInPandas(_map_partials, schema=_PARTIAL_SCHEMA)
    return _rebuild(parts.collect(), groups=None)


def _rebuild(rows, groups: "set[int] | None") -> list[qsketch.QSketch]:
    """Decode collected partial-state rows into sketches, g-ascending.
    `groups` (when given) is the exact group set that must be present —
    a missing group would silently drop its weight."""
    per = qsketch.decode(rows, lambda r: int(r.g))
    if groups is not None and set(per) != groups:
        raise ValueError(
            "quantile_sketch_merge: partial group set"
            f" {sorted(per)} != expected {sorted(groups)}"
        )
    return [per[g] for g in sorted(per)]


def fold_and_read(parts: list[qsketch.QSketch]) -> list[tuple]:
    """Canonical fold + read-out rows (sec, k, v) — see qsketch.read_out."""
    return qsketch.read_out(
        qsketch.fold_tree(parts), PCTS, MAXL, "quantile_sketch_merge"
    )


# ---------------------------------------------------------------------------
# Oracle: the generated CTE chain. Group build is the closed-form position
# law; each merge round is sk -> sk // 2 concat (counters add) + MAXL
# unrolled per-level compaction stages (sorted; odd max stays; even-length
# prefix keeps rn % 2 == ctr % 2 positions promoted at level+1).
# ---------------------------------------------------------------------------


def _stage_sql(
    r: int, i: int, prev_rows: str, prev_ctrs: str, prefix: str = ""
) -> str:
    """One bottom-up compaction stage: processes level `i` of every
    sketch in parallel (PARTITION BY sk). `sk` may be ANY integer
    sketch id — qsketch_rollup.py threads composite (source, group)
    ids through the same stages; `prefix` namespaces the CTEs so one
    oracle can chain several fold phases."""
    p = prefix
    return f"""
        {p}r{r}t{i} AS MATERIALIZED (
            SELECT sk, lvl, val,
                   COUNT(*) OVER (PARTITION BY sk, lvl) AS cnt,
                   row_number() OVER (PARTITION BY sk, lvl
                                      ORDER BY val) - 1 AS rn
            FROM {prev_rows}
        ),
        {p}r{r}s{i} AS MATERIALIZED (
            SELECT sk, lvl, val FROM {p}r{r}t{i}
            WHERE lvl <> {i} OR cnt <= {CAP}
            UNION ALL
            SELECT sk, lvl, val FROM {p}r{r}t{i}
            WHERE lvl = {i} AND cnt > {CAP} AND cnt % 2 = 1
              AND rn = cnt - 1
            UNION ALL
            SELECT t.sk, t.lvl + 1 AS lvl, t.val FROM {p}r{r}t{i} t
            JOIN {prev_ctrs} c ON c.sk = t.sk AND c.lvl = {i}
            WHERE t.lvl = {i} AND t.cnt > {CAP}
              AND t.rn < t.cnt - t.cnt % 2 AND t.rn % 2 = c.ctr % 2
        ),
        {p}r{r}c{i} AS MATERIALIZED (
            SELECT c.sk, c.lvl,
                   c.ctr + CASE WHEN c.lvl = {i}
                                 AND coalesce(x.cnt, 0) > {CAP}
                            THEN 1 ELSE 0 END AS ctr
            FROM {prev_ctrs} c
            LEFT JOIN (SELECT sk, COUNT(*) AS cnt FROM {prev_rows}
                       WHERE lvl = {i} GROUP BY sk) x ON x.sk = c.sk
        )"""


def _oracle_sql() -> str:
    rounds = (P - 1).bit_length()  # log-depth tree over P partials
    ctes = [
        f"""vals AS (
            SELECT doc_id % {P} AS g, n_chars AS val FROM documents
        ),
        grp AS MATERIALIZED (
            SELECT g, val,
                   row_number() OVER (PARTITION BY g ORDER BY val) - 1
                       AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM vals
        ),
        lvls AS (SELECT unnest(range(0, {MAXL + 1})) AS lvl),
        -- closed-form bulk-build state (see module docstring)
        s0 AS MATERIALIZED (
            SELECT g AS sk, l.lvl, t.val FROM grp t, lvls l
            WHERE ((t.n >> l.lvl) > {CAP}
                   AND (t.n >> l.lvl) % 2 = 1
                   AND t.rn = ((t.n >> l.lvl) - 1) * (1 << l.lvl))
               OR ((t.n >> l.lvl) <= {CAP}
                   AND (l.lvl = 0 OR (t.n >> (l.lvl - 1)) > {CAP})
                   AND t.rn % (1 << l.lvl) = 0
                   AND (t.rn >> l.lvl) < (t.n >> l.lvl))
        ),
        c0 AS MATERIALIZED (
            SELECT t.g AS sk, l.lvl,
                   CASE WHEN (t.n >> l.lvl) > {CAP} THEN 1 ELSE 0 END
                       AS ctr
            FROM (SELECT DISTINCT g, n FROM grp) t, lvls l
        )"""
    ]
    rows, ctrs = "s0", "c0"
    for r in range(1, rounds + 1):
        ctes.append(
            f"""r{r}in AS MATERIALIZED (
            SELECT sk // 2 AS sk, lvl, val FROM {rows}
        ),
        r{r}cin AS MATERIALIZED (
            SELECT sk // 2 AS sk, lvl, CAST(SUM(ctr) AS BIGINT) AS ctr
            FROM {ctrs} GROUP BY 1, 2
        )"""
        )
        rows, ctrs = f"r{r}in", f"r{r}cin"
        for i in range(MAXL):
            ctes.append(_stage_sql(r, i, rows, ctrs))
            rows, ctrs = f"r{r}s{i}", f"r{r}c{i}"
    ctes.append(
        f"""fin AS MATERIALIZED (SELECT lvl, val FROM {rows}),
        finc AS MATERIALIZED (SELECT lvl, ctr FROM {ctrs}),
        depth AS (SELECT MAX(lvl) + 1 AS d FROM fin),
        nn AS (
            SELECT CAST(SUM(1::BIGINT << lvl) AS BIGINT) AS n FROM fin
        ),
        ranks AS (
            SELECT a.val AS x,
                   CAST(SUM(CASE WHEN b.val <= a.val
                                 THEN (1::BIGINT << b.lvl)
                                 ELSE 0 END) AS BIGINT) AS rk
            FROM (SELECT DISTINCT val FROM fin) a, fin b
            GROUP BY a.val
        ),
        qread AS (
            SELECT p.pct, MIN(r.x) AS qval
            FROM (SELECT unnest([{", ".join(map(str, PCTS))}]) AS pct) p,
                 ranks r, nn
            WHERE r.rk >= (nn.n * p.pct + 99) // 100
            GROUP BY p.pct
        )"""
    )
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body}
        SELECT sec, k, v FROM (
            SELECT 'state' AS sec, CAST(lvl AS BIGINT) AS k,
                   CAST(val AS BIGINT) AS v FROM fin
            UNION ALL
            SELECT 'ctr', CAST(c.lvl AS BIGINT), CAST(c.ctr AS BIGINT)
            FROM finc c, depth WHERE c.lvl < depth.d
            UNION ALL
            SELECT 'n', CAST(-1 AS BIGINT), n FROM nn
            UNION ALL
            SELECT 'q', CAST(pct AS BIGINT), CAST(qval AS BIGINT)
            FROM qread
        ) ORDER BY sec, k, v
    """


@register(
    "quantile_sketch_merge",
    bench=True,
    tags=("llm", "sketch"),
    oracle=_oracle_sql(),
)
def quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KLL-style quantile sketch over documents.n_chars:
    P = {P} bulk partials (one Arrow pass), canonical log-depth fold,
    state + counters + exact-weight n + quantile reads — the whole
    sketch STATE is the gate surface. See module docstring."""
    docs = table(spark, sf_dir, "documents")
    parts = _rebuild(
        sketch_partials(docs, "n_chars").collect(), groups=set(range(P))
    )
    out = fold_and_read(parts)
    return spark.createDataFrame(
        out, "sec string, k bigint, v bigint"
    ).orderBy("sec", "k", "v")
