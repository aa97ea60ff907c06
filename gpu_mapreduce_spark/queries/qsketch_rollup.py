"""Per-group mergeable quantile sketches + the cross-grain fold law
(r13 landing of the SCALE.md r14 qsketch_group_rollup draft, landed
in-round) — quantile_sketch_merge at the `source` grain, extending it
the way hll_rollup extends hll: one deterministic KLL state per
documents.source over n_chars, every per-source STATE gate-hashed, AND
the fold of the twenty per-source finals into one corpus sketch
gate-hashed alongside — states built at one grain answering the
coarser grain by MERGE ALONE is the entire warehouse claim, proven
here as hash equality, not an error bound.

Layout convention (the gate's fixed layout; arbitrary layouts are
covered by the core's envelope-across-fold-orders tests): per source,
GP = 4 bulk partials by hash60('qsg|' || doc_id) % GP folded by the
canonical tree — a HASH split, because the fixture assigns sources by
doc_id % 20, which makes doc_id % GP CONSTANT within a source (found
at landing: every source landed in one group); the hash split is
layout-agnostic. A hash group can in principle be empty for a tiny
source, so both engines fold by FIXED SLOTS (qsketch.fold_slots: an
empty slot passes through each pairing round — exactly the sk // 2 id
fold the oracle implements, and identical to fold_tree when all slots
fill); then
the per-source finals fold in LEXICOGRAPHIC source order (dense ids
src_id = 0.., the same tree). The oracle replays both phases through
the SAME generated compaction stages as quantile_sketch_merge
(qsketch_merge._stage_sql with a phase prefix), with sketch ids made
composite: sid = src_id * SRC_STRIDE + g; phase A's round map
(sid div S)*S + (sid mod S) div 2 folds within source, phase B remaps
sid -> src_id and folds across sources. Missing high slots pass
through the stages untouched (a singleton's levels are all <= capacity
by construction), which is exactly fold_tree's odd-tail carry — so the
fixed ROUNDS_B = 5 unroll serves ANY <= 32 sources (asserted loudly).

Output (sec, src, k, v): per source 'state'/'ctr'/'n'/'q' rows (the
quantile_sketch_merge read-out keyed by source) plus the same four
sections under src = '__all__' for the cross-source fold.

100 TB: this is the artifact shape a warehouse persists — per-(source,
day) states of ~c*log(n/c) BIGINTs that answer any quantile at any
grain by the proven merge; the corpus-sized work happens once in the
partial build (the zero-shuffle mapInPandas path of qsketch_merge
applies verbatim per group at scale), and every rollup after that
moves kilobytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions import qsketch
from gpu_mapreduce_spark.queries.qsketch_merge import (
    _build_group,
    _stage_sql,
    CAP,
    MAXL,
    PCTS,
)
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources.tables import table

GP = 4  # hash-split partials per source (the gate layout at this grain)
SRC_STRIDE = 64  # composite sid = src_id * SRC_STRIDE + g
ROUNDS_A = (GP - 1).bit_length()  # within-source fold rounds
MAX_SOURCES = 32
ROUNDS_B = (MAX_SOURCES - 1).bit_length()  # cross-source fold rounds

_PARTIAL_SCHEMA = "src string, g int, kind string, lvl int, v long"


def _per_source_slots(rows) -> dict[str, list["qsketch.QSketch | None"]]:
    """Decode collected partial-state rows into GP fixed slots per source
    (None = an empty hash slot: fold_slots passes it through)."""
    per = qsketch.decode(rows, lambda r: (str(r.src), int(r.g)))
    unknown = {k for k in per if k[1] not in range(GP)}
    if unknown:
        raise ValueError(
            f"qsketch_rollup: out-of-range partial groups {sorted(unknown)}"
        )
    return {
        src: [per.get((src, g)) for g in range(GP)]
        for src in {src for src, _ in per}
    }


def _readout(src: str, sk: qsketch.QSketch) -> list[tuple]:
    rows = qsketch.read_out(sk, PCTS, MAXL, f"qsketch_rollup[{src!r}]")
    return [(sec, src, k, v) for sec, k, v in rows]


def _phase_ctes(
    tag: str, rounds: int, map_expr: str, rows: str, ctrs: str
) -> tuple[list[str], str, str]:
    """One fold phase: `rounds` rounds of (id remap by `map_expr`,
    counter sum, MAXL unrolled compaction stages) — the
    quantile_sketch_merge round machinery with namespaced CTEs."""
    ctes = []
    for r in range(1, rounds + 1):
        ctes.append(
            f"""{tag}r{r}in AS MATERIALIZED (
            SELECT {map_expr} AS sk, lvl, val FROM {rows}
        ),
        {tag}r{r}cin AS MATERIALIZED (
            SELECT {map_expr} AS sk, lvl, CAST(SUM(ctr) AS BIGINT) AS ctr
            FROM {ctrs} GROUP BY 1, 2
        )"""
        )
        rows, ctrs = f"{tag}r{r}in", f"{tag}r{r}cin"
        for i in range(MAXL):
            ctes.append(_stage_sql(r, i, rows, ctrs, prefix=tag))
            rows, ctrs = f"{tag}r{r}s{i}", f"{tag}r{r}c{i}"
    return ctes, rows, ctrs


def _readout_ctes(tag: str, rows: str, ctrs: str) -> str:
    """Per-sk read-out CTEs: {tag}nn / {tag}depth / {tag}qread plus the
    depth-trimmed counters {tag}ctr."""
    return f"""{tag}nn AS MATERIALIZED (
            SELECT sk, CAST(SUM(1::BIGINT << lvl) AS BIGINT) AS n
            FROM {rows} GROUP BY sk
        ),
        {tag}depth AS MATERIALIZED (
            SELECT sk, MAX(lvl) + 1 AS d FROM {rows} GROUP BY sk
        ),
        {tag}ctr AS MATERIALIZED (
            SELECT c.sk, c.lvl, c.ctr
            FROM {ctrs} c JOIN {tag}depth dd ON dd.sk = c.sk
            WHERE c.lvl < dd.d
        ),
        {tag}ranks AS MATERIALIZED (
            SELECT a.sk, a.val AS x,
                   CAST(SUM(CASE WHEN b.val <= a.val
                                 THEN (1::BIGINT << b.lvl)
                                 ELSE 0 END) AS BIGINT) AS rk
            FROM (SELECT DISTINCT sk, val FROM {rows}) a
            JOIN {rows} b ON b.sk = a.sk
            GROUP BY a.sk, a.val
        ),
        {tag}qread AS MATERIALIZED (
            SELECT r.sk, p.pct, MIN(r.x) AS qval
            FROM (SELECT unnest([{", ".join(map(str, PCTS))}]) AS pct) p,
                 {tag}ranks r JOIN {tag}nn n ON n.sk = r.sk
            WHERE r.rk >= (n.n * p.pct + 99) // 100
            GROUP BY r.sk, p.pct
        )"""


def _oracle_sql() -> str:
    s = SRC_STRIDE
    ctes = [
        f"""sidmap AS MATERIALIZED (
            SELECT src, row_number() OVER (ORDER BY src) - 1 AS src_id
            FROM (SELECT DISTINCT source AS src FROM documents)
        ),
        vals AS (
            SELECT m.src_id * {s}
                   + ('0x' || substr(md5('qsg|' || CAST(d.doc_id AS VARCHAR)),
                                     1, 15))::BIGINT % {GP} AS g,
                   d.n_chars AS val
            FROM documents d JOIN sidmap m ON m.src = d.source
        ),
        grp AS MATERIALIZED (
            SELECT g, val,
                   row_number() OVER (PARTITION BY g ORDER BY val) - 1
                       AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM vals
        ),
        lvls AS (SELECT unnest(range(0, {MAXL + 1})) AS lvl),
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
    a_ctes, rows, ctrs = _phase_ctes(
        "a", ROUNDS_A, f"(sk // {s}) * {s} + (sk % {s}) // 2", "s0", "c0"
    )
    ctes += a_ctes
    # per-source finals sit at sid = src_id * SRC_STRIDE
    ctes.append(f"""asrc AS MATERIALIZED (
            SELECT sk // {s} AS sk, lvl, val FROM {rows}
        ),
        asrcc AS MATERIALIZED (
            SELECT sk // {s} AS sk, lvl, ctr FROM {ctrs}
        )""")
    ctes.append(_readout_ctes("pa", "asrc", "asrcc"))
    b_ctes, browz, bctrs = _phase_ctes("b", ROUNDS_B, "sk // 2", "asrc", "asrcc")
    ctes += b_ctes
    ctes.append(_readout_ctes("pb", browz, bctrs))
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body}
        SELECT sec, src, k, v FROM (
            SELECT 'state' AS sec, m.src, CAST(f.lvl AS BIGINT) AS k,
                   CAST(f.val AS BIGINT) AS v
            FROM asrc f JOIN sidmap m ON m.src_id = f.sk
            UNION ALL
            SELECT 'ctr', m.src, CAST(c.lvl AS BIGINT),
                   CAST(c.ctr AS BIGINT)
            FROM pactr c JOIN sidmap m ON m.src_id = c.sk
            UNION ALL
            SELECT 'n', m.src, CAST(-1 AS BIGINT), n.n
            FROM pann n JOIN sidmap m ON m.src_id = n.sk
            UNION ALL
            SELECT 'q', m.src, CAST(q.pct AS BIGINT), CAST(q.qval AS BIGINT)
            FROM paqread q JOIN sidmap m ON m.src_id = q.sk
            UNION ALL
            SELECT 'state', '__all__', CAST(lvl AS BIGINT),
                   CAST(val AS BIGINT) FROM {browz}
            UNION ALL
            SELECT 'ctr', '__all__', CAST(lvl AS BIGINT),
                   CAST(ctr AS BIGINT) FROM pbctr
            UNION ALL
            SELECT 'n', '__all__', CAST(-1 AS BIGINT), n FROM pbnn
            UNION ALL
            SELECT 'q', '__all__', CAST(pct AS BIGINT),
                   CAST(qval AS BIGINT) FROM pbqread
        ) ORDER BY sec, src, k, v
    """


@register(
    "qsketch_group_rollup",
    tags=("llm", "sketch", "incremental"),
    oracle=_oracle_sql(),
)
def qsketch_group_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic quantile sketches over n_chars plus
    their fold into the corpus sketch — every state gate-hashed; see
    module docstring."""
    docs = table(spark, sf_dir, "documents")
    from gpu_mapreduce_spark.functions.portable import hash60

    g = hash60(
        F.concat(F.lit("qsg|"), F.col("doc_id").cast("string"))
    ) % GP
    parts = docs.select(
        F.col("source").alias("src"),
        g.cast("int").alias("g"),
        F.col("n_chars").cast("long").alias("val"),
    )
    staged = parts.groupBy("src", "g").applyInPandas(
        _build_group, schema=_PARTIAL_SCHEMA
    )
    per = _per_source_slots(staged.collect())  # bounded: src*GP states
    if len(per) > MAX_SOURCES:
        raise ValueError(
            f"qsketch_group_rollup: {len(per)} sources exceed the"
            f" ROUNDS_B unroll envelope ({MAX_SOURCES})"
        )
    out: list[tuple] = []
    finals = []
    for src in sorted(per):
        final = qsketch.fold_slots(per[src])
        finals.append(final)
        out += _readout(src, final)
    out += _readout("__all__", qsketch.fold_slots(finals))
    return spark.createDataFrame(
        out, "sec string, src string, k bigint, v bigint"
    ).orderBy("sec", "src", "k", "v")
