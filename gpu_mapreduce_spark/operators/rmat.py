"""R-MAT graph generator (oink/rmat.cpp:37-71, kernel
oink/map_rmat_generate.cpp:14-67, examples/rmat.cpp:115-176).

Semantics reproduced: 2^N vertices; candidate edges drawn by N levels of
recursive quadrant descent with probabilities (a, b, c, d); duplicates culled
globally; generate-and-cull rounds repeat until exactly Nz·2^N unique edges
exist (the reference's `while (nremain) { map(generate); collate; cull; }`
loop). Self-loops are kept, as in the reference — `edge_upper` strips them
downstream (examples/in.cc pipeline).

This single implementation covers both reference variants: `rmat`
(oink/rmat.cpp:37-71, full re-collate each round) and `rmat2`
(oink/rmat2.cpp:50-65, incremental aggregate+add+convert) — our loop is
already incremental (the accumulated uniques are checkpointed; each round
only the new candidate batch is unioned in before the distinct).

Determinism: the reference seeds srand48 per proc (map_rmat_generate.cpp)
— reruns differ with proc count. We instead derive every random draw from
a pure column expression over (seed, attempt_index, level): the same seed
yields the same graph at any parallelism, which is what makes the
invariant tests (exact edge count, stable fingerprint, union-find CC
cross-check) possible. The draw is the portable md5-hex-slice hash (the
integer value of md5 hex chars 1-15, top 53 bits → uniform double) rather
than xxhash64, so the DuckDB oracle can replay the ENTIRE generate-and-cull
trace in SQL — identical candidates, identical round boundaries — and the
rmat queries are hash-verified, not just invariant-checked
(queries/rmat_gen.py).

Scale notes: generation is embarrassingly parallel codegen over spark.range
(no Python, no shuffle); each cull round is one distinct() shuffle over at
most `target` rows, and the loop state is localCheckpointed so round R
doesn't replay rounds 1..R-1. Skewed (a ≫ d) parameters produce the
power-law degree distribution the reference used for its scale experiments —
and they concentrate duplicate candidates in the hot corner, which is
exactly the skew the distinct's map-side combine absorbs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.plans.iterate import materialize


def _descend(n_levels: int, a: float, b: float, c: float, seed: int):
    """Column expressions (src, dst) for one candidate edge: N quadrant
    choices driven by the portable md5-hex-slice hash of (seed, attempt id,
    level) — 60-bit value, top 53 bits kept so the BIGINT→DOUBLE conversion
    is exact (identical in the JVM and DuckDB)."""
    ab, abc = a + b, a + b + c
    src = F.lit(0).cast("long")
    dst = F.lit(0).cast("long")
    for level in range(n_levels):
        m = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("id"), F.lit(str(level))))
        h = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
        # 60-bit value >> 7 = top 53 bits → uniform double in [0, 1)
        u = F.shiftrightunsigned(h, 7).cast("double") * F.lit(1.0 / (1 << 53))
        bit = F.lit(1 << (n_levels - 1 - level)).cast("long")
        qr = F.when(u < ab, F.lit(0)).otherwise(F.lit(1)).cast("long")
        qc = (
            F.when(u < a, F.lit(0))
            .when(u < ab, F.lit(1))
            .when(u < abc, F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
        )
        src = src + qr * bit
        dst = dst + qc * bit
    return src, dst


def rmat_edges(
    spark: SparkSession,
    n_levels: int,
    nz: int,
    a: float = 0.57,
    b: float = 0.19,
    c: float = 0.19,
    seed: int = 12345,
    max_rounds: int = 40,
) -> tuple[DataFrame, int]:
    """Generate exactly nz·2^n_levels unique directed edges (self-loops kept).

    Returns (edges(src, dst) — checkpointed, rounds used). Raises if the
    target isn't reached in max_rounds (only possible when target approaches
    the occupancy limit of the hot quadrant cells)."""
    target = nz << n_levels
    acc: DataFrame | None = None
    generated = 0
    unique = 0
    for rounds in range(1, max_rounds + 1):
        need = target - unique
        batch = spark.range(generated, generated + need)
        generated += need
        src, dst = _descend(n_levels, a, b, c, seed)
        cand = batch.select(src.alias("src"), dst.alias("dst"))
        # unique count observed during the round's own checkpoint (no
        # count job); the superseded round snapshot is freed once its
        # successor exists
        acc, unique = materialize(
            (cand if acc is None else acc.unionAll(cand)).distinct(),
            F.count(F.lit(1)),
            supersedes=acc,
        )
        if unique == target:
            return acc, rounds
    raise RuntimeError(
        f"rmat: {unique}/{target} unique edges after {max_rounds} rounds"
    )
