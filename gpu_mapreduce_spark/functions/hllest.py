"""HyperLogLog registers and their fixed-point estimator read-out — the
ONE convention every HLL query shares (the SCALE.md hyperball_harmonic
draft's risk note: the formula written once, reused verbatim, never
re-derived per query), each as a Spark column and its DuckDB mirror.

Register derivation (m=64, from the portable 60-bit hash h of
functions/portable.hash60): bucket = h mod 64; rho = leading zeros of
the remaining 54 bits + 1, computed as 55 - length(bin(h >> 6)) with
rho = 55 when h >> 6 == 0. Spark's and DuckDB's bin() both print minimal
binary, so the oracles replay every register bit-identically.

The float estimator alpha_m * m^2 / sum_b 2^(-reg_b) (Flajolet et al.
2007) is not hash-gateable: IEEE summation order differs between
engines. The portable convention instead fixes every step in integer
arithmetic over the sparse register table (m=64, rho in 1..55, absent
bucket == reg 0):

    D        = sum over ALL m buckets of 2^(RHO_MAX - reg_b)
             = (m - n_filled) * 2^RHO_MAX + sum_filled 2^(RHO_MAX - reg)
               exact BIGINT: D <= m * 2^RHO_MAX = 2^61 < 2^63.
    est_fp4  = NUMER div D   (integral division, both engines truncate
               identically on non-negative operands)
    NUMER    = ALPHA_M2_FP4 * 2^RHO_MAX, with ALPHA_M2_FP4 =
               29_040_640 == alpha_64 * m^2 * 10^4 EXACTLY
               (0.709 * 4096 = 2904.064 — a terminating decimal, so the
               fp4 scaling makes the constant an exact integer; 0.709 is
               the standard alpha for m=64).

NUMER ~ 1.05e24 exceeds BIGINT, so the division runs in DECIMAL(38,0)
(Spark, via the `div` integral-divide operator) / HUGEINT (DuckDB, via
`//`); the quotient is cast back to BIGINT. Envelope: the cast is exact
while est_fp4 < 2^63, i.e. estimates up to ~9.2e14 in 1e-4 units
(~9e10 distinct) — far above any per-vertex ball in the graph tier; a
bigger universe re-derives the convention with a wider scale.

est_fp4 is MONOTONE NON-DECREASING in the registers (each filled or
raised register strictly shrinks D), which is what lets the harmonic
fold difference consecutive ball estimates without sign handling. The
raw estimator is used deliberately without small-range/large-range
corrections: corrections need ln() (not correctly-rounded across
engines, so not gateable); the convention trades absolute accuracy at
tiny cardinalities for exact cross-engine replay, and the accuracy
claim is pinned separately in tests (tests/test_hll.py's float
estimator; test_graph_algorithms.py's register-exactness).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

M = 64  # registers: 2^6 buckets, so the 60-bit hash leaves 54 rho bits
RHO_MAX = 55  # 54 rho bits + 1
ALPHA_M2_FP4 = 29_040_640  # alpha_64 * m^2 * 10^4, exact integer
NUMER = ALPHA_M2_FP4 * (1 << RHO_MAX)  # 1046299323860805767659520

# Envelope floor, GUARDED (not just documented — the anomaly/jp_coloring
# loud-failure discipline, r12 ADVICE): est_fp4 = NUMER div D fits a
# BIGINT iff D > NUMER / 2^63 = ALPHA_M2_FP4 / 2^8 = 113_440 exactly
# (NUMER // 113_440 == 2^63 overflows; NUMER // 113_441 < 2^63 fits).
# Near-saturated registers CAN drive D that low (all-55 regs give
# D = 64), so both engine fragments raise loudly below the floor
# instead of letting Spark's non-ANSI cast null/wrap while DuckDB
# errors — the silent-divergence failure mode the guard exists for.
D_MIN_SAFE = NUMER // (1 << 63) + 1  # 113_441


def bucket_rho(h: Column) -> tuple[Column, Column]:
    """(bucket, rho) of one item from its 60-bit hash column, uncast:
    callers cast to INT (hll) or BIGINT (hyperball)."""
    tail = F.shiftrightunsigned(h, 6)
    return h % M, F.when(tail == 0, RHO_MAX).otherwise(
        RHO_MAX - F.length(F.bin(tail))
    )


def duckdb_bucket_rho(h: str) -> tuple[str, str]:
    """DuckDB mirror of `bucket_rho` over a BIGINT hash SQL expression."""
    return f"{h} % {M}", (
        f"CASE WHEN {h} // {M} = 0 THEN {RHO_MAX}"
        f" ELSE {RHO_MAX} - length(bin({h} // {M})) END"
    )


def d_from_regs() -> Column:
    """AGGREGATE expression: D over one group of sparse register rows
    whose column is named ``reg`` — absent buckets contribute 2^RHO_MAX
    each. SQL shiftleft keeps every term an exact BIGINT (reg in
    1..RHO_MAX, so the shift is 0..RHO_MAX-1). Keyed on the column name,
    exactly like the DuckDB mirror below, so the two fragments stay
    visibly symmetric."""
    return F.expr(
        f"({M} - COUNT(1)) * CAST({1 << RHO_MAX} AS BIGINT)"
        f" + SUM(shiftleft(CAST(1 AS BIGINT), {RHO_MAX} - reg))"
    )


def spark_est_fp4(d_expr: str) -> str:
    """Spark SQL fragment (for F.expr) computing est_fp4 from a BIGINT D
    expression: DECIMAL(38,0) integral divide, cast back to BIGINT.
    Raises loudly when D < D_MIN_SAFE (the BIGINT envelope floor)."""
    return (
        f"CASE WHEN ({d_expr}) < {D_MIN_SAFE}"
        f" THEN CAST(raise_error(concat('hllest.est_fp4: D = ',"
        f" CAST({d_expr} AS STRING), ' below the BIGINT envelope floor"
        f" {D_MIN_SAFE} — estimate would exceed 2^63')) AS BIGINT)"
        f" ELSE CAST(CAST('{NUMER}' AS DECIMAL(38,0))"
        f" div CAST({d_expr} AS DECIMAL(38,0)) AS BIGINT) END"
    )


def duckdb_est_fp4(d_expr: str) -> str:
    """DuckDB mirror: HUGEINT integral divide, cast back to BIGINT —
    same loud guard below the envelope floor."""
    return (
        f"CASE WHEN ({d_expr}) < {D_MIN_SAFE}"
        f" THEN CAST(error('hllest.est_fp4: D below the BIGINT envelope"
        f" floor {D_MIN_SAFE}') AS BIGINT)"
        f" ELSE CAST(({NUMER}::HUGEINT // CAST(({d_expr}) AS HUGEINT))"
        f" AS BIGINT) END"
    )


def duckdb_d_from_regs() -> str:
    """DuckDB mirror of `d_from_regs` as an aggregate SQL fragment over a
    group of sparse `reg` rows."""
    return (
        f"(({M} - COUNT(*)) * (1::BIGINT << {RHO_MAX})"
        f" + SUM(1::BIGINT << ({RHO_MAX} - reg)))"
    )


def est_fp4_py(d: int) -> int:
    """Python twin for tests: the exact integer the convention yields —
    same loud guard below the envelope floor."""
    if d < D_MIN_SAFE:
        raise ValueError(
            f"hllest.est_fp4: D = {d} below the BIGINT envelope floor"
            f" {D_MIN_SAFE} — estimate would exceed 2^63"
        )
    return NUMER // d
