"""quantile_sketch_merge model checks beyond the hash gate: the
error-envelope law against global_rank_quantile_docs' exact ranks, the
zero-shuffle mapInPandas production path, the missing-group and unroll
guards, and the oracle's closed-form group build on hand inputs."""

from __future__ import annotations

import duckdb
import pytest

from gpu_mapreduce_spark.functions import qsketch
from gpu_mapreduce_spark.queries import qsketch_merge as qm
from tests.conftest import SF_DIR, SF001_DIR


def _doc_vals(sf_dir: str) -> list[int]:
    con = duckdb.connect()
    vals = [
        int(v)
        for (v,) in con.execute(
            f"SELECT n_chars FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    ]
    con.close()
    return vals


def test_quantile_reads_within_envelope_of_exact_ranks(spark):
    """The registered query's 'q' read-outs land within the pinned
    envelope of the EXACT ranks (global_rank_quantile_docs is the
    per-question expensive twin this sketch amortizes): for each pct the
    exact rank of the returned value must sit within eps * n of the
    ceil(n * pct / 100) target; eps = 0.06 (the fold-path envelope
    pinned in tests/test_qsketch.py)."""
    out = {
        (r.sec, r.k): r.v
        for r in qm.quantile_sketch_merge(spark, SF001_DIR).collect()
    }
    vals = sorted(_doc_vals(SF001_DIR))
    n = len(vals)
    assert out[("n", -1)] == n  # weight exactness end-to-end
    for pct in qm.PCTS:
        got = out[("q", pct)]
        target = (n * pct + 99) // 100
        exact_rank = sum(1 for v in vals if v <= got)
        assert abs(exact_rank - target) <= 0.06 * n, (pct, got)


def test_map_partials_production_path_weight_and_envelope(spark):
    """The zero-shuffle mapInPandas path (one partial per input
    partition): exact total weight and the rank-error envelope hold for
    whatever partition layout the engine picked — the order-free laws
    that make the gate's fixed-P layout a convention, not a
    requirement."""
    from gpu_mapreduce_spark.sources.tables import table

    docs = table(spark, SF_DIR, "documents").repartition(6)
    parts = qm.sketch_partials_map(docs, "n_chars")
    merged = qsketch.fold_tree(parts)
    vals = _doc_vals(SF_DIR)
    assert merged.n == len(vals)
    svals = sorted(vals)
    n = len(vals)
    for q in range(1, 10):
        x = svals[q * (n - 1) // 10]
        true_rank = sum(1 for v in vals if v <= x)
        assert abs(merged.rank(x) - true_rank) <= 0.06 * n


def test_rebuild_guards_missing_group():
    class Row:
        def __init__(self, g, kind, lvl, v):
            self.g, self.kind, self.lvl, self.v = g, kind, lvl, v

    rows = [Row(0, "s", 0, 5), Row(0, "c", 0, 0)]
    with pytest.raises(ValueError, match="partial group set"):
        qm._rebuild(rows, groups={0, 1})
    # and the permissive mode (production path) accepts any group set
    [sk] = qm._rebuild(rows, groups=None)
    assert sk.levels == [[5]] and sk.n == 1


def test_fold_unroll_envelope_guard():
    """fold_and_read raises loudly when the fold's depth exceeds the
    oracle's unrolled stage budget instead of silently diverging."""
    deep = qsketch.QSketch()
    deep.levels = [[1]] * (qm.MAXL + 2)
    deep.compactions = [0] * (qm.MAXL + 2)
    with pytest.raises(ValueError, match="unroll envelope"):
        qm.fold_and_read([deep])


def test_group_rollup_weights_and_envelope(spark):
    """qsketch_group_rollup: per-source weights are exact (n row ==
    source row count), the cross-source fold's weight is their sum
    (mergeability loses nothing), and the '__all__' quantile reads sit
    within the fold-path envelope of the corpus-wide exact ranks."""
    from gpu_mapreduce_spark.queries.qsketch_rollup import (
        qsketch_group_rollup,
    )

    out = qsketch_group_rollup(spark, SF001_DIR).collect()
    ns = {r.src: r.v for r in out if r.sec == "n"}
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT source, CAST(COUNT(*) AS BIGINT) FROM read_parquet("
            f"'{SF001_DIR}/documents.parquet') GROUP BY source"
        ).fetchall()
    )
    con.close()
    assert {s: n for s, n in ns.items() if s != "__all__"} == want
    assert ns["__all__"] == sum(want.values())
    vals = sorted(_doc_vals(SF001_DIR))
    n = len(vals)
    for r in out:
        if r.sec == "q" and r.src == "__all__":
            target = (n * r.k + 99) // 100
            exact_rank = sum(1 for v in vals if v <= r.v)
            assert abs(exact_rank - target) <= 0.06 * n, (r.k, r.v)


def test_qsketch_stream_equals_batch_and_guards_duplicates(spark):
    """The r13 stream path: the group-sliced drain must reproduce
    quantile_sketch_merge's exact rows (stream ≡ batch — the
    order-dependent fold makes this a strictly stronger claim than the
    KMV/CMS duals, hence the deterministic feed), and a duplicated
    ingested partial must raise loudly instead of corrupting the
    fold."""
    from gpu_mapreduce_spark.queries import qsketch_stream as qs

    got = [
        tuple(r) for r in qs.qsketch_stream_ingest(spark, SF_DIR).collect()
    ]
    want = [
        tuple(r) for r in qm.quantile_sketch_merge(spark, SF_DIR).collect()
    ]
    assert got == want

    class Row:
        def __init__(self, g, kind, lvl, v):
            self.g, self.kind, self.lvl, self.v = g, kind, lvl, v

    dup = [Row(0, "s", 0, 5), Row(0, "c", 0, 0), Row(0, "c", 0, 0)]
    with pytest.raises(ValueError, match="ingested twice"):
        qs._slots(dup)
    with pytest.raises(ValueError, match="out-of-range"):
        qs._slots([Row(qm.P, "c", 0, 0)])


def test_oracle_closed_form_group_build_hand_input():
    """The oracle's s0/c0 closed form equals bulk_build on a hand-made
    table exercising odd leftovers at several levels (n = 325: levels
    325 > 162 > 81 > 40, leftovers at the odd n_i)."""
    n = 325
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT range AS doc_id,"
        f" (range * 7919) % 1000 AS n_chars FROM range({n})"
    )
    got = sorted(map(tuple, con.execute(qm._oracle_sql()).fetchall()))
    rows = con.execute(
        f"SELECT doc_id % {qm.P}, n_chars FROM documents"
    ).fetchall()
    con.close()
    groups: dict[int, list[int]] = {}
    for g, v in rows:
        groups.setdefault(int(g), []).append(int(v))
    parts = [qsketch.bulk_build(groups[g]) for g in sorted(groups)]
    want = sorted((s, int(k), int(v)) for s, k, v in qm.fold_and_read(parts))
    assert got == want
