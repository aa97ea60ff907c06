"""Model checks for the staged deterministic quantile sketch
(functions/qsketch.py — the r13 quantile_sketch_merge core): exact
weight conservation, determinism, the empirical rank-error envelope
across data shapes AND merge orders, and state-size bounds."""

from __future__ import annotations

import hashlib

import pytest

from gpu_mapreduce_spark.functions import qsketch


def _h(i: int) -> int:
    return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)


def _datasets(n: int) -> dict[str, list[int]]:
    return {
        "uniform": [_h(i) % 1_000_000 for i in range(n)],
        "sorted": list(range(n)),
        "reverse": list(range(n, 0, -1)),
        "skewed": [(_h(i) % 100) ** 3 for i in range(n)],
        "heavy_dup": [_h(i) % 37 for i in range(n)],
    }


def _max_rank_err(sk: qsketch.QSketch, data: list[int]) -> int:
    data_sorted = sorted(data)
    err = 0
    for q in range(1, 20):
        idx = q * (len(data) - 1) // 20
        x = data_sorted[idx]
        true_rank = sum(1 for v in data if v <= x)
        err = max(err, abs(sk.rank(x) - true_rank))
    return err


def test_qsketch_weight_exact_and_error_envelope():
    n = 50_000
    for name, data in _datasets(n).items():
        sk = qsketch.build(data)
        assert sk.n == n, name
        err = _max_rank_err(sk, data)
        # c=64: empirical envelope across all shapes; 3% of n is ~4x the
        # worst observed, tight enough to catch a broken compaction rule
        assert err <= 0.03 * n, f"{name}: rank error {err}"
        # state stays c * O(log(n/c)) — loudly bound it
        rows = sum(len(lv) for lv in sk.levels)
        assert rows <= qsketch.CAPACITY * (len(sk.levels) + 1)


def test_qsketch_build_deterministic():
    data = _datasets(10_000)["uniform"]
    a, b = qsketch.build(data), qsketch.build(data)
    assert a.levels == b.levels and a.compactions == b.compactions


def test_qsketch_merge_weight_exact_and_error_holds():
    n = 40_000
    data = _datasets(n)["uniform"]
    chunks = [data[i::8] for i in range(8)]
    parts = [qsketch.build(c) for c in chunks]
    # canonical left fold
    merged = parts[0]
    for p in parts[1:]:
        merged = qsketch.merge(merged, p)
    assert merged.n == n
    assert _max_rank_err(merged, data) <= 0.03 * n
    # adversarial fold orders: states may differ (documented — the
    # registration pins a canonical order), but the ERROR envelope and
    # exact weight must hold for every order
    import itertools

    for perm in itertools.islice(itertools.permutations(parts), 0, 6):
        m = perm[0]
        for p in perm[1:]:
            m = qsketch.merge(m, p)
        assert m.n == n
        assert _max_rank_err(m, data) <= 0.03 * n


def test_qsketch_quantiles_land_near_truth():
    n = 30_000
    data = _datasets(n)["skewed"]
    sk = qsketch.build(data)
    data_sorted = sorted(data)
    for num, den in ((1, 2), (9, 10), (99, 100)):
        got = sk.quantile(num, den)
        true_rank = sum(1 for v in data if v <= got)
        assert abs(true_rank - n * num / den) <= 0.03 * n


def test_bulk_build_matches_closed_form_position_law():
    """bulk_build's state must equal the documented closed form — the law
    the SQL oracle replays: level i < L holds the odd leftover
    s[(n_i - 1) << i], level L holds s[k << L], counters 1 below L."""
    c = qsketch.CAPACITY
    for n in (0, 1, c, c + 1, 2 * c, 313, 625, 5000, 50_001):
        data = [_h(i) % 10_000 for i in range(n)]
        sk = qsketch.bulk_build(data)
        s = sorted(data)
        if n == 0:
            assert sk.levels == [[]] and sk.n == 0
            continue
        lvl, want_levels, want_ctrs = 0, [], []
        while (n >> lvl) > c:
            ni = n >> lvl
            want_levels.append([s[(ni - 1) << lvl]] if ni % 2 else [])
            want_ctrs.append(1)
            lvl += 1
        want_levels.append([s[k << lvl] for k in range(n >> lvl)])
        want_ctrs.append(0)
        assert [sorted(l) for l in sk.levels] == want_levels, n
        assert sk.compactions == want_ctrs, n
        assert sk.n == n


def test_bulk_build_multiset_deterministic_and_envelope():
    """bulk_build is a function of the value MULTISET (insertion order
    irrelevant — the property the distributed partials rely on), and its
    rank-error envelope holds across the same shapes as the streaming
    build."""
    n = 50_000
    for name, data in _datasets(n).items():
        a = qsketch.bulk_build(data)
        b = qsketch.bulk_build(list(reversed(data)))
        assert a.levels == b.levels and a.compactions == b.compactions
        assert a.n == n
        err = _max_rank_err(a, data)
        assert err <= 0.03 * n, f"{name}: rank error {err}"


def test_fold_tree_of_bulk_partials_weight_exact_and_envelope():
    """The registered pipeline shape: P bulk partials (deterministic
    group split), canonical log-depth fold — exact weight, deterministic
    state, envelope holds; P not a power of two exercises the odd-tail
    carry."""
    n = 40_000
    data = _datasets(n)["uniform"]
    for p in (8, 5, 1):
        parts = [qsketch.bulk_build(data[i::p]) for i in range(p)]
        m1 = qsketch.fold_tree(parts)
        m2 = qsketch.fold_tree(
            [qsketch.bulk_build(data[i::p]) for i in range(p)]
        )
        assert m1.levels == m2.levels and m1.compactions == m2.compactions
        assert m1.n == n
        # bulk partials compact at full level width, so the P=8 fold's
        # constant is a bit above the streaming build's: worst observed
        # 4.0% of n across shapes / P / n in {10k,40k,80k}; pin 1.5x that
        assert _max_rank_err(m1, data) <= 0.06 * n, p
    import pytest

    with pytest.raises(ValueError, match="empty partial list"):
        qsketch.fold_tree([])


def test_fold_slots_matches_fold_tree_and_passes_empties_through():
    """fold_slots == fold_tree when every slot fills; empty slots pass
    through each pairing round (the sk // 2 id-fold semantics an SQL
    replay implements), so [p0, None, p2, p3] pairs (p0 alone),
    (p2, p3) in round 1 and merges the survivors in round 2."""
    import pytest

    data = _datasets(8_000)["uniform"]
    parts = [qsketch.bulk_build(data[i::4]) for i in range(4)]
    full = qsketch.fold_slots(list(parts))
    tree = qsketch.fold_tree(parts)
    assert full.levels == tree.levels and full.compactions == tree.compactions

    import copy

    p0, p2, p3 = (copy.deepcopy(parts[i]) for i in (0, 2, 3))
    sparse = qsketch.fold_slots([p0, None, p2, p3])
    want = qsketch.merge(
        copy.deepcopy(parts[0]),
        qsketch.merge(copy.deepcopy(parts[2]), copy.deepcopy(parts[3])),
    )
    assert sparse.levels == want.levels
    assert sparse.compactions == want.compactions
    assert sparse.n == parts[0].n + parts[2].n + parts[3].n

    with pytest.raises(ValueError, match="empty slot list"):
        qsketch.fold_slots([])
    with pytest.raises(ValueError, match="every slot empty"):
        qsketch.fold_slots([None, None])


def test_qsketch_small_inputs_exact():
    # below capacity nothing compacts: ranks are exact
    data = [5, 1, 9, 3, 3]
    sk = qsketch.build(data)
    assert sk.n == 5
    for x, want in ((0, 0), (1, 1), (3, 3), (5, 4), (9, 5)):
        assert sk.rank(x) == want
    assert sk.quantile(1, 2) == 3


def test_partial_row_codec_round_trips():
    """decode(encode(sk)) == sk for bulk builds and fold_tree outputs —
    empty levels (below a bulk build's top, inside a folded sketch's
    stack), odd leftovers and the empty sketch included — and a
    counter row seen twice raises instead of folding a partial twice."""

    class Row:
        def __init__(self, g, kind, lvl, v):
            self.g, self.kind, self.lvl, self.v = g, kind, lvl, v

    def round_trip(sk):
        rows = [Row(*r) for r in qsketch.encode(sk, 7)]
        return qsketch.decode(rows, lambda r: r.g)[7]

    data = _datasets(1000)["uniform"]
    bulks = [qsketch.bulk_build(data[:n]) for n in (0, 1, 64, 65, 325, 1000)]
    assert any(len(lv) % 2 for sk in bulks for lv in sk.levels)  # leftovers
    assert any(not lv for sk in bulks for lv in sk.levels)  # empty levels
    folded = qsketch.fold_tree(
        [qsketch.bulk_build(data[150 * i : 150 * (i + 1)]) for i in range(5)]
    )
    assert any(not lv for lv in folded.levels[1:-1])
    for sk in [*bulks, folded]:
        assert round_trip(sk) == sk
    rows = [Row(*r) for r in qsketch.encode(bulks[1], 0)]
    with pytest.raises(ValueError, match="ingested twice"):
        qsketch.decode(rows + rows[-1:], lambda r: r.g)
