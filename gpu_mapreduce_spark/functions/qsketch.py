"""Deterministic mergeable rank/quantile sketch — the compaction
convention STAGED for the r13 `quantile_sketch_merge` registration
(SCALE.md draft; the betweenness/hyperball discipline: the risky core
lands one round early as a pure function with model tests, the Spark
wiring and oracle unroll follow).

A KLL/GK-style sketch (Karnin, Lang & Liberty 2016) with every random
choice replaced by a WRITTEN-DOWN deterministic rule, so the sketch
STATE — not just its answers — is replayable by an oracle:

  * state = levels[i] (sorted BIGINT lists, each element weight 2^i)
    plus per-level compaction counters;
  * insert appends to level 0; a level holding > capacity rows sorts
    and compacts: the even-length PREFIX collapses pairwise (keep the
    EVEN positions when that level's counter is even, the ODD positions
    when odd — the counter alternation that replaces KLL's coin and
    keeps the bias two-sided), promoted to level i+1 at doubled weight;
    an odd leftover element stays at level i. Total weight is exactly
    preserved, so n is always recoverable from the state;
  * merge concatenates level-wise (counters add) then re-compacts
    bottom-up by the same rule. Deterministic compaction is NOT
    order-associative, so a GATED fold fixes a canonical order (the
    draft's fixed-partition-layout note) — what IS order-independent is
    the error envelope, which the tests pin across fold orders;
  * rank(x) = sum over levels of 2^i * |{v <= x}|; quantile(phi) =
    the smallest stored value whose rank estimate reaches
    ceil(phi * n) — exact integer arithmetic throughout.

Error: eps * n rank error with eps ~ O(log(n / c) / c); pinned
EMPIRICALLY (not asymptotically) in tests/test_qsketch.py at c = 64
across uniform / skewed / sorted / adversarial-merge-order inputs.
Pure Python on ints — usable driver-side over collected partials or
inside mapInPandas per partition; the state is tiny
(c * levels ~ c * log2(n / c) BIGINTs).

This module also owns the sketch's wire layout: `encode` / `decode` turn
a sketch into partial-state rows (kind, lvl, v) and back, and `read_out`
turns a final sketch into the registered (sec, k, v) output rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field


CAPACITY = 64  # per-level row budget (c)


@dataclass
class QSketch:
    capacity: int = CAPACITY
    levels: list[list[int]] = field(default_factory=list)
    compactions: list[int] = field(default_factory=list)

    def _ensure(self, i: int) -> None:
        while len(self.levels) <= i:
            self.levels.append([])
            self.compactions.append(0)

    @property
    def n(self) -> int:
        """Exact total weight (items represented) — compaction preserves
        it by construction."""
        return sum(len(lv) << i for i, lv in enumerate(self.levels))

    def insert(self, value: int) -> None:
        self._ensure(0)
        self.levels[0].append(value)
        self._compact_from(0)

    def _compact_from(self, start: int) -> None:
        i = start
        while i < len(self.levels):
            if len(self.levels[i]) <= self.capacity:
                i += 1
                continue
            s = sorted(self.levels[i])
            odd = len(s) % 2
            leftover = [s[-1]] if odd else []
            body = s[: len(s) - odd]
            keep = body[0::2] if self.compactions[i] % 2 == 0 else body[1::2]
            self.compactions[i] += 1
            self.levels[i] = leftover
            self._ensure(i + 1)
            self.levels[i + 1].extend(keep)
            i += 1

    def rank(self, x: int) -> int:
        """Estimated number of inserted items <= x, in exact integer
        arithmetic over the state."""
        return sum(
            sum(1 for v in lv if v <= x) << i
            for i, lv in enumerate(self.levels)
        )

    def quantile(self, num: int, den: int) -> int:
        """The smallest stored value whose rank estimate reaches
        ceil(n * num / den) — phi passed as an exact fraction."""
        if not any(self.levels):
            raise ValueError("quantile of an empty sketch")
        target = -(-self.n * num // den)  # ceil
        vals = sorted(v for lv in self.levels for v in lv)
        for v in vals:
            if self.rank(v) >= target:
                return v
        return vals[-1]


def build(values: list[int], capacity: int = CAPACITY) -> QSketch:
    sk = QSketch(capacity=capacity)
    for v in values:
        sk.insert(v)
    return sk


def bulk_build(values: list[int], capacity: int = CAPACITY) -> QSketch:
    """Bulk construction: load the whole multiset into level 0, then one
    bottom-up compaction pass — the REGISTERED convention for the Spark
    per-partition partials (quantile_sketch_merge), chosen over the
    streaming `build` because its state is a function of the value
    MULTISET alone (every compaction sorts first, so insertion order
    cannot matter) and has a CLOSED FORM an SQL oracle replays without
    simulating n inserts:

      with s = sorted(values), n_i = n >> i, and L = the smallest level
      with n_L <= capacity,
        level i < L : [s[(n_i - 1) << i]] if n_i odd else []   (leftover)
        level L     : [s[k << L] for k in range(n_L)]
        counter_i   : 1 if i < L else 0

    (each level compacts exactly once: level i holds n_i rows, keeps the
    even sorted positions of its even-length prefix — counters start 0 —
    and promotes them as positions k * 2^(i+1) of the original sorted
    order, the odd max staying behind). The law is pinned against this
    very function in tests/test_qsketch.py; the rank-error envelope is
    the same O(n / capacity) class as the streaming build (one compaction
    per level instead of many), covered by the shared envelope tests."""
    sk = QSketch(capacity=capacity)
    sk._ensure(0)
    sk.levels[0] = list(values)
    sk._compact_from(0)
    return sk


def fold_tree(parts: list[QSketch]) -> QSketch:
    """Canonical log-depth fold: pair adjacent sketches (0,1), (2,3), …
    per layer (an odd tail carries up unmerged) until one remains. THE
    fold order of the quantile_sketch_merge registration — deterministic
    compaction is not order-associative, so the gate pins this order
    (the bpe fixed-K discipline) while the error envelope is pinned
    order-free in tests."""
    if not parts:
        raise ValueError("fold_tree of an empty partial list")
    layer = list(parts)
    while len(layer) > 1:
        nxt = [
            merge(layer[j], layer[j + 1])
            for j in range(0, len(layer) - 1, 2)
        ]
        if len(layer) % 2:
            nxt.append(layer[-1])
        layer = nxt
    return layer[0]


def fold_slots(slots: "list[QSketch | None]") -> QSketch:
    """fold_tree over FIXED slot positions: empty slots (None) pass
    through each pairing round untouched, exactly like an sk -> sk // 2
    id fold with absent ids — the form an SQL replay implements, and
    identical to fold_tree when every slot is filled (contiguous ids
    pair the same way). Needed when a fixed partial layout can have
    EMPTY groups (qsketch_rollup's hash-split source grain)."""
    layer: list[QSketch | None] = list(slots)
    if not layer:
        raise ValueError("fold_slots of an empty slot list")
    while len(layer) > 1:
        nxt: list[QSketch | None] = []
        for j in range(0, len(layer), 2):
            a = layer[j]
            b = layer[j + 1] if j + 1 < len(layer) else None
            if a is None:
                nxt.append(b)
            elif b is None:
                nxt.append(a)
            else:
                nxt.append(merge(a, b))
        layer = nxt
    if layer[0] is None:
        raise ValueError("fold_slots: every slot empty")
    return layer[0]


def merge(a: QSketch, b: QSketch) -> QSketch:
    """Level-wise concatenation + bottom-up re-compaction by the same
    deterministic rule. Weight-exact: merged.n == a.n + b.n always."""
    if a.capacity != b.capacity:
        raise ValueError("merge: capacity mismatch")
    out = QSketch(capacity=a.capacity)
    depth = max(len(a.levels), len(b.levels))
    out._ensure(max(depth - 1, 0))
    for i in range(depth):
        if i < len(a.levels):
            out.levels[i].extend(a.levels[i])
            out.compactions[i] += a.compactions[i]
        if i < len(b.levels):
            out.levels[i].extend(b.levels[i])
            out.compactions[i] += b.compactions[i]
    out._compact_from(0)
    return out


# Partial-state rows: (*key, kind, lvl, v) — kind 's' is a stored value v
# at level lvl, kind 'c' is level lvl's compaction counter v. Every level
# gets a counter row, so the depth survives empty levels.
ROW_COLS = ("kind", "lvl", "v")


def encode(sk: QSketch, *key) -> list[tuple]:
    """`sk` as partial-state rows, each prefixed by the caller's key."""
    rows = [(*key, "s", i, int(v)) for i, lv in enumerate(sk.levels) for v in lv]
    return rows + [(*key, "c", i, int(c)) for i, c in enumerate(sk.compactions)]


def decode(rows, key) -> dict:
    """Inverse of `encode`: one QSketch per `key(row)` from partial-state
    rows (anything with .kind / .lvl / .v attributes). A level counter
    seen twice means a partial was ingested twice; the fold is not
    idempotent, so that raises instead of corrupting it."""
    per: dict = {}
    for r in rows:
        k = key(r)
        vals, ctrs = per.setdefault(k, ({}, {}))
        lvl, v = int(r.lvl), int(r.v)
        if r.kind == "s":
            vals.setdefault(lvl, []).append(v)
        elif lvl in ctrs:
            raise ValueError(
                f"qsketch.decode: partial {k!r} ingested twice —"
                " duplicated partials corrupt the fold"
            )
        else:
            ctrs[lvl] = v
    out = {}
    for k, (vals, ctrs) in per.items():
        depth = max(ctrs) + 1
        out[k] = QSketch(
            levels=[vals.get(i, []) for i in range(depth)],
            compactions=[ctrs[i] for i in range(depth)],
        )
    return out


def read_out(sk: QSketch, pcts, maxl: int, who: str) -> list[tuple]:
    """Registered read-out rows (sec, k, v) of a final sketch: the full
    state ('state', lvl, value) and counters ('ctr', lvl, counter), the
    exact weight ('n', -1, n) and the quantile reads ('q', pct, value).
    Raises when the depth exceeds the oracle's MAXL compaction stages."""
    if len(sk.levels) > maxl + 1:
        raise ValueError(
            f"{who}: fold depth {len(sk.levels)} exceeds the oracle unroll"
            f" envelope (MAXL={maxl}); regenerate the oracle with a deeper"
            " unroll"
        )
    out = [("state", lvl, v) for lvl, lv in enumerate(sk.levels) for v in lv]
    out += [("ctr", lvl, c) for lvl, c in enumerate(sk.compactions)]
    out.append(("n", -1, sk.n))
    return out + [("q", pct, sk.quantile(pct, 100)) for pct in pcts]
