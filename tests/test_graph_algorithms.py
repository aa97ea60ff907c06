"""Independent cross-checks for the algorithms with no SQL oracle
(FIXTURES.md: luby_find is property-checked; rmat is invariant-checked and
its downstream cc is verified against a pure-Python union-find)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators import graph, graph_iter, rmat
from gpu_mapreduce_spark.sources import fixtures
from tests.conftest import SF_DIR, named_actions


def test_luby_invariants(spark):
    edges = fixtures.edges_materialized(spark, SF_DIR)
    mis, rounds = graph_iter.luby_find(edges, seed=12345)
    mis = mis.localCheckpoint(eager=True)
    assert rounds >= 1
    assert mis.count() > 0

    # independence: no edge has both endpoints in the MIS
    s = mis.select(F.col("v").alias("sv"))
    d = mis.select(F.col("v").alias("dv"))
    inside = edges.join(s, edges.src == s.sv).join(d, edges.dst == d.dv)
    assert inside.count() == 0

    # maximality: every non-member has at least one MIS neighbor
    arcs = graph.bidirect(edges)
    verts = graph.vertex_extract(edges)
    covered = (
        arcs.join(s, arcs.src == s.sv).select(F.col("dst").alias("v")).distinct()
    )
    uncovered = (
        verts.join(mis, "v", "left_anti").join(covered, "v", "left_anti")
    )
    assert uncovered.count() == 0


def test_luby_deterministic(spark):
    edges = fixtures.edges_materialized(spark, SF_DIR)
    a, _ = graph_iter.luby_find(edges, seed=7)
    b, _ = graph_iter.luby_find(edges, seed=7)
    assert sorted(r.v for r in a.collect()) == sorted(r.v for r in b.collect())


def test_rmat_exact_count_and_determinism(spark):
    e1, rounds1 = rmat.rmat_edges(spark, 10, 4, 0.57, 0.19, 0.19, seed=99)
    assert e1.count() == 4 << 10
    # no duplicates by construction
    assert e1.distinct().count() == 4 << 10
    e2, _ = rmat.rmat_edges(spark, 10, 4, 0.57, 0.19, 0.19, seed=99)
    fp = lambda df: sorted((r.src, r.dst) for r in df.collect())
    assert fp(e1) == fp(e2)
    # different seed -> different graph
    e3, _ = rmat.rmat_edges(spark, 10, 4, 0.57, 0.19, 0.19, seed=100)
    assert fp(e1) != fp(e3)


def test_rmat_cc_matches_union_find(spark):
    """cc_find on the skewed R-MAT graph vs a pure-Python union-find —
    the only engine-independent check possible for a generated graph."""
    gen, _ = rmat.rmat_edges(spark, 10, 4, 0.57, 0.19, 0.19, seed=99)
    edges = graph.edge_upper(gen).localCheckpoint(eager=True)
    cc, _rounds = graph_iter.cc_find(edges)
    got = {r.v: r.zone for r in cc.collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pairs = [(r.src, r.dst) for r in edges.collect()]
    for s, d in pairs:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    # canonical label = min vertex of each component
    comp: dict[int, int] = {}
    for v in parent:
        root = find(v)
        comp[root] = min(comp.get(root, v), v)
    want = {v: comp[find(v)] for v in parent}
    assert got == want


def test_neigh_tri_sink_one_dir_per_vertex(spark, tmp_path):
    """The sink's on-disk contract (oink/neigh_tri.cpp:39-60: one output
    file per vertex): write.partitionBy must produce exactly one v=<id>
    directory per input vertex, and the partitioned read-back must
    reproduce every row."""
    from pyspark.sql import functions as F

    from gpu_mapreduce_spark.operators import graph

    nt = spark.createDataFrame(
        [(v, f"n{v}", f"t{v}") for v in range(7)],
        "v bigint, neighbors string, tri_edges string",
    )
    path = str(tmp_path / "nt")
    graph.neigh_tri_sink(nt, path)

    dirs = sorted(p.name for p in (tmp_path / "nt").iterdir() if p.name.startswith("v="))
    assert dirs == [f"v={v}" for v in range(7)]

    back = spark.read.parquet(path).select(
        F.col("v").cast("bigint").alias("v"), "neighbors", "tri_edges"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nt.collect()))


def test_neighbor_grouped_iterator_escape_matches(spark):
    """SCALE.md 'known caps': neighbor()'s collect_list needs each vertex's
    adjacency to fit one aggregation buffer; for celebrity vertices the
    documented escape is the grouped-iterator form (core.group_apply, the
    reference's multi-block KMV streaming analog). Prove the two forms are
    row-identical on a hub-skewed graph (hub adjacent to every vertex)."""
    import pandas as pd

    from gpu_mapreduce_spark.operators import core
    from gpu_mapreduce_spark.operators.graph import bidirect, neighbor

    hub_edges = spark.range(1, 400).select(
        F.lit(0).alias("src"), F.col("id").alias("dst")
    ).union(
        spark.range(1, 100).select(
            F.col("id").alias("src"), (F.col("id") + 100).alias("dst")
        )
    )
    base = neighbor(hub_edges).collect()

    def adj(pdf: pd.DataFrame) -> pd.DataFrame:
        # iterator-friendly shape: sorts one group's dsts; at true celebrity
        # scale this is the place a spill-capable external sort would live
        return pd.DataFrame(
            {"v": [pdf["src"].iloc[0]], "neighbors": [sorted(pdf["dst"])]}
        )

    escaped = core.group_apply(
        bidirect(hub_edges).select("src", "dst"),
        "src",
        adj,
        "v bigint, neighbors array<bigint>",
    ).collect()
    key = lambda r: r.v  # noqa: E731
    assert sorted(base, key=key) == sorted(escaped, key=key)


def test_kcore_invariants_and_paths(spark):
    """k-core output invariants on the edges fixture: every member's
    core-induced degree is >= k, the 25-nation clique (a 24-core by
    construction) is fully inside the 24-core, and degrees are consistent
    with a recomputation over the returned membership."""
    edges = fixtures.edges_materialized(spark, SF_DIR)
    core, _rounds = graph_iter.kcore(edges, k=24)
    rows = {r.v: r.core_deg for r in core.collect()}
    assert rows, "24-core empty despite the embedded 25-clique"
    assert all(d >= 24 for d in rows.values())
    assert set(range(25)) <= set(rows), "nation-clique vertices missing"
    # recompute induced degrees over the returned membership
    member = set(rows)
    arcs = {(r.src, r.dst) for r in graph.bidirect(edges).collect()}
    for v in member:
        deg = sum(1 for (s, d) in arcs if s == v and d in member)
        assert deg == rows[v]


def test_ktruss_model(spark):
    """ktruss_edges on a hand graph: a K4 glued to a pendant triangle.
    k=3 keeps every triangle edge (support >= 1); k=4 keeps exactly the
    K4's 6 edges (support 2 each inside the clique); k=5 peels everything
    (the pendant-triangle edges' removal drops K4 support transitively...
    no — K4 alone is a 4-truss, not 5: every edge has support 2 < 3)."""
    from gpu_mapreduce_spark.operators import graph_iter

    # K4 on {0,1,2,3} + triangle {3,4,5}
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    tri = [(3, 4), (3, 5), (4, 5)]
    edges = spark.createDataFrame(k4 + tri, "src bigint, dst bigint")

    s3, r3 = graph_iter.ktruss_edges(edges, 3)
    got3 = {(r.src, r.dst): r.support for r in s3.collect()}
    assert set(got3) == set(k4 + tri)
    assert got3[(4, 5)] == 1 and got3[(0, 1)] == 2

    s4, _r4 = graph_iter.ktruss_edges(edges, 4)
    got4 = {(r.src, r.dst): r.support for r in s4.collect()}
    assert set(got4) == set(k4) and all(v == 2 for v in got4.values())

    s5, _r5 = graph_iter.ktruss_edges(edges, 5)
    assert s5.count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k >= 3"):
        graph_iter.ktruss_edges(edges, 2)


def test_betweenness_sources_model(spark):
    """betweenness_sources on a hand graph where sigma and delta are
    computable by hand: diamond 0-1-3 / 0-2-3 plus pendant path 3-4.

    From source 0: dist 0/1/1/2/3, sigma 1/1/1/2/2; fixed-point deltas
    (BC_SCALE units) delta_3 = (2*(1e4+0)) div 2 = 1e4, delta_1 = delta_2
    = (1*(1e4+1e4)) div 2 = 1e4, delta_4 = 0. From source 4 (symmetric
    chain): delta_3 = 3e4, delta_1 = delta_2 = 5000, delta_0 excluded
    (source) and 0's delta from source 4 is 0 anyway (leaf)."""
    from gpu_mapreduce_spark.operators import graph_iter

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)], "src bigint, dst bigint"
    )
    bc, depth = graph_iter.betweenness_sources(edges, [0])
    assert depth == 3
    got = {r.v: r.bc_u for r in bc.collect()}
    assert got == {1: 10000, 2: 10000, 3: 10000, 4: 0}

    bc2, depth2 = graph_iter.betweenness_sources(edges, [0, 4])
    assert depth2 == 3
    got2 = {r.v: r.bc_u for r in bc2.collect()}
    # sums over both sources; sources excluded from their own tree but
    # present as ordinary vertices of the other's
    assert got2 == {
        0: 0,  # leaf of source 4's tree
        1: 10000 + 5000,
        2: 10000 + 5000,
        3: 10000 + 30000,
        4: 0,  # leaf of source 0's tree
    }

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="max_depth"):
        graph_iter.betweenness_sources(edges, [0], max_depth=2)


def test_boruvka_msf_model(spark):
    """boruvka_msf on hand graphs. Two triangles joined by a bridge:
    round 1 hooks within each triangle (forest = both cheap pairs per
    triangle), round 2 crosses the bridge — 5 forest edges, weight 16,
    exactly 2 contraction rounds. An equal-weight 4-cycle pins the
    duplicate-weight determinism: the (wu, src, dst) total order picks
    {(0,1), (1,2), (0,3)} in ONE round."""
    from gpu_mapreduce_spark.operators import graph_iter

    tri2 = spark.createDataFrame(
        [
            (0, 1, 1), (1, 2, 2), (0, 2, 3),
            (3, 4, 1), (4, 5, 2), (3, 5, 3),
            (2, 3, 10),
        ],
        "src bigint, dst bigint, wu bigint",
    )
    forest, rounds, jumps = graph_iter.boruvka_msf(tri2)
    got = {(r.src, r.dst, r.wu) for r in forest.collect()}
    assert got == {(0, 1, 1), (1, 2, 2), (3, 4, 1), (4, 5, 2), (2, 3, 10)}
    assert rounds == 2

    cyc = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 5), (2, 3, 5), (0, 3, 5)],
        "src bigint, dst bigint, wu bigint",
    )
    forest2, rounds2, jumps2 = graph_iter.boruvka_msf(cyc)
    got2 = {(r.src, r.dst, r.wu) for r in forest2.collect()}
    assert got2 == {(0, 1, 5), (1, 2, 5), (0, 3, 5)}
    assert rounds2 == 1

    import pytest as _pytest

    big = spark.createDataFrame(
        [(0, 1 << 21, 1)], "src bigint, dst bigint, wu bigint"
    )
    with _pytest.raises(ValueError, match="packing envelope"):
        graph_iter.boruvka_msf(big)


def test_boruvka_msf_decodes_top_of_envelope_exactly(spark):
    """ADVICE r10: the packed-argmin decode used `/` (DOUBLE division in
    Spark), which loses bits for packed keys >= 2^53 — wu >= 2^13 under
    the 40-bit shift, deep INSIDE the documented wu < 2^22 envelope
    (wu=2^22-1 decoded to wu+1 with src=0). Pin the fix: the very top of
    the envelope (wu = 2^22-1, src/dst = 2^20-2 / 2^20-1, packed ~2^62)
    round-trips exactly through the integer-div decode."""
    from gpu_mapreduce_spark.operators import graph_iter

    wu, src, dst = (1 << 22) - 1, (1 << 20) - 2, (1 << 20) - 1
    one = spark.createDataFrame(
        [(src, dst, wu)], "src bigint, dst bigint, wu bigint"
    )
    forest, rounds, jumps = graph_iter.boruvka_msf(one)
    assert {(r.src, r.dst, r.wu) for r in forest.collect()} == {
        (src, dst, wu)
    }
    assert rounds == 1 and jumps == 0


def test_hyperball_rmat_round3_registers_equal_exact_ball_sketches(spark):
    """hyperball_rmat's estimator-honesty check, stronger than a recall
    tolerance: on the canonical R-MAT graph, the round-3 registers of the
    hub vertices {0,1,2,3} (betweenness_rmat's source set) must be
    REGISTER-IDENTICAL to the brute-force HLL sketch of their exact BFS
    radius-3 balls — the propagation computes precisely sketch(ball),
    never an approximation of it; the HLL error enters only at
    estimate-read-out time, which stays out of the gate."""
    import hashlib
    from collections import deque

    from gpu_mapreduce_spark.operators import graph_iter
    from gpu_mapreduce_spark.queries.kcore_rmat import _canon_arcs

    edges, _ = _canon_arcs(spark)
    states = graph_iter.hyperball_rounds(edges, 3)
    got: dict[int, dict[int, int]] = {}
    for r in states[3].collect():
        got.setdefault(r.v, {})[r.b] = r.reg

    adj: dict[int, set[int]] = {}
    for r in edges.collect():
        adj.setdefault(r.src, set()).add(r.dst)
        adj.setdefault(r.dst, set()).add(r.src)

    def ball(v: int, radius: int) -> set[int]:
        seen, q = {v}, deque([(v, 0)])
        while q:
            u, d = q.popleft()
            if d == radius:
                continue
            for w in adj[u]:
                if w not in seen:
                    seen.add(w)
                    q.append((w, d + 1))
        return seen

    def sketch(vs) -> dict[int, int]:
        regs: dict[int, int] = {}
        for v in vs:
            h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
            b, tail = h % 64, h >> 6
            rho = 55 if tail == 0 else 55 - tail.bit_length()
            regs[b] = max(regs.get(b, 0), rho)
        return regs

    for hub in (0, 1, 2, 3):
        assert got[hub] == sketch(ball(hub, 3)), f"hub {hub} diverges"


def _jp_sim(pairs, seed=0):
    """Pure-Python Jones-Plassmann twin of graph_iter.jp_coloring: same
    packed (hash-priority, vertex) total order, same winners-per-round,
    same min-absent choice."""
    import hashlib
    from collections import defaultdict

    adj = defaultdict(set)
    for s, d in pairs:
        adj[s].add(d)
        adj[d].add(s)

    def p(v: int) -> int:
        h = int(
            hashlib.md5(f"jp{seed}|{v}".encode()).hexdigest()[:15], 16
        ) % (1 << 40)
        return h * (1 << 20) + v

    color: dict[int, int] = {}
    uncolored = set(adj)
    rounds = 0
    while uncolored:
        rounds += 1
        winners = [
            v
            for v in uncolored
            if all(p(v) > p(u) for u in adj[v] if u in uncolored)
        ]
        for v in winners:
            used = {color[u] for u in adj[v] if u in color}
            c = 0
            while c in used:
                c += 1
            color[v] = c
        uncolored -= set(winners)
    return color, rounds


def test_jp_coloring_matches_simulation_and_is_proper(spark):
    """jp_coloring model check (staged r11 for the r12 registration):
    exact color-for-color agreement with the pure-Python JP twin on the
    edges fixture AND a hand path graph; proper coloring (no
    monochromatic edge); the packing-envelope raise."""
    import pytest as _pytest

    from gpu_mapreduce_spark.operators import graph_iter

    for pairs in (
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)],  # path: 2 colors
        [(0, 1), (1, 2), (0, 2), (2, 3)],  # triangle + pendant: 3
    ):
        edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
        colored, rounds = graph_iter.jp_coloring(edges)
        got = {r.v: r.color for r in colored.collect()}
        want, want_rounds = _jp_sim(pairs)
        assert got == want
        assert rounds == want_rounds
        for s, d in pairs:
            assert got[s] != got[d], f"monochromatic edge ({s},{d})"

    edges = fixtures.edges_materialized(spark, SF_DIR)
    colored, _rounds = graph_iter.jp_coloring(edges)
    got = {r.v: r.color for r in colored.collect()}
    pairs = [(r.src, r.dst) for r in edges.collect()]
    want, _ = _jp_sim(pairs)
    assert got == want

    big = spark.createDataFrame(
        [(0, 1 << 21)], "src bigint, dst bigint"
    )
    with _pytest.raises(ValueError, match="packing envelope"):
        graph_iter.jp_coloring(big)


def test_personalized_pagerank_matches_python_twin(spark):
    """personalized_pagerank model check: exact unit-for-unit agreement
    with a pure-Python twin of the integer convention on a hand path
    graph, source-proximity monotonicity along the path, and the
    empty-source guard."""
    import pytest as _pytest

    from gpu_mapreduce_spark.operators import graph_iter

    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]
    sources, iters, scale = [0], 6, graph_iter.PR_SCALE
    adj: dict[int, list[int]] = {}
    for s, d in pairs:
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, []).append(s)
    tele = 3 * scale // (20 * len(sources))
    r = {v: (scale // len(sources) if v in sources else 0) for v in adj}
    for _ in range(iters):
        nxt = {}
        for v in adj:
            csum = sum((17 * r[u]) // (20 * len(adj[u])) for u in adj[v])
            nxt[v] = (tele if v in sources else 0) + csum
        r = nxt

    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
    got = {
        row.v: row.ppr_units
        for row in graph_iter.personalized_pagerank(
            edges, sources=sources, num_iter=iters
        ).collect()
    }
    assert got == r
    # damped-walk proximity: synchronous iteration oscillates on the
    # near-bipartite path (per-vertex monotonicity does NOT hold — the
    # degree-1 source sheds 85% of its mass each round), so the pinned
    # claims are the robust ones: the source holds the global max, the
    # far endpoint the global min, and the source half dominates
    assert got[0] == max(got.values())
    assert got[5] == min(got.values())
    assert got[0] + got[1] + got[2] > got[3] + got[4] + got[5]

    with _pytest.raises(ValueError, match="empty source set"):
        graph_iter.personalized_pagerank(edges, sources=[])
    # r12 ADVICE: a source absent from the vertex set would silently drop
    # its share of the initial mass and per-round teleport — raise loudly
    with _pytest.raises(ValueError, match="absent from the.*vertex set"):
        graph_iter.personalized_pagerank(edges, sources=[0, 99])


def test_forest_fire_matches_python_twin_and_burns_once(spark):
    """forest_fire_sample model check: exact arc-for-arc agreement with a
    pure-Python twin of the integer-threshold draw on a hand graph, plus
    the no-revisit law (a vertex appears as a newly-burned dst in at
    most one round) and seed-exclusion (seeds never re-burn)."""
    import hashlib

    from gpu_mapreduce_spark.operators import graph_iter

    pairs = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 5), (1, 5),
             (5, 6), (6, 7)]
    seeds, rounds, t_num, t_den = [0], 3, 7, 10  # p=0.7 spreads on a path
    thresh = t_num * (1 << 53) // t_den

    arcs = pairs + [(d, s) for s, d in pairs]
    burned, frontier = set(seeds), set(seeds)
    want = []
    for r in range(1, rounds + 1):
        new = set()
        for s, d in arcs:
            if s in frontier and d not in burned:
                h = int(
                    hashlib.md5(f"ff{r}|{s}|{d}".encode()).hexdigest()[:15],
                    16,
                )
                if (h >> 7) < thresh:
                    want.append((r, s, d))
                    new.add(d)
        burned |= new
        frontier = new
    assert want, "twin sampled nothing — pick a spreadier hand graph"

    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
    got = sorted(
        (row.r, row.src, row.dst)
        for row in graph_iter.forest_fire_sample(
            edges, seeds=seeds, rounds=rounds, t_num=t_num, t_den=t_den
        ).collect()
    )
    assert got == sorted(want)
    # no-revisit: each dst burns in exactly one round; seeds never appear
    first_round: dict[int, int] = {}
    for r, _s, d in got:
        assert d not in seeds
        first_round.setdefault(d, r)
        assert first_round[d] == r


def test_forest_fire_argument_guards(spark):
    """r12 ADVICE: rounds < 1 raises a descriptive ValueError (not an
    IndexError on sampled[0]), and a seed absent from the graph raises
    instead of silently burning without ever expanding."""
    import pytest as _pytest

    from gpu_mapreduce_spark.operators import graph_iter

    edges = spark.createDataFrame(
        [(0, 1), (1, 2)], "src bigint, dst bigint"
    )
    with _pytest.raises(ValueError, match="rounds must be >= 1"):
        graph_iter.forest_fire_sample(edges, seeds=[0], rounds=0)
    with _pytest.raises(ValueError, match="empty seed set"):
        graph_iter.forest_fire_sample(edges, seeds=[], rounds=2)
    with _pytest.raises(ValueError, match="absent from the graph"):
        graph_iter.forest_fire_sample(edges, seeds=[0, 42], rounds=2)


def test_fixpoint_exhaustion_raises(spark):
    """One exhaustion policy: a fixpoint loop that runs out of rounds
    raises instead of returning its truncated state as if it had
    converged. On the 8-edge path 0-1-...-8, min-label propagation needs 8
    rounds and the 2-core peel 4, so max_iter=2 truncates both."""
    import pytest as _pytest

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src bigint, dst bigint"
    )
    with _pytest.raises(RuntimeError, match="max_iter=2"):
        graph_iter.cc_find(path, max_iter=2)
    with _pytest.raises(RuntimeError, match="max_iter=2"):
        graph_iter.kcore(path, k=2, max_iter=2)
    # the same calls with enough rounds converge
    cc, _ = graph_iter.cc_find(path, max_iter=20)
    assert {r.zone for r in cc.collect()} == {0}
    core, _ = graph_iter.kcore(path, k=2, max_iter=20)
    assert core.collect() == []


# two triangles joined by a bridge, a pendant path and a 4-cycle: 14 edges
_HAND_EDGES = [
    (0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (3, 5),
    (5, 6), (6, 7), (7, 8), (8, 9), (9, 10), (10, 7), (6, 10),
]


def _hand_graph(spark):
    edges = spark.createDataFrame(_HAND_EDGES, "src bigint, dst bigint")
    wedges = edges.select(
        "src",
        "dst",
        ((F.col("src") * 7 + F.col("dst") * 3) % 11 + 1)
        .cast("bigint")
        .alias("wu"),
    )
    return edges, wedges


def _checkpoints_read(df) -> set[int]:
    """Ids of the checkpointed RDDs `df` still reads: the LogicalRDD
    leaves of its analyzed plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


def test_loop_snapshots_are_freed(spark):
    """Every hand-rolled loop frees each snapshot it made that its result
    does not read (superseded round states, its own arc table, the final
    empty frontier): after one call plus collect(), the persisted-RDD set
    grows by exactly the checkpoints the returned DataFrame reads."""
    edges, wedges = _hand_graph(spark)
    jsc = spark.sparkContext._jsc
    calls = {
        "jp_coloring": lambda: graph_iter.jp_coloring(edges)[0],
        "greedy_matching": lambda: graph_iter.greedy_matching(wedges)[0],
        # t_num == t_den: every candidate arc survives, so the fire spreads
        "forest_fire_sample": lambda: graph_iter.forest_fire_sample(
            edges, [0], rounds=3, t_num=1, t_den=1
        ),
        "betweenness_sources": lambda: graph_iter.betweenness_sources(
            edges, [0, 9]
        )[0],
        "boruvka_msf": lambda: graph_iter.boruvka_msf(wedges)[0],
    }
    for name, call in calls.items():
        before = set(jsc.getPersistentRDDs().keys())
        out = call()
        assert out.collect(), name
        grown = set(jsc.getPersistentRDDs().keys()) - before
        assert grown == _checkpoints_read(out), name


def test_jp_and_greedy_initial_size_is_observed(spark):
    """jp_coloring and greedy_matching read their initial state size from
    the count observed on its checkpoint, not from a separate isEmpty()
    probe job. The actions each call runs itself are pinned by name from
    its job group: the checkpoints plus ONE isEmpty (the packing-envelope
    check); the probe form ran two. The broadcast and adaptive stage jobs
    the planner submits from its own threads vary run to run, so they are
    not counted."""
    edges, wedges = _hand_graph(spark)

    def actions(group, call):
        return named_actions(spark, group, call, ("isEmpty", "localCheckpoint"))

    assert actions("jp_actions", lambda: graph_iter.jp_coloring(edges)) == {
        "localCheckpoint": 14,
        "isEmpty": 1,
    }
    assert actions(
        "gm_actions", lambda: graph_iter.greedy_matching(wedges)
    ) == {"localCheckpoint": 7, "isEmpty": 1}


def test_boruvka_pointer_jump_runs_no_probe_action(spark):
    """boruvka_msf's pointer-jump loop observes each jump's moved count on
    the jump's own checkpoint: one call on the hand graph runs no collect
    action (the probe form collected once per jump)."""
    _edges, wedges = _hand_graph(spark)
    got = named_actions(
        spark, "msf_actions", lambda: graph_iter.boruvka_msf(wedges), ("collect",)
    )
    assert got == {}, got


def _hash_exchanges(df) -> int:
    df.collect()  # the adaptive plan is final once it has run
    return df._jdf.queryExecution().executedPlan().toString().count(
        "Exchange hashpartitioning"
    )


def test_pagerank_and_kcore_rounds_run_without_exchange(spark, monkeypatch):
    """The prepared arc tables keep hashpartitioning(dst) through their
    checkpoint, so a round's groupBy(dst) needs no shuffle: one pagerank
    round over prepare_arcs_deg and one kcore round over prepare_arcs have
    no hash Exchange in their executed plans while the session runs AQE.
    The operators' loop drivers are swapped for one that checkpoints the
    initial state and returns a single un-checkpointed round."""
    from gpu_mapreduce_spark.plans.iterate import materialize

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    edges = fixtures.edges_materialized(spark, SF_DIR)

    def one_round(state, step, *_args, **_kw):
        return step(materialize(state)[0])

    monkeypatch.setattr(graph_iter, "iterate_n", one_round)
    monkeypatch.setattr(
        graph_iter, "fixpoint_observed", lambda *a, **k: (one_round(*a), 1)
    )
    arcs_deg_n = graph_iter.prepare_arcs_deg(edges)
    ranks = graph_iter.pagerank(edges, num_iter=1, arcs_deg_n=arcs_deg_n)
    assert _hash_exchanges(ranks) == 0
    arcs = graph_iter.prepare_arcs(edges)
    core, _ = graph_iter.kcore(edges, k=3, arcs=arcs)
    assert _hash_exchanges(core) == 0


def test_kcore_query_scans_no_parquet_once_arcs_are_warm(spark):
    """The kcore query reads only the memoized arc table: once the memo is
    warm, a call (construction and collect) runs no parquet job."""
    from gpu_mapreduce_spark.registry import load_all

    fn = load_all()["kcore"].fn
    fn(spark, SF_DIR).collect()  # warms the edges and arcs memos
    got = named_actions(
        spark, "kcore_warm", lambda: fn(spark, SF_DIR).collect()
    )
    assert "parquet" not in got, got


def test_pagerank_checkpoints_every_third_round_only(spark):
    """Ten pagerank rounds at checkpoint cadence 3 run exactly four named
    checkpoint actions (after rounds 3, 6, 9 and 10): the initial rank
    table is computed by the first chunk's action, not checkpointed on its
    own."""
    edges = fixtures.edges_materialized(spark, SF_DIR)
    arcs_deg_n = graph_iter.prepare_arcs_deg(edges)
    got = named_actions(
        spark,
        "pagerank_ckpts",
        lambda: graph_iter.pagerank(edges, num_iter=10, arcs_deg_n=arcs_deg_n),
        ("localCheckpoint",),
    )
    assert got == {"localCheckpoint": 4}
