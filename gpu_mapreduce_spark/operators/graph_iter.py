"""Iterative graph algorithms over the fixpoint driver (SURVEY.md §2.4):
connected components, SSSP, pagerank, Luby MIS.

Reference analogs:
  - cc_find   ≙ oink/cc_find.cpp:38-109 (zone merging until no zone changes;
               skew handled by splitting giant zones across procs :43-55)
  - cc_stats  ≙ oink/cc_stats.cpp:37-63
  - sssp      ≙ oink/sssp.cpp:49-180 (frontier relaxation via compress loops)
  - pagerank  ≙ oink/pagerank.cpp:35-64 — a STUB there (empty loop :54-56);
               implemented for real here
  - luby_find ≙ oink/luby_find.cpp:53-95

Determinism discipline: every algorithm is either integer-exact (sssp in
weight units, pagerank in fixed-point micro-units) or a pure min/label
computation, so results are bit-identical across engines and runs — the
requirement the driver's value-hash imposes, and the property the reference
only approximates with seeds (SURVEY.md §5).

Scale notes: per iteration each algorithm is one join of the vertex state
(labels/frontier/ranks) against the checkpointed arc list plus one
partially-aggregated groupBy. There is one join strategy: the state is
broadcast and the arcs never move. The arc list is bidirected, hash-
partitioned by dst and checkpointed once (prepare_arcs / prepare_warcs /
prepare_arcs_deg); every state join wraps the O(|V|) side in an explicit
F.broadcast. Without the hint Spark broadcasts the ARC side (LogicalRDD
stats undercount it), rebuilding a |E|-row broadcast every round —
measured 2-5 s/round at sf0.1 vs ~0.5 s with the state broadcast. A
bucketed-by-src, shuffle-hash variant for |V| beyond broadcast range
existed and was removed unused; git history holds it. min/sum are
algebraic → map-side combine bounds hot vertices; the reference needed
hand-rolled zone splitting for exactly this (oink/cc_find.cpp:43-55). The
arc table keeps its dst layout through every checkpoint, so the
round-ending groupBy(dst) needs no exchange (`_ckpt_by_dst`).

Loop state: every snapshot here goes through plans.iterate.materialize —
eager checkpoint, the round's one driver scalar observed in the same
action, the superseded snapshot freed. An operator frees every snapshot it
made that its result does not read (superseded round states, an arc table
it built itself, a final empty frontier), and running out of rounds
raises RuntimeError instead of returning a truncated state.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators.graph import bidirect
from gpu_mapreduce_spark.plans.iterate import (
    fixpoint_observed,
    iterate_n,
    materialize,
    unpersist_checkpoint,
)


def _ckpt_by_dst(df: DataFrame) -> DataFrame:
    """Materialize an arc table hash-partitioned by dst.

    Every iterative round here ends in groupBy(dst) over the
    state-join-arcs output. The broadcast join preserves the arc table's
    layout, so with arcs already partitioned by dst each map partition holds
    complete key groups and the partial aggregation collapses to its final
    ~|V| rows. Catalyst knows this layout: `materialize` checkpoints with
    AQE off, so the snapshot's LogicalRDD keeps hashpartitioning(dst, P)
    and each round's groupBy(dst) runs in the arc scan's own stage, with no
    exchange at all. (An adaptive plan reports UnknownPartitioning, so a
    checkpoint taken with AQE on erases the layout and every round pays a
    hash exchange — whether AQE is on or off while the round runs.)
    On a cluster this is 'bucket the arc table by dst at rest'."""
    sc = df.sparkSession.sparkContext
    return materialize(df.repartition(sc.defaultParallelism, "dst"))[0]


def prepare_arcs(edges: DataFrame) -> DataFrame:
    """Bidirected, dst-partitioned, checkpointed arc table for cc/luby.
    Build once per (session, input) and pass to multiple calls via the
    `arcs=` kwarg — the cluster-scale analog is the bucketed-by-dst arc
    table derived once at rest (fixtures.derived memoizes this for the
    driver's one-session-many-queries round)."""
    return _ckpt_by_dst(bidirect(edges))


def prepare_warcs(warcs: DataFrame) -> DataFrame:
    """Dst-partitioned, checkpointed weighted arc table for sssp."""
    return _ckpt_by_dst(warcs)


def prepare_arcs_deg(edges: DataFrame) -> tuple[DataFrame, int]:
    """(arc ⋈ out-degree table, vertex count) for pagerank.

    The |V|-row degree table is checkpointed with its row count observed
    (r14): the previous `deg.count()` probe recomputed the whole
    bidirect + groupBy from the source a second time; now the degree
    aggregate runs once and the annotation join reads the materialized
    table."""
    arcs = bidirect(edges)
    deg, n = materialize(
        arcs.groupBy(F.col("src").alias("v")).agg(
            F.count(F.lit(1)).alias("outdeg")
        ),
        F.count(F.lit(1)),
    )
    arcs_deg = _ckpt_by_dst(
        arcs.join(deg, arcs.src == deg.v).select("src", "dst", "outdeg")
    )
    unpersist_checkpoint(deg)  # folded into arcs_deg; no later consumer
    return arcs_deg, int(n)


def cc_find(
    edges: DataFrame,
    max_iter: int = 50,
    arcs: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Connected components by synchronous min-label propagation: every
    vertex starts as its own zone (reduce_self_zone, oink/cc_find.cpp:133-138)
    and each round adopts the minimum label in its closed neighborhood, until
    no label changes (the reference's zone-reassignment loop :64-103).

    Returns ((v, zone) DataFrame, rounds run). zone = min vertex id of the
    component, matching the reference's winning-smaller-zone rule
    (reduce_zone_winner).
    """
    own_arcs = arcs is None
    arcs = prepare_arcs(edges) if own_arcs else arcs
    labels = (
        arcs.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("label"), F.lit(True).alias("changed"))
    )

    def step(lab: DataFrame) -> DataFrame:
        # every vertex appears as a dst (arcs are bidirected), so nbr_min
        # covers the whole vertex set and the merge join is inner; the
        # changed flag rides along for free, so convergence needs no
        # prev-vs-cur comparison join
        nbr_min = (
            arcs.join(F.broadcast(lab.select("v", "label")), arcs.src == lab.v)
            .groupBy(F.col("dst").alias("nv"))
            .agg(F.min("label").alias("ml"))
        )
        return lab.join(nbr_min, lab.v == nbr_min.nv).select(
            lab.v.alias("v"),
            F.least(F.col("label"), F.col("ml")).alias("label"),
            (F.col("ml") < F.col("label")).alias("changed"),
        )

    # convergence = zero changed labels, observed during the round's own
    # checkpoint materialization (fixpoint_observed: no probe job)
    fix, rounds = fixpoint_observed(
        labels,
        step,
        lambda: F.expr("count_if(changed)"),
        lambda n_changed: n_changed == 0,
        max_iter,
    )
    if own_arcs:
        unpersist_checkpoint(arcs)  # the checkpointed fixpoint reads none
    return fix.select("v", F.col("label").alias("zone")), rounds


def kcore(
    edges: DataFrame,
    k: int,
    max_iter: int = 50,
    arcs: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """K-core decomposition by synchronous peeling: repeatedly delete every
    vertex whose degree in the surviving induced subgraph is < k, until no
    vertex falls below k. The k-core is schedule-independent (deleting in
    any order reaches the same unique maximal subgraph), so the synchronous
    rounds here and the oracle's unrolled CTE chain agree exactly.

    Extends the reference's degree/cc toolkit (oink/degree.cpp +
    oink/cc_find.cpp's iterate-until-stable shape) with the subgraph-mining
    primitive neither ships; same per-round plan discipline as cc_find:
    state (the survivor set) is broadcast against arcs that never move.

    Per round, exactly cc_find's shape: ONE state join against the arc
    table on src (arcs bidirected, so counting surviving IN-neighbors per
    dst equals the undirected induced degree), one partially-aggregated
    groupBy(dst), then the O(|V|) degree table semi-filtered back to
    survivors. The arc side carries a single src-keyed join (an earlier
    form semi-joined arcs on BOTH endpoints, whose dst-side join
    re-shuffled the whole O(|E|) arc table every round). A vertex whose
    surviving degree hits 0 leaves the state silently; that never changes
    another survivor's degree (all its remaining edges pointed at
    already-deleted vertices), so `no deg < k row` is an exact fixpoint
    test.

    Returns ((v, core_deg) for vertices in the k-core, rounds run);
    core_deg is the vertex's degree inside the core-induced subgraph.
    """
    own_arcs = arcs is None
    arcs = prepare_arcs(edges) if own_arcs else arcs
    deg0 = arcs.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("core_deg")
    )

    def step(cur: DataFrame) -> DataFrame:
        surv = cur.filter(F.col("core_deg") >= k).select("v")
        s1 = F.broadcast(surv)
        indeg = (
            arcs.join(s1, arcs.src == s1.v, "left_semi")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )
        # both sides here are O(|V|): the state side is broadcast exactly
        # like the arc join's state side
        s2 = F.broadcast(surv.select(F.col("v").alias("w")))
        return indeg.join(s2, indeg.v == F.col("w"), "left_semi")

    # convergence = no surviving vertex below k, observed during the
    # round's checkpoint materialization (no probe job)
    fix, rounds = fixpoint_observed(
        deg0,
        step,
        lambda: F.expr(f"count_if(core_deg < {int(k)})"),
        lambda n_below: n_below == 0,
        max_iter,
    )
    if own_arcs:
        unpersist_checkpoint(arcs)
    return fix, rounds


def label_propagation(
    edges: DataFrame,
    rounds: int,
    arcs: DataFrame | None = None,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for community
    detection — FIXED round count by design: synchronous LPA can oscillate
    on bipartite-ish structure, so the spec here is 'exactly R rounds'
    (iterate_n, the K-round Bellman-Ford discipline) and the oracle unrolls
    the same R stages; there is no convergence probe to disagree about.

    Every vertex starts as its own label; each round every vertex adopts
    the most frequent label among its neighbors, ties toward the SMALLEST
    label (deterministic; the same argmax-by-packed-struct trick as the
    IVF cell assignment). Extends the cc_find/kcore toolkit with the
    community primitive the reference lacks; per round the plan is
    cc_find's exact shape plus one aggregation: state ⋈ arcs on src
    (state broadcast), a partially-aggregated groupBy(dst, label)
    count, then a groupBy(dst) struct-max — per-round shuffle volume is
    O(distinct (dst, neighbor-label) pairs) <= O(|E|), collapsing toward
    O(|V|) as communities coalesce.

    Returns (v, label) after exactly `rounds` rounds."""
    own_arcs = arcs is None
    arcs = prepare_arcs(edges) if own_arcs else arcs
    labels = (
        arcs.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("label"))
    )

    def step(lab: DataFrame) -> DataFrame:
        votes = (
            arcs.join(F.broadcast(lab.select("v", "label")), arcs.src == lab.v)
            .groupBy(F.col("dst").alias("nv"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # max of (cnt, -label): most frequent neighbor label, ties -> lowest
        return (
            votes.groupBy("nv")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"), (-F.col("label")).alias("nl")
                    )
                ).alias("mx")
            )
            .select(F.col("nv").alias("v"), (-F.col("mx.nl")).alias("label"))
        )

    out = iterate_n(labels, step, rounds)
    if own_arcs:
        unpersist_checkpoint(arcs)
    return out


def weighted_arcs(wedges: DataFrame) -> DataFrame:
    """Bidirect weighted canonical edges, carrying the edge weight both ways
    (oink/map_read_edge_weight.cpp shape + sssp's reorganize_edges,
    oink/sssp.cpp:187-199)."""
    return wedges.select("src", "dst", "wu").unionAll(
        wedges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "wu"
        )
    )


def sssp(
    warcs: DataFrame,
    source: int,
    max_iter: int = 50,
    arcs: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Single-source shortest paths by frontier relaxation
    (oink/sssp.cpp:49-180: seed source, loop {push dist+weight to neighbors,
    keep per-vertex min, flag changed} until no distance changes).

    `warcs` must carry integer weight units in `wu` — distances stay
    integer-exact, so min-ties are impossible and results are bit-identical
    across engines (the reference compares doubles, :244-297; our fixture
    weights are k/97 so units = k loses nothing).

    Only the changed frontier is joined against the arc list each round —
    the reference's `mr_dist_changed` set — so per-round shuffle volume is
    O(frontier ⋈ arcs), not O(V ⋈ arcs). The frontier is usually tiny, but
    on a low-diameter graph the mid-BFS frontier is O(|V|) — still the
    broadcast side, as in cc_find/pagerank/luby_find/kcore (module
    docstring). Returns ((v, du) for *reached* vertices, rounds).
    """
    own_arcs = arcs is None
    arcs = prepare_warcs(warcs) if own_arcs else arcs
    spark = arcs.sparkSession
    dist0 = spark.createDataFrame(
        [(source, 0, True)], "v bigint, du bigint, changed boolean"
    )

    def step(state: DataFrame) -> DataFrame:
        frontier = state.filter("changed")
        cand = (
            arcs.join(F.broadcast(frontier), frontier.v == arcs.src)
            .groupBy(F.col("dst").alias("cv"))
            .agg(F.min(F.col("du") + F.col("wu")).alias("nd"))
        )
        return state.join(cand, state.v == cand.cv, "full_outer").select(
            F.coalesce(state.v, F.col("cv")).alias("v"),
            F.least(state.du, F.col("nd")).alias("du"),
            F.coalesce(F.col("nd") < state.du, state.du.isNull()).alias("changed"),
        )

    fix, rounds = fixpoint_observed(
        dist0,
        step,
        lambda: F.expr("count_if(changed)"),
        lambda n_changed: n_changed == 0,
        max_iter,
    )
    if own_arcs:
        unpersist_checkpoint(arcs)
    return fix.select("v", "du"), rounds


def sssp_multi(
    warcs: DataFrame,
    sources: list[int],
    max_iter: int = 50,
    arcs: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Multi-source shortest paths in ONE synchronous loop.

    The reference's sssp command relaxes its N requested sources
    SEQUENTIALLY — a per-source `for (cnt = 0; cnt < ncnt; ...)` driver loop
    re-running the whole BFS (oink/sssp.cpp:88-180). The Spark-first form
    keys the frontier by source `s`, so every source relaxes in the same
    rounds over the same arc scan: total rounds = MAX per-source rounds
    instead of their SUM, and each round's join amortizes the arc-table
    read across all sources. Same exact integer-unit discipline and
    broadcast frontier as sssp() — the keyed frontier is |sources| times
    bigger, so the broadcast ceiling arrives correspondingly sooner here. Returns ((s, v, du) for reached vertices,
    rounds)."""
    own_arcs = arcs is None
    arcs = prepare_warcs(warcs) if own_arcs else arcs
    spark = arcs.sparkSession
    dist0 = spark.createDataFrame(
        [(s, s, 0, True) for s in sources],
        "s bigint, v bigint, du bigint, changed boolean",
    )

    def step(state: DataFrame) -> DataFrame:
        frontier = state.filter("changed")
        cand = (
            arcs.join(F.broadcast(frontier), frontier.v == arcs.src)
            .groupBy(F.col("s").alias("cs"), F.col("dst").alias("cv"))
            .agg(F.min(F.col("du") + F.col("wu")).alias("nd"))
        )
        return state.join(
            cand, (state.s == cand.cs) & (state.v == cand.cv), "full_outer"
        ).select(
            F.coalesce(state.s, F.col("cs")).alias("s"),
            F.coalesce(state.v, F.col("cv")).alias("v"),
            F.least(state.du, F.col("nd")).alias("du"),
            F.coalesce(F.col("nd") < state.du, state.du.isNull()).alias("changed"),
        )

    fix, rounds = fixpoint_observed(
        dist0,
        step,
        lambda: F.expr("count_if(changed)"),
        lambda n_changed: n_changed == 0,
        max_iter,
    )
    if own_arcs:
        unpersist_checkpoint(arcs)
    return fix.select("s", "v", "du"), rounds


PR_SCALE = 10**12  # pagerank fixed-point: 1.0 rank unit == 10^12


def _rank_round(
    arcs_deg: DataFrame, teleport: Column, alpha_num: int, alpha_den: int
) -> Callable[[DataFrame], DataFrame]:
    """One synchronous rank round over the dst-partitioned arcs_deg table,
    shared by pagerank and personalized_pagerank: ranks broadcast against
    the arcs, one aggregate grouped on `dst AS v` computing
    `CAST(teleport + sum((alpha_num * r) div (alpha_den * outdeg)) AS
    BIGINT)`. `teleport` may read `dst` (the grouping key). The graph is
    bidirected, so every vertex has >=1 in-arc and the aggregate already
    covers the whole vertex set — no join back onto the old rank table.
    The Columns are built once; each round adds one join and one
    aggregate."""
    on = F.col("src") == F.col("v")
    new_r = (
        teleport
        + F.sum(F.expr(f"({alpha_num} * r) div ({alpha_den} * outdeg)"))
    ).cast("bigint").alias("r")
    by_dst = F.col("dst").alias("v")

    def step(ranks: DataFrame) -> DataFrame:
        return (
            arcs_deg.join(F.broadcast(ranks), on).groupBy(by_dst).agg(new_r)
        )

    return step


def pagerank(
    edges: DataFrame,
    num_iter: int = 10,
    alpha_num: int = 17,
    alpha_den: int = 20,
    arcs_deg_n: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """PageRank with damping alpha = alpha_num/alpha_den (default 0.85), run
    for a fixed number of synchronous iterations.

    The reference *declares* this command but its loop body is empty
    (oink/pagerank.cpp:54-56) — this is the one place we implement what it
    only stubs. Semantics chosen to be integer-exact: ranks live in
    PR_SCALE-units (BIGINT); each vertex contributes
    `(alpha_num * r) div (alpha_den * outdeg)` to every neighbor and every
    vertex receives teleport `(alpha_den - alpha_num) * PR_SCALE div
    (alpha_den * N)`. Integer sums are order-independent, so results are
    bit-identical across engines/partitionings — no float-summation drift.

    Undirected interpretation (each edge contributes both directions), so
    there are no dangling vertices. Output: (v, rank_units BIGINT,
    rank DOUBLE = units / PR_SCALE).
    """
    arcs_deg, n = (
        arcs_deg_n if arcs_deg_n is not None else prepare_arcs_deg(edges)
    )
    teleport = (alpha_den - alpha_num) * PR_SCALE // (alpha_den * n)
    ranks0 = (
        arcs_deg.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.lit(PR_SCALE // n).cast("bigint").alias("r"))
    )
    step = _rank_round(arcs_deg, F.lit(teleport), alpha_num, alpha_den)
    # checkpoint every 3rd round: un-truncated lineage is one broadcast-join
    # + agg per round — cheap to replay, and fewer materializations wins
    # (measured best cadence at sf0.1: ce3 4.3s vs ce1 5.8s vs ce2 5.0s)
    out = iterate_n(ranks0, step, num_iter, checkpoint_every=3)
    if arcs_deg_n is None:
        unpersist_checkpoint(arcs_deg)  # the last round is checkpointed
    return out.select(
        "v",
        F.col("r").alias("rank_units"),
        (F.col("r") / F.lit(float(PR_SCALE))).alias("rank"),
    )


def forest_fire_sample(
    edges: DataFrame,
    seeds: list[int],
    rounds: int = 4,
    t_num: int = 3,
    t_den: int = 10,
    arcs: DataFrame | None = None,
) -> DataFrame:
    """Deterministic forest-fire / snowball graph sampling (Leskovec &
    Faloutsos, "Sampling from Large Graphs", KDD 2006 — the forest-fire
    family, made hash-deterministic): from the seed set, `rounds` rounds
    of frontier expansion in which each candidate arc (src in frontier,
    dst not yet burned) SURVIVES iff

        hash60('ff{r}|src|dst') >> 7  <  T,  T = t_num * 2^53 div t_den

    — the uniform01 < p draw as one integer literal compare (the
    PPS/kmeanspp threshold discipline), so the sampled arc set is
    bit-identical across engines. A vertex burns ONCE (the no-revisit
    rule): dst already burned never re-enters, but parallel arcs into a
    newly-burned dst in the same round are all recorded — the sampled
    subgraph keeps its multi-attachment structure.

    Returns (r, src, dst) for every surviving arc, r = 1..rounds.
    Plan per round: ONE arcs ⋈ frontier join (frontier broadcast)
    + a left-anti join against the burned
    vertex state + the codegen hash filter; the burned/frontier states
    are O(|V|) rows, checkpointed per round. 100 TB: cost ∝ arcs
    TOUCHED by the fire, never |E| — the point of sampling before an
    expensive exact analysis of a hub neighborhood."""
    from gpu_mapreduce_spark.functions.portable import hash60

    if rounds < 1:
        raise ValueError(
            f"forest_fire_sample: rounds must be >= 1, got {rounds}"
        )
    if not seeds:
        raise ValueError("forest_fire_sample: empty seed set")
    own_arcs = arcs is None
    arcs = prepare_arcs(edges) if own_arcs else arcs
    spark = arcs.sparkSession
    # seed validation (r12 ADVICE, the personalized_pagerank loud-failure
    # discipline): a seed absent from the graph burns but never expands —
    # raise instead of silently sampling nothing from it. One bounded
    # isin-filtered distinct (<= |seeds| rows collected).
    present = {
        r.v
        for r in arcs.select(F.col("src").alias("v"))
        .where(F.col("v").isin(list(seeds)))
        .distinct()
        .collect()
    }
    missing = sorted(set(seeds) - present)
    if missing:
        raise ValueError(
            "forest_fire_sample: seed vertices absent from the graph's"
            f" source set (no arcs to expand): {missing}"
        )
    thresh = t_num * (1 << 53) // t_den
    burned, _ = materialize(
        spark.createDataFrame([(v,) for v in seeds], "v bigint")
    )
    frontier = burned
    sampled: list[DataFrame] = []  # read by the result: never freed
    for r in range(1, rounds + 1):
        fr = frontier.select(F.col("v").alias("fv"))
        cand = (
            arcs.join(F.broadcast(fr), arcs.src == F.col("fv"))
            .select("src", "dst")
            .join(
                burned.select(F.col("v").alias("bv")),
                F.col("dst") == F.col("bv"),
                "left_anti",
            )
        )
        h = hash60(
            F.concat_ws(
                "|",
                F.lit(f"ff{r}"),
                F.col("src").cast("string"),
                F.col("dst").cast("string"),
            )
        )
        surv, _ = materialize(
            cand.filter(F.shiftrightunsigned(h, 7) < F.lit(thresh)).select(
                F.lit(r).cast("int").alias("r"), "src", "dst"
            )
        )
        sampled.append(surv)
        if r == rounds:  # the last round's burned/frontier feed nothing
            break
        new = surv.select(F.col("dst").alias("v")).distinct()
        # round 1's frontier IS the seed snapshot burned supersedes, so it
        # is freed once (the second unpersist is a no-op)
        burned, _ = materialize(burned.unionAll(new), supersedes=burned)
        frontier, _ = materialize(new, supersedes=frontier)
    unpersist_checkpoint(burned)
    unpersist_checkpoint(frontier)
    if own_arcs:
        unpersist_checkpoint(arcs)
    out = sampled[0]
    for s in sampled[1:]:
        out = out.unionAll(s)
    return out


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    num_iter: int = 10,
    alpha_num: int = 17,
    alpha_den: int = 20,
    arcs_deg_n: "tuple[DataFrame, int] | None" = None,
) -> DataFrame:
    """Personalized PageRank: the teleport mass lands ONLY on the source
    set instead of uniformly — the source-biased random-walk proximity
    score recommendation / neighborhood-expansion pipelines run (Page et
    al. 1999 §6 'personalized' vector; Jeh & Widom 2003). Same loop,
    same integer discipline as `pagerank` (ranks in PR_SCALE BIGINT
    units, contributions `(alpha_num * r) div (alpha_den * outdeg)`,
    order-independent integer sums): init r0 = PR_SCALE div |S| on each
    source and 0 elsewhere; each round every vertex receives its
    neighbor contributions, and sources additionally receive
    `(alpha_den - alpha_num) * PR_SCALE div (alpha_den * |S|)`.
    Floor-division remainders shed a few units of mass per round
    (identically on both engines — the pagerank convention, never
    redistributed). Undirected bidirected arcs → no dangling mass.

    The source membership test is a literal IN over the O(|S|) id list —
    broadcast-free; everything else is pagerank's plan (ranks broadcast
    against the dst-partitioned arcs_deg table).
    Output: (v, ppr_units BIGINT, ppr DOUBLE)."""
    if not sources:
        raise ValueError("personalized_pagerank: empty source set")
    arcs_deg, _n = (
        arcs_deg_n if arcs_deg_n is not None else prepare_arcs_deg(edges)
    )
    # source validation (r12 ADVICE): ranks init from arcs_deg's src set,
    # so a source with no edges would silently drop its share of the
    # initial mass AND the per-round teleport, skewing every score by a
    # constant factor. One bounded isin-filtered distinct at init
    # (<= |sources| rows collected) raises loudly instead.
    present = {
        r.v
        for r in arcs_deg.select(F.col("src").alias("v"))
        .where(F.col("v").isin(list(sources)))
        .distinct()
        .collect()
    }
    missing = sorted(set(sources) - present)
    if missing:
        raise ValueError(
            "personalized_pagerank: source vertices absent from the"
            f" graph's vertex set: {missing}"
        )
    ns = len(sources)
    teleport = (alpha_den - alpha_num) * PR_SCALE // (alpha_den * ns)
    is_src = F.col("v").isin(sources)
    ranks0 = (
        arcs_deg.select(F.col("src").alias("v"))
        .distinct()
        .select(
            "v",
            F.when(is_src, F.lit(PR_SCALE // ns))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("r"),
        )
    )

    step = _rank_round(
        arcs_deg,
        F.when(F.col("dst").isin(sources), F.lit(teleport)).otherwise(F.lit(0)),
        alpha_num,
        alpha_den,
    )
    out = iterate_n(ranks0, step, num_iter, checkpoint_every=3)
    if arcs_deg_n is None:
        unpersist_checkpoint(arcs_deg)
    return out.select(
        "v",
        F.col("r").alias("ppr_units"),
        (F.col("r") / F.lit(float(PR_SCALE))).alias("ppr"),
    )


def luby_find(
    edges: DataFrame,
    seed: int = 12345,
    max_iter: int = 50,
    arcs: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Luby's maximal independent set (oink/luby_find.cpp:53-95).

    Each round over the still-undecided subgraph: a vertex whose random
    priority is a strict minimum among its undecided neighbors joins the MIS
    (reduce_vert_winner :186); its neighbors drop out (reduce_vert_loser
    :238); repeat until no vertex is undecided. Expected O(log V) rounds.

    The reference's priorities come from per-proc drand48 (map_vert_random)
    — rerun- and layout-dependent. Ours are (md5-derived hash of (seed, v),
    v): pure, collision-free (the id tiebreak), so the MIS is a
    deterministic function of (graph, seed) — required for reproducible
    tests, same trade the rmat generator makes. The hash is the portable
    md5-hex-slice form (not xxhash64) so the DuckDB oracle can assign the
    IDENTICAL priorities and replay the rounds in SQL
    (queries/rmat_gen._luby_oracle).

    Returns ((v) MIS members, rounds)."""
    own_arcs = arcs is None
    arcs = prepare_arcs(edges) if own_arcs else arcs
    verts = arcs.select(F.col("src").alias("v")).distinct()
    # status: 'u' undecided / 'i' in MIS / 'o' out (a MIS neighbor)
    state0 = verts.select(
        "v",
        F.conv(
            F.substring(F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("v"))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("pri"),
        F.lit("u").alias("status"),
    )

    def step(state: DataFrame) -> DataFrame:
        und = state.filter(F.col("status") == "u").select("v", "pri")
        us = und.select(F.col("v").alias("sv"), F.col("pri").alias("spri"))
        ud = und.select(F.col("v").alias("dv"))
        # arcs of the undecided-only subgraph, annotated with source priority
        uarcs = (
            arcs.join(F.broadcast(us), arcs.src == F.col("sv"))
            .join(F.broadcast(ud), arcs.dst == F.col("dv"))
            .select(F.col("dst").alias("v"), F.col("spri"), F.col("src").alias("sv"))
        )
        nbr_min = uarcs.groupBy("v").agg(
            F.min(F.struct("spri", "sv")).alias("mn")
        )
        # winner: strict (pri, v) minimum over closed undecided neighborhood
        # (isolated undecided vertices win immediately)
        winners = (
            und.join(nbr_min, "v", "left")
            .filter(
                F.col("mn").isNull()
                | (F.struct(F.col("pri").alias("spri"), F.col("v").alias("sv")) < F.col("mn"))
            )
            .select(F.col("v").alias("wv"))
        )
        # losers: undecided neighbors of a winner. Winners and losers are
        # DISJOINT (w wins => w < every undecided neighbor v; v losing to w
        # would need v < v's neighbors incl. w — contradiction), so both
        # decisions fuse into ONE decided table and the state update is a
        # single left join instead of two (one fewer join + broadcast per
        # round; on the scheduling-floor-bound small-graph rounds that is
        # the dominant cost).
        losers = (
            arcs.join(F.broadcast(winners), arcs.src == F.col("wv"))
            .select(F.col("dst").alias("dv2"))
            .distinct()
        )
        decided = winners.select(
            F.col("wv").alias("dcv"), F.lit("i").alias("dstat")
        ).unionAll(losers.select(F.col("dv2").alias("dcv"), F.lit("o")))
        return state.join(decided, state.v == F.col("dcv"), "left").select(
            "v",
            "pri",
            F.when(F.col("status") != "u", F.col("status"))
            .otherwise(F.coalesce(F.col("dstat"), F.lit("u")))
            .alias("status"),
        )

    fix, rounds = fixpoint_observed(
        state0,
        step,
        lambda: F.expr("count_if(status = 'u')"),
        lambda n_undecided: n_undecided == 0,
        max_iter,
    )
    if own_arcs:
        unpersist_checkpoint(arcs)
    return fix.filter(F.col("status") == "i").select("v"), rounds


def cc_stats(cc: DataFrame) -> DataFrame:
    """Component-size histogram, largest first (oink/cc_stats.cpp:37-63:
    invert → count → invert → count → sort)."""
    sizes = cc.groupBy("zone").agg(F.count(F.lit(1)).alias("csize"))
    return (
        sizes.groupBy("csize")
        .agg(F.count(F.lit(1)).alias("ncomp"))
        .orderBy(F.desc("csize"))
    )


def ktruss_edges(
    edges: DataFrame, k: int, max_rounds: int = 50
) -> tuple[DataFrame, int]:
    """k-truss decomposition of one k (SCALE.md r10 design, staged ahead of
    its registration): iteratively remove every edge supported by fewer
    than k-2 triangles IN THE SURVIVING SUBGRAPH until a fixed point — the
    edge-granularity dual of kcore (an edge of trussness k lives in a
    subgraph where every edge closes >= k-2 triangles). Returns
    (survivors (src, dst, support), rounds) with `support` the edge's
    triangle count in the final subgraph.

    The peel is BATCHED (all under-supported edges drop at once — rounds
    are O(peeling depth), not O(E)) and each round reuses the suite's
    triangle machinery: the (initial-degree, id) orientation is computed
    ONCE (a fixed strict total order stays acyclic on every subgraph, so
    triangles are still enumerated exactly once per round), then per
    round one adjacency aggregate + graph.tri_find's wedge-intersection
    join (O(E^1.5) bounded work), one explode of each triangle into its
    three edges, one map-side-combined (src, dst) count, one
    keyed anti/semi filter. Per round ONE scalar (the surviving edge
    count) crosses the driver — the pagerank convergence discipline —
    and the surviving set is localCheckpoint'ed so lineage never stacks
    (the cc_find loop discipline). Requires k >= 3 (k-2 >= 1; below that
    every edge trivially survives and the loop would be the identity).

    The survivors carry the support computed in the CONVERGING round, not
    a fresh pass: at a fixed point keep == cur as edge sets, so the
    support computed on cur IS the final subgraph's support (VERDICT r09
    "what's wrong #3" — a recount would double the final-round bill, and
    the triangle recount is the dominant per-round cost at scale).

    Raises RuntimeError when max_rounds is exhausted before a fixed
    point: a truncated edge set is NOT a k-truss (edges may remain whose
    support the unfinished peel would still drop below k-2), and a
    rounds-count return cannot distinguish converged-on-the-last-round
    from truncated (ADVICE r09) — so non-convergence is loud, never a
    silently-wrong result.

    100 TB: per-round cost is dominated by the triangle recount, which is
    the known k-truss cost everywhere; the batched peel bounds rounds by
    the support-peeling depth (typically tens on power-law graphs), and
    each round's shuffles carry only (edge, count) pairs, never adjacency
    payloads."""
    if k < 3:
        raise ValueError(f"ktruss requires k >= 3, got {k}")
    from gpu_mapreduce_spark.operators import graph

    def edge_support(oriented: DataFrame) -> DataFrame:
        """Per-canonical-edge triangle count of the subgraph given as a
        FIXED-orientation (lo, hi) edge list: adjacency rebuild is ONE
        aggregate, then graph.tri_find's wedge-intersection machinery."""
        # deliberately NOT checkpointed: _adj_intersections references the
        # adjacency twice (probe + build), but recomputing the one
        # aggregate from the checkpointed oriented list twice is cheaper
        # than materializing it every round (A/B measured on the
        # registered R-MAT query: 4.7 s with the checkpoint, 4.2 without)
        adj = oriented.groupBy(F.col("lo").alias("v")).agg(
            F.collect_list("hi").alias("nbrs")
        )
        tris = graph.tri_find(adj=adj)
        return (
            tris.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("a").alias("src"), F.col("b").alias("dst")
                        ),
                        F.struct(
                            F.col("a").alias("src"), F.col("c").alias("dst")
                        ),
                        F.struct(
                            F.col("b").alias("src"), F.col("c").alias("dst")
                        ),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        )

    canon = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # Orient ONCE by (initial degree, id): any strict total order on the
    # vertices is an acyclic orientation on EVERY subgraph, so each
    # surviving triangle is still enumerated exactly once per round —
    # only the work bound degrades (wedges bounded by initial, not
    # current, degree), while the per-round cost drops by the whole
    # degree-recompute + two annotation joins the old re-orientation paid
    # (measured 5.4-6.4 s -> see BASELINE.md on the registered query).
    cur, n_cur = materialize(graph._orient(canon), F.count(F.lit(1)))
    if n_cur == 0:
        return (
            cur.select(
                F.col("lo").alias("src"),
                F.col("hi").alias("dst"),
                F.lit(0).cast("bigint").alias("support"),
            ),
            0,
        )
    snap = cur  # the checkpointed DF backing the current round
    for rounds in range(1, max_rounds + 1):
        supp = edge_support(cur)
        # keep carries the support column so the converged exit needs NO
        # extra triangle pass (see docstring: at a fixed point the support
        # computed on cur is the final subgraph's support). The surviving
        # edge count — the ONE driver scalar per round — is observed
        # during the checkpoint materialization itself.
        snap, n_new = materialize(
            cur.select(
                "lo",
                "hi",
                F.least("lo", "hi").alias("src"),
                F.greatest("lo", "hi").alias("dst"),
            )
            .join(supp, ["src", "dst"], "left")
            .select(
                "lo",
                "hi",
                "src",
                "dst",
                F.coalesce("support", F.lit(0))
                .cast("bigint")
                .alias("support"),
            )
            .filter(F.col("support") >= k - 2),
            F.count(F.lit(1)),
            supersedes=snap,
        )
        if n_new == n_cur or n_new == 0:
            return snap.select("src", "dst", "support"), rounds
        cur = snap.select("lo", "hi")
        n_cur = n_new
    raise RuntimeError(
        f"ktruss_edges(k={k}): no fixed point within max_rounds="
        f"{max_rounds} ({n_cur} edges still unsettled) — a truncated set"
        " is not a k-truss, so it is never returned; raise max_rounds"
    )


BC_SCALE = 10**4  # betweenness fixed-point: 1.0 dependency unit == 10^4


def betweenness_sources(
    edges: DataFrame,
    sources: list[int],
    max_depth: int = 30,
    arcs: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """K-source partial betweenness centrality (Brandes 2001 restricted to
    a fixed source set — the standard estimator at scale; SCALE.md r11
    design 2, staged ahead of its registration).

    Forward phase: layer-synchronous unweighted BFS from ALL sources at
    once (the sssp_multi keyed-frontier discipline) carrying exact BIGINT
    shortest-path counts sigma — layer d+1's sigma is the sum of its
    layer-d predecessors' sigmas, and a vertex joins the tree at its
    first (= shortest) depth via an anti-join against the visited set.

    Backward phase: dependency accumulation one depth layer at a time,
    deepest first, in fixed-point units of BC_SCALE:

        delta_u = SUM over DAG edges u->w (dist_w = dist_u + 1) of
                  (sigma_u * (BC_SCALE + delta_w)) div sigma_w

    The floor division is applied per term, deterministically, so the
    registered quantity is this exact integer estimator (replayable
    verbatim by a SQL oracle), not an IEEE float; it understates the real
    dependency by < 1 unit (1e-4) per tree edge on the path. Endpoint
    convention: source layers (v == s) are excluded from the output, the
    Brandes standard.

    Returns ((v, bc_u) summed over sources for every vertex reached at
    depth >= 1 from any source, bc_u in BC_SCALE units, max BFS depth).
    Per round only (s, v, sigma/delta) BIGINT rows shuffle; the state
    side broadcasts, as in sssp_multi. Raises on max_depth exhaustion (a truncated BFS
    tree silently undercounts every dependency — the ktruss_edges
    discipline)."""
    own_arcs = arcs is None
    arcs = prepare_arcs(edges) if own_arcs else arcs
    spark = arcs.sparkSession
    layer0, _ = materialize(
        spark.createDataFrame(
            [(s, s, 1) for s in sources], "s bigint, v bigint, sigma bigint"
        )
    )
    layers = [layer0]
    visited, _ = materialize(
        layer0.select(F.col("s").alias("ts"), F.col("v").alias("tv"))
    )
    depth = 0
    for _ in range(max_depth):
        cur = layers[-1]
        nxt = (
            arcs.join(F.broadcast(cur), arcs.src == cur.v)
            .groupBy(F.col("s"), F.col("dst").alias("nv"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        # frontier size observed during the checkpoint itself
        nxt, n_new = materialize(
            nxt.join(
                visited,
                (nxt.s == F.col("ts")) & (nxt.nv == F.col("tv")),
                "left_anti",
            ).select("s", F.col("nv").alias("v"), "sigma"),
            F.count(F.lit(1)),
        )
        if n_new == 0:
            unpersist_checkpoint(nxt)
            break
        depth += 1
        layers.append(nxt)
        visited, _ = materialize(
            visited.unionAll(
                nxt.select(F.col("s").alias("ts"), F.col("v").alias("tv"))
            ),
            supersedes=visited,
        )
    else:
        raise RuntimeError(
            f"betweenness_sources: BFS not exhausted within max_depth="
            f"{max_depth} — a truncated tree undercounts every dependency,"
            " so it is never returned; raise max_depth"
        )

    unpersist_checkpoint(visited)
    if depth > 0:  # layer 0 holds the sources, which take no dependency
        unpersist_checkpoint(layer0)

    # backward: deepest layer has delta 0; each shallower layer folds its
    # successors' (sigma, delta) through the fixed-point dependency rule.
    # Every part is read by the result; layer d is freed once its own
    # part is materialized, except the deepest, which parts[0] reads.
    dd = layers[depth].select(
        "s", "v", "sigma", F.lit(0).cast("bigint").alias("delta")
    )
    parts = [] if depth == 0 else [dd]
    for d in range(depth - 1, 0, -1):
        wside = dd.select(
            F.col("s").alias("ws"),
            F.col("v").alias("wv"),
            F.col("sigma").alias("wsig"),
            F.col("delta").alias("wdelta"),
        )
        cand = arcs.join(F.broadcast(wside), arcs.dst == F.col("wv")).select(
            F.col("ws").alias("cs"),
            F.col("src").alias("cv"),
            "wsig",
            "wdelta",
        )
        uside = layers[d]
        contrib = (
            uside.join(
                cand,
                (uside.s == F.col("cs")) & (uside.v == F.col("cv")),
            )
            .groupBy(F.col("cs"), F.col("cv"))
            .agg(
                F.sum(
                    F.expr(f"(sigma * ({BC_SCALE} + wdelta)) div wsig")
                )
                .cast("bigint")
                .alias("nd")
            )
        )
        dd, _ = materialize(
            uside.join(
                contrib,
                (uside.s == F.col("cs")) & (uside.v == F.col("cv")),
                "left",
            ).select(
                uside.s,
                uside.v,
                "sigma",
                F.coalesce(F.col("nd"), F.lit(0))
                .cast("bigint")
                .alias("delta"),
            ),
            supersedes=uside,
        )
        parts.append(dd)
    if own_arcs:
        unpersist_checkpoint(arcs)
    if not parts:
        unpersist_checkpoint(layer0)
        empty = spark.createDataFrame([], "v bigint, bc_u bigint")
        return empty, depth
    allv = parts[0]
    for p in parts[1:]:
        allv = allv.unionAll(p)
    bc = (
        allv.groupBy("v")
        .agg(F.sum("delta").cast("bigint").alias("bc_u"))
        .orderBy("v")
    )
    return bc, depth


def _pointer_jump(par: DataFrame) -> DataFrame:
    """One pointer jump p = p(p) over (c, p), flagging the rows that moved."""
    nxt = par.select(F.col("c").alias("jc"), F.col("p").alias("jp"))
    return par.join(F.broadcast(nxt), par.p == F.col("jc")).select(
        "c",
        F.col("jp").alias("p"),
        (F.col("jp") != F.col("p")).cast("int").alias("moved"),
    )


def boruvka_msf(
    wedges: DataFrame,
    max_rounds: int = 20,
    max_jumps: int = 30,
) -> tuple[DataFrame, int, int]:
    """Minimum spanning forest by Boruvka hooking (SCALE.md r11 design,
    staged r10) — THE shuffle-friendly MSF: per outer round every
    component picks its minimum incident edge under the strict total
    order (wu, src, dst), those edges join the forest, and components
    contract by pointer-jumping the resulting pseudo-forest.

    Determinism: the (wu, src, dst) order is a strict total order on
    edges even with duplicate weights, so the forest is UNIQUE — the
    hash-gate requirement. The per-component argmin is ONE packed-BIGINT
    min (wu * 2^40 + src * 2^20 + dst; valid while vertex ids < 2^20 and
    wu < 2^22 — raised loudly below), map-side combinable, the suite's
    packed-struct argmax discipline.

    Contraction: parent(c) = other endpoint's component of c's min edge;
    mutual pairs (p(p(c)) == c) break to the smaller id (the hooking
    roots); then pointer-jump p = p(p) until fixed — depth halves per
    jump, so jumps are O(log chain). Both loops cross the driver one
    scalar per round (the pagerank discipline) and raise on bound
    exhaustion rather than return a truncated forest (the
    ktruss/betweenness discipline).

    Returns ((src, dst, wu) forest edges canonical src < dst, outer
    rounds, max effective pointer jumps in any round) — the jump count
    lets a caller with an UNROLLED oracle assert its fixed jump depth
    actually covered this run (ADVICE r10: the operator's max_jumps
    admits depth 2^16 while msf_rmat's oracle unrolls 7 doublings; a
    deeper chain must fail loudly at the guard, not as an opaque row
    mismatch). 100 TB: per round the edge list joins the broadcast-sized
    component map twice, the
    argmin is one aggregate to <= |components| rows, and the
    pointer-jump state is |components| rows shrinking geometrically."""
    V_SHIFT = 1 << 20
    bad = wedges.filter(
        (F.col("src") >= V_SHIFT)
        | (F.col("dst") >= V_SHIFT)
        | (F.col("wu") >= (1 << 22))
        | (F.col("src") < 0)
        | (F.col("dst") < 0)
        | (F.col("wu") < 0)
    )
    if not bad.isEmpty():
        raise ValueError(
            "boruvka_msf packing envelope: needs 0 <= src/dst < 2^20 and"
            " 0 <= wu < 2^22 (re-pack for bigger graphs)"
        )
    canon, _ = materialize(
        wedges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.col("wu").cast("bigint").alias("wu"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("wu").alias("wu"))  # parallel edges: keep the lightest
    )
    spark = canon.sparkSession
    comp, _ = materialize(
        canon.select(F.col("src").alias("v"))
        .unionAll(canon.select(F.col("dst").alias("v")))
        .distinct()
        .select("v", F.col("v").alias("c"))
    )
    forest_parts: list[DataFrame] = []  # read by the result: never freed
    rounds = 0
    max_jumps_used = 0  # effective (moved > 0) jumps in the worst round
    for _ in range(max_rounds):
        cs = comp.select(F.col("v").alias("sv"), F.col("c").alias("cs"))
        cd = comp.select(F.col("v").alias("dv"), F.col("c").alias("cd"))
        ec = (
            canon.join(F.broadcast(cs), canon.src == F.col("sv"))
            .join(F.broadcast(cd), canon.dst == F.col("dv"))
            .filter(F.col("cs") != F.col("cd"))
            .select("src", "dst", "wu", "cs", "cd")
        )
        packed = (
            F.col("wu") * F.lit(1 << 40)
            + F.col("src") * F.lit(V_SHIFT)
            + F.col("dst")
        ).alias("pk")
        arcs2 = ec.select(F.col("cs").alias("mc"), F.col("cd").alias("oc"), packed).unionAll(
            ec.select(F.col("cd").alias("mc"), F.col("cs").alias("oc"), packed)
        )
        # per-component argmin edge in ONE map-side-combinable aggregate:
        # min packed key decodes to the edge, min_by carries the other
        # endpoint's component (pk is unique within a component — each
        # edge contributes its two directions to two DIFFERENT mc groups)
        # emptiness observed during the checkpoint — no probe job
        m, n_m = materialize(
            arcs2.groupBy("mc").agg(
                F.min("pk").alias("mpk"), F.min_by("oc", "pk").alias("oc")
            ),
            F.count(F.lit(1)),
        )
        if n_m == 0:  # no cross-component edges anywhere: done
            unpersist_checkpoint(m)
            break
        rounds += 1
        # decode with INTEGER division: `/` is DOUBLE division in Spark,
        # which loses bits for mpk >= 2^53 (wu >= 2^13 under the 40-bit
        # shift) and would silently corrupt src/wu INSIDE the documented
        # wu < 2^22 envelope (ADVICE r10, verified: wu=2^22-1 decoded to
        # wu+1 with src=0). `div` keeps the decode exact for all of it.
        forest_parts.append(
            m.select(
                (F.col("mpk") % V_SHIFT).alias("dst"),
                (F.expr(f"mpk div {V_SHIFT}") % V_SHIFT).alias("src"),
                F.expr(f"mpk div {1 << 40}").alias("wu"),
            )
            .select("src", "dst", "wu")
            .distinct()
        )
        # hooking: parent(c) = other endpoint's component of c's min edge;
        # mutual pairs break to the smaller id (the roots of this round)
        par = m.select(F.col("mc").alias("c"), F.col("oc").alias("p"))
        par = par.alias("a").join(
            par.select(F.col("c").alias("bc"), F.col("p").alias("bp")).alias(
                "b"
            ),
            (F.col("a.p") == F.col("bc")) & (F.col("bp") == F.col("a.c")),
            "left",
        ).select(
            F.col("a.c").alias("c"),
            F.when(
                F.col("bc").isNotNull() & (F.col("a.c") < F.col("a.p")),
                F.col("a.c"),
            )
            .otherwise(F.col("a.p"))
            .alias("p"),
        )
        # isolated components (no cross edge) point to themselves
        hooked = (
            comp.select(F.col("c").alias("ac"))
            .distinct()
            .join(par, F.col("ac") == par.c, "left")
            .select(
                F.col("ac").alias("c"),
                F.coalesce("p", F.col("ac")).alias("p"),
            )
        )
        # pointer-jump to the roots (depth halves per jump); each jump is
        # checkpointed with its moved count observed in the same action
        par, jumps = fixpoint_observed(
            hooked,
            _pointer_jump,
            lambda: F.sum("moved"),
            lambda moved: not moved,
            max_iter=max_jumps,
        )
        max_jumps_used = max(max_jumps_used, jumps - 1)
        # relabel every vertex to its component's new root
        comp, _ = materialize(
            comp.join(
                F.broadcast(par.select(F.col("c").alias("rc"), "p")),
                comp.c == F.col("rc"),
            ).select("v", F.col("p").alias("c")),
            supersedes=comp,
        )
        unpersist_checkpoint(par)
    else:
        raise RuntimeError(
            f"boruvka_msf: not contracted within max_rounds={max_rounds};"
            " raise max_rounds"
        )
    unpersist_checkpoint(comp)
    unpersist_checkpoint(canon)
    if not forest_parts:
        return (
            spark.createDataFrame([], "src bigint, dst bigint, wu bigint"),
            rounds,
            max_jumps_used,
        )
    forest = forest_parts[0]
    for fpart in forest_parts[1:]:
        forest = forest.unionAll(fpart)
    return forest.distinct().orderBy("src", "dst"), rounds, max_jumps_used


def _hyperball_init(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(bidirected arcs, round-0 state): each vertex's one-element sketch
    of {itself} — functions/hllest.bucket_rho applied to the portable
    hash60 of the vertex id string."""
    from gpu_mapreduce_spark.functions import hllest
    from gpu_mapreduce_spark.functions.portable import hash60

    arcs = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    verts = arcs.select(F.col("src").alias("v")).distinct()
    b, reg = hllest.bucket_rho(hash60(F.col("v").cast("string")))
    state, _ = materialize(
        verts.select(
            "v", b.cast("bigint").alias("b"), reg.cast("bigint").alias("reg")
        )
    )
    return arcs, state


def _hyperball_fold(arcs: DataFrame, state: DataFrame) -> DataFrame:
    """One propagation round: reg'(v, b) = max(own, neighbors) — one
    arcs ⋈ state join + a map-side-combinable max, checkpointed."""
    nbr = arcs.join(state, arcs.dst == state.v).select(
        F.col("src").alias("v"), "b", "reg"
    )
    return materialize(
        state.unionAll(nbr).groupBy("v", "b").agg(F.max("reg").alias("reg"))
    )[0]


def hyperball_rounds(edges: DataFrame, n_rounds: int) -> list[DataFrame]:
    """Exactly n_rounds HyperBall folds, returning EVERY intermediate
    state [round 0 .. round n_rounds] — the distance-resolved form the
    neighborhood-function registration needs (on an undirected graph the
    FIXED POINT is per-component constant; the per-round states are
    where |ball(v, r)| lives). Each state is checkpointed; no
    convergence probe — the round count is the caller's contract with
    its unrolled oracle."""
    arcs, state = _hyperball_init(edges)
    states = [state]
    for _ in range(n_rounds):
        state = _hyperball_fold(arcs, state)
        states.append(state)
    return states


def jp_coloring(
    edges: DataFrame,
    seed: int = 0,
    max_rounds: int = 60,
    arcs: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Jones-Plassmann greedy graph coloring (Jones & Plassmann, "A
    Parallel Graph Coloring Heuristic", SIAM J. Sci. Comput. 1993) —
    staged r11 for the SCALE.md r12 jones_plassmann_coloring
    registration (operator + model test first, the
    betweenness/hyperball discipline).

    Per round, every UNCOLORED vertex that is the strict local maximum
    among its uncolored neighbors under the seeded priority total order
    (hash60(f'jp{seed}|{v}'), v) — deterministic, hash-gateable, ties
    impossible because v breaks them — takes the smallest color absent
    from its already-colored neighborhood (min-absent over at most
    deg(v) candidates, so color indices never exceed max degree).
    Independent-set winners per round make concurrent choices safe: two
    adjacent uncolored vertices can never both win a round.

    Plan per round: ONE arcs ⋈ uncolored-state join for the local-max
    test (map-side-combinable max of the packed neighbor priority), one
    arcs ⋈ colored join + bounded sequence-explode anti-join for
    min-absent, one scalar (remaining-uncolored count) across the
    driver; raises on bound exhaustion rather than return a partial
    coloring. State is (v, color) plus the shrinking uncolored set —
    O(|V|) rows, never materializing neighborhoods.

    Returns ((v, color) for every vertex, rounds). Validity (no
    monochromatic edge) and exact hand-graph colors are pinned in
    tests/test_graph_algorithms.py. 100 TB: the per-round bill is two
    edge-list joins against broadcast vertex state — the luby_find
    posture with a color column. Both state joins key on arcs.src
    (neighbors read off dst — identical on the bidirected arc set);
    round 1's uncolored set is ALL of |V|, the largest state the
    operator ever broadcasts. Expected
    rounds O(log n) on bounded-degree graphs; hub-heavy graphs
    serialize around priority chains, which the round bound makes loud
    instead of silent."""
    from gpu_mapreduce_spark.functions.portable import hash60

    own_arcs = arcs is None
    if own_arcs:
        arcs, _ = materialize(
            edges.select("src", "dst").unionAll(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
        )
    # strict total order as ONE packed key: priority in the high bits,
    # vertex id in the low 20 (the boruvka packing envelope discipline)
    V_SHIFT = 1 << 20
    bad = arcs.filter((F.col("src") >= V_SHIFT) | (F.col("src") < 0))
    if not bad.isEmpty():
        raise ValueError(
            "jp_coloring packing envelope: needs 0 <= vertex id < 2^20"
            " (re-pack for bigger graphs)"
        )
    pr = (
        hash60(F.concat(F.lit(f"jp{seed}|"), F.col("v").cast("string")))
        % (1 << 40)
    ) * V_SHIFT + F.col("v")
    # the uncolored count is observed on every uncolored-set checkpoint,
    # the initial one included, so the loop-top test costs no job
    uncolored, n_uncolored = materialize(
        arcs.select(F.col("src").alias("v")).distinct().select("v", pr.alias("p")),
        F.count(F.lit(1)),
    )
    spark = uncolored.sparkSession
    colored = spark.createDataFrame([], "v bigint, color bigint")
    rounds = 0
    for _ in range(max_rounds):
        if n_uncolored == 0:
            unpersist_checkpoint(uncolored)
            if own_arcs:
                unpersist_checkpoint(arcs)
            return colored.orderBy("v"), rounds
        rounds += 1
        # local-max test among UNCOLORED neighbors only: state joins on
        # arcs.src, neighbors read off dst (identical on the bidirected
        # set)
        un_s = uncolored.select(F.col("v").alias("uv"), F.col("p").alias("up"))
        nbr_max = (
            arcs.join(F.broadcast(un_s), arcs.src == F.col("uv"))
            .groupBy(F.col("dst").alias("v"))
            .agg(F.max("up").alias("nmax"))
        )
        winners, _ = materialize(
            uncolored.join(nbr_max, "v", "left")
            .filter(F.col("nmax").isNull() | (F.col("p") > F.col("nmax")))
            .select("v")
        )
        # min-absent color over each winner's already-colored neighbors:
        # a winner with k colored neighbors needs only candidates 0..k
        col_s = colored.select(F.col("v").alias("cv"), "color")
        wn = winners.join(
            arcs.join(F.broadcast(col_s), arcs.src == F.col("cv")).select(
                F.col("dst").alias("v"), "color"
            ),
            "v",
            "left",
        )
        used = wn.filter(F.col("color").isNotNull())
        ncols = wn.groupBy("v").agg(
            F.sum(F.col("color").isNotNull().cast("int")).alias("k")
        )
        cand = ncols.select(
            "v", F.explode(F.expr("sequence(0, k)")).alias("c")
        )
        chosen = (
            cand.join(
                used.select("v", F.col("color").alias("c")),
                ["v", "c"],
                "left_anti",
            )
            .groupBy("v")
            .agg(F.min("c").cast("bigint").alias("color"))
        )
        colored, _ = materialize(
            colored.unionAll(chosen), supersedes=colored
        )
        uncolored, n_uncolored = materialize(
            uncolored.join(winners, "v", "left_anti"),
            F.count(F.lit(1)),
            supersedes=uncolored,
        )
        unpersist_checkpoint(winners)
    raise RuntimeError(
        f"jp_coloring: not finished within max_rounds={max_rounds};"
        " raise max_rounds (priority chains serialize around hubs)"
    )


def greedy_matching(
    wedges: DataFrame,
    max_rounds: int = 30,
) -> tuple[DataFrame, list[int]]:
    """Deterministic maximal weighted matching by Luby-round edge
    priorities (SCALE.md wave-4 design) — the pair-resolution primitive
    a dedup pipeline runs after candidate generation: each near-dup pair
    keeps at most one partner per side, heaviest pairs first.

    Luby's machinery applied to the LINE graph without materializing it:
    per round an edge joins the matching iff its priority is the strict
    best among all live edges sharing either endpoint — computed as TWO
    keyed min-aggregates (one per-vertex min over the src/dst-tagged
    union, map-side combinable) joined back, never an edge x edge join.
    Matched endpoints drop out (two broadcast anti-joins); repeat until
    no live edge remains, so MAXIMALITY holds by construction (the loop
    cannot end while an edge with two free endpoints survives).

    Priority is the packed strict total order (weight DESC, then
    src, dst) in ONE BIGINT — boruvka_msf's packing discipline verbatim
    with the weight field inverted: pk = (2^22-1 - wu) * 2^40 +
    src * 2^20 + dst, envelope 0 <= src/dst < 2^20, 0 <= wu < 2^22,
    raised loudly. Unique per edge, so "strict best" needs no extra
    tiebreak and the matched edge SET is a deterministic function of
    the graph — the hash-gate requirement, exactly like luby_find's
    MIS. The greedy order gives the classic 1/2-approximation of the
    maximum-weight matching (pinned in tests against brute force).
    Expected rounds are O(log E) when weights break symmetry (the
    fixture's pseudorandom wu does); a corpus with CONSTANT weights
    re-serializes around priority chains — there, salt wu with a
    portable hash before calling (the jp_coloring posture).

    Per round ONE scalar (the matched count) crosses the driver and the
    live set localCheckpoints so lineage never stacks (the cc_find
    discipline); bound exhaustion raises rather than returning a
    non-maximal matching (the ktruss discipline). Returns ((round, src,
    dst, wu) matched edges, per-round matched counts). 100 TB: cost is
    proportional to LIVE edges per round (halving geometry like
    luby/boruvka), state is two bounded per-vertex min tables.
    """
    V_SHIFT = 1 << 20
    WU_CAP = (1 << 22) - 1
    bad = wedges.filter(
        (F.col("src") >= V_SHIFT)
        | (F.col("dst") >= V_SHIFT)
        | (F.col("wu") > WU_CAP)
        | (F.col("src") < 0)
        | (F.col("dst") < 0)
        | (F.col("wu") < 0)
    )
    if not bad.isEmpty():
        raise ValueError(
            "greedy_matching packing envelope: needs 0 <= src/dst < 2^20"
            " and 0 <= wu < 2^22 (re-pack for bigger graphs)"
        )
    # the live-edge count is observed on every live-set checkpoint, the
    # initial one included, so the loop-top test costs no job
    live, n_live = materialize(
        wedges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.col("wu").cast("bigint").alias("wu"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.max("wu").alias("wu"))  # parallel edges: keep the heaviest
        .select(
            "src",
            "dst",
            "wu",
            (
                (F.lit(WU_CAP) - F.col("wu")) * F.lit(1 << 40)
                + F.col("src") * F.lit(V_SHIFT)
                + F.col("dst")
            ).alias("pk"),
        ),
        F.count(F.lit(1)),
    )
    matched_parts: list[DataFrame] = []  # read by the result: never freed
    counts: list[int] = []
    for rnd in range(1, max_rounds + 1):
        if n_live == 0:
            unpersist_checkpoint(live)
            spark = wedges.sparkSession
            if not matched_parts:
                return (
                    spark.createDataFrame(
                        [], "round int, src bigint, dst bigint, wu bigint"
                    ),
                    counts,
                )
            out = matched_parts[0]
            for p in matched_parts[1:]:
                out = out.unionAll(p)
            return out, counts
        vmin = (
            live.select(F.col("src").alias("v"), "pk")
            .unionAll(live.select(F.col("dst").alias("v"), "pk"))
            .groupBy("v")
            .agg(F.min("pk").alias("vm"))
        )
        vs = F.broadcast(
            vmin.select(F.col("v").alias("sv"), F.col("vm").alias("svm"))
        )
        vd = F.broadcast(
            vmin.select(F.col("v").alias("dv"), F.col("vm").alias("dvm"))
        )
        # the per-round matched count — the ONE driver scalar — is
        # observed during the winners checkpoint itself (no count job)
        winners, n_won = materialize(
            live.join(vs, live.src == F.col("sv"))
            .join(vd, live.dst == F.col("dv"))
            .filter((F.col("pk") == F.col("svm")) & (F.col("pk") == F.col("dvm")))
            .select("src", "dst", "wu"),
            F.count(F.lit(1)),
        )
        counts.append(int(n_won))
        matched_parts.append(
            winners.select(
                F.lit(rnd).cast("int").alias("round"), "src", "dst", "wu"
            )
        )
        mv = F.broadcast(
            winners.select(F.col("src").alias("mv"))
            .unionAll(winners.select(F.col("dst").alias("mv")))
            .distinct()
        )
        live, n_live = materialize(
            live.join(mv, live.src == F.col("mv"), "left_anti").join(
                mv, live.dst == F.col("mv"), "left_anti"
            ),
            F.count(F.lit(1)),
            supersedes=live,
        )
    raise RuntimeError(
        f"greedy_matching: live edges remain after max_rounds={max_rounds};"
        " raise max_rounds (constant weights serialize priority chains —"
        " salt wu with a portable hash)"
    )
