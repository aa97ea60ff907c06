"""Non-iterative graph operators — the OINK command set (SURVEY.md §2.4),
re-expressed as DataFrame transforms over an `edges(src BIGINT, dst BIGINT)`
table (canonical form: src < dst, no self-loops, no duplicates).

Reference commands mapped here:
  - edge_upper       ≙ oink/edge_upper.cpp:37-67, oink/map_edge_upper.cpp
  - vertex_extract   ≙ oink/vertex_extract.cpp:36-62
  - degree (dup=1|2) ≙ oink/degree.cpp:36-59 (edge_to_vertex / edge_to_vertices)
  - degree_stats     ≙ oink/degree_stats.cpp:35-62
  - degree_weight    ≙ oink/degree_weight.cpp:35-125 (the reference fakes the
                       join via add+collate+tag-dispatch reduce; ours is a real
                       broadcast/shuffle join)
  - neighbor         ≙ oink/neighbor.cpp:34-115 (bidirect + group + pack)
  - neigh_tri        ≙ oink/neigh_tri.cpp:39-60 (adjacency ⋈ triangles)
  - tri_find         ≙ oink/tri_find.cpp:43-82 (Cohen's degree-oriented
                       triangle enumeration: 2 self-joins)

Scale notes (100 TB / power-law graphs):
  - Everything here is a single-shuffle groupBy or a key-partitioned join; no
    driver-side collection anywhere.
  - tri_find orients each edge from its (degree, id)-smaller endpoint before
    generating wedges — the same trick as the reference's map_low_degree
    (oink/tri_find.cpp:184-203). This bounds wedge generation by
    sum(min-degree²) ≈ O(E^1.5) instead of sum(degree²), which is what makes
    triangle listing feasible on skewed graphs; AQE skew-join handles residual
    hot keys.
  - neighbor/collect_list assumes per-vertex adjacency fits in one task —
    true for all but celebrity vertices; for those, downstream consumers
    should use the grouped-iterator form (core.group_apply) instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def edge_upper(raw: DataFrame) -> DataFrame:
    """Canonicalize an edge multiset: (min,max) endpoints, drop self-loops,
    dedupe (oink/edge_upper.cpp:37-67). One shuffle (the distinct)."""
    return (
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )


def bidirect(edges: DataFrame) -> DataFrame:
    """Each undirected edge as both directed arcs (oink/neighbor.cpp map1)."""
    return edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def vertex_extract(edges: DataFrame) -> DataFrame:
    """Distinct vertices of an edge list (oink/vertex_extract.cpp:36-62)."""
    return (
        edges.select(F.explode(F.array("src", "dst")).alias("v")).distinct()
    )


def degree(edges: DataFrame, duplicate: int = 2) -> DataFrame:
    """Per-vertex degree (oink/degree.cpp:36-59).

    duplicate=1: count src endpoints only (out-degree of the stored direction);
    duplicate=2: count both endpoints (undirected degree)."""
    if duplicate == 1:
        verts = edges.select(F.col("src").alias("v"))
    else:
        verts = edges.select(F.explode(F.array("src", "dst")).alias("v"))
    return verts.groupBy("v").agg(F.count(F.lit(1)).alias("degree"))


def degree_stats(edges: DataFrame, duplicate: int = 2) -> DataFrame:
    """Degree histogram, descending (oink/degree_stats.cpp:35-62)."""
    return (
        degree(edges, duplicate)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("nverts"))
        .orderBy(F.desc("degree"))
    )


def degree_weight(edges: DataFrame, duplicate: int = 2) -> DataFrame:
    """Annotate each directed arc (src, dst) with weight = 1/degree(src)
    (oink/degree_weight.cpp:85-125). The reference unions the degree KV with
    the edge KV and dispatches on value tags inside one reduce; the idiomatic
    Spark form is a real join on the vertex key. The degree side is one row
    per vertex — broadcastable while |V| is small, key-partitioned otherwise
    (Catalyst/AQE picks; no hint needed since both sides are already keyed).
    """
    arcs = bidirect(edges) if duplicate == 2 else edges
    deg = degree(edges, duplicate)
    return (
        arcs.join(deg, arcs.src == deg.v)
        .select("src", "dst", (F.lit(1.0) / F.col("degree")).alias("weight"))
    )


def neighbor(edges: DataFrame) -> DataFrame:
    """Adjacency list per vertex, sorted for determinism
    (oink/neighbor.cpp:34-115 packs values in arrival order — undefined under
    MPI; we fix the order)."""
    return (
        bidirect(edges)
        .groupBy(F.col("src").alias("v"))
        .agg(F.array_sort(F.collect_list("dst")).alias("neighbors"))
    )


def _orient(edges: DataFrame) -> DataFrame:
    """Orient each edge from its (degree,id)-smaller endpoint → (lo, hi)
    (oink/tri_find.cpp map_low_degree :184-203). Bounds per-vertex wedge work
    by the *smaller* endpoint degree — the key to triangle listing on skewed
    graphs."""
    deg = degree(edges, duplicate=2)
    ds = deg.select(F.col("v").alias("sv"), F.col("degree").alias("sdeg"))
    dd = deg.select(F.col("v").alias("dv"), F.col("degree").alias("ddeg"))
    annotated = (
        edges.join(ds, edges.src == ds.sv)
        .join(dd, edges.dst == dd.dv)
        .select(
            "src",
            "dst",
            (
                (F.col("sdeg") < F.col("ddeg"))
                | ((F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst")))
            ).alias("src_is_lo"),
        )
    )
    return annotated.select(
        F.when(F.col("src_is_lo"), F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(F.col("src_is_lo"), F.col("dst")).otherwise(F.col("src")).alias("hi"),
    )


def oriented_adj(edges: DataFrame) -> DataFrame:
    """Out-adjacency of the degree-oriented DAG: (v, nbrs ARRAY<BIGINT>).

    One groupBy over the oriented edge list; Σ|nbrs| = |E| longs total, so
    the whole table is orders of magnitude smaller than any per-edge
    duplication of it. This is the materialize-once artifact every triangle
    query probes — the DataFrame analog of the CSR structure a graph engine
    builds before running queries (and of the reference's KMV adjacency,
    oink/neighbor.cpp)."""
    return (
        _orient(edges)
        .groupBy(F.col("lo").alias("v"))
        .agg(F.collect_list("hi").alias("nbrs"))
    )


def _adj_intersections(adj: DataFrame) -> DataFrame:
    """Per oriented edge (lo, hi): intersect N+(lo) with N+(hi) →
    (lo, hi, common ARRAY<BIGINT>).

    The probe side is the adjacency table itself, re-exploded: each (v, nbrs)
    row fans out to one row per out-edge CARRYING its own nbrs array, so
    N+(lo) needs no join at all — only N+(hi) is looked up, via one broadcast
    hash join (|V| rows of packed arrays). Explode, join and intersect
    pipeline in a single stage with no shuffle. The adjacency is always the
    broadcast side and the probe never moves; a shuffle-hash variant for |V|
    beyond broadcast range was removed unused (git history holds it).

    The probe is explicitly re-widened to full parallelism first: AQE
    coalesces the upstream groupBy's output by BYTES, and |V| array rows land
    in 1-2 partitions — but the intersection pass is compute-bound
    (O(d_lo + d_hi) per edge), so byte-based coalescing strands it on 1-2
    cores (measured 5.5s -> 0.5s at sf0.1 from this line). Never let a
    byte-sized partitioning carry a cpu-bound stage."""
    sc = adj.sparkSession.sparkContext
    probe = adj.repartition(sc.defaultParallelism).select(
        F.col("v").alias("lo"),
        F.col("nbrs").alias("a_nbrs"),
        F.explode("nbrs").alias("hi"),
    )
    b = F.broadcast(
        adj.select(F.col("v").alias("bv"), F.col("nbrs").alias("b_nbrs"))
    )
    return probe.join(b, probe.hi == F.col("bv")).select(
        "lo", "hi", F.array_intersect("a_nbrs", "b_nbrs").alias("common")
    )


def tri_find(
    edges: DataFrame | None = None,
    adj: DataFrame | None = None,
) -> DataFrame:
    """Triangle enumeration (oink/tri_find.cpp:43-82, Cohen's algorithm).

    1. degree-annotate endpoints (reduce_first/second_degree :115-180)
    2. orient each edge from its (degree,id)-smaller endpoint
       (map_low_degree :184-203)
    3. per-edge wedge closure: in the orientation DAG a triangle
       (u < v < w by (deg,id)) appears exactly once as a common out-neighbor
       w of its lowest edge (u,v), so triangles(u,v) = N+(u) ∩ N+(v).

    Physical strategy: the reference materializes every angle as a pair
    (reduce_nsq_angles :207-276) then matches edges against them
    (reduce_emit_triangles :280-325); we ship the wedge set as packed
    adjacency arrays and intersect per edge — the same asymptotics with far
    fewer shuffled rows, and the adjacency side broadcasts while |V| ≪ |E|.

    Pass `adj` (a materialized `oriented_adj`) to amortize the build across
    triangle queries; with only `edges` the adjacency is checkpointed for
    the duration of this query (it is referenced twice).

    Output: one row per triangle as the sorted vertex triple (a < b < c).
    """
    if adj is None:
        adj = oriented_adj(edges).localCheckpoint(eager=True)
    tri = _adj_intersections(adj).select(
        "lo", "hi", F.explode("common").alias("w")
    )
    return tri.select(
        F.least("lo", "hi", "w").alias("a"),
        F.expr("sort_array(array(lo, hi, w))[1]").alias("b"),
        F.greatest("lo", "hi", "w").alias("c"),
    )


def tri_count(
    edges: DataFrame | None = None,
    adj: DataFrame | None = None,
) -> DataFrame:
    """Triangle count without materializing triangles: sum of per-edge
    intersection sizes (the count the reference prints,
    oink/tri_find.cpp:77-79) — skips tri_find's explode entirely."""
    if adj is None:
        adj = oriented_adj(edges).localCheckpoint(eager=True)
    return (
        _adj_intersections(adj)
        .select(F.size("common").alias("n"))
        .agg(F.sum("n").alias("ntri"))
    )


def neigh_tri(edges: DataFrame, triangles: DataFrame) -> DataFrame:
    """Per-vertex merge of adjacency and incident-triangle lists
    (oink/neigh_tri.cpp:39-60: copy of MRn + map over MRt keyed by each
    triangle vertex + collate). Output one row per vertex: sorted neighbor
    list and sorted list of the *other two* vertices of each incident
    triangle (the reference prints both under the vertex key)."""
    tri_by_vertex = triangles.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("v"), F.col("b").alias("p"), F.col("c").alias("q")),
                F.struct(F.col("b").alias("v"), F.col("a").alias("p"), F.col("c").alias("q")),
                F.struct(F.col("c").alias("v"), F.col("a").alias("p"), F.col("b").alias("q")),
            )
        ).alias("t")
    ).select("t.v", "t.p", "t.q")
    tri_lists = tri_by_vertex.groupBy("v").agg(
        F.array_sort(
            F.collect_list(F.concat_ws("-", F.col("p"), F.col("q")))
        ).alias("tri_edges")
    )
    adj = neighbor(edges)
    return (
        adj.join(tri_lists, adj.v == tri_lists.v, "left")
        .select(
            adj.v.alias("v"),
            "neighbors",
            F.coalesce("tri_edges", F.array().cast("array<string>")).alias("tri_edges"),
        )
    )


def neigh_tri_sink(nt: DataFrame, path: str, fmt: str = "parquet") -> None:
    """The reference's neigh_tri OUTPUT contract (oink/neigh_tri.cpp:39-60):
    one file per vertex under a directory the command names. Spark form:
    Hive-style partitioned write — `write.partitionBy("v")` lays out
    `path/v=<id>/part-*`, one directory (>= 1 file) per vertex, and the
    layout is queryable: `spark.read.parquet(path).filter(v == k)` touches
    exactly one directory (partition pruning), which is strictly better
    than the reference's open-by-filename.

    Scale note: per-vertex directories on a power-law graph mean |V|
    directories — fine for the reference's per-vertex report use case on
    selected vertices, but shard the key first (partitionBy on v % 4096,
    or bucketBy) before pointing this at a full 100-TB graph; millions of
    tiny directories are a filesystem problem, not a Spark one."""
    nt.write.mode("overwrite").partitionBy("v").format(fmt).save(path)
