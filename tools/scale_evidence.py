"""10x scaling evidence: wall time, shuffle bytes, and spill at 1x vs 10x.

Six rounds of sf0.1 evidence support the suite's *plan-shape* claims
("no stage holds more than N/P rows", "candidates are banding-bounded");
this harness anchors them with a measured 10x point per heavy query:

  * TEXT tier (split_contamination, contamination_bloom,
    dedup_incremental, dedup_lsh_at_rest; override with
    $SPARK_GRAFT_SCALE_QUERIES): a REPS-x documents table built
    by replicating sf0.1 with every token rewritten per replica
    (`r<k>_` word prefix) and doc_ids shifted by k*10_000 — each
    replica reproduces the original's dedup/near-dup structure without
    creating CROSS-replica near-dups, so candidate volume scales
    linearly with data (a bare text copy would shingle-match across
    replicas and scale candidates quadratically, measuring a different
    workload). Replica ids stay < the corpus fixture's 1e6 injected-dup
    offset, so existing/delta splits scale 10x together.

  * GRAPH tier (pagerank, sssp, luby_find): the edges fixture draws from
    a FIXED 4000-vertex keyspace (fixtures.NUM_VERTICES) — 10x lineitem
    would densify, not grow, that graph. The honest instrument is the
    seeded R-MAT generator the kcore_rmat bench already uses, scaled 8x
    in edges AND vertices at the SAME average degree:
    rmat_edges(n_levels=16, nz=8) = 524,288 edges / 65,536 vertices vs
    (n_levels=19, nz=8) = 4,194,304 edges / 524,288 vertices (raising nz
    instead would densify a fixed vertex set).

  * EMBEDDING tier (IVF probe, SemDeDup candidate join, index append):
    a REPS-x embeddings table built by replicating sf0.1 with a
    deterministic per-replica SIGN FLIP per dimension (md5-derived
    diag(±1) — an isometry, so every replica reproduces the original's
    internal cosine structure BIT-EXACTLY; float negation is exact).
    Cross-replica cosines are randomized sums of signed products —
    NOTE: at the fixture's deliberately low 0.4 threshold in d=64,
    random pairs are not rare (measured cross-replica rate 8e-4 vs
    within-replica 3.5e-4), so unlike the text tier the replica trick
    cannot make near-dup OUTPUT scale linearly. That is irrelevant to
    what this tier measures: SemDeDup's candidate volume is cell
    COHABITATION (Σ|cell|² ≈ N²/k), a function of the assignment alone,
    and the IVF probe touches nprobe·N/k rows regardless of dup
    structure. vec_ids shift by k*10_000. The tier measures the
    operators at scale-appropriate PARAMETERS rather than the
    fixture-pinned registered constants: centroid count grows with the
    corpus (registered queries pin n_centroids=16 for oracle replay; a
    store sizes it with N), and the suite records the measured
    tradeoff — IVF probe with n_centroids ~ sqrt(N) (probe cost
    ~ nprobe·N/k), SemDeDup candidates at k fixed vs ~sqrt(N) vs ~N
    (pair volume N²/k: quadratic, N^1.5, linear — the cell-count
    scaling note).

  * RELATIONAL tier (q5_region_revenue, q21_waiting_supplier,
    q18_large_orders): the TPC-H fixtures scale WITH the driver's sf, so
    the decade is simply sf0.01 vs sf0.1 on the registered queries — the
    one tier that needs no synthetic replication at all.

$SPARK_GRAFT_SCALE_REPS (default 10) sets the replication factor — REPS=100
gives the second decade of the text-tier series (the graph and rel tiers
are REPS-independent).

Per measurement: one untimed warm-up (absorbs memoized index/checkpoint
builds, like bench.py), then two timed runs reporting the MIN, with
per-stage shuffle read/write and spill DELTAS summed from the Spark UI
REST API across the timed runs (metrics are per-run-pair, halved for
per-run figures). Run on an idle machine; total ~6-10 min.

    python tools/scale_evidence.py [text|graph|rel|emb|pq|frag|layout|stream|sketch|events|all]

Results are transcribed into SCALE.md's "Measured 10x scaling" table.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF1X = "/root/testdata/sf0.1"
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "10"))
SF10X = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp",
    f"scale{REPS}x",
)
TEXT_QUERIES = [
    q
    for q in os.environ.get(
        "SPARK_GRAFT_SCALE_QUERIES",
        "split_contamination,contamination_bloom,dedup_incremental,"
        "dedup_lsh_at_rest",
    ).split(",")
    if q
]
UI = None  # set from spark.sparkContext.uiWebUrl — a hardcoded :4040 would
#   silently read a LEFTOVER Spark app's stages when that port is taken


def get_spark_ui() -> SparkSession:
    """The ONE session factory, UI enabled (REST metrics source) — a
    config copy here would drift from session.py's."""
    from gpu_mapreduce_spark.session import get_spark

    return get_spark("scale_evidence", ui=True)


def build_10x_docs(spark: SparkSession) -> None:
    # documents.parquet is written LAST (os.replace after the table copies),
    # so its existence is the completion marker: a crash mid-build leaves a
    # dir without it and the next run repairs every missing piece
    os.makedirs(SF10X, exist_ok=True)
    _copy_side_tables()
    if os.path.exists(os.path.join(SF10X, "documents.parquet")):
        return
    d = spark.read.parquet(f"{SF1X}/documents.parquet")
    parts = [d]  # replica 0 = the originals, untouched
    for k in range(1, REPS):
        parts.append(
            d.select(
                # k*10_000: the max base id is 4999, so replicas never
                # collide with each other, and 99 replicas stay below the
                # corpus fixture's 1e6/2e6 injected-dup offsets
                (F.col("doc_id") + k * 10_000).alias("doc_id"),
                # rewrite EVERY token: replicas share no shingles, so
                # near-dup candidates scale linearly (see module docstring)
                F.regexp_replace("text", r"(\S+)", f"r{k}_$1").alias("text"),
                "lang",
                "source",
            ).withColumn("n_chars", F.length("text").cast("int"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    # tables.table reads the schema with pyarrow on a FILE path, so the 10x
    # table must be a single parquet file like the driver-generated ones
    # (~6 MB — the one-file write is fine at this size)
    tmp = f"{SF10X}/_docs_build"
    out.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".parquet")
    )
    # the completion-marker write: documents.parquet lands only after every
    # side table copied above
    os.replace(os.path.join(tmp, part), f"{SF10X}/documents.parquet")
    shutil.rmtree(tmp)


def _copy_side_tables() -> None:
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings",
    ]:
        dst = f"{SF10X}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copyfile(f"{SF1X}/{t}.parquet", dst)


def build_10x_embeddings(spark: SparkSession) -> str:
    """REPS-x embeddings table (single parquet file, completion-marked by
    its own existence since nothing else is built here). Replica k applies
    the deterministic sign pattern s_k(i) = ±1 from md5(f'emb{k}|{i}') —
    diag(±1) is orthogonal, so within-replica cosines are preserved
    bit-exactly (float negation is exact); cross-replica cosines are
    randomized (see the module docstring's note on what that does and
    does not buy at the 0.4 threshold)."""
    import hashlib

    dst = f"{SF10X}/embeddings_{REPS}x.parquet"
    if os.path.exists(dst):
        return dst
    os.makedirs(SF10X, exist_ok=True)
    e = spark.read.parquet(f"{SF1X}/embeddings.parquet")
    dim = len(e.select("embedding").first()[0])
    parts = [e]
    for k in range(1, REPS):
        signs = F.array(
            *[
                F.lit(
                    1.0
                    if int(hashlib.md5(f"emb{k}|{i}".encode()).hexdigest(), 16)
                    % 2
                    else -1.0
                ).cast("float")
                for i in range(dim)
            ]
        )
        parts.append(
            e.select(
                (F.col("vec_id") + k * 10_000).alias("vec_id"),
                F.zip_with("embedding", signs, lambda x, s: x * s)
                .cast("array<float>")
                .alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    tmp = f"{SF10X}/_emb_build"
    out.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".parquet")
    )
    os.replace(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp)
    return dst


def _assert_replica_envelope(e) -> None:
    """The replica id shifts (event_id +k*1e7, user_id +k*1e4) assume the
    1x table stays under those bounds — at a larger sf replica ids would
    silently collide, corrupting the delta split and the reported data
    ratio (r11 ADVICE). Assert loudly instead."""
    mx = e.agg(F.max("event_id"), F.max("user_id")).collect()[0]
    assert mx[0] < 10_000_000, f"event_id envelope: max {mx[0]} >= 1e7"
    assert mx[1] < 10_000, f"user_id envelope: max {mx[1]} >= 1e4"


_WHALE_USER = 77  # the whale's id (inside the 1x key space, by design)
# how many of the REPS replicas the whale swallows (whale share =
# WHALE_REPS/REPS of all rows); 1 = the 10% protocol point, REPS-1 = the
# bend-finding extreme (one user owns ~90% of the stream)
WHALE_REPS = int(os.environ.get("SPARK_GRAFT_WHALE_REPS", "1"))


def build_10x_events_whale(spark: SparkSession) -> str:
    """REPS-x events with a WHALE USER: replicas 1..WHALE_REPS are ALL
    reassigned to one user id, so a single user carries
    ~WHALE_REPS/REPS of every row (the cc_find_skew protocol applied to
    the user_id shuffle) — the axis sessionize_events' docstring caps
    honestly: an order-dependent per-user fold cannot salt, so the
    whale's whole history lands in ONE task's window sort. Other
    replicas shift ids exactly like build_10x_events; event_id stays
    globally unique."""
    out_dir = f"{SF10X}/whale{REPS}x_{WHALE_REPS}"
    dst = f"{out_dir}/events.parquet"
    if os.path.exists(dst):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    e = spark.read.parquet(f"{SF1X}/events.parquet")
    _assert_replica_envelope(e)
    parts = [e]
    for k in range(1, REPS):
        uid = (
            F.lit(_WHALE_USER).cast("bigint")
            if k <= WHALE_REPS
            else (F.col("user_id") + k * 10_000)
        )
        parts.append(
            e.select(
                (F.col("event_id") + k * 10_000_000).alias("event_id"),
                "ts",
                uid.alias("user_id"),
                "event_type", "value", "props",
            )
        )
    ev = parts[0]
    for p in parts[1:]:
        ev = ev.unionAll(p)
    tmp = f"{out_dir}/_ev_build"
    ev.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    os.replace(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp)
    return out_dir


def build_10x_events(spark: SparkSession) -> str:
    """REPS-x events table in its own subdir (NOT SF10X/events.parquet —
    the side-table copy there is 1x by design for the text tier).
    Replica k shifts event_id by k*1e7 (divisible by 8, so the suite's
    1/8 delta split stays exact per replica) and user_id by k*1e4; ts
    unchanged — so 10x DENSIFIES fixed grids (z-cells, histogram bins,
    CMS cells, day grains), which is precisely what the layout and
    sketch tiers measure. Returns the directory (usable as an sf_dir by
    events-only queries)."""
    out_dir = f"{SF10X}/layout{REPS}x"
    dst = f"{out_dir}/events.parquet"
    if os.path.exists(dst):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    e = spark.read.parquet(f"{SF1X}/events.parquet")
    _assert_replica_envelope(e)
    parts = [e]
    for k in range(1, REPS):
        parts.append(
            e.select(
                (F.col("event_id") + k * 10_000_000).alias("event_id"),
                "ts",
                (F.col("user_id") + k * 10_000).alias("user_id"),
                "event_type", "value", "props",
            )
        )
    ev = parts[0]
    for p in parts[1:]:
        ev = ev.unionAll(p)
    tmp = f"{out_dir}/_ev_build"
    ev.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    os.replace(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp)
    return out_dir


def _stages() -> dict[tuple[int, int], dict]:
    try:
        apps = json.load(urllib.request.urlopen(f"{UI}/applications", timeout=5))
        app = apps[0]["id"]
        st = json.load(
            urllib.request.urlopen(
                f"{UI}/applications/{app}/stages?status=complete", timeout=10
            )
        )
        return {(s["stageId"], s["attemptId"]): s for s in st}
    except Exception as exc:  # noqa: BLE001 — metrics are best-effort
        print(f"# REST metrics unavailable: {exc}", file=sys.stderr)
        return {}


def measure(spark: SparkSession, label: str, fn) -> dict:
    fn()  # warm-up
    gc.collect()
    spark._jvm.System.gc()
    before = _stages()
    samples = []
    rows = 0
    for _ in range(2):
        t0 = time.perf_counter()
        rows = fn()
        samples.append(round(time.perf_counter() - t0, 2))
        gc.collect()
        spark._jvm.System.gc()
    after = _stages()
    new = [after[k] for k in after.keys() - before.keys()]
    m = {
        "sec": min(samples),
        "samples": samples,
        "rows": rows,
        # per-run figures: the two timed runs execute the same jobs
        "shuffle_write_mb": round(
            sum(s.get("shuffleWriteBytes", 0) for s in new) / 2 / (1 << 20), 1
        ),
        "shuffle_read_mb": round(
            sum(s.get("shuffleReadBytes", 0) for s in new) / 2 / (1 << 20), 1
        ),
        "spill_disk_mb": round(
            sum(s.get("diskBytesSpilled", 0) for s in new) / 2 / (1 << 20), 1
        ),
        "stages": len(new) // 2,
    }
    print(f"# {label}: {m}", file=sys.stderr)
    return m


def build_stream_events(spark: SparkSession) -> str:
    """STREAM tier input: one parquet file per replica under
    events_stream/ — replica k shifts event_id (+k*1e6) and user_id
    (+k*10_000: the KEY SPACE grows linearly with data, which is what
    per-key state scales with) and ts (+k*31 days: each replica is the
    NEXT month of traffic, so event time advances monotonically across
    batches and watermark eviction actually runs — re-delivering the same
    month REPS times would park every batch behind the first watermark).
    maxFilesPerTrigger=1 then makes each replica one microbatch: the 1x
    point is one batch (glob ev_000), the REPSx point is REPS batches."""
    out = f"{SF10X}/events_stream"
    if os.path.exists(os.path.join(out, "_done")):
        return out
    os.makedirs(out, exist_ok=True)
    e = spark.read.parquet(f"{SF1X}/events.parquet")
    for k in range(REPS):
        rep = e.select(
            (F.col("event_id") + k * 1_000_000).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {k * 31} DAYS")).alias("ts"),
            (F.col("user_id") + k * 10_000).alias("user_id"),
            "event_type", "value", "props",
        )
        tmp = f"{out}/_build"
        rep.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        os.replace(os.path.join(tmp, part), f"{out}/ev_{k:03d}.parquet")
        shutil.rmtree(tmp)
    with open(os.path.join(out, "_done"), "w") as fh:
        fh.write("ok")
    return out


def main() -> None:
    global UI
    spark = get_spark_ui()
    UI = f"{spark.sparkContext.uiWebUrl}/api/v1"
    spark.range(1000).count()
    build_10x_docs(spark)
    from gpu_mapreduce_spark.operators import graph, graph_iter, rmat
    from gpu_mapreduce_spark.registry import load_all

    tier = sys.argv[1] if len(sys.argv) > 1 else "all"
    qs = load_all()
    out: dict = {"data_ratio": REPS, "text": {}, "graph": {}}
    for name in TEXT_QUERIES if tier in ("all", "text") else []:
        fn = qs[name].fn
        out["text"][name] = {
            "1x": measure(spark, f"{name}@1x", lambda: len(fn(spark, SF1X).collect())),
            f"{REPS}x": measure(
                spark, f"{name}@{REPS}x", lambda: len(fn(spark, SF10X).collect())
            ),
        }

    def graph_suite(n_levels: int) -> dict:
        # nz·2^n_levels edges over 2^n_levels vertices: holding nz fixed and
        # raising n_levels by 3 scales edges AND vertices 8x at the SAME
        # average degree — the honest sparse-graph scale-up (raising nz
        # instead would densify a fixed vertex set)
        edges, _ = rmat.rmat_edges(spark, n_levels, 8)
        wedges = edges.select(
            "src", "dst",
            ((F.col("src") * 31 + F.col("dst")) % 97 + 1)
            .cast("bigint").alias("wu"),
        ).localCheckpoint(eager=True)
        res = {
            "edges": edges.count(),
            "pagerank": measure(
                spark, f"pagerank@L{n_levels}",
                lambda: graph_iter.pagerank(edges, num_iter=10).count(),
            ),
            "sssp": measure(
                spark, f"sssp@L{n_levels}",
                lambda: graph_iter.sssp(wedges, source=0)[0].count(),
            ),
            "luby_find": measure(
                spark, f"luby@L{n_levels}",
                lambda: graph_iter.luby_find(edges, seed=42)[0].count(),
            ),
        }
        # r10 additions. tri_count IS ktruss_decomposition's per-round
        # bill (the peel re-runs exactly this wedge-intersection recount
        # each round, rounds bounded by peeling depth) — measuring the
        # recount at 8x pins the operator's scale posture without
        # committing to an unknown peel depth on the denser generated
        # graph. betweenness is the full forward+backward K-source pass.
        canon = graph.edge_upper(edges).localCheckpoint(eager=True)
        res["tri_count"] = measure(
            spark, f"tri_count@L{n_levels}",
            lambda: len(graph.tri_count(canon).collect()),
        )
        res["betweenness_4src"] = measure(
            spark, f"betweenness@L{n_levels}",
            lambda: graph_iter.betweenness_sources(
                canon, [0, 1, 2, 3]
            )[0].count(),
        )
        edges.unpersist()
        return res

    def emb_suite(emb_path: str, n_centroids: int, label: str) -> dict:
        """IVF probe / SemDeDup candidate join / frozen-quantizer append at
        one (corpus, centroid-count) point. The index build + partitioned
        write happen OUTSIDE the timed region (the at-rest amortization
        every consumer relies on); timed costs are probe+rerank, the cell
        self-join, and the delta assign+write."""
        import tempfile

        from gpu_mapreduce_spark.operators import similarity

        # widen off the single-file input splits BEFORE the index build:
        # ivf_assign is a scan projection since r09, so without the
        # repartition its k-per-row scoring runs at input-split parallelism
        # (13 tasks for the 100x file) and one JIT-excursion task straggles
        # the untimed build for tens of minutes (the r07 deopt-storm class —
        # smaller tasks bound the excursion's blast radius)
        emb = (
            spark.read.parquet(emb_path)
            .repartition(4 * spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )
        n = emb.count()
        centroids, assigned = similarity.ivf_build(
            emb, n_centroids=n_centroids, seed=11
        )
        cells = assigned.localCheckpoint(eager=True)
        idx = tempfile.mkdtemp(prefix=f"scale_ivf_{label}_")
        cells.write.mode("overwrite").partitionBy("cid").parquet(idx)
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
        ).localCheckpoint(eager=True)
        at_rest_schema = "vec_id bigint, embedding array<float>, cid int"

        def probe() -> int:
            probes = similarity.ivf_probes(
                queries, centroids, nprobe=4
            ).localCheckpoint(eager=True)
            cids = sorted({r.cid for r in probes.select("cid").collect()})
            back = spark.read.schema(at_rest_schema).parquet(idx)
            return similarity.ivf_rerank(
                back.filter(F.col("cid").isin(cids)), probes, k=10
            ).count()

        def semdedup() -> int:
            return similarity.dup_pairs_semantic(
                emb, threshold_e6=400_000, cells=cells
            ).count()

        # frozen-quantizer append: centroids trained on existing (7/8) only,
        # delta (1/8) assigned against them + laid down as new cell files —
        # the ann_index_append steady-state step, minus the full-scan proof
        # digest (bookkeeping, not per-batch cost)
        existing = emb.filter(F.col("vec_id") % 8 != 7)
        ex_centroids, _ = similarity.ivf_build(
            existing, n_centroids=n_centroids, seed=11
        )
        delta = emb.filter(F.col("vec_id") % 8 == 7).localCheckpoint(eager=True)

        def append() -> int:
            dpath = tempfile.mkdtemp(prefix=f"scale_append_{label}_")
            da = similarity.ivf_assign(delta, ex_centroids)
            da.write.mode("overwrite").partitionBy("cid").parquet(dpath)
            cnt = spark.read.schema(at_rest_schema).parquet(dpath).count()
            shutil.rmtree(dpath, ignore_errors=True)
            return cnt

        res = {
            "n_vectors": n,
            "n_centroids": n_centroids,
            "ivf_probe": measure(spark, f"ivf_probe@{label}", probe),
            "semdedup_pairs": measure(spark, f"semdedup@{label}", semdedup),
            "index_append": measure(spark, f"append@{label}", append),
        }
        shutil.rmtree(idx, ignore_errors=True)
        return res

    if tier in ("all", "graph"):
        # restored r09: the r08 emb_suite insertion accidentally deleted
        # this dispatch, leaving `graph` runs silently empty
        out["graph"]["data_ratio"] = 8
        out["graph"]["1x"] = graph_suite(16)   # 524,288 edges / 65,536 vertices
        out["graph"]["8x"] = graph_suite(19)   # 4,194,304 edges / 524,288 vertices

    if tier in ("all", "rel"):
        # RELATIONAL tier (r09): the TPC-H fixtures scale WITH sf, so the
        # honest decade is sf0.01 -> sf0.1 (10x rows in lineitem/orders) on
        # the registered queries themselves — no synthetic replication
        # needed. Queries chosen for shape coverage: q5 (6-table join
        # cascade + broadcast dims), q21 (4-way self-join with anti/semi
        # joins), q18 (group-filter semi-join over the largest table).
        rel_q = ["q5_region_revenue", "q21_waiting_supplier", "q18_large_orders"]
        sf_small = SF1X.replace("sf0.1", "sf0.01")
        out["rel"] = {"data_ratio": 10}
        for name in rel_q:
            fn = qs[name].fn
            out["rel"][name] = {
                "1x": measure(
                    spark, f"{name}@sf0.01",
                    lambda: len(fn(spark, sf_small).collect()),
                ),
                "10x": measure(
                    spark, f"{name}@sf0.1",
                    lambda: len(fn(spark, SF1X).collect()),
                ),
            }

    if tier in ("all", "emb"):
        emb_path_10x = build_10x_embeddings(spark)
        out["emb"] = {
            "data_ratio": REPS,
            "1x": emb_suite(f"{SF1X}/embeddings.parquet", 16, "1x_k16"),
            # n_centroids ~ sqrt(N): 16 -> 16*sqrt(REPS) (50 at REPS=10)
            f"{REPS}x_sqrtN": emb_suite(
                emb_path_10x, round(16 * REPS ** 0.5), f"{REPS}x_sqrtN"
            ),
        }
        if REPS <= 10:
            # k ~ N (pair volume ~ REPS — SemDeDup's constant-cell regime):
            # affordable at the first decade only. At REPS=100 (k=1600) the
            # untimed index BUILD is N*k = 5e9 exact sims — the r08 run's
            # >40-min single-point DNF; the interesting per-point law
            # (probe ~ nprobe*N/k, pairs ~ N²/k) is already pinned by the
            # 1x/sqrtN series, so the second-decade point is extrapolation,
            # not evidence worth hours of compute
            out["emb"][f"{REPS}x_linearK"] = emb_suite(
                emb_path_10x, 16 * REPS, f"{REPS}x_linearK"
            )
        else:
            print(
                f"# emb: skipping {REPS}x_linearK (k={16 * REPS}: N*k build"
                " is the r08 DNF regime; law pinned at REPS<=10)",
                file=sys.stderr,
            )
        if REPS <= 10:
            # the quadratic tradeoff point (k frozen, pair volume ~ REPS²)
            # is only affordable at the first decade: at REPS=100 it is
            # ~2.5e9 exact sims per run by the N²/k law the 10x point
            # already measures — extrapolation is arithmetic, not evidence
            # worth an hour of compute
            out["emb"][f"{REPS}x_fixedK"] = emb_suite(
                emb_path_10x, 16, f"{REPS}x_fixedK"
            )

    if tier in ("all", "pq"):
        # PQ tier (r09): the compressed serving layout at 1x vs REPSx.
        # Codebooks are sample-trained (PQ_TRAIN-bounded), so the BUILD
        # inputs are constant-size at any corpus — the claims measured here:
        # (a) encode is one scan projection, linear in N; (b) the flat ADC
        # scan is linear in N at 32x-compressed width; (c) the composed
        # IVFPQ probe touches nprobe/k of the codes, so its wall stays
        # near-flat while the corpus grows 10x.
        import tempfile

        from gpu_mapreduce_spark.operators import similarity as sim

        emb_path_10x = build_10x_embeddings(spark)

        def pq_suite(emb_path: str, label: str) -> dict:
            emb = (
                spark.read.parquet(emb_path)
                .repartition(4 * spark.sparkContext.defaultParallelism)
                .localCheckpoint(eager=True)
            )
            n = emb.count()
            books = sim._books_rows(sim.pq_codebooks(emb))
            queries = emb.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
            ).localCheckpoint(eager=True)
            res = {"n_vectors": n}
            res["pq_encode"] = measure(
                spark, f"pq_encode@{label}",
                lambda: sim.pq_encode(emb, books).count(),
            )
            codes = sim.pq_encode(emb, books).localCheckpoint(eager=True)
            res["pq_adc_topk"] = measure(
                spark, f"pq_adc@{label}",
                lambda: sim.pq_adc_topk(codes, queries, books, k=10).count(),
            )
            # composed IVFPQ root: coarse cells + codes, cid-partitioned
            centroids, assigned = sim.ivf_build(emb, n_centroids=16, seed=11)
            root = tempfile.mkdtemp(prefix=f"scale_ivfpq_{label}_")
            (
                assigned.select("vec_id", "cid").join(codes, "vec_id")
                .write.mode("overwrite").partitionBy("cid").parquet(root)
            )
            codes_schema = "vec_id bigint, codes array<int>, cid int"

            def ivfpq_probe() -> int:
                probes = sim.ivf_probes(
                    queries, centroids, nprobe=4
                ).localCheckpoint(eager=True)
                cids = sorted({r.cid for r in probes.select("cid").collect()})
                qlut = probes.select(
                    "qid", "cid", sim.pq_lut_expr(books, "qe").alias("lut")
                )
                back = (
                    spark.read.schema(codes_schema).parquet(root)
                    .filter(F.col("cid").isin(cids))
                )
                score = F.aggregate(
                    F.zip_with(F.col("codes"), F.col("lut"),
                               lambda c, l: F.element_at(l, c)),
                    F.lit(0).cast("bigint"), lambda a, x: a + x,
                )
                from pyspark.sql import Window
                w = Window.partitionBy("qid").orderBy(
                    F.desc("score_e6"), F.asc("vec_id"))
                return (
                    back.join(F.broadcast(qlut), "cid")
                    .filter(F.col("vec_id") != F.col("qid"))
                    .select("qid", "vec_id", score.alias("score_e6"))
                    .withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") <= 10)
                    .count()
                )

            res["ivfpq_probe"] = measure(
                spark, f"ivfpq_probe@{label}", ivfpq_probe
            )
            shutil.rmtree(root, ignore_errors=True)
            return res

        out["pq"] = {
            "data_ratio": REPS,
            "1x": pq_suite(f"{SF1X}/embeddings.parquet", "1x"),
            f"{REPS}x": pq_suite(emb_path_10x, f"{REPS}x"),
        }

    if tier in ("all", "frag"):
        # AT-REST MAINTENANCE tier (r10, VERDICT r09 #6): the
        # file-count / fragmentation axis index_compaction's docstring
        # claims ("small-file proliferation kills scan throughput")
        # without a number. Swap/append/compaction are already verified
        # at three sf scales; this measures the READ-AMPLIFICATION story:
        # the same codes root scanned at 1 append cycle vs REPS append
        # cycles of delta files vs after compact_codes_root. Each append
        # cycle writes its slice of the delta cid-partitioned into the
        # shared delta root (mode=append lays NEW part files alongside,
        # exactly ann_ivfpq_append's physical layout), so cell
        # directories accumulate ~1 file per cycle — the fragmentation a
        # nightly compactor exists to undo.
        import atexit
        import tempfile

        from gpu_mapreduce_spark.operators import similarity
        from gpu_mapreduce_spark.queries.ann_append import (
            _MOD,
            _REM,
            _ivf_existing_at_rest,
        )
        from gpu_mapreduce_spark.queries.compaction import compact_codes_root
        from gpu_mapreduce_spark.queries.ivfpq_append import (
            _CODES_SCHEMA,
            _ivfpq_existing_at_rest,
            _pq_books_existing,
            inventory_agg,
        )
        from gpu_mapreduce_spark.sources.tables import table as _table

        centroids, _bp = _ivf_existing_at_rest(spark, SF1X)
        books = _pq_books_existing(spark, SF1X)
        base_root = _ivfpq_existing_at_rest(spark, SF1X)
        delta = _table(spark, SF1X, "embeddings").filter(
            F.col("vec_id") % _MOD == _REM
        )
        delta_rows = (
            similarity.pq_encode(delta, books)
            .join(
                similarity.ivf_assign(delta, centroids).select(
                    "vec_id", "cid"
                ),
                "vec_id",
            )
            .localCheckpoint(eager=True)
        )

        def _n_parquet_files(*roots: str) -> int:
            n = 0
            for root in roots:
                for dirpath, _dirs, files in os.walk(root):
                    n += sum(f.endswith(".parquet") for f in files)
            return n

        def _frag_root(cycles: int) -> str:
            path = tempfile.mkdtemp(prefix=f"frag{cycles}_")
            atexit.register(shutil.rmtree, path, ignore_errors=True)
            for c in range(cycles):
                (
                    delta_rows.filter(F.col("vec_id") % cycles == c)
                    .write.mode("append")
                    .partitionBy("cid")
                    .parquet(path)
                )
            return path

        def _scan(*roots: str):
            # the content-pinning full pass every reader pays: read the
            # whole root, aggregate the per-cell inventory (16-row output,
            # so collect forces every row and file open). Roots are read
            # separately and unioned — Spark rejects one multi-root read
            # over distinct partition directory trees.
            df = spark.read.schema(_CODES_SCHEMA).parquet(roots[0])
            for r in roots[1:]:
                df = df.unionByName(
                    spark.read.schema(_CODES_SCHEMA).parquet(r)
                )
            return lambda: len(inventory_agg(df).collect())

        frag1 = _frag_root(1)
        fragN = _frag_root(REPS)
        comp_dir = tempfile.mkdtemp(prefix="frag_compact_")
        atexit.register(shutil.rmtree, comp_dir, ignore_errors=True)
        addedN = spark.read.schema(_CODES_SCHEMA).parquet(fragN)
        compact_codes_root(spark, base_root, addedN, comp_dir)
        out["frag"] = {
            "data_ratio": REPS,
            "delta_rows": delta_rows.count(),
            "1cycle": {
                "files": _n_parquet_files(base_root, frag1),
                **measure(spark, "frag_scan@1cycle", _scan(base_root, frag1)),
            },
            f"{REPS}cycle": {
                "files": _n_parquet_files(base_root, fragN),
                **measure(
                    spark, f"frag_scan@{REPS}cycle", _scan(base_root, fragN)
                ),
            },
            "compacted": {
                "files": _n_parquet_files(comp_dir),
                **measure(spark, "frag_scan@compacted", _scan(comp_dir)),
            },
        }

    if tier in ("all", "layout"):
        # LAYOUT tier (r11, VERDICT r10 #5): the z-ordered relational
        # layout — the one registered tier without a decade row. Claims
        # under measurement: (a) the trilogy's three physical paths (full
        # rewrite / append+partial-compact / stream ingest) scale
        # ~linearly in events on the FIXED 64-cell z-grid — 10x data is
        # 10x rows per cell, cell count constant, so the repartition
        # shuffle grows linearly and the write fan-out doesn't; (b) the
        # fragmentation axis (index_compaction's protocol on the z-root):
        # REPS append cycles before compaction multiply the per-cell file
        # count, read-amplification is measured at 1 vs REPS cycles, then
        # undone by ONE partial compaction.
        import atexit
        import tempfile

        from gpu_mapreduce_spark.queries.zorder import zed_events
        from gpu_mapreduce_spark.queries.zorder_inc import (
            _MOD as _ZMOD,
            _REM as _ZREM,
            partial_compact,
        )

        def _zinv_count(*roots: str) -> int:
            # the content-pinning full pass every reader pays: union the
            # roots, aggregate the per-cell inventory (64-row output, so
            # collect forces every row and file open)
            df = spark.read.parquet(roots[0]).select(
                "event_id", F.col("zcell").cast("bigint").alias("zcell")
            )
            for r in roots[1:]:
                df = df.unionByName(
                    spark.read.parquet(r).select(
                        "event_id",
                        F.col("zcell").cast("bigint").alias("zcell"),
                    )
                )
            return len(
                df.groupBy("zcell")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.array_sort(F.collect_list("event_id")).cast(
                                "array<string>"
                            ),
                        )
                    ).alias("dg"),
                )
                .collect()
            )

        def _n_pq_files(*roots: str) -> int:
            n = 0
            for root in roots:
                for _dirpath, _dirs, files in os.walk(root):
                    n += sum(f.endswith(".parquet") for f in files)
            return n

        def layout_suite(sf_like: str, label: str) -> dict:
            zed = zed_events(spark, sf_like)
            n_events = zed.count()

            def full_rewrite() -> int:
                path = tempfile.mkdtemp(prefix=f"zscale_full_{label}_")
                (
                    zed.repartition(F.col("zcell"))
                    .write.mode("overwrite")
                    .partitionBy("zcell")
                    .parquet(path)
                )
                n = spark.read.parquet(path).count()
                shutil.rmtree(path, ignore_errors=True)
                return n

            # base at rest built OUTSIDE the timed region (the amortized
            # artifact every incremental consumer relies on)
            base_root = tempfile.mkdtemp(prefix=f"zscale_base_{label}_")
            atexit.register(shutil.rmtree, base_root, ignore_errors=True)
            (
                zed.filter(F.col("event_id") % _ZMOD != _ZREM)
                .repartition(F.col("zcell"))
                .write.mode("overwrite")
                .partitionBy("zcell")
                .parquet(base_root)
            )
            delta = (
                zed.filter(F.col("event_id") % _ZMOD == _ZREM)
                .localCheckpoint(eager=True)
            )

            def append_compact() -> int:
                out = tempfile.mkdtemp(prefix=f"zscale_inc_{label}_")
                partial_compact(spark, base_root, delta, out)
                n = spark.read.parquet(out).count()
                shutil.rmtree(out, ignore_errors=True)
                return n

            # stream source built untimed, like the registered query's
            # session-memoized fixture: 4 files -> 4 microbatches
            src_dir = tempfile.mkdtemp(prefix=f"zscale_src_{label}_")
            atexit.register(shutil.rmtree, src_dir, ignore_errors=True)
            delta.repartition(4).write.mode("overwrite").parquet(src_dir)
            zrows = "event_id bigint, au bigint, tb bigint, zcell bigint"

            def stream_ingest() -> int:
                path = tempfile.mkdtemp(prefix=f"zscale_stream_{label}_")

                def ingest(batch_df, batch_id: int) -> None:
                    batch_df.write.mode("overwrite").parquet(
                        f"{path}/ingest_{batch_id}"
                    )

                q = (
                    spark.readStream.schema(zrows)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(src_dir)
                    .writeStream.foreachBatch(ingest)
                    .trigger(availableNow=True)
                    .option("checkpointLocation", f"{path}/_chk")
                    .start()
                )
                q.awaitTermination()
                n = (
                    spark.read.schema(zrows)
                    .parquet(f"{path}/ingest_*")
                    .count()
                )
                shutil.rmtree(path, ignore_errors=True)
                return n

            return {
                "n_events": n_events,
                "full_rewrite": measure(
                    spark, f"z_full@{label}", full_rewrite
                ),
                "append_partial_compact": measure(
                    spark, f"z_inc@{label}", append_compact
                ),
                "stream_ingest": measure(
                    spark, f"z_stream@{label}", stream_ingest
                ),
            }

        layout_dir_10x = build_10x_events(spark)
        out["layout"] = {
            "data_ratio": REPS,
            "1x": layout_suite(SF1X, "1x"),
            f"{REPS}x": layout_suite(layout_dir_10x, f"{REPS}x"),
        }

        # fragmentation axis at 1x: REPS append cycles into the delta
        # root before compaction (the index_compaction protocol)
        zed1 = zed_events(spark, SF1X)
        zbase = tempfile.mkdtemp(prefix="zfrag_base_")
        atexit.register(shutil.rmtree, zbase, ignore_errors=True)
        (
            zed1.filter(F.col("event_id") % _ZMOD != _ZREM)
            .repartition(F.col("zcell"))
            .write.mode("overwrite")
            .partitionBy("zcell")
            .parquet(zbase)
        )
        zdelta = (
            zed1.filter(F.col("event_id") % _ZMOD == _ZREM)
            .localCheckpoint(eager=True)
        )

        def _zfrag_root(cycles: int) -> str:
            path = tempfile.mkdtemp(prefix=f"zfrag{cycles}_")
            atexit.register(shutil.rmtree, path, ignore_errors=True)
            for c in range(cycles):
                (
                    zdelta.filter(
                        F.expr(f"event_id div {_ZMOD}") % cycles == c
                    )
                    .write.mode("append")
                    .partitionBy("zcell")
                    .parquet(path)
                )
            return path

        zf1 = _zfrag_root(1)
        zfN = _zfrag_root(REPS)
        zcomp = tempfile.mkdtemp(prefix="zfrag_compact_")
        atexit.register(shutil.rmtree, zcomp, ignore_errors=True)
        partial_compact(
            spark,
            zbase,
            spark.read.parquet(zfN).select(
                "event_id", "au", "tb",
                F.col("zcell").cast("bigint").alias("zcell"),
            ),
            zcomp,
        )
        out["layout_frag"] = {
            "data_ratio": REPS,
            "delta_rows": zdelta.count(),
            "1cycle": {
                "files": _n_pq_files(zbase, zf1),
                **measure(
                    spark, "zfrag_scan@1cycle",
                    lambda: _zinv_count(zbase, zf1),
                ),
            },
            f"{REPS}cycle": {
                "files": _n_pq_files(zbase, zfN),
                **measure(
                    spark, f"zfrag_scan@{REPS}cycle",
                    lambda: _zinv_count(zbase, zfN),
                ),
            },
            "compacted": {
                "files": _n_pq_files(zcomp),
                **measure(
                    spark, "zfrag_scan@compacted",
                    lambda: _zinv_count(zcomp),
                ),
            },
        }

    if tier in ("all", "sketch"):
        # SKETCH-ROLLUP tier (r11): the mergeable-sketch trio's decade.
        # All three rollups fold fine-grain partials into the day grain
        # over FIXED sketch geometries (64 HLL registers, 32 histogram
        # bins, 4x16 CMS cells) — 10x events densifies the grids, so the
        # claims are: one linear fine-grain scan, fold shuffle bounded by
        # the geometry (kilobytes, data-independent), stage topology
        # invariant. Queries read only events, so the layout tier's 10x
        # events dir serves as the sf_dir.
        sketch_dir_10x = build_10x_events(spark)
        out["sketch"] = {"data_ratio": REPS}
        for name in ("hist_quantile_rollup", "cms_merge_rollup",
                     "hll_merge_rollup"):
            fn = qs[name].fn
            out["sketch"][name] = {
                "1x": measure(
                    spark, f"{name}@1x",
                    lambda: len(fn(spark, SF1X).collect()),
                ),
                f"{REPS}x": measure(
                    spark, f"{name}@{REPS}x",
                    lambda: len(fn(spark, sketch_dir_10x).collect()),
                ),
            }

    if tier in ("all", "events"):
        # EVENT-ANALYTICS tier (r12, VERDICT r11 #5): the per-user
        # order-dependent folds — sessionize_events (two stacked windows
        # on one user_id shuffle) and funnel_user_stages (chained
        # ordered stages) — at 1x, REPSx, and REPSx with a WHALE user
        # carrying ~1/REPS of ALL rows. Claims: (a) wall scales
        # ~linearly in events at even key growth; (b) the whale axis
        # measures where the uncuttable per-user task actually bends
        # (the sessionize docstring's documented cap — salting is
        # inapplicable to an order-dependent fold, honesty beats a
        # wrong trick). Timed via count(): the outputs are one row per
        # session/user (~1M rows at REPSx), so a collect would measure
        # driver-side row shipping, not the shuffle/window path under
        # test (the msf_rmat bench=False rationale).
        ev10 = build_10x_events(spark)
        evwhale = build_10x_events_whale(spark)
        out["events"] = {
            "data_ratio": REPS,
            "whale_share": f"~{WHALE_REPS}/{REPS}",
        }
        # sessionize_slabbed joined r13: the whale-safe two-stage fold —
        # its 9/10-whale point vs sessionize_events' IS the measurement
        # the slab design claims (the bend moved to stage 2's session rows)
        for name in (
            "sessionize_events",
            "sessionize_slabbed",
            "funnel_user_stages",
        ):
            fn = qs[name].fn
            out["events"][name] = {
                "1x": measure(
                    spark, f"{name}@1x", lambda: fn(spark, SF1X).count()
                ),
                f"{REPS}x": measure(
                    spark, f"{name}@{REPS}x",
                    lambda: fn(spark, ev10).count(),
                ),
                f"{REPS}x_whale": measure(
                    spark, f"{name}@{REPS}x_whale",
                    lambda: fn(spark, evwhale).count(),
                ),
            }

    if tier in ("all", "stream"):
        # STREAMING tier (r09): the fifth workload axis. Claims under
        # measurement: (a) drain wall scales ~linearly with events at a
        # fixed per-batch shape; (b) per-key state (funnel GroupState)
        # scales with DISTINCT KEYS, not stream length; (c) horizon-bounded
        # state (watermarked windows, dropDuplicatesWithinWatermark) stays
        # ~FLAT as data scales 10x, because event time advances and
        # eviction keeps only the lateness horizon — the difference between
        # a week-long pipeline and an OOM.
        from gpu_mapreduce_spark.streaming import pipeline as sp

        stream_dir = build_stream_events(spark)
        seq = {"i": 0}

        def run_stream(glob_pat, make, mode, meta_box):
            seq["i"] += 1
            name = f"s_ev_{seq['i']}"
            src = (
                spark.readStream.schema(sp.EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .option("pathGlobFilter", glob_pat)
                .parquet(stream_dir)
            )
            q = (
                make(src)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            prog = q.lastProgress or {}
            meta_box.clear()
            meta_box.update(
                batches=len(q.recentProgress),
                state_rows=sum(
                    op.get("numRowsTotal", 0)
                    for op in prog.get("stateOperators", [])
                ),
            )
            n = spark.table(name).count()
            spark.catalog.dropTempView(name)
            return n

        workloads = [
            ("funnel_stream", sp.funnel_stages_stream_buffered, "append"),
            (
                "windowed_stream",
                lambda src: sp.windowed_counts(src, with_watermark=True),
                "append",
            ),
            (
                "dedup_stream",
                lambda src: sp.dedup_events(
                    sp.with_redelivery(src), streaming=True
                ),
                "append",
            ),
        ]
        out["stream"] = {"data_ratio": REPS}
        for wname, make, mode in workloads:
            entry = {}
            for label, glob_pat in [("1x", "ev_000.parquet"), (f"{REPS}x", "ev_*.parquet")]:
                meta: dict = {}
                entry[label] = measure(
                    spark,
                    f"{wname}@{label}",
                    lambda: run_stream(glob_pat, make, mode, meta),
                )
                entry[label].update(meta)
            out["stream"][wname] = entry

    print(json.dumps(out))


if __name__ == "__main__":
    main()
