"""Deduplication operators for the training-data pipeline layer (builder
brief "beyond-reference" §dedup; no reference analog — the closest shapes are
`cull` (oink/reduce_cull.cpp, exact duplicate removal) and the wordfreq
tokenizer).

Four tiers, all shuffle-bounded (NEVER all-pairs):

  exact_groups       md5-of-normal-form groupBy — one shuffle.
  jaccard_pairs      word-shingle Jaccard >= t via PREFIX FILTERING
                     (Chaudhuri et al.): order shingles by global rarity;
                     any pair with J >= t must share a token in each other's
                     rarity-prefix, so candidate generation is an equi-join
                     on prefix shingles. Complete (no missed pairs), unlike
                     naive rare-token blocking.
  minhash_lsh_pairs  MinHash signatures (xxhash64 permutations) banded into
                     buckets; candidates = same-bucket pairs; survivors
                     verified with exact Jaccard. Probabilistic recall
                     (1-(1-t^r)^b), tunable; the 100-TB default path.
  simhash_pairs      64-bit SimHash; Hamming <= k via 4x16-bit band
                     pigeonhole (complete for k <= 3); verified with
                     bit_count(xor).

Scale notes: every stage is an equi-join or groupBy on shingle/band/pair
keys — shuffle volume is O(sum of shingles + candidates), and candidate
counts are controlled by prefix length / band width, not corpus size^2.
Verification joins ship only (doc_id, shingle) pairs for candidate docs.
All hashing is engine-deterministic column expressions — xxhash64 where the
hash is internal machinery (MinHash permutations: the oracle checks the
verified OUTPUT against the exact pair set, not the signatures), md5-derived
where the hash defines the result (SimHash: the oracle recomputes the same
signature in SQL). No Python in any row path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gpu_mapreduce_spark.operators.textstats import tokens
from gpu_mapreduce_spark.sources.tables import widen


def _norm(text: Column) -> Column:
    return F.lower(F.regexp_replace(text, r"\s+", " "))


def exact_groups(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content fingerprint; canonical survivor = min
    doc_id (the `cull` shape with an explicit survivor rule). Output one row
    per distinct content: (fp, keep_id, ndups)."""
    return (
        corpus.select("doc_id", F.md5(_norm(F.col(text_col)).cast("binary")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("ndups"))
    )


def canonical_by_score(members: DataFrame, scores: DataFrame) -> DataFrame:
    """Cluster-representative selection by QUALITY, not id (SCALE.md r09
    design 2, staged ahead of registration): given near-dup cluster
    membership (cluster, doc_id) and a per-doc integer score table
    (doc_id, score_u — e.g. textstats.classifier_scores), the survivor
    per cluster is the highest-scoring member, ties to the LOWEST doc_id
    — the "keep the best copy" rule production pipelines apply after
    near-dup clustering, where members genuinely differ (exact-dup
    clusters normalize to identical tokens, making score selection
    vacuous there; exact_groups keeps its min-id rule).

    One equi-join + one packed-struct MAX aggregate (no window): output
    (cluster, survivor_id, best_score_u, n_members). 100 TB: both inputs
    are narrow at-rest tables (cluster map, score tier); the join and the
    cluster-keyed aggregate are the only shuffles."""
    j = members.join(scores, "doc_id")
    return (
        j.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max(
                F.struct(
                    F.col("score_u"), (-F.col("doc_id")).alias("nid")
                )
            ).alias("m"),
        )
        .select(
            "cluster",
            (-F.col("m.nid")).cast("bigint").alias("survivor_id"),
            F.col("m.score_u").alias("best_score_u"),
            "n_members",
        )
    )


def shingle_array(text_col: str = "text", k: int = 3) -> Column:
    """Distinct word k-gram shingles of one document as an array column.

    Built by zipping k shifted slices of the token array (k-1 zip_with
    passes, all O(n) array ops) rather than per-position slice+concat —
    the per-shingle array allocation of the naive form made it ~4x
    slower at 350k shingles."""
    toks = tokens(F.col(text_col))
    m = F.size(toks) - (k - 1)  # number of shingles
    acc = F.slice(toks, k, m)
    for j in range(k - 1, 0, -1):
        acc = F.zip_with(
            F.slice(toks, j, m), acc, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.array_distinct(F.when(m >= 1, acc).otherwise(F.array()))


def shingle_set(corpus: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct word k-gram shingles per doc, exploded: (doc_id, sh)."""
    return corpus.select(
        "doc_id", F.explode(shingle_array(text_col, k)).alias("sh")
    )


def _verified_jaccard(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (a < b): join each
    pair's shingle sets, count the overlap, keep J >= threshold."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("a"), "sh")
    sb = sh.select(F.col("doc_id").alias("b"), "sh")
    common = (
        cand.join(sa, "a").join(sb, ["b", "sh"]).groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("inter")
        )
    )
    na = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    return (
        common.join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            (
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


def jaccard_pairs(
    corpus: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    split_id: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All pairs (a < b) with shingle-Jaccard >= threshold, via prefix
    filtering: shingles ordered globally by (frequency, shingle); a doc with
    n shingles exposes only its first n - ceil(t*n) + 1 rarest as join keys.
    If J(A,B) >= t the pair is guaranteed to collide on some exposed shingle
    (pigeonhole on the shared global order), so candidate generation is
    complete while hot (frequent) shingles never become join keys.

    `split_id` switches to CROSS-SET mode (incremental dedup): only pairs
    with a < split_id <= b are generated — the restriction is applied at
    the candidate join itself, so within-set pairs never materialize (at
    scale the delta batch is tiny next to the corpus, and this keeps
    candidate volume proportional to the delta).

    `shingles` injects a prebuilt (doc_id, sh) index — SCALE.md names the
    corpus-side shingle index as the reusable at-rest artifact of
    incremental dedup, and callers that run per batch (queries/
    dedup_incremental.py session-memoizes it via fixtures.derived) must
    not rebuild and re-checkpoint it on every invocation.

    CONTRACT (ADVICE r04): when `shingles` is given, `corpus` is IGNORED
    entirely — the index is the input. The caller owns consistency: the
    injected index must have been built by shingle_set over the intended
    corpus with the same `k` and normalization, or the returned pairs are
    silently wrong (there is no cheap way to validate an index against a
    corpus without rebuilding it, which would defeat the injection)."""
    if shingles is None:
        # widen before shingling: a small parquet corpus arrives in 2-3
        # input splits, which would strand the compute-bound shingle build
        # AND every post-checkpoint hash pass on as many cores (SCALE.md
        # checkpoint hygiene)
        shingles = shingle_set(widen(corpus), k).localCheckpoint(eager=True)
    sh = shingles
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("f"))
    ordered = (
        sh.join(freq, "sh")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("f", "sh"))).alias("arr"))
    )
    prefix = ordered.select(
        "doc_id",
        F.explode(
            F.slice(
                F.col("arr"),
                1,
                F.size("arr")
                - F.ceil(F.size("arr") * F.lit(threshold)).cast("int")
                + 1,
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.sh").alias("sh"))
    pa = prefix.select(F.col("doc_id").alias("a"), "sh")
    pb = prefix.select(F.col("doc_id").alias("b"), "sh")
    if split_id is None:
        pair_cond = F.col("a") < F.col("b")
    else:
        pair_cond = (F.col("a") < split_id) & (F.col("b") >= split_id)
    cand = (
        pa.join(pb, "sh")
        .filter(pair_cond)
        .select("a", "b")
        .distinct()
    )
    return _verified_jaccard(cand, sh, threshold)


def incremental_status(
    corpus: DataFrame,
    split_id: int = 1_000_000,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup: classify each NEW-batch document (doc_id >=
    split_id) against the EXISTING corpus (doc_id < split_id) — the shape a
    continuously-ingesting pipeline runs per batch, where re-deduping the
    whole corpus would be quadratic over time.

    Tiers (first match wins): 'exact' — content fingerprint already present
    in the existing corpus; 'near' — shingle-Jaccard >= threshold against
    some existing doc (COMPLETE prefix-filter candidates in cross-set mode,
    so there is no recall residue for the oracle to miss); 'novel' —
    neither. matched_id = the minimal matching existing doc (-1 for
    novel). Scale: the exact tier is one fp equi-join; the near tier's
    candidate volume is proportional to the delta batch, never the corpus."""
    existing = corpus.filter(F.col("doc_id") < split_id)
    delta = corpus.filter(F.col("doc_id") >= split_id)
    efp = (
        existing.select(
            F.md5(_norm(F.col("text")).cast("binary")).alias("fp"), "doc_id"
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("exact_match"))
    )
    dfp = delta.select(
        "doc_id", F.md5(_norm(F.col("text")).cast("binary")).alias("fp")
    )
    near = (
        jaccard_pairs(corpus, threshold, split_id=split_id, shingles=shingles)
        .groupBy(F.col("b").alias("doc_id"))
        .agg(F.min("a").alias("near_match"))
    )
    return (
        dfp.join(efp, "fp", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("exact"))
            .when(F.col("near_match").isNotNull(), F.lit("near"))
            .otherwise(F.lit("novel"))
            .alias("status"),
            # -1 sentinel, not NULL: a nullable BIGINT degrades to float64 in
            # pandas on the oracle side (NaN forces the cast), which the
            # driver's float normalization would then format as a string
            F.coalesce("exact_match", "near_match", F.lit(-1))
            .cast("bigint")
            .alias("matched_id"),
        )
    )


def minhash_band_entries(
    docs: DataFrame,
    bands: int = 16,
    rows: int = 2,
    seed: int = 42,
    checkpoint_sig: bool = False,
) -> DataFrame:
    """LSH bucket entries (doc_id, band, bh) from a (doc_id, shs) table:
    bands*rows MinHash permutations h_i(sh) = xxhash64(seed, i, sh), each
    min-reduced IN-ROW over the per-doc distinct-shingle array (no explode,
    no wide-aggregate shuffle), then each band's `rows` signature slots
    hashed into one bucket key. Shared by minhash_lsh_pairs (self-join both
    sides) and the at-rest LSH index (existing corpus's entries persisted
    once, probed by delta batches). `checkpoint_sig` eagerly materializes
    the signature projection — set it when the result is read more than
    once (minhash_lsh_pairs' band self-join reads both sides, and
    re-deriving 32 array_min passes per read is the dominant cost); the
    single-consumer sites (index write, delta probe) leave it off, where
    the materialization would be a pure extra write+read per run (review
    note r06)."""
    nperm = bands * rows

    # Both projections are built as PARSED SQL text, one py4j call per
    # column instead of ~8 gateway round-trips per permutation/band (the
    # Column-object form cost ~1.0 s of pure driver time per call — r14
    # cProfile of dedup_minhash_lsh). The SQL resolves to the identical
    # Catalyst tree: integer literals parse as INT exactly like F.lit(int),
    # so every xxhash64 input — and therefore every signature — is
    # bit-identical. (Single-arg lambda only, as before: a 2-arg transform
    # lambda would be called as (element, array_index) and shadow the
    # permutation number.)
    sig = docs.select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(shs, s -> xxhash64({seed}, {i}, s)))"
            ).alias(f"m{i}")
            for i in range(nperm)
        ],
    )
    if checkpoint_sig:
        sig = sig.localCheckpoint(eager=True)
    entries = ",".join(
        "named_struct('band', {}, 'bh', xxhash64({}))".format(
            bi, ",".join(f"m{bi * rows + ri}" for ri in range(rows))
        )
        for bi in range(bands)
    )
    return sig.select(
        "doc_id", F.expr(f"explode(array({entries}))").alias("e")
    ).select("doc_id", "e.band", "e.bh")


def minhash_lsh_pairs(
    corpus: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    bands: int = 16,
    rows: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via MinHash + banded LSH, verified with exact Jaccard.

    Signature: bands*rows permutations h_i(sh) = xxhash64(seed, i, sh), each
    min-reduced per doc (one groupBy). Band key = hash of its `rows`
    signature slots; same-band docs become candidates. With b=16, r=2 a pair
    at J=0.8 collides with p = 1-(1-0.8^2)^16 ≈ 1-1e-7; verification then
    removes false positives, so output ⊆ jaccard_pairs with near-1 recall.
    This is the scale path: signature cost is linear in shingle count and
    bucket joins never touch non-colliding docs.

    Physical shape (second iteration): the whole signature is computed
    IN-ROW — `array_min(transform(shingles, h_i))` per permutation over the
    per-doc distinct-shingle array — so there is NO explode and NO
    wide-aggregate shuffle at all; the first shuffle anywhere is the
    band-bucket self-join, whose input is bands rows/doc. Verification joins
    the (small, banding-bounded) candidate pair list back to the per-doc
    shingle arrays and intersects arrays in-row. Measured at sf0.1: 2.4 s
    (explode + 32-min groupBy + exploded-shingle verify join) -> ~1.6 s,
    with the residual dominated by the unavoidable shingle build itself."""
    nperm = bands * rows
    # widen before shingling: a small parquet corpus arrives in 2-3 input
    # splits, which would strand the compute-bound shingle build AND every
    # post-checkpoint hash pass on as many cores (SCALE.md checkpoint hygiene)
    corpus = widen(corpus)
    # materialize the shingle arrays FIRST and derive everything downstream
    # from the stored column: every later expression that names `shs` inline
    # would re-evaluate the whole tokenize+zip_with build per use (no
    # subexpression elimination across filter/project boundaries — a
    # filter(size(shs)>0) on the unmaterialized column alone measured 3x the
    # shingle-pass cost, and 32 transforms would be 33x). The empty-doc
    # filter runs after the checkpoint, where size() is an O(1) lookup.
    docs = (
        corpus.select("doc_id", shingle_array(text_col="text", k=k).alias("shs"))
        .localCheckpoint(eager=True)
        .filter(F.size("shs") > 0)
    )

    band_entries = minhash_band_entries(
        docs, bands=bands, rows=rows, seed=seed, checkpoint_sig=True
    )
    ba = band_entries.select(F.col("doc_id").alias("a"), "band", "bh")
    bb = band_entries.select(F.col("doc_id").alias("b"), "band", "bh")
    cand = (
        ba.join(bb, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # verification: candidate pairs are banding-bounded (<< |docs|), so
    # broadcast them and intersect the two shingle arrays in-row — the doc
    # arrays never shuffle. At cluster scale AQE would make the same call
    # from the runtime size of `cand`.
    da = docs.select(F.col("doc_id").alias("a"), F.col("shs").alias("sha"))
    db = docs.select(F.col("doc_id").alias("b"), F.col("shs").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    return (
        # bcast-audit: bounded (banding-bounded candidate set)
        da.join(F.broadcast(cand), "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            (
                inter
                / (F.size("sha") + F.size("shb") - inter).cast("double")
            ).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


SIMHASH_BITS = 64
_SIMHASH_BANDS = 4  # 4 x 16-bit bands: complete for hamming distance <= 3


def simhash_sigs(corpus: DataFrame, seed: int = 7, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc: per-bit majority vote over a portable
    md5-derived hash of each distinct token. Two packed 60-bit longs per
    token (md5 hex chars 1-15 and 16-30 via conv; md5, not xxhash64, so
    DuckDB reproduces the identical signature with
    ('0x'||substr(md5(s),1,15))::BIGINT — only the low 32 of each are used),
    then ONE partial-aggregated groupBy with 64 codegen bit-count sums.
    Output: (doc_id, sig BIGINT, b0..b3 16-bit band values).

    Physical shape (third iteration): explode + hash + sum beats the
    previous shuffle-free in-row array fold by ~8x cold. The fold built a
    64-element bit array per token inside F.aggregate — 64 shift exprs each
    duplicating the md5 subtree, a Catalyst tree so large that ANALYSIS +
    CODEGEN alone took ~14 s, and higher-order-function lambdas evaluate
    interpreted per element anyway. Here the md5 runs once per token and the
    64 sums are plain whole-stage-codegen aggregates; the shuffle this
    reintroduces carries only the partial-aggregate rows — at most
    65 longs x touched-partitions per doc, independent of token count — the
    cheapest kind of shuffle there is at 100 TB.

    Bit positions are Python-loop-unrolled (shiftleft/shiftrightunsigned
    take literal shift amounts only)."""
    toks = F.array_distinct(tokens(F.col(text_col)))
    tok = corpus.select("doc_id", F.explode(toks).alias("t"))
    m = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("t")))
    th = tok.select(
        "doc_id",
        F.conv(F.substring(m, 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(m, 16, 15), 16, 10).cast("long").alias("h2"),
    )
    # per-bit aggregates and the majority packs are parsed SQL text —
    # one py4j call per column instead of ~6 per bit (r14; the loops
    # otherwise cost ~1,200 gateway round-trips of driver time per call)
    aggs = [F.count(F.lit(1)).alias("n")]
    for b in range(SIMHASH_BITS):
        src, sh = ("h1", b) if b < 32 else ("h2", b - 32)
        aggs.append(
            F.expr(f"sum(shiftrightunsigned({src}, {sh}) & 1)").alias(
                f"s{b}"
            )
        )
    votes = th.groupBy("doc_id").agg(*aggs)

    def _pack(offset: int, width: int) -> Column:
        # bit b set iff the +1/-1 majority vote is positive: 2*sum_b > n
        terms = " | ".join(
            f"shiftleft(CAST(s{offset + p} * 2 > n AS BIGINT), {p})"
            for p in range(width)
        )
        return F.expr(f"CAST(({terms}) AS BIGINT)")

    sigs = votes.select(
        "doc_id",
        _pack(0, SIMHASH_BITS).alias("sig"),
        *[_pack(bi * 16, 16).alias(f"b{bi}") for bi in range(_SIMHASH_BANDS)],
    )
    # token-less docs emit no exploded rows: restore them with sig = 0
    zero = F.lit(0).cast("long")
    return corpus.select("doc_id").join(sigs, "doc_id", "left").select(
        "doc_id",
        F.coalesce("sig", zero).alias("sig"),
        *[F.coalesce(f"b{bi}", zero).alias(f"b{bi}") for bi in range(_SIMHASH_BANDS)],
    )


def simhash_pairs(
    corpus: DataFrame, max_dist: int = 3, seed: int = 7
) -> DataFrame:
    """All pairs (a < b) with SimHash Hamming distance <= max_dist (<= 3):
    with 4 disjoint 16-bit bands, any pair within distance 3 agrees exactly
    on >= 1 band (pigeonhole) — so same-band equality is a COMPLETE candidate
    generator, verified by bit_count(a XOR b)."""
    sigs = simhash_sigs(corpus, seed).localCheckpoint(eager=True)
    entries = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band"), F.col(f"b{bi}").alias("bv"))
                    for bi in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bv")
    ea = entries.select(F.col("doc_id").alias("a"), "band", "bv")
    eb = entries.select(F.col("doc_id").alias("b"), "band", "bv")
    cand = (
        ea.join(eb, ["band", "bv"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("siga"))
    sb = sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("sigb"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.bit_count(F.col("siga").bitwiseXOR(F.col("sigb"))).alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def winnow_fingerprints(
    corpus: DataFrame, k: int = 5, w: int = 4, text_col: str = "text"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    algorithm): hash every word k-gram, slide a w-wide window over the hash
    sequence, keep each window's MINIMUM — the classic local fingerprinting
    guarantee that any shared passage of >= w + k - 1 tokens between two
    documents yields at least one shared fingerprint, while only ~1/w of
    the grams are ever emitted. The PASSAGE-level dedup tier between
    doc-level MinHash (whole-doc similarity) and exact substring dedup
    (suffix-array cost): it catches a copied paragraph inside an otherwise
    novel document, which no whole-doc Jaccard threshold will.

    Pure array expressions (transform/sequence/slice/array_min), zero
    Python, one scan. The gram hash is the portable md5-hex-slice form so
    a SQL oracle assigns IDENTICAL fingerprints (the luby_find discipline).
    Output: (doc_id, fp) — DISTINCT fingerprints per doc. Docs with fewer
    than k tokens emit nothing; docs with fewer than w grams emit their
    single whole-doc minimum."""
    from gpu_mapreduce_spark.operators.textstats import _ngrams

    toks = tokens(F.col(text_col))
    grams = _ngrams(toks, k)
    # The hash array MUST be materialized as its own projection before the
    # window pass: spliced directly into the window lambda it is re-codegen'd
    # PER WINDOW (the lambda body re-evaluates every md5 for every window —
    # O(grams x windows) per doc, measured 62 s vs 2 s at sf0.01). As a
    # multiply-referenced non-trivial alias, CollapseProject keeps it a real
    # attribute and each window's slice is an O(w) array read.
    hashed = corpus.select(
        "doc_id",
        F.transform(
            grams,
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast(
                "long"
            ),
        ).alias("hs"),
    )
    h = F.col("hs")
    nwin = F.size(h) - (w - 1)
    fps = (
        F.when(
            nwin >= 1,
            F.transform(
                F.sequence(F.lit(1), nwin),
                lambda i: F.array_min(F.slice(h, i, w)),
            ),
        )
        .when(F.size(h) >= 1, F.array(F.array_min(h)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return hashed.select(
        "doc_id", F.explode(F.array_distinct(fps)).alias("fp")
    )


def passage_dup_pairs(
    corpus: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int = 64,
) -> DataFrame:
    """Passage-duplicate candidate pairs: docs sharing >= min_shared
    winnowing fingerprints, after dropping BOILERPLATE fingerprints that
    appear in more than max_fp_freq documents (licence headers, navigation
    chrome — the same hot-key exclusion as jaccard's prefix filter: a
    fingerprint shared by thousands of docs identifies boilerplate, not
    copying, and would otherwise be a quadratic hot join key). Candidate
    generation is an equi-join on the surviving fingerprint keys — volume
    is sum over fps of freq^2 with freq <= max_fp_freq, never corpus^2.
    Output: (a, b, shared_fps) with a < b."""
    fp = winnow_fingerprints(corpus, k, w)
    freq = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("f"))
    keep = fp.join(
        freq.filter(F.col("f") <= max_fp_freq).select("fp"), "fp"
    )
    fa = keep.select(F.col("doc_id").alias("a"), "fp")
    fb = keep.select(F.col("doc_id").alias("b"), "fp")
    return (
        fa.join(fb, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
