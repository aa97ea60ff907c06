"""Known-positive checks for the PII-scrub and contamination operators —
the fixture injects PII / benchmark leakage deterministically, so the
expected hits are exact arithmetic on doc_id (not just oracle agreement,
which tests/test_parity.py already covers)."""

from __future__ import annotations

from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.sources import fixtures
from tests.conftest import SF_DIR


def test_pii_counts_match_injection_schedule(spark):
    rows = ts.pii_stats(fixtures.pii_corpus(spark, SF_DIR)).collect()
    assert rows, "empty pii corpus"
    for r in rows:
        did = r["doc_id"]
        assert r["n_emails"] == (1 if did % 3 == 0 else 0), r
        assert r["n_phones"] == (1 if did % 4 == 0 else 0), r
        assert r["n_ips"] == (1 if did % 10 == 0 else 0), r
        assert r["any_pii"] == (did % 3 == 0 or did % 4 == 0 or did % 10 == 0)


def test_pii_redaction_changes_only_pii_docs(spark):
    """Redacted fingerprint differs from the raw-text fingerprint exactly on
    docs that carry PII (md5 of the same bytes otherwise)."""
    from pyspark.sql import functions as F

    corpus = fixtures.pii_corpus(spark, SF_DIR)
    red = ts.pii_stats(corpus)
    raw = corpus.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("raw_fp")
    )
    joined = red.join(raw, "doc_id").collect()
    for r in joined:
        assert (r["redacted_fp"] != r["raw_fp"]) == r["any_pii"], r


def test_contamination_flags_benchmark_and_its_dups(spark):
    """At sf0.001 the benchmark is doc 0 alone (only multiple of 97 among 50
    docs); its injected exact dup (1000000) and near dup (2000000) must be
    flagged, and flagged docs must share >= 1 distinct 5-gram."""
    out = ts.contamination(fixtures.corpus(spark, SF_DIR)).collect()
    flagged = {r["doc_id"] for r in out if r["contaminated"]}
    assert {0, 1000000, 2000000} <= flagged
    for r in out:
        assert (r["n_contam"] > 0) == r["contaminated"]


def test_pack_sequences_invariants(spark):
    """Every doc lands in exactly one bin; a bin overflows its capacity by
    less than one straddling doc (the documented start-offset slack); bins
    within a shard are contiguous."""
    from pyspark.sql import functions as F

    from gpu_mapreduce_spark.sources.tables import table

    cap = 128  # small capacity so multi-bin shards exist even at sf0.001
    docs = table(spark, SF_DIR, "documents")
    out = ts.pack_sequences(docs, capacity=cap, shards=4).collect()
    n_docs = docs.count()
    assert sum(r["n_docs"] for r in out) == n_docs
    max_len = docs.select(
        F.max(F.size(ts.tokens(F.col("text"))))
    ).collect()[0][0]
    for r in out:
        assert r["bin_tokens"] < cap + max_len, r
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["bin"])
    for shard, bins in by_shard.items():
        assert sorted(bins) == list(range(len(bins))), (shard, sorted(bins))


def test_contamination_bloom_prunes_and_matches(spark):
    """The Bloom prefilter must (a) reproduce the set-broadcast path's
    exact result and (b) actually prune: with 16384 bits, K=4 and a small
    benchmark set, the false-positive rate is tiny, so the survivor stream
    must be a small fraction of the gram stream."""
    from pyspark.sql import functions as F

    from gpu_mapreduce_spark.operators import textstats as ts
    from gpu_mapreduce_spark.sources.tables import widen
    from gpu_mapreduce_spark.sources import fixtures
    from tests.conftest import SF_DIR

    from gpu_mapreduce_spark.functions.portable import hash60

    corpus = widen(fixtures.corpus(spark, SF_DIR))
    exact = sorted(map(tuple, ts.contamination(corpus).collect()))
    bloom = sorted(map(tuple, ts.contamination_bloom(corpus).collect()))
    # string-keyed and hash-keyed reports agree (no 60-bit collisions in
    # the fixture; a collision would fail here loudly)
    assert bloom == exact
    # pruning: run the probe directly and measure the false-positive mass
    t = ts.tokens(F.col("text"))
    grams = corpus.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.transform(ts._ngrams(t, 5), hash60))
        ).alias("h"),
    ).localCheckpoint(eager=True)
    bench = (
        grams.filter((F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 1_000_000))
        .select("h")
        .distinct()
    )
    survivors = ts.bloom_probe(grams, ts.bloom_build(bench))
    total, kept = grams.count(), survivors.count()
    true_hits = sum(r[1] for r in exact)
    assert kept >= true_hits, "Bloom must have no false negatives"
    # FP mass: survivors beyond the true hits must be a small fraction of
    # the clean stream (16384 bits / K=4 / small bench set -> low FP rate)
    assert (kept - true_hits) <= 0.15 * (total - true_hits), (
        kept,
        true_hits,
        total,
    )


def test_bloom_probe_matches_python_model(spark):
    """Pin the packed-word probe's bit arithmetic (two's-complement fold of
    word 255, shift-0 reads of a negative word, div/mod indexing) against a
    pure-Python model over adversarial keys: bit 0, bit 63 of a word, bit
    16383 (the last bit of the last word), all-bits keys, and a spread of
    md5-like values."""
    from pyspark.sql import functions as F

    # bits chosen to exercise word boundaries; key j's probe bits are the
    # four 14-bit slices of the key itself (operators/textstats.BLOOM_K=4)
    keys = [
        0,                      # all four slices -> bit 0 (word 0, shift 0)
        63,                     # bit 63: top bit of word 0 (negative word)
        16383,                  # last bit of word 255 via slice 0
        16383 << 14,            # last bit via slice 1
        (1 << 60) - 1,          # every slice = 16383
        0x0123456789ABCDE,      # spread
        0xFEDCBA987654321 % (1 << 60),
        (16384 + 1) * ((1 << 60) // 16385),
    ]
    import random

    rng = random.Random(7)
    keys += [rng.getrandbits(60) for _ in range(40)]
    # a bit string with structure at the boundaries the fold can get wrong
    bits = ["0"] * ts.BLOOM_BITS
    bits[0] = bits[63] = bits[16383] = bits[8191] = bits[8192] = "1"
    for i in rng.sample(range(ts.BLOOM_BITS), 4000):
        bits[i] = "1"
    bstr = "".join(bits)

    def model_keep(h: int) -> bool:
        return all(
            bstr[(h >> (14 * j)) % ts.BLOOM_BITS] == "1"
            for j in range(ts.BLOOM_K)
        )

    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "doc_id bigint, h bigint"
    )
    got = {r.h for r in ts.bloom_probe(df, bstr).collect()}
    want = {k for k in keys if model_keep(k)}
    assert got == want
    assert want, "model must keep at least one adversarial key"
    assert len(want) < len(set(keys)), "model must also reject some"
