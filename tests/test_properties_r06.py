"""Property-based cross-checks (hypothesis) for the newer layers —
winnowing fingerprints, the HLL sketch, exact dedup grouping, the
two-phase global rank, and int8 quantization — against independent
pure-Python models on arbitrary small inputs. The fixture-parity suite
pins these on the driver's corpora; these pin them on adversarial shapes
(short docs, duplicate tokens, ties, all-zero vectors) the fixtures may
not produce."""

from __future__ import annotations

import hashlib
import math
import re

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gpu_mapreduce_spark.functions.hllest import M as _M, RHO_MAX as _RHO_MAX
from gpu_mapreduce_spark.functions.portable import (
    hash60,
    sql_uniform01,
    uniform01,
)
from gpu_mapreduce_spark.operators import dedup, similarity
from gpu_mapreduce_spark.operators.prefix import global_ranks_and_count
from gpu_mapreduce_spark.queries.hll import hll_registers

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

_VOCAB = ["aa", "bb", "cc", "dd", "ee"]

token_lists = st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=14)
corpora = st.lists(token_lists, min_size=1, max_size=8)


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _docs_df(spark, corpus):
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _model_winnow(toks: list[str], k: int, w: int) -> set[int]:
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [_h60(g) for g in grams]
    if not hs:
        return set()
    if len(hs) < w:
        return {min(hs)}
    return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}


@given(corpus=corpora, k=st.integers(2, 4), w=st.integers(2, 4))
@settings(**_SETTINGS)
def test_winnow_fingerprints_matches_model(spark, corpus, k, w):
    got = {
        (r.doc_id, r.fp)
        for r in dedup.winnow_fingerprints(_docs_df(spark, corpus), k=k, w=w).collect()
    }
    want = {
        (i, fp) for i, toks in enumerate(corpus) for fp in _model_winnow(toks, k, w)
    }
    assert got == want


@given(
    passage=st.lists(st.sampled_from(_VOCAB), min_size=4, max_size=8),
    pre_a=token_lists,
    post_a=token_lists,
    pre_b=token_lists,
    post_b=token_lists,
)
@settings(**_SETTINGS)
def test_winnow_shared_passage_guarantee(spark, passage, pre_a, post_a, pre_b, post_b):
    """The MOSS guarantee: any shared passage of >= w + k - 1 tokens yields
    at least one shared fingerprint (k=3, w=2 -> 4 tokens)."""
    corpus = [pre_a + passage + post_a, pre_b + passage + post_b]
    fps = dedup.winnow_fingerprints(_docs_df(spark, corpus), k=3, w=2).collect()
    by_doc: dict[int, set[int]] = {0: set(), 1: set()}
    for r in fps:
        by_doc[r.doc_id].add(r.fp)
    assert by_doc[0] & by_doc[1]


@given(corpus=corpora)
@settings(**_SETTINGS)
def test_hll_registers_match_model(spark, corpus):
    got = {r.bucket: r.reg for r in hll_registers(_docs_df(spark, corpus)).collect()}
    want: dict[int, int] = {}
    for toks in corpus:
        shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        for sh in shingles:
            h = _h60(sh)
            b, v = h % _M, h >> 6
            rho = _RHO_MAX if v == 0 else _RHO_MAX - v.bit_length()
            want[b] = max(want.get(b, 0), rho)
    assert got == want


texts = st.lists(
    st.text(alphabet=" \tAbc", min_size=0, max_size=12), min_size=1, max_size=10
)


@given(raw=texts)
@settings(**_SETTINGS)
def test_exact_groups_matches_model(spark, raw):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(raw)], "doc_id long, text string"
    )
    got = {
        r.fp: (r.keep_id, r.ndups) for r in dedup.exact_groups(df).collect()
    }
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(raw):
        norm = re.sub(r"\s+", " ", t).lower()
        groups.setdefault(norm, []).append(i)
    want = {
        hashlib.md5(norm.encode()).hexdigest(): (min(ids), len(ids))
        for norm, ids in groups.items()
    }
    assert got == want


@given(
    vals=st.lists(st.integers(-20, 20), min_size=0, max_size=40),
    p=st.integers(1, 11),
)
@settings(**_SETTINGS)
def test_global_ranks_matches_model(spark, vals, p):
    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "v int, id long")
    ranked, n = global_ranks_and_count(df, ["v", "id"], num_partitions=p)
    got = {r.id: r.rk for r in ranked.collect()}
    want = {
        i: rk + 1
        for rk, (_v, i) in enumerate(sorted(rows))
    }
    assert n == len(vals)
    assert got == want


# Valid non-surrogate text without NUL (neither engine round-trips \x00
# through a VARCHAR parameter identically); everything else — multi-byte
# unicode, combining marks, whitespace runs — must hash identically, since
# every value-hashed oracle in the repo rests on this three-way agreement.
hash_inputs = st.lists(
    st.text(max_size=40).filter(lambda t: "\x00" not in t),
    min_size=1,
    max_size=12,
)


@given(strings=hash_inputs)
@settings(**_SETTINGS)
def test_hash60_and_uniform01_triple_parity(spark, strings):
    """Spark hash60/uniform01 == DuckDB mirror == pure-Python md5 model on
    arbitrary unicode — the contract under every hash-reproducing oracle."""
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = df.select(
        hash60(F.col("s")).alias("h"), uniform01(F.col("s")).alias("u")
    ).collect()
    con = duckdb.connect()
    for s, row in zip(strings, got):
        model_h = _h60(s)
        duck_h, duck_u = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT, "
            + sql_uniform01("?"),
            [s, s],
        ).fetchone()
        assert row.h == model_h == duck_h
        assert row.u == duck_u == float((model_h >> 7) * 2.0**-53)


# Coordinates are exact 0.0 or magnitude >= 1e-3: if the vector max were a
# subnormal, scale = mx/127 underflows to exactly 0.0 while mx > 0, the
# operator correctly takes its zero-scale branch, and the <= scale/2 bound
# below is vacuously violated — a strategy flake, not an operator bug.
_coord = st.one_of(
    st.just(0.0),
    st.floats(min_value=1e-3, max_value=8.0, allow_nan=False, allow_infinity=False),
    st.floats(min_value=-8.0, max_value=-1e-3, allow_nan=False, allow_infinity=False),
)
embeddings = st.lists(
    st.lists(_coord, min_size=1, max_size=6),
    min_size=1,
    max_size=8,
)


@given(vecs=embeddings)
@settings(**_SETTINGS)
def test_quantize_int8_error_bound(spark, vecs):
    """Symmetric int8 quantization invariants: |q| <= 127, reconstruction
    error <= scale/2 (+ ulp slack), zero vectors quantize losslessly."""
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in similarity.quantize_int8(df).collect()}
    assert set(out) == {i for i, _ in rows}
    for i, v in rows:
        r = out[i]
        mx = max(abs(x) for x in v)
        assert r.n_dims == len(v)
        assert math.isclose(r.scale, mx / 127.0, rel_tol=1e-12, abs_tol=0.0)
        assert r.q_max <= 127
        if mx == 0.0:
            assert r.scale == 0.0 and r.q_max == 0 and r.max_abs_err == 0.0
        else:
            assert r.max_abs_err <= r.scale / 2 * (1 + 1e-9)
