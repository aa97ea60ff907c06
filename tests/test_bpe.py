"""operators/bpe vs a pure-Python BPE model (the model-based discipline of
tests/test_properties_*): same overlapping pair counts, same greedy
left-to-right non-overlapping merge, same (cnt DESC, a, b) tie-break —
exact equality on merges and per-doc token counts."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gpu_mapreduce_spark.operators import bpe


def model_bpe(docs: dict[int, str], k: int):
    docw: Counter = Counter()
    for d, t in docs.items():
        for w in re.findall(bpe.WORD_RE, t.lower()):
            docw[(d, w)] += 1
    weight: dict[str, int] = {}
    for (_, w), n in docw.items():
        weight[w] = weight.get(w, 0) + n
    state = {w: list(w) for w in weight}
    merges = []
    for step in range(1, k + 1):
        pc: Counter = Counter()
        for w, sy in state.items():
            for i in range(len(sy) - 1):
                pc[(sy[i], sy[i + 1])] += weight[w]
        if not pc:  # capacity exhausted: stop with the merges found so far
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, cnt))
        for w, sy in state.items():
            out: list = []
            for x in sy:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            state[w] = out
    doc_counts: dict[int, int] = {}
    for (d, w), n in docw.items():
        doc_counts[d] = doc_counts.get(d, 0) + n * len(state[w])
    return merges, doc_counts


def _run_case(spark, docs: dict[int, str], k: int):
    df = spark.createDataFrame(
        list(docs.items()), "doc_id bigint, text string"
    )
    merges, words, docw = bpe.bpe_train(spark, df, k)
    got_docs = {
        r.doc_id: r.cnt for r in bpe.doc_token_counts(docw, words).collect()
    }
    want_merges, want_docs = model_bpe(docs, k)
    assert merges == want_merges
    assert got_docs == want_docs


def test_bpe_overlap_and_ties(spark):
    """'aaaa' under pair (a,a) must merge to [aa, aa] (greedy non-overlap),
    while the pair COUNT for aaaa is 3 (overlapping) — the two places naive
    implementations diverge; plus count ties resolved by (a, b)."""
    _run_case(
        spark,
        {
            0: "aaaa aaaa baa",
            1: "abab aab AAAA",  # lowercased -> aaaa again
            2: "xy xy xy zz zz q",
        },
        k=4,
    )


def test_bpe_multichar_merge_chain(spark):
    """Later rounds must merge multi-char symbols (ab+c, then abc+d…) and
    words reduced to one symbol must stop contributing pairs."""
    _run_case(
        spark,
        {
            0: "abcd abcd abcd ab",
            1: "abc abcd cd cd",
            2: "d c b a0 9z",
        },
        k=5,
    )


# small random corpora over a 3-char alphabet: maximal merge collisions,
# tie-breaks, single-char words, and words that fully merge within k rounds
_word = st.text(alphabet="ab1", min_size=1, max_size=5)
_doc = st.lists(_word, min_size=1, max_size=8).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=5)


@given(docs=_corpus, k=st.integers(min_value=1, max_value=3))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow, HealthCheck.function_scoped_fixture,
    ],
)
def test_bpe_matches_model_on_random_corpora(spark, docs, k):
    """Random tiny corpora over {a, b, 1}: merges and per-doc counts must
    equal the pure-Python model for every draw — including rounds where a
    word collapses to one symbol and stops contributing pairs, and corpora
    whose merge capacity is below k (both sides stop early with the merges
    found so far — the r08 ADVICE graceful-exhaustion contract)."""
    mapping = {i: t for i, t in enumerate(docs)}
    want_merges, want_docs = model_bpe(mapping, k)
    df = spark.createDataFrame(
        list(mapping.items()), "doc_id bigint, text string"
    )
    merges, words, docw = bpe.bpe_train(spark, df, k)
    got_docs = {
        r.doc_id: r.cnt for r in bpe.doc_token_counts(docw, words).collect()
    }
    assert merges == want_merges
    assert got_docs == want_docs


def test_bpe_exhausted_corpus_stops_gracefully(spark):
    """k above the corpus's merge capacity must stop with the merges found
    so far (not raise): the oracle's LEFT-JOIN rounds degrade to identity
    rewrites, so both sides report the same truncated merge table."""
    df = spark.createDataFrame([(0, "ab ab")], "doc_id bigint, text string")
    # round 1 merges ab fully; round 2 finds no pairs and stops
    merges, words, docw = bpe.bpe_train(spark, df, k=2)
    assert merges == [(1, "a", "b", 2)]
    assert [r.s for r in words.collect()] == [" ab"]
    got = {r.doc_id: r.cnt for r in bpe.doc_token_counts(docw, words).collect()}
    assert got == {0: 2}


def model_encode(docs: dict[int, str], merges):
    """Pure-Python apply: same greedy fold per word, digest over the
    ' '+symbol state strings in word order."""
    import hashlib

    out = {}
    for d, t in docs.items():
        states = []
        for w in re.findall(bpe.WORD_RE, t.lower()):
            sy = list(w)
            for a, b in merges:
                folded: list = []
                for x in sy:
                    if folded and folded[-1] == a and x == b:
                        folded[-1] = a + b
                    else:
                        folded.append(x)
                sy = folded
            states.append("".join(" " + s for s in sy))
        if states:
            out[d] = (
                sum(s.count(" ") for s in states),
                hashlib.md5("".join(states).encode()).hexdigest(),
            )
    return out


def test_bpe_oracle_degrades_with_exhausted_corpus(spark):
    """Query-level contract for the graceful stop: on a corpus whose merge
    capacity is below K_MERGES, the registered bpe_merge_steps Spark path
    and its DuckDB oracle (LEFT-JOIN rounds) must STILL agree — truncated
    merge table, unchanged per-doc counts — instead of diverging into a
    job failure vs empty CTEs (r08 ADVICE)."""
    import duckdb

    from gpu_mapreduce_spark.queries.bpe import _bpe_oracle

    docs = {0: "ab ab ba", 1: "ab b a"}  # capacity 2 < K_MERGES = 8
    df = spark.createDataFrame(list(docs.items()), "doc_id bigint, text string")
    merges, words, docw = bpe.bpe_train(spark, df, bpe.K_MERGES)
    assert 0 < len(merges) < bpe.K_MERGES
    spark_rows = {("merge", s, a + b, c) for (s, a, b, c) in merges} | {
        ("doc", r.doc_id, "", r.cnt)
        for r in bpe.doc_token_counts(docw, words).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(docs.items()))
    want = {tuple(r) for r in con.sql(_bpe_oracle(bpe.K_MERGES)).fetchall()}
    con.close()
    assert spark_rows == want


def test_encode_with_merges_matches_model_and_training_counts(spark):
    """Applying the trained merges must reproduce (a) the pure-Python
    per-doc encoding exactly (count + order-faithful digest) and (b) the
    training loop's own doc_token_counts — train and apply agree."""
    docs = {
        0: "abab abab cc abc",
        1: "aaaa ab a b",
        2: "xyz zz zz ab1 1ab",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id bigint, text string")
    merges4, words, docw = bpe.bpe_train(spark, df, 4)
    merges = [(a, b) for (_, a, b, _) in merges4]
    got = {
        r.doc_id: (r.n_tokens_bpe, r.tokens_digest)
        for r in bpe.encode_with_merges(df, merges).collect()
    }
    assert got == model_encode(docs, merges)
    train_counts = {
        r.doc_id: r.cnt for r in bpe.doc_token_counts(docw, words).collect()
    }
    assert {d: c for d, (c, _) in got.items()} == train_counts


def test_fertility_units_matches_model(spark):
    """fertility_units must agree with the pure-Python encode model:
    n_words = token count, n_tokens_bpe = encode length, fert_u the exact
    fixed-point division; token-less docs emit nothing."""
    docs = {0: "abab abab cc", 1: "a", 2: "...", 3: "aaaa bb aaaa"}
    df = spark.createDataFrame(list(docs.items()), "doc_id bigint, text string")
    merges4, _w, _d = bpe.bpe_train(spark, df, 3)
    merges = [(a, b) for (_, a, b, _) in merges4]
    enc = model_encode(docs, merges)
    want = {}
    for d, t in docs.items():
        words = re.findall(bpe.WORD_RE, t.lower())
        if words:
            n_tok = enc[d][0]
            want[d] = (len(words), n_tok, (10000 * n_tok) // len(words))
    got = {
        r.doc_id: (r.n_words, r.n_tokens_bpe, r.fert_u)
        for r in bpe.fertility_units(df, merges).collect()
    }
    assert got == want



def test_apply_merge_rejects_non_word_tokens(spark):
    """The merge pair is spliced into a SQL literal, so a token outside
    WORD_RE must raise ValueError (not an assert: it must hold under
    python -O) — a quote breaks out of the literal, and a non-ASCII letter
    passes str.isalnum but can never come out of the tokenizer."""
    words = spark.createDataFrame([("w", " a b")], "w string, s string")
    for bad in ("a'b", "é", "", "A"):
        with pytest.raises(ValueError, match="apply_merge"):
            bpe.apply_merge(words, bad, "b")
        with pytest.raises(ValueError, match="apply_merge"):
            bpe.apply_merge(words, "a", bad)
    got = bpe.apply_merge(words, "a", "b").collect()
    assert [(r.w, r.s) for r in got] == [("w", " ab")]


def test_merge_diff_ranks():
    old = [("a", "b"), ("c", "d"), ("ab", "c")]
    new = [("c", "d"), ("a", "b"), ("x", "y")]
    assert bpe.merge_diff(old, new) == [
        (1, "ab", "cd", 2),
        (2, "cd", "ab", 1),
        (3, "abc", "xy", -1),
    ]
    # early-stopped new list: steps past its end read '' / rank -1
    assert bpe.merge_diff(old, old[:1]) == [
        (1, "ab", "ab", 1),
        (2, "cd", "", -1),
        (3, "abc", "", -1),
    ]
    # ranks key on the merge PAIR: ('a','bc') and ('ab','c') both
    # concatenate to 'abc' but are DIFFERENT rewrite rules — the old merge
    # is retrained (rank -1), not survived
    assert bpe.merge_diff([("a", "bc")], [("ab", "c")]) == [
        (1, "abc", "abc", -1)
    ]
    # a malformed new list repeating one pair keeps the first rank
    assert bpe.merge_diff([("a", "b")], [("a", "b"), ("a", "b")]) == [
        (1, "ab", "ab", 1),
        (2, "", "ab", -1),
    ]
