"""Byte-pair-encoding merge loop — tokenizer preparation (builder brief
"beyond-reference" §text-analysis / LLM-pipeline; SCALE.md r08 design 1).
The reference has no tokenizer training; its closest shape is the
iterative driver loop of oink/cc_find.cpp (fixed rounds of
aggregate-then-rebroadcast), which this operator follows.

Semantics (classic BPE over a word-frequency table):
  - Words are lowercase [a-z0-9]+ runs; the corpus folds ONCE to
    (word, weight) with weight = total occurrences — rounds then cost
    O(vocab), not O(corpus), the standard BPE-training layout.
  - A word's symbol state is ONE STRING: ' ' + symbol per symbol
    (' a b c' for "abc"). Symbols never contain the space separator
    (alphabet is [a-z0-9]), so the state is unambiguous and the merge
    fold is replayable in DuckDB's list_reduce with the same
    ends-with/append steps.
  - Per round: (1) adjacent-pair counts (explode pairs -> one
    map-side-combinable weighted count; overlapping occurrences count,
    the classic formulation), (2) argmax pair with a total tie-break
    (cnt DESC, a ASC, b ASC) — collected driver-side as ONE row (the
    pagerank scalar discipline), (3) rewrite every word's state with the
    winning merge applied greedily left-to-right non-overlapping: fold
    symbols left to right, merging when the accumulated state ends with
    ' '+a and the next prefixed symbol equals ' '+b (once merged, the
    tail symbol is a||b, so an overlapping second merge cannot fire —
    'aaa' under (a,a) becomes [aa, a]).

100 TB posture: the corpus scan happens once (fold to the word table);
each round is one bounded vocab-sized aggregate + a one-row driver
collect + a vocab-sized projection (localCheckpoint per round, the
cc_find/pagerank lineage discipline). Real tokenizers train on a PPS
sample — compose pps_weighted_sample upstream; the per-doc token counts
downstream are one broadcast join (vocab is small by construction)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_mapreduce_spark.plans.iterate import unpersist_checkpoint
from gpu_mapreduce_spark.sources.tables import widen

WORD_RE = "[a-z0-9]+"
K_MERGES = 8

# symbol-state helpers: state column 's' = concat of (' ' + symbol)
_SY = "slice(split(s, ' '), 2, size(split(s, ' ')) - 1)"  # symbols array


def word_tables(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(docw, words): per-doc word counts (doc_id, word, n) and the initial
    weighted symbol table (word, wt, s) with s = one char per symbol.
    docw is eagerly checkpointed — it feeds both the word fold and the
    final per-doc token-count join."""
    toks = widen(docs).select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("word"),
    )
    docw = (
        toks.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    words = docw.groupBy("word").agg(F.sum("n").cast("bigint").alias("wt")).select(
        "word", "wt", F.regexp_replace("word", "(.)", " $1").alias("s")
    )
    return docw, words


def pair_counts(words: DataFrame) -> DataFrame:
    """Weighted adjacent-symbol-pair counts over the current states:
    (a, b, cnt). One explode + one map-side-combinable aggregate."""
    return (
        words.select(
            "wt",
            F.expr(
                f"zip_with(slice({_SY}, 1, size({_SY}) - 1),"
                f" slice({_SY}, 2, size({_SY}) - 1),"
                " (x, y) -> struct(x AS a, y AS b))"
            ).alias("prs"),
        )
        .select("wt", F.explode("prs").alias("pr"))
        .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .agg(F.sum("wt").cast("bigint").alias("cnt"))
    )


def best_pair(pairs: DataFrame) -> tuple[str, str, int] | None:
    """The round's winning merge: max count, ties to the lexicographically
    smallest (a, b) — one global struct-MIN aggregate, one collected row.
    None when no adjacent pairs remain (every word is one symbol): the
    corpus's merge capacity is exhausted."""
    row = pairs.agg(
        F.min(F.struct((-F.col("cnt")).alias("nc"), "a", "b")).alias("m")
    ).collect()[0].m
    if row is None:
        return None
    return row.a, row.b, -row.nc


def apply_merge(words: DataFrame, a: str, b: str) -> DataFrame:
    """Rewrite every state with pair (a, b) merged greedily left-to-right
    (non-overlapping): fold prefixed symbols, appending bare `b` when the
    accumulator ends with ' '+a and the element is ' '+b (which turns the
    state's tail symbol a into a||b), else appending the element. All
    non-state columns pass through.

    The fold is built as ONE parsed SQL expression (r15; the r14
    nearest_cid/minhash pattern): the F.aggregate lambda form cost ~20
    py4j round-trips per call and this runs once per round per train plus
    K times per encode. Tokens are [a-z0-9]+ by construction (WORD_RE,
    closed under concatenation), so embedding them in single-quoted SQL
    literals needs no escaping — checked below, never assumed (a raise,
    not an assert, so it holds under ``python -O``; str.isalnum would also
    pass non-ASCII letters)."""
    if not (re.fullmatch(WORD_RE, a) and re.fullmatch(WORD_RE, b)):
        raise ValueError(f"apply_merge: tokens must match {WORD_RE}: {(a, b)!r}")
    fold = F.expr(
        f"aggregate(transform({_SY}, t -> ' ' || t), '',"
        f" (acc, x) -> CASE WHEN endswith(acc, ' {a}') AND x = ' {b}'"
        f" THEN concat(acc, '{b}') ELSE concat(acc, x) END)"
    )
    carry = [c for c in words.columns if c != "s"]
    return words.select(*carry, fold.alias("s"))


def bpe_train(
    spark: SparkSession, docs: DataFrame, k: int = K_MERGES
) -> tuple[list[tuple[int, str, str, int]], DataFrame, DataFrame]:
    """Run UP TO k merge rounds; returns (merges, final words, docw) where
    merges = [(step, a, b, cnt_at_selection)]. A corpus whose merge
    capacity is below k stops early with the merges found so far — the
    registered oracle degrades identically (its per-round CTEs LEFT JOIN
    an empty argmax row, leaving states unchanged and emitting no merge
    row), so an undersized corpus yields a comparable gate result instead
    of a hard job failure (r08 ADVICE). Per-round lineage is cut with a
    localCheckpoint (vocab-sized state; the cc_find discipline).

    ONE scheduled job per round (r15): the rewrite is checkpointed
    LAZILY, so the next round's argmax action both materializes it (the
    fold runs exactly once — localCheckpoint persists partitions as they
    are first computed and truncates lineage after that job) and collects
    the winning pair. The classic form paid two jobs per round (eager
    checkpoint + argmax collect) for the same work; only the final
    round's rewrite needs its own eager job since no later argmax reads
    it. A superseded state is unpersisted only AFTER the action that
    materialized its successor — unpersisting earlier would free blocks
    the pending lazy fold still has to read."""
    docw, words = word_tables(docs)
    words = words.localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    pending: DataFrame | None = None  # superseded state awaiting unpersist
    for step in range(1, k + 1):
        # one job: materializes the lazy checkpoint of `words` (rounds >= 2)
        # while streaming its rows into the pair-count argmax
        best = best_pair(pair_counts(words))
        if pending is not None:
            unpersist_checkpoint(pending)
            pending = None
        if best is None:  # merge capacity exhausted: every word is 1 symbol
            break
        a, b, cnt = best
        merges.append((step, a, b, cnt))
        nxt = apply_merge(words, a, b).localCheckpoint(eager=(step == k))
        if step == k:
            unpersist_checkpoint(words)
        else:
            pending = words
        words = nxt
    return merges, words, docw


def _encoded_vocab(toks: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(word, s): the distinct-word table with every trained merge applied
    in order — vocab-sized, K chained rewrites in one lineage, no driver
    round-trips (the pairs are already known). Shared by the per-doc
    encoders (encode_with_merges, fertility_units)."""
    vocab = toks.select("word").distinct().select(
        "word", F.regexp_replace("word", "(.)", " $1").alias("s")
    )
    for a, b in merges:
        vocab = apply_merge(vocab, a, b)
    return vocab


def encode_with_merges(
    docs: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Tokenizer APPLY — the corpus-scale dual of bpe_train (SCALE.md r09
    design 1, staged here ahead of its registration): apply an already-
    trained merge list, in training order, to every document's word
    stream. Returns (doc_id, n_tokens_bpe, tokens_digest) where
    tokens_digest is md5 over the doc's full encoded symbol sequence in
    word order (each word's state is its ' '+symbol string, so the
    concatenation is unambiguous and a SQL oracle replays it with
    string_agg(s, '' ORDER BY pos)).

    Topology: the merge folds run over the DISTINCT-word table
    (vocab-sized — K chained folds, the training rewrite applied K times
    in one lineage, no driver round-trips since the pairs are already
    known), then every (doc_id, pos, word) occurrence picks up its
    encoded state through one broadcast join and folds to a per-doc
    digest. The corpus is read once; the only corpus-sized exchange is
    the doc-keyed digest aggregate. At 100 TB the vocab join IS how a
    tokenizer service ships its trie — swap the broadcast table for the
    real tokenizer's Arrow UDF without changing the plan."""
    toks = widen(docs).select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("pos", "word"),
    )
    # bcast-audit: bounded (vocab table)
    enc = toks.join(F.broadcast(_encoded_vocab(toks, merges)), "word")
    tok_len = (
        F.length("s") - F.length(F.translate("s", " ", ""))
    ).cast("bigint")
    return (
        enc.select("doc_id", "pos", "s", tok_len.alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens_bpe"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "s"))),
                        lambda x: x["s"],
                    ),
                )
            ).alias("tokens_digest"),
        )
    )


def encode_pair_with_merges(
    docs: DataFrame,
    old: list[tuple[str, str]],
    new: list[tuple[str, str]],
) -> DataFrame:
    """Encode every document under TWO merge lists in ONE corpus pass
    (r15; guide §2.4 remove passes outright): tokenizer_swap previously
    ran encode_with_merges twice — two tokenize+posexplode scans, two
    doc-keyed digest shuffles — then inner-joined on doc_id. Both encodes
    consume the same (doc_id, pos, word) stream and the same distinct-word
    vocab, so one broadcast of (word, s_old, s_new) plus one doc-keyed
    aggregate computes all four outputs; the join disappears (a doc emits
    a row iff it has >= 1 token, identically under both vocabs, so the
    inner join was the identity pairing). Returns (doc_id, n_old, dg_old,
    n_new, dg_new) — bit-identical to the joined two-pass form: pos is
    unique per doc, so the shared array_sort orders exactly as each
    per-encode sort did."""
    toks = widen(docs).select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("pos", "word"),
    )
    voc = toks.select("word").distinct().select(
        "word",
        F.regexp_replace("word", "(.)", " $1").alias("s"),
        F.regexp_replace("word", "(.)", " $1").alias("s_new_src"),
    )
    for a, b in old:
        voc = apply_merge(voc, a, b)
    voc = voc.select(
        "word", F.col("s").alias("s_old"), F.col("s_new_src").alias("s")
    )
    for a, b in new:
        voc = apply_merge(voc, a, b)
    voc = voc.select("word", "s_old", F.col("s").alias("s_new"))
    # bcast-audit: bounded (vocab table)
    enc = toks.join(F.broadcast(voc), "word")

    def tok_len(col: str) -> F.Column:
        return (
            F.length(col) - F.length(F.translate(col, " ", ""))
        ).cast("bigint")

    def digest(field: str) -> F.Column:
        # one shared sorted (pos, s_old, s_new) list per doc, two md5 reads
        return F.md5(
            F.concat_ws("", F.transform(F.col("seq"), lambda x: x[field]))
        )

    return (
        enc.select(
            "doc_id",
            "pos",
            "s_old",
            "s_new",
            tok_len("s_old").alias("n_o"),
            tok_len("s_new").alias("n_n"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n_o").cast("bigint").alias("n_old"),
            F.sum("n_n").cast("bigint").alias("n_new"),
            F.array_sort(
                F.collect_list(F.struct("pos", "s_old", "s_new"))
            ).alias("seq"),
        )
        .select(
            "doc_id",
            "n_old",
            digest("s_old").alias("dg_old"),
            "n_new",
            digest("s_new").alias("dg_new"),
        )
    )


def fertility_units(
    docs: DataFrame, merges: list[tuple[str, str]], carry: tuple[str, ...] = ()
) -> DataFrame:
    """Tokenizer fertility per document (SCALE.md r10 design 3, staged
    ahead of its registration): (doc_id [, carry...], n_words,
    n_tokens_bpe, fert_u) with fert_u = (10000 * n_tokens_bpe) div n_words
    — exact fixed-point tokens-per-word, THE tokenizer-quality number a
    pipeline tracks per source/language (fertility near 1 = the vocab fits
    the corpus; high fertility = over-fragmentation). Same topology as
    encode_with_merges: one corpus token pass, one broadcast vocab join,
    one doc-keyed aggregate. Documents with no tokens emit no row (their
    fertility is undefined)."""
    toks = widen(docs).select(
        "doc_id",
        *carry,
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
        ).alias("word"),
    )
    # bcast-audit: bounded (vocab table)
    enc = toks.join(F.broadcast(_encoded_vocab(toks, merges)), "word")
    n_sym = (F.length("s") - F.length(F.translate("s", " ", ""))).cast("bigint")
    return (
        enc.select("doc_id", *carry, n_sym.alias("n"))
        .groupBy("doc_id", *carry)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n").cast("bigint").alias("n_tokens_bpe"),
        )
        .select(
            "doc_id",
            *carry,
            "n_words",
            "n_tokens_bpe",
            F.expr("(10000 * n_tokens_bpe) div n_words").alias("fert_u"),
        )
    )


def merge_diff(
    old: list[tuple[str, str]], new: list[tuple[str, str]]
) -> list[tuple[int, str, str, int]]:
    """Merge-table drift between two trained BPE vocabularies (SCALE.md
    r10 design 2, staged): one row per step,
    (step, old_token, new_token, old_rank_in_new) where old_rank_in_new is
    the old token's 1-based position in the new merge list (-1 if it was
    trained out) — the tokenizer analog of ivf_index_swap's migration
    histogram. Pure driver-side: merge lists are K-row artifacts (the
    pagerank scalar discipline); '' marks steps past a list's early stop.

    Ranks compare the merge PAIR (a, b), not the concatenated token:
    distinct pairs can concatenate to the same string (('a','bc') vs
    ('ab','c') → 'abc') yet apply different rewrite rules, so a
    token-keyed rank would report a survived merge that was actually
    retrained. Valid merge tables have distinct pairs (a merged pair no
    longer exists to re-merge); if a malformed list repeats one, the
    first occurrence's rank wins."""
    new_rank: dict[tuple[str, str], int] = {}
    for i, pair in enumerate(new):
        new_rank.setdefault(pair, i + 1)
    out = []
    for i in range(max(len(old), len(new))):
        ot = old[i][0] + old[i][1] if i < len(old) else ""
        nt = new[i][0] + new[i][1] if i < len(new) else ""
        rank = new_rank.get(old[i], -1) if i < len(old) else -1
        out.append((i + 1, ot, nt, rank))
    return out


def doc_token_counts(docw: DataFrame, words: DataFrame) -> DataFrame:
    """Per-doc token counts under the trained merges: symbols per word =
    number of ' ' separators in its state; one broadcast join (the vocab
    is bounded) + one doc-keyed sum. (doc_id, cnt)."""
    final_len = words.select(
        "word",
        (F.length("s") - F.length(F.translate("s", " ", "")))
        .cast("bigint")
        .alias("n_sym"),
    )
    # bcast-audit: bounded (vocab table)
    return (
        docw.join(F.broadcast(final_len), "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("n_sym")).cast("bigint").alias("cnt"))
    )
