"""Oracle-checked text-analysis queries over the `documents` base table
(token stats, quality scoring, language-ID, fingerprinting — the
training-data pipeline layer; operators/textstats.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gpu_mapreduce_spark.functions.numeric import sql_davg
from gpu_mapreduce_spark.operators import textstats as ts
from gpu_mapreduce_spark.registry import register
from gpu_mapreduce_spark.sources import fixtures
from gpu_mapreduce_spark.sources.tables import table, widen

# DuckDB mirror of operators/textstats.tokens
_TOKS = r"list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')"


def _inlist(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in ts.STOPWORDS[lang])


@register(
    "textstats_tokens",
    bench=True,
    tags=("llm", "textstats"),
    oracle=f"""
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS INT) AS n_uniq_tokens,
               CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT)
                   / CAST(len(toks) AS DOUBLE) AS avg_token_len,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_tokens,
               CAST(length(text) AS INT) AS n_chars
        FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    """,
)
def textstats_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.token_stats(widen(table(spark, sf_dir, "documents")))


@register(
    "textstats_quality",
    tags=("llm", "textstats"),
    oracle=f"""
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_tokens,
               CAST(len(list_filter(toks, t -> lower(t) IN ({_inlist('en')}))) AS BIGINT)
                   / CAST(len(toks) AS DOUBLE) AS stop_ratio,
               CAST(len(list_distinct(toks)) AS BIGINT)
                   / CAST(len(toks) AS DOUBLE) AS uniq_ratio,
               (len(toks) >= 10 AND len(toks) <= 10000
                AND CAST(len(list_filter(toks, t -> lower(t) IN ({_inlist('en')}))) AS BIGINT)
                    / CAST(len(toks) AS DOUBLE) >= 0.01
                AND CAST(len(list_distinct(toks)) AS BIGINT)
                    / CAST(len(toks) AS DOUBLE) >= 0.2) AS keep
        FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    """,
)
def textstats_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.quality_score(widen(table(spark, sf_dir, "documents")))


_LANG_CASE = f"""
    CASE WHEN s_en + s_de + s_es + s_fr = 0 THEN 'und'
         WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         WHEN s_es >= s_fr THEN 'es'
         ELSE 'fr' END
"""


@register(
    "lang_id",
    tags=("llm", "textstats"),
    oracle=f"""
        SELECT doc_id, s_en, s_de, s_es, s_fr, {_LANG_CASE} AS guess
        FROM (
            SELECT doc_id,
                   CAST(len(list_filter(toks, t -> lower(t) IN ({_inlist('en')}))) AS INT) AS s_en,
                   CAST(len(list_filter(toks, t -> lower(t) IN ({_inlist('de')}))) AS INT) AS s_de,
                   CAST(len(list_filter(toks, t -> lower(t) IN ({_inlist('es')}))) AS INT) AS s_es,
                   CAST(len(list_filter(toks, t -> lower(t) IN ({_inlist('fr')}))) AS INT) AS s_fr
            FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        )
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.lang_id(widen(table(spark, sf_dir, "documents")))


@register(
    "doc_fingerprint",
    tags=("llm", "textstats"),
    oracle=r"""
        SELECT doc_id,
               md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.fingerprint(widen(table(spark, sf_dir, "documents")))


@register(
    "pipeline_clean_corpus",
    bench=True,
    tags=("llm", "textstats", "dedup", "pipeline"),
    oracle=f"""
        {fixtures.duckdb_with('corpus')},
        survivors AS (
            SELECT c.doc_id, c.text
            FROM corpus c
            JOIN (
                SELECT MIN(doc_id) AS keep_id
                FROM (SELECT doc_id,
                             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
                      FROM corpus)
                GROUP BY fp
            ) k ON c.doc_id = k.keep_id
        ),
        scored AS (
            SELECT doc_id,
                   CAST(len(toks) AS INT) AS n_tokens,
                   CAST(len(list_filter(toks, t -> lower(t) IN ({_inlist('en')}))) AS BIGINT)
                       / CAST(len(toks) AS DOUBLE) AS stop_ratio,
                   (len(toks) >= 10 AND len(toks) <= 10000
                    AND CAST(len(list_filter(toks, t -> lower(t) IN ({_inlist('en')}))) AS BIGINT)
                        / CAST(len(toks) AS DOUBLE) >= 0.01
                    AND CAST(len(list_distinct(toks)) AS BIGINT)
                        / CAST(len(toks) AS DOUBLE) >= 0.2) AS keep,
                   CAST(len(list_filter(toks, t -> lower(t) IN ({_inlist('en')}))) AS INT) AS s_en,
                   CAST(len(list_filter(toks, t -> lower(t) IN ({_inlist('de')}))) AS INT) AS s_de,
                   CAST(len(list_filter(toks, t -> lower(t) IN ({_inlist('es')}))) AS INT) AS s_es,
                   CAST(len(list_filter(toks, t -> lower(t) IN ({_inlist('fr')}))) AS INT) AS s_fr
            FROM (SELECT doc_id, text, {_TOKS} AS toks FROM survivors)
        )
        SELECT {_LANG_CASE} AS lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               {sql_davg('stop_ratio')} AS avg_stop_ratio
        FROM scored
        WHERE keep
        GROUP BY 1
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data cleaning pipeline, composed from the
    layer's own operators over the dup-injected `corpus` fixture:
    exact dedup (survivor = min doc_id) -> quality gate -> language ID ->
    per-language corpus summary. One registered query proving the operators
    compose — a reference user's whole preprocessing script as one
    declarative plan (Catalyst fuses the three token derivations over the
    same scan; the only shuffles are the dedup groupBy and the final
    6-group aggregate)."""
    from pyspark.sql import functions as F

    from gpu_mapreduce_spark.functions.numeric import davg
    from gpu_mapreduce_spark.sources import fixtures as fx

    corpus = widen(fx.corpus(spark, sf_dir))
    keep_ids = (
        ts.fingerprint(corpus)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = corpus.join(keep_ids, "doc_id")
    # quality -> (filter) -> lang-ID chained as pass-through projections:
    # Catalyst collapses them into ONE projection over one survivor scan
    # (codegen subexpression elimination shares the token build), where the
    # r02 form computed scored and langs as separate scans joined back on
    # doc_id — a whole extra shuffle join that buys nothing
    scored = ts.quality_score(survivors, keep_cols=("text",))
    both = ts.lang_id(
        scored.filter("keep"), keep_cols=("n_tokens", "stop_ratio")
    )
    return (
        both.groupBy(F.col("guess").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            davg(F.col("stop_ratio")).alias("avg_stop_ratio"),
        )
    )


@register(
    "textstats_length_quantiles",
    tags=("llm", "textstats"),
    oracle=f"""
        SELECT quantile_cont(n, 0.5) AS p50,
               quantile_cont(n, 0.9) AS p90,
               quantile_cont(n, 0.99) AS p99,
               CAST(MIN(n) AS INT) AS min_tokens,
               CAST(MAX(n) AS INT) AS max_tokens
        FROM (SELECT CAST(len({_TOKS}) AS INT) AS n FROM documents)
    """,
)
def textstats_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document length distribution (token-count percentiles) — the
    length-filter calibration every corpus-cleaning pipeline starts with.
    Exact `percentile` here (both engines share the linear-interpolation
    definition, so values hash-match); at 100 TB swap in
    `approx_percentile(n, p, accuracy)` — same output shape, bounded-memory
    KLL-style sketch, no exact global sort."""
    from pyspark.sql import functions as F

    d = widen(table(spark, sf_dir, "documents"))
    n = ts.tokens(F.col("text"))
    counts = d.select(F.size(n).cast("int").alias("n"))
    return counts.agg(
        F.expr("percentile(n, 0.5)").alias("p50"),
        F.expr("percentile(n, 0.9)").alias("p90"),
        F.expr("percentile(n, 0.99)").alias("p99"),
        F.min("n").alias("min_tokens"),
        F.max("n").alias("max_tokens"),
    )


def _sql_ngrams(n: int) -> str:
    """DuckDB mirror of operators/textstats._ngrams (1-based list indexing,
    range(a,b) = [a, b))."""
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(range(1, len(toks) - {n} + 2), i -> {parts}) "
        f"ELSE [] END"
    )


def _sql_dup_frac(n: int) -> str:
    g = _sql_ngrams(n)
    return (
        f"CASE WHEN len({g}) > 0 THEN "
        f"1.0 - CAST(len(list_distinct({g})) AS BIGINT) / CAST(len({g}) AS DOUBLE) "
        f"ELSE 0.0 END"
    )


_SQL_TOP_FRAC = """
    CASE WHEN len(toks) > 0 THEN
        CAST(list_max(list_transform(list_distinct(toks),
             x -> len(list_filter(toks, y -> y = x)))) AS BIGINT)
        / CAST(len(toks) AS DOUBLE)
    ELSE 0.0 END
"""


@register(
    "textstats_repetition",
    tags=("llm", "textstats"),
    oracle=f"""
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_tokens,
               {_sql_dup_frac(2)} AS dup_bigram_frac,
               {_sql_dup_frac(3)} AS dup_trigram_frac,
               {_SQL_TOP_FRAC} AS top_token_frac,
               ({_sql_dup_frac(2)} <= 0.2 AND {_sql_dup_frac(3)} <= 0.15
                AND {_SQL_TOP_FRAC} <= 0.3) AS rep_keep
        FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    """,
)
def textstats_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals (operators/textstats.
    repetition_stats): duplicate bigram/trigram fractions + top-token mass,
    scan-shaped codegen list expressions, zero Python on the row path."""
    return ts.repetition_stats(widen(table(spark, sf_dir, "documents")))


_PII_CNT = "CAST(len(regexp_extract_all(text, '{p}')) AS INT)"


@register(
    "pii_redact",
    bench=True,
    tags=("llm", "textstats", "pii"),
    oracle=f"""
        {fixtures.duckdb_with('pii_corpus')}
        SELECT doc_id,
               {_PII_CNT.format(p=ts.PII_EMAIL_RE)} AS n_emails,
               {_PII_CNT.format(p=ts.PII_PHONE_RE)} AS n_phones,
               {_PII_CNT.format(p=ts.PII_IP_RE)} AS n_ips,
               ({_PII_CNT.format(p=ts.PII_EMAIL_RE)}
                + {_PII_CNT.format(p=ts.PII_PHONE_RE)}
                + {_PII_CNT.format(p=ts.PII_IP_RE)}) > 0 AS any_pii,
               md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '{ts.PII_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{ts.PII_IP_RE}', '<IP>', 'g'),
                   '{ts.PII_PHONE_RE}', '<PHONE>', 'g')) AS redacted_fp
        FROM pii_corpus
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the pii_corpus fixture (known injected positives):
    detect + count emails/phones/IPs and fingerprint the redacted text.
    The patterns live in the common Java-regex/RE2 subset and the redaction
    order is fixed (operators/textstats.pii_stats), so both engines produce
    byte-identical redacted documents — md5-proven per row."""
    return ts.pii_stats(widen(fixtures.pii_corpus(spark, sf_dir)))


@register(
    "contamination_ngrams",
    tags=("llm", "textstats", "dedup"),
    oracle=f"""
        {fixtures.duckdb_with('corpus')},
        tok AS (SELECT doc_id, {_TOKS} AS toks FROM corpus),
        grams AS (SELECT doc_id, unnest(list_distinct({_sql_ngrams(5)})) AS g
                  FROM tok),
        bench AS (SELECT DISTINCT g FROM grams
                  WHERE doc_id % 97 = 0 AND doc_id < 1000000),
        hits AS (SELECT g.doc_id, CAST(COUNT(*) AS INT) AS n_contam
                 FROM grams g JOIN bench b ON g.g = b.g
                 GROUP BY g.doc_id)
        SELECT t.doc_id,
               CAST(COALESCE(h.n_contam, 0) AS INT) AS n_contam,
               COALESCE(h.n_contam, 0) > 0 AS contaminated
        FROM tok t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
)
def contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the dup-injected corpus: benchmark =
    original docs with doc_id % 97 == 0; a doc is contaminated when it
    shares any word 5-gram with the benchmark — which catches the injected
    exact AND near duplicates of benchmark docs, exactly the leakage the
    check exists for. Scale shape in operators/textstats.contamination:
    bounded benchmark gram set broadcast, corpus side one scan, no
    all-pairs anything."""
    return ts.contamination(widen(fixtures.corpus(spark, sf_dir)))
