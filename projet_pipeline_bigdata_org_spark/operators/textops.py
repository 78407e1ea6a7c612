"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2.12):
token statistics, quality scoring, language ID, fingerprinting, n-gram
shingling, tokenizer comparisons — all native column expressions (JVM-side,
no Python in the hot path), each with a DuckDB oracle twin.

Seeds in the reference: keyword search P8 (utils.py:22-35), text cleaning
F1-F4 (preprocessor.py:17-21), tokenization M1-M2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark.catalog import checkpoint_round, load
from projet_pipeline_bigdata_org_spark.functions.cleaning import STOPWORDS
from projet_pipeline_bigdata_org_spark.plans.registry import query

# ---------------------------------------------------------------------------
# shared building blocks
# ---------------------------------------------------------------------------


def ws_tokens(col: Column | str) -> Column:
    """Whitespace tokens with empties removed (raw text, no cleaning)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda x: x != "")


SQL_WS_TOKENS = "LIST_FILTER(STRING_SPLIT({c}, ' '), x -> x <> '')"

#: NULL-safe instantiation over the documents table's text column: NULL
#: text tokenizes to [] in BOTH engines (Spark's shingle/size guards
#: collapse NULL to empty; DuckDB's LEN(NULL)/LIST ops stay NULL without
#: the COALESCE — the r8 size(NULL) pitfall). The ONE definition both
#: curation and dedup twins share.
SQL_TOK_NULLSAFE = SQL_WS_TOKENS.format(c="COALESCE(text, '')")


def shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings; empty array when len(tokens) < n.

    Built as zip_with over n shifted slices — the token expression is
    evaluated a constant number of times per row. (The naive
    transform+element_at(tokens, i) form re-evaluates `tokens` inside the
    lambda for every element: O(len²) splits per document, measured 10×
    slower on the 5k-doc corpus.)"""
    m = F.size(tokens) - (n - 1)
    sh = F.slice(tokens, 1, m)
    for off in range(1, n):
        sh = F.zip_with(
            sh, F.slice(tokens, off + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(m >= 1, sh).otherwise(F.array().cast("array<string>"))


def sql_shingles(toks: str, n: int = 3) -> str:
    parts = " || ' ' || ".join(f"{{t}}[i+{off}]" if off else "{t}[i]" for off in range(n))
    return (
        f"LIST_TRANSFORM(RANGE(1, LEN({toks}) - {n - 2}), "
        f"i -> {parts.format(t=toks)})"
    )


#: tiny per-language stopword marker sets for the heuristic language ID
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein"),
    "en": ("the", "and", "is", "of", "to", "a", "in"),
    "es": ("el", "la", "los", "que", "es", "de", "un"),
    "fr": ("le", "les", "et", "est", "une", "dans", "que"),
    "zh": ("的", "是", "了", "我", "不", "在", "有"),
}

# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_WS_TOKENS.format(c='text')} AS toks FROM documents)
    SELECT doc_id,
           CAST(LEN(toks) AS BIGINT) AS n_tokens,
           CAST(LEN(LIST_DISTINCT(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x))), 0) AS BIGINT) AS n_token_chars,
           CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x))), 0) AS DOUBLE)
             / NULLIF(LEN(toks), 0) AS avg_token_len,
           CAST(LIST_MAX(LIST_TRANSFORM(toks, x -> LENGTH(x))) AS BIGINT) AS max_token_len
    FROM t
    """,
    tags=("llm", "text", "documents"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (counts, distinct, char mass, lengths)."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    lens = F.transform(toks, F.length)
    sum_chars = F.aggregate(lens, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        sum_chars.alias("n_token_chars"),
        # zero-guard: Spark double x/0 is NaN, DuckDB is NULL — emit NULL in
        # both for empty/whitespace-only documents
        F.when(F.size(toks) > 0, sum_chars.cast("double") / F.size(toks)).alias(
            "avg_token_len"
        ),
        F.array_max(lens).cast("long").alias("max_token_len"),
    )


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@query(
    "lex_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {SQL_WS_TOKENS.format(c='text')} AS toks FROM documents)
    SELECT doc_id,
           CAST(LEN(toks) AS BIGINT) AS n_tokens,
           CAST(LEN(LIST_FILTER(toks, x -> LIST_CONTAINS({_STOP_SQL}, x))) AS DOUBLE)
             / NULLIF(LEN(toks), 0) AS stopword_ratio,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^a-z0-9\\s]')) AS DOUBLE)
             / NULLIF(LENGTH(text), 0) AS punct_ratio,
           CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / NULLIF(LEN(toks), 0) AS distinct_ratio,
           (LEN(toks) BETWEEN 20 AND 500)
             AND COALESCE(CAST(LEN(LIST_FILTER(toks, x -> LIST_CONTAINS({_STOP_SQL}, x))) AS DOUBLE)
                  / NULLIF(LEN(toks), 0) <= 0.5, FALSE) AS quality_ok
    FROM t
    """,
    tags=("llm", "text", "documents"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality features (length band, stopword ratio,
    punctuation density, vocabulary diversity) + a boolean keep-gate — the
    standard pre-training corpus filter shape."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
    # zero-guards: NULL (not NaN) ratios for empty/whitespace-only documents,
    # matching DuckDB's x/0 -> NULL via NULLIF in the oracle
    stop_ratio = F.when(F.size(toks) > 0, n_stop.cast("double") / F.size(toks))
    punct_ratio = F.when(
        F.length("text") > 0,
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^a-z0-9\s]"), 0)).cast(
            "double"
        )
        / F.length("text"),
    )
    distinct_ratio = F.when(
        F.size(toks) > 0, F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    )
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        (
            F.size(toks).between(20, 500) & F.coalesce(stop_ratio <= 0.5, F.lit(False))
        ).alias("quality_ok"),
    )


def _lang_score_sql(toks: str, lang: str) -> str:
    markers = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"
    return f"LEN(LIST_FILTER({toks}, x -> LIST_CONTAINS({markers}, x)))"


@query(
    "lex_language_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_WS_TOKENS.format(c='text')} AS toks FROM documents),
    s AS (SELECT doc_id,
                 {', '.join(f"CAST({_lang_score_sql('toks', lang)} AS BIGINT) AS s_{lang}" for lang in sorted(LANG_MARKERS))}
          FROM t)
    SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS predicted_lang
    FROM s
    """,
    tags=("llm", "text", "documents"),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: per-language stopword hit counts, argmax
    with deterministic alphabetical tie-break (an n-gram-profile classifier
    reduced to its count-and-argmax dataflow; scores are exposed so the
    heuristic is auditable)."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    def _marker_filter(markers):
        # closure (not a default arg): F.filter inspects the lambda's arity
        return lambda x: F.array_contains(markers, x)

    scores = {}
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        scores[lang] = F.size(F.filter(toks, _marker_filter(markers))).cast("long")
    langs = sorted(LANG_MARKERS)
    sel = [F.col("doc_id")] + [scores[lang].alias(f"s_{lang}") for lang in langs]
    # CASE ordering mirrors the oracle exactly: alphabetical tie-break
    pred = (
        F.when(
            (scores["de"] >= scores["en"])
            & (scores["de"] >= scores["es"])
            & (scores["de"] >= scores["fr"])
            & (scores["de"] >= scores["zh"]),
            "de",
        )
        .when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["zh"]),
            "en",
        )
        .when((scores["es"] >= scores["fr"]) & (scores["es"] >= scores["zh"]), "es")
        .when(scores["fr"] >= scores["zh"], "fr")
        .otherwise("zh")
    )
    return d.select(*sel, pred.alias("predicted_lang"))


@query(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {SQL_WS_TOKENS.format(c='text')} AS toks FROM documents)
    SELECT doc_id,
           SHA256(text) AS content_sha,
           SUBSTR(SHA256(text), 1, 16) AS sha_prefix,
           CAST(LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), LIST_TRANSFORM(toks,
                x -> CAST(ASCII(x) * 31 + LENGTH(x) AS BIGINT))),
                (acc, x) -> (acc * 131 + x) % 1000000007) AS BIGINT) AS rolling_hash
    FROM t
    """,
    tags=("llm", "text", "documents"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: cryptographic (sha256) and a polynomial rolling
    hash over the token stream (mod 1e9+7, exact int64 arithmetic — the
    winnowing-style fingerprint primitive)."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    token_codes = F.transform(
        toks, lambda x: (F.ascii(x) * 31 + F.length(x)).cast("long")
    )
    rolling = F.aggregate(
        token_codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 131 + x) % 1000000007,
    )
    sha = F.sha2(F.col("text"), 256)
    return d.select(
        "doc_id",
        sha.alias("content_sha"),
        F.substring(sha, 1, 16).alias("sha_prefix"),
        rolling.alias("rolling_hash"),
    )


@query(
    "text_shingle_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_WS_TOKENS.format(c='text')} AS toks FROM documents)
    SELECT doc_id,
           CAST(GREATEST(LEN(toks) - 2, 0) AS BIGINT) AS n_shingles,
           CAST(LEN(LIST_DISTINCT({sql_shingles('toks')})) AS BIGINT) AS n_distinct_shingles
    FROM t
    """,
    tags=("llm", "text", "documents"),
)
def text_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram shingling stats — the MinHash/Jaccard dedup substrate."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    sh = shingles(toks, 3)
    return d.select(
        "doc_id",
        F.greatest(F.size(toks) - 2, F.lit(0)).cast("long").alias("n_shingles"),
        F.size(F.array_distinct(sh)).cast("long").alias("n_distinct_shingles"),
    )


@query(
    "text_tokenizer_compare",
    oracle=r"""
    SELECT doc_id,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_re_tokens,
           CAST(LENGTH(text) AS BIGINT) AS n_chars
    FROM documents
    """,
    tags=("llm", "text", "documents"),
)
def text_tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex (word pieces +
    isolated punctuation) — the corpus-sizing primitive."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(ws_tokens("text")).cast("long").alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)
        ).cast("long").alias("n_re_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# corpus-hygiene operators (round 2): PII redaction + repetition detection
# ---------------------------------------------------------------------------

#: deliberately conservative patterns in the Java-regex ∩ RE2 common subset
PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_PHONE = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"
PII_IPV4 = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"


def redact_pii(col: Column | str) -> Column:
    """Email → <EMAIL>, phone-like → <PHONE>, IPv4 → <IP> — the standard
    pre-training scrub pass, all JVM-side regexp_replace."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    return out


@query(
    "text_redact_pii",
    oracle=f"""
    SELECT doc_id,
           REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
               '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_IPV4}', '<IP>', 'g'),
               '{PII_PHONE}', '<PHONE>', 'g') AS redacted,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{PII_IPV4}')) AS BIGINT) AS n_ips
    FROM documents WHERE doc_id < 300
    """,
    tags=("llm", "text", "pii", "documents"),
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (emails / IPv4 / phone-like → typed placeholders)
    with per-document hit counts — the corpus-hygiene stage every
    pre-training pipeline runs before tokenization. The synthetic corpus
    carries no PII (counts are 0 here); the operator's behavior on real
    PII is locked by unit tests on crafted strings."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return d.select(
        "doc_id",
        redact_pii("text").alias("redacted"),
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_IPV4)).cast("long").alias("n_ips"),
    )


@query(
    "text_repetition_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_WS_TOKENS.format(c='text')} AS toks FROM documents),
    tok AS (SELECT doc_id, UNNEST(toks) AS token FROM t),
    tf AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token),
    top AS (SELECT doc_id, MAX(c) AS max_tf FROM tf GROUP BY doc_id),
    sz AS (SELECT doc_id, LEN(toks) AS n,
                  GREATEST(LEN(toks) - 2, 0) AS n_sh,
                  LEN(LIST_DISTINCT({sql_shingles('toks')})) AS n_dist_sh
           FROM t)
    SELECT sz.doc_id,
           CAST(sz.n AS BIGINT) AS n_tokens,
           CAST(top.max_tf AS BIGINT) AS max_token_freq,
           CAST(top.max_tf AS DOUBLE) / NULLIF(sz.n, 0) AS top_token_ratio,
           CAST(sz.n_sh - sz.n_dist_sh AS DOUBLE) / NULLIF(sz.n_sh, 0)
             AS dup_shingle_ratio
    FROM sz LEFT JOIN top ON top.doc_id = sz.doc_id
    """,
    tags=("llm", "text", "quality", "documents"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection — the filter that catches looping/boilerplate
    generations: top-token frequency ratio and duplicated-shingle ratio
    per document (NULL on empty docs, matching the zero-guard discipline).

    Scale: one (doc, token) shuffle with map-side combine, shingle ratios
    computed per-row with no shuffle; same cost class as token stats."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    tok = d.select("doc_id", F.explode(toks).alias("token"))
    top = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_tf"))
    )
    sh = F.array_distinct(shingles(toks))
    sz = d.select(
        "doc_id",
        F.size(toks).alias("n"),
        F.greatest(F.size(toks) - 2, F.lit(0)).alias("n_sh"),
        F.size(sh).alias("n_dist_sh"),
    )
    return (
        sz.join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.col("max_tf").cast("long").alias("max_token_freq"),
            F.when(F.col("n") > 0, F.col("max_tf").cast("double") / F.col("n")).alias(
                "top_token_ratio"
            ),
            F.when(
                F.col("n_sh") > 0,
                (F.col("n_sh") - F.col("n_dist_sh")).cast("double") / F.col("n_sh"),
            ).alias("dup_shingle_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules + benchmark decontamination (round 3)
# ---------------------------------------------------------------------------

#: Gopher-style rule thresholds (Rae et al. 2021, "Scaling Language Models:
#: Methods, Analysis & Insights from Training Gopher", §A1.1), with the
#: token-count band re-centered for this corpus's 10-99-token documents.
#: All comparisons are integer cross-multiplications — no float division —
#: so the rule booleans are bit-exact across engines.
GOPHER_MIN_TOKENS = 30
GOPHER_MAX_TOKENS = 80
GOPHER_MIN_MEAN_WORD_LEN = 3   # 3 <= sum_chars/n_tokens <= 10
GOPHER_MAX_MEAN_WORD_LEN = 10
GOPHER_MAX_SYMBOL_PCT = 10     # symbol tokens <= 10% of tokens
GOPHER_MIN_ALPHA_PCT = 80      # >= 80% of tokens contain a letter
GOPHER_MIN_STOPWORDS = 2       # >= 2 distinct stopword hits


@query(
    "lex_gopher_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOK_NULLSAFE} AS toks FROM documents),
    m AS (SELECT doc_id,
                 CAST(LEN(toks) AS BIGINT) AS n_tokens,
                 CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x))), 0) AS BIGINT) AS n_chars,
                 CAST(LEN(LIST_FILTER(toks, x -> REGEXP_MATCHES(x, '^[#]|^[.]{{3}}'))) AS BIGINT) AS n_symbol,
                 CAST(LEN(LIST_FILTER(toks, x -> REGEXP_MATCHES(x, '[a-z]'))) AS BIGINT) AS n_alpha,
                 CAST(LEN(LIST_DISTINCT(LIST_FILTER(toks, x -> LIST_CONTAINS({_STOP_SQL}, x)))) AS BIGINT) AS n_stop
          FROM t)
    SELECT doc_id, n_tokens, n_chars, n_symbol, n_alpha, n_stop,
           n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS} AS ok_length,
           n_chars >= {GOPHER_MIN_MEAN_WORD_LEN} * n_tokens
             AND n_chars <= {GOPHER_MAX_MEAN_WORD_LEN} * n_tokens AS ok_mean_word_len,
           100 * n_symbol <= {GOPHER_MAX_SYMBOL_PCT} * n_tokens AS ok_symbol_ratio,
           100 * n_alpha >= {GOPHER_MIN_ALPHA_PCT} * n_tokens AS ok_alpha_ratio,
           n_stop >= {GOPHER_MIN_STOPWORDS} AS ok_stopwords,
           (n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS})
             AND n_chars >= {GOPHER_MIN_MEAN_WORD_LEN} * n_tokens
             AND n_chars <= {GOPHER_MAX_MEAN_WORD_LEN} * n_tokens
             AND 100 * n_symbol <= {GOPHER_MAX_SYMBOL_PCT} * n_tokens
             AND 100 * n_alpha >= {GOPHER_MIN_ALPHA_PCT} * n_tokens
             AND n_stop >= {GOPHER_MIN_STOPWORDS} AS keep
    FROM m
    """,
    tags=("llm", "text", "quality", "documents"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style corpus filter: per-document rule flags (length band,
    mean word length, symbol ratio, alphabetic-word ratio, stopword
    presence) and the conjunctive keep decision. Every ratio test is an
    integer cross-multiplication (100·n_alpha >= 80·n_tokens), so flags are
    bit-exact across engines and the whole filter is one codegen'd
    projection — the shape a 100 TB quality pass wants (scan → flags, no
    shuffle, no Python)."""
    d = load(spark, sf_dir, "documents")
    # NULL-safe on BOTH sides (ADVICE r16): NULL text must score
    # keep=false like gopher_keep_col's coalesced form, not keep=NULL —
    # the corpus has no NULL texts, so corpus output is unchanged, but
    # the drift pin is no longer corpus-dependent
    toks = ws_tokens(F.coalesce(F.col("text"), F.lit("")))
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size(toks).cast("long")
    n_chars = F.coalesce(
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ),
        F.lit(0).cast("long"),
    )
    n_symbol = F.size(
        F.filter(toks, lambda x: x.rlike(r"^[#]|^[.]{3}"))
    ).cast("long")
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("long")
    n_stop = F.size(
        F.array_distinct(F.filter(toks, lambda x: F.array_contains(stop, x)))
    ).cast("long")
    m = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        n_symbol.alias("n_symbol"),
        n_alpha.alias("n_alpha"),
        n_stop.alias("n_stop"),
    )
    ok_length = F.col("n_tokens").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
    ok_mwl = (F.col("n_chars") >= GOPHER_MIN_MEAN_WORD_LEN * F.col("n_tokens")) & (
        F.col("n_chars") <= GOPHER_MAX_MEAN_WORD_LEN * F.col("n_tokens")
    )
    ok_sym = 100 * F.col("n_symbol") <= GOPHER_MAX_SYMBOL_PCT * F.col("n_tokens")
    ok_alpha = 100 * F.col("n_alpha") >= GOPHER_MIN_ALPHA_PCT * F.col("n_tokens")
    ok_stop = F.col("n_stop") >= GOPHER_MIN_STOPWORDS
    return m.select(
        "doc_id", "n_tokens", "n_chars", "n_symbol", "n_alpha", "n_stop",
        ok_length.alias("ok_length"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_ratio"),
        ok_stop.alias("ok_stopwords"),
        (ok_length & ok_mwl & ok_sym & ok_alpha & ok_stop).alias("keep"),
    )


def gopher_keep_col(text_col: Column | str) -> Column:
    """``lex_gopher_rules``' conjunctive keep decision as ONE reusable
    column expression over raw text (NULL-safe) — the form a streaming
    sink applies per micro-batch without the operator's intermediate
    stat columns. Drift pin: tests/test_llm_ops.py asserts this column
    equals the registered operator's ``keep`` on the whole corpus."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = ws_tokens(F.coalesce(c, F.lit("")))
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size(toks).cast("long")
    n_chars = F.coalesce(
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ),
        F.lit(0).cast("long"),
    )
    n_symbol = F.size(F.filter(toks, lambda x: x.rlike(r"^[#]|^[.]{3}"))).cast("long")
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("long")
    n_stop = F.size(
        F.array_distinct(F.filter(toks, lambda x: F.array_contains(stop, x)))
    ).cast("long")
    return (
        n_tokens.between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
        & (n_chars >= GOPHER_MIN_MEAN_WORD_LEN * n_tokens)
        & (n_chars <= GOPHER_MAX_MEAN_WORD_LEN * n_tokens)
        & (100 * n_symbol <= GOPHER_MAX_SYMBOL_PCT * n_tokens)
        & (100 * n_alpha >= GOPHER_MIN_ALPHA_PCT * n_tokens)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
    )


# ---------------------------------------------------------------------------
# C4-style rule filters (VERDICT r14 #5): the line/page policy pass real
# pipelines (C4, FineWeb) run BEFORE the Gopher statistics
# ---------------------------------------------------------------------------

#: a line must carry at least this many whitespace words to be retained
#: (Raffel et al. 2020 §2.2: "only retained lines that contained at
#: least 3 words")
C4_MIN_LINE_WORDS = 3
#: the original C4 also drops pages with fewer than 5 sentences; emitted
#: as a flag but NOT folded into ``keep`` (see the operator docstring)
C4_MIN_SENTENCES = 5

#: multi-line rider docs exercising every C4 rule both ways (the
#: incremental-boilerplate fixture discipline: the synthetic corpus is
#: single-line and punctuation-free, so the line rules would otherwise
#: certify only their pass branch). One doc per outcome: fully clean,
#: lorem-ipsum page drop, curly-brace page drop, all-lines-too-short,
#: javascript line dropped but page kept, mixed terminal punctuation.
C4_FIXTURE_ROWS: tuple[tuple[int, str], ...] = (
    (93_000_001,
     "The first line is properly terminated.\n"
     "Here is a second complete sentence!\n"
     "Does the third line ask a question?\n"
     "A fourth line ends with a period. And a fifth sentence too."),
    (93_000_002,
     "This page looks fine at first.\n"
     "But lorem ipsum dolor sit amet lurks here.\n"
     "So the whole page must go."),
    (93_000_003,
     "A config block follows this line.\n"
     'var config = { "mode": "test" }\n'
     "Braces mark markup pages."),
    (93_000_004, "too short\nalso short\nno."),
    (93_000_005,
     "Please enable JavaScript to view the comments.\n"
     "This real sentence carries enough words to stay."),
    (93_000_006,
     "this line never ends with punctuation\n"
     "This line clearly does end well."),
)

_C4_FIXTURE_SQL = " UNION ALL ".join(
    "SELECT CAST({i} AS BIGINT) AS doc_id, '{t}' AS text".format(
        i=i, t=t.replace("'", "''").replace("\n", "' || CHR(10) || '")
    )
    for i, t in C4_FIXTURE_ROWS
)

#: retained line: >= C4_MIN_LINE_WORDS whitespace words AND not carrying
#: the word "javascript" (C4 drops such lines) — the one line definition
#: both engines and the ladder stage share
_C4_SQL_LINES = (
    "LIST_FILTER(LIST_TRANSFORM(STRING_SPLIT(COALESCE(text, ''), CHR(10)),"
    " x -> TRIM(x)), x -> x <> '')"
)


@query(
    "lex_c4_rules",
    oracle=f"""
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL {_C4_FIXTURE_SQL}
    ), l AS (
      SELECT doc_id, text, {_C4_SQL_LINES} AS lines FROM src
    ), m AS (
      SELECT doc_id,
             CAST(LEN(lines) AS BIGINT) AS n_lines,
             CAST(LEN(LIST_FILTER(lines, x ->
                 LEN(LIST_FILTER(STRING_SPLIT_REGEX(x, '\\s+'), w -> w <> ''))
                   >= {C4_MIN_LINE_WORDS}
                 AND NOT REGEXP_MATCHES(LOWER(x), '\\bjavascript\\b')))
               AS BIGINT) AS n_kept_lines,
             CAST(LEN(LIST_FILTER(lines, x ->
                 RIGHT(x, 1) IN ('.', '!', '?', '"'))) AS BIGINT)
               AS n_punct_lines,
             CAST(LENGTH(COALESCE(text, ''))
                  - LENGTH(REGEXP_REPLACE(COALESCE(text, ''), '[.!?]', '', 'g'))
               AS BIGINT) AS n_sentences,
             CONTAINS(LOWER(COALESCE(text, '')), 'lorem ipsum') AS has_lorem,
             CONTAINS(COALESCE(text, ''), '{{') AS has_brace
      FROM l
    )
    SELECT doc_id, n_lines, n_kept_lines, n_punct_lines, n_sentences,
           has_lorem, has_brace,
           n_sentences >= {C4_MIN_SENTENCES} AS ok_sentences,
           n_punct_lines = n_lines AND n_lines > 0 AS ok_terminal_punct,
           NOT has_lorem AND NOT has_brace AND n_kept_lines >= 1 AS keep
    FROM m
    """,
    tags=("llm", "text", "quality", "documents"),
)
def text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style rule filters (Raffel et al. 2020 §2.2) — the line/page
    policy pass C4 and FineWeb run BEFORE the Gopher statistics: a line
    is retained when it carries >= {C4_MIN_LINE_WORDS} words and does
    not contain the word "javascript"; a page is dropped when it
    contains "lorem ipsum", a curly brace, or retains no line. The
    terminal-punctuation line rule and the {C4_MIN_SENTENCES}-sentence
    page rule are emitted as flags (``ok_terminal_punct``,
    ``ok_sentences``) but NOT folded into ``keep`` — FineWeb's ablation
    dropped the terminal-punctuation rule as too aggressive, and on this
    punctuation-free synthetic corpus either would zero the funnel; the
    per-rule columns let a consumer opt into the stricter policy.

    The ``C4_FIXTURE_ROWS`` rider docs (unioned in BOTH engines, the
    incremental-boilerplate fixture discipline) exercise every rule in
    both directions — the synthetic corpus alone is single-line and
    punctuation-free.

    Scale shape: pure row-local higher-order-function arithmetic over
    the line array — a zero-shuffle codegen'd projection, the cheapest
    possible stage shape, which is exactly why real pipelines run it
    first."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    fixture = spark.createDataFrame(
        list(C4_FIXTURE_ROWS), "doc_id long, text string"
    )
    src = d.unionByName(fixture)
    text = F.coalesce(F.col("text"), F.lit(""))
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    n_words = lambda l: F.size(  # noqa: E731
        F.filter(F.split(l, r"\s+"), lambda w: w != "")
    )
    kept = F.filter(
        lines,
        lambda l: (n_words(l) >= C4_MIN_LINE_WORDS)
        & ~F.lower(l).rlike(r"\bjavascript\b"),
    )
    punct = F.filter(
        lines, lambda l: F.substring(l, -1, 1).isin(".", "!", "?", '"')
    )
    m = src.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.size(punct).cast("long").alias("n_punct_lines"),
        (F.length(text) - F.length(F.regexp_replace(text, "[.!?]", "")))
        .cast("long")
        .alias("n_sentences"),
        F.lower(text).contains("lorem ipsum").alias("has_lorem"),
        text.contains("{").alias("has_brace"),
    )
    return m.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "n_punct_lines",
        "n_sentences",
        "has_lorem",
        "has_brace",
        (F.col("n_sentences") >= C4_MIN_SENTENCES).alias("ok_sentences"),
        ((F.col("n_punct_lines") == F.col("n_lines")) & (F.col("n_lines") > 0))
        .alias("ok_terminal_punct"),
        (~F.col("has_lorem") & ~F.col("has_brace") & (F.col("n_kept_lines") >= 1))
        .alias("keep"),
    )


def c4_keep_col(text_col: Column | str) -> Column:
    """``lex_c4_rules``' keep decision as ONE reusable column expression
    over raw text (NULL-safe): no "lorem ipsum", no curly brace, and at
    least one retained line (>= C4_MIN_LINE_WORDS words, no
    "javascript"). Drift pin: tests/test_llm_ops.py asserts this column
    equals the registered operator's ``keep`` on corpus + fixtures."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    text = F.coalesce(c, F.lit(""))
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    kept = F.filter(
        lines,
        lambda l: (
            F.size(F.filter(F.split(l, r"\s+"), lambda w: w != ""))
            >= C4_MIN_LINE_WORDS
        )
        & ~F.lower(l).rlike(r"\bjavascript\b"),
    )
    return (
        ~F.lower(text).contains("lorem ipsum")
        & ~text.contains("{")
        & (F.size(kept) >= 1)
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules (Rae et al. 2021 §A1.1, the REPETITION half —
# the quality half is lex_gopher_rules): thresholded duplicate-line and
# n-gram repetition filters
# ---------------------------------------------------------------------------

#: removal thresholds in exact per-mille (Gopher §A1.1: duplicate line
#: fraction 0.30, duplicate line CHARACTER fraction 0.20, top 2/3/4-gram
#: character fraction 0.20/0.18/0.16). The duplicate-n-gram coverage rule
#: (the paper runs it at n=5..10, thresholds 0.15..0.10) is exercised at
#: n=2 with 0.20 here: this corpus' 10-99-token documents NEVER repeat a
#: 5-gram (probed: coverage 0 at every SF), so the paper's n would
#: certify only the pass branch — the coverage arithmetic is
#: n-independent
GOPREP_DUP_LINE_PM = 300
GOPREP_DUP_LINE_CHAR_PM = 200
GOPREP_TOP_GRAM_PM = {2: 200, 3: 180, 4: 160}
GOPREP_DUP_COV_N = 2
GOPREP_DUP_COV_PM = 200

#: multi-line riders for the LINE rules (the corpus is single-line, so
#: those two rules would otherwise certify only their pass branch): one
#: page dominated by a repeated footer line (fails both line rules), one
#: clean multi-line page (passes both)
GOPREP_FIXTURE_ROWS: tuple[tuple[int, str | None], ...] = (
    (93_200_001,
     "the repeated footer line marker\n"
     "one real content line here\n"
     "the repeated footer line marker\n"
     "the repeated footer line marker"),
    (93_200_002,
     "first distinct content line\n"
     "second distinct content line\n"
     "third distinct content line"),
    # a looping generation: the 4-gram "alpha beta gamma delta" repeats 3x,
    # so the top-4-gram rule (and everything below it) fails at EVERY SF —
    # the real corpus trips top4 at sf0.001/0.1 but not sf0.01
    (93_200_003,
     "alpha beta gamma delta alpha beta gamma delta alpha beta gamma delta"),
    # degenerate-length riders (ADVICE r15): a 1-token doc (every gram list
    # empty — previously Spark's sequence(1, 0) slice crashed while DuckDB's
    # GENERATE_SERIES(1, 0) was empty), an empty doc, and a NULL doc (the
    # null-safe tokenizer path) — all keep=true with all-zero metrics
    (93_200_004, "solo"),
    (93_200_005, ""),
    (93_200_006, None),
)

_GOPREP_FIXTURE_SQL = " UNION ALL ".join(
    "SELECT CAST({i} AS BIGINT) AS doc_id, {t} AS text".format(
        i=i,
        t="CAST(NULL AS VARCHAR)" if t is None
        else "'{}'".format(t.replace("'", "''").replace("\n", "' || CHR(10) || '")),
    )
    for i, t in GOPREP_FIXTURE_ROWS
)


def _sql_grams(n: int) -> str:
    """List of space-joined n-grams of ``toks`` (DuckDB)."""
    return (
        f"LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN(toks) - {n - 1}, 0)),"
        f" i -> ARRAY_TO_STRING(toks[i : i + {n - 1}], ' '))"
    )


def _sql_top_mass(n: int) -> str:
    """Char mass of the most frequent REPEATED n-gram (ties: lexicographic
    min), 0 when nothing repeats. gram char length = LENGTH(gram) - (n-1)
    separators (tokens are space-joined)."""
    g = f"g{n}"
    return f"""CASE WHEN LEN({g}) > 0 AND {g}cmax >= 2
             THEN {g}cmax * (LENGTH(LIST_MIN(LIST_FILTER({g}, x ->
                    LEN(LIST_FILTER({g}, y -> y = x)) = {g}cmax))) - {n - 1})
             ELSE 0 END"""


_GOPREP_ORACLE = f"""
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL {_GOPREP_FIXTURE_SQL}
    ), t AS (
      SELECT doc_id,
             {SQL_TOK_NULLSAFE} AS toks,
             LIST_FILTER(LIST_TRANSFORM(STRING_SPLIT(COALESCE(text, ''),
                 CHR(10)), x -> TRIM(x)), x -> x <> '') AS lines
      FROM src
    ), g AS (
      SELECT doc_id, toks, lines,
             {_sql_grams(2)} AS g2, {_sql_grams(3)} AS g3,
             {_sql_grams(4)} AS g4
      FROM t
    ), c AS (
      SELECT doc_id, toks, lines, g2, g3, g4,
             LIST_TRANSFORM(g2, x -> LEN(LIST_FILTER(g2, y -> y = x)))
               AS c2,
             COALESCE(LIST_MAX(LIST_TRANSFORM(g2, x ->
               LEN(LIST_FILTER(g2, y -> y = x)))), 0) AS g2cmax,
             COALESCE(LIST_MAX(LIST_TRANSFORM(g3, x ->
               LEN(LIST_FILTER(g3, y -> y = x)))), 0) AS g3cmax,
             COALESCE(LIST_MAX(LIST_TRANSFORM(g4, x ->
               LEN(LIST_FILTER(g4, y -> y = x)))), 0) AS g4cmax
      FROM g
    ), m AS (
      SELECT doc_id,
             CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x))), 0)
               AS BIGINT) AS total_chars,
             CAST(LEN(lines) AS BIGINT) AS n_lines,
             CAST(LEN(LIST_DISTINCT(lines)) AS BIGINT) AS n_distinct_lines,
             CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(lines, x -> LENGTH(x))), 0)
               AS BIGINT) AS line_chars,
             CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(LIST_DISTINCT(lines),
               x -> LENGTH(x))), 0) AS BIGINT) AS distinct_line_chars,
             CAST({_sql_top_mass(2)} AS BIGINT) AS top2_mass,
             CAST({_sql_top_mass(3)} AS BIGINT) AS top3_mass,
             CAST({_sql_top_mass(4)} AS BIGINT) AS top4_mass,
             CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(
               GENERATE_SERIES(0, LEN(toks) - 1), p -> CASE WHEN
                 (p <= LEN(toks) - 2 AND c2[p + 1] >= 2)
                 OR (p >= 1 AND c2[p] >= 2)
               THEN LENGTH(toks[p + 1]) ELSE 0 END)), 0) AS BIGINT)
               AS dup2_cov_chars
      FROM c
    )
    SELECT doc_id, total_chars, n_lines, n_distinct_lines,
           top2_mass, top3_mass, top4_mass, dup2_cov_chars,
           CASE WHEN n_lines > 0 THEN CAST(1000 * (n_lines
             - n_distinct_lines) // n_lines AS BIGINT) END AS dup_line_pm,
           CASE WHEN line_chars > 0 THEN CAST(1000 * (line_chars
             - distinct_line_chars) // line_chars AS BIGINT) END
             AS dup_line_char_pm,
           1000 * (n_lines - n_distinct_lines)
             <= {GOPREP_DUP_LINE_PM} * n_lines AS ok_dup_lines,
           1000 * (line_chars - distinct_line_chars)
             <= {GOPREP_DUP_LINE_CHAR_PM} * line_chars AS ok_dup_line_chars,
           1000 * top2_mass <= {GOPREP_TOP_GRAM_PM[2]} * total_chars
             AS ok_top2,
           1000 * top3_mass <= {GOPREP_TOP_GRAM_PM[3]} * total_chars
             AS ok_top3,
           1000 * top4_mass <= {GOPREP_TOP_GRAM_PM[4]} * total_chars
             AS ok_top4,
           1000 * dup2_cov_chars <= {GOPREP_DUP_COV_PM} * total_chars
             AS ok_dup_cov,
           1000 * (n_lines - n_distinct_lines) <= {GOPREP_DUP_LINE_PM} * n_lines
             AND 1000 * (line_chars - distinct_line_chars)
                   <= {GOPREP_DUP_LINE_CHAR_PM} * line_chars
             AND 1000 * top2_mass <= {GOPREP_TOP_GRAM_PM[2]} * total_chars
             AND 1000 * top3_mass <= {GOPREP_TOP_GRAM_PM[3]} * total_chars
             AND 1000 * top4_mass <= {GOPREP_TOP_GRAM_PM[4]} * total_chars
             AND 1000 * dup2_cov_chars <= {GOPREP_DUP_COV_PM} * total_chars
             AS keep
    FROM m
    """


def _goprep_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus + fixture riders → (doc_id, toks, lines) — the input stage
    of the Gopher-repetition query (null-safe tokenization on both
    sides, ADVICE r15). The local single-row-group scan is spread before
    the per-document n-gram generation (r17, guide §2.5 input-skew
    remedy — no-op on multi-split production inputs), so it uses every
    core instead of the scan's one task."""
    from projet_pipeline_bigdata_org_spark.catalog import spread_input

    d = spread_input(load(spark, sf_dir, "documents").select("doc_id", "text"))
    fixture = spark.createDataFrame(
        list(GOPREP_FIXTURE_ROWS), "doc_id long, text string"
    )
    src = d.unionByName(fixture)
    toks = ws_tokens(F.coalesce(F.col("text"), F.lit("")))
    lines = F.filter(
        F.transform(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\n"),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    return src.select("doc_id", toks.alias("toks"), lines.alias("lines"))


def _goprep_grams(n: int) -> Column:
    """Space-joined n-grams of the ``toks`` column. The index sequence is
    gated on size >= n: Spark's sequence(1, 0) is the DESCENDING [1, 0]
    (unlike DuckDB's empty GENERATE_SERIES(1, 0)) and slice(toks, 0, n)
    raises INVALID_PARAMETER_VALUE.START (ADVICE r15)."""
    idx = F.when(
        F.size(F.col("toks")) >= n,
        F.sequence(F.lit(1), F.size(F.col("toks")) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(F.col("toks"), i, n), " "))


def _arr_chars(col: Column) -> Column:
    """Total character count of a string array (0 for empty/NULL)."""
    return F.coalesce(
        F.aggregate(
            F.transform(col, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        ),
        F.lit(0).cast("long"),
    )


@query(
    "lex_gopher_repetition",
    oracle=_GOPREP_ORACLE,
    tags=("llm", "text", "quality", "documents"),
)
@query(
    "lex_gopher_repetition_exploded",
    oracle=_GOPREP_ORACLE,
    tags=("llm", "text", "quality", "documents"),
)
def text_gopher_repetition_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher REPETITION rules (Rae et al. 2021 §A1.1's second half —
    ``lex_gopher_rules`` covers the quality half): thresholded
    duplicate-line fraction, duplicate-line CHARACTER fraction, top
    2/3/4-gram character fraction (counted only when the top gram
    actually repeats — an unrepeated gram is length bias, not
    repetition), and duplicated-n-gram character coverage (each token
    position counted once however many duplicated grams cover it).
    Every comparison is an exact integer cross-multiplication in
    per-mille; the per-mille report columns are DIV-truncated integers.
    ``lex_gopher_repetition_exploded`` is the same builder under a
    second name.

    Fixture riders (``GOPREP_FIXTURE_ROWS``, both engines) exercise the
    two LINE rules both ways — the corpus is single-line; the n-gram
    rules split the REAL corpus at every SF (probed: top-2-gram p99
    ~220‰ against the 200‰ threshold, dup-2-gram coverage p90 ~230‰).

    The n-gram counting is posexplode + groupBy(doc_id, n, gram), not
    within-array higher-order lambdas: per-document cost is O(k) hash-
    aggregate rows rather than O(k²) interpreted comparisons (k = token
    count), the form that survives real web documents (a 10k-token page
    is ~30k aggregate rows instead of ~10⁸ comparisons).

    Scale shape: one posexplode over the 2/3/4-gram union → hash aggregate
    on (doc_id, n, gram) with map-side combine → per-(doc_id, n) max +
    min_by (the top gram resolves in ONE aggregate pass: min_by over
    (-count, gram) struct ordering — no second self-join); the
    duplicate-2-gram coverage is the dedup_repeated_passages
    one-explode/one-groupBy shape (duplicated gram positions → covered
    token positions → distinct → length join). Every exchange is keyed by
    doc_id — linear in corpus tokens, no per-doc quadratic term, and no
    skew: a single document's grams land in one partition only for the
    per-doc aggregates, which are O(distinct grams) not O(k²)."""
    # scoped persists (ADVICE r16): re-invocation unpersists the previous
    # call's pins instead of leaking blocks past the operator's lifetime
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    t = _persist_scoped("goprep_t", _goprep_stage(spark, sf_dir))

    def gram_occ(n: int) -> DataFrame:
        return t.select(
            "doc_id", F.lit(n).alias("n"), F.posexplode(_goprep_grams(n))
        ).toDF("doc_id", "n", "gpos", "gram")

    occ2 = _persist_scoped("goprep_occ2", gram_occ(2))
    occ = occ2.unionByName(gram_occ(3)).unionByName(gram_occ(4))
    # r18: pin the (doc, n, gram) count table — it feeds BOTH the per-n
    # top-gram aggregate AND the duplicated-2-gram slice, and no
    # ReusedExchange fires across the two references (verified in the
    # before plan), so unpinned the whole 3-way explode + hash aggregate
    # ran twice per query (guide §7.2). big=True: distinct grams per doc
    # are corpus-sized — DISK_ONLY at scale.
    counts = _persist_scoped(
        "goprep_counts",
        occ.groupBy("doc_id", "n", "gram").agg(F.count(F.lit(1)).alias("cnt")),
        big=True,
    )
    # top repeated gram per (doc, n): highest count, ties to the
    # lexicographically smallest gram — (-cnt, gram) struct min_by is
    # deterministic because gram is unique within the group
    per_n = counts.groupBy("doc_id", "n").agg(
        F.max("cnt").alias("cmax"),
        F.min_by(
            "gram", F.struct((-F.col("cnt")).alias("negc"), F.col("gram"))
        ).alias("top"),
    )
    mass = (
        F.when(
            F.col("cmax") >= 2,
            F.col("cmax").cast("long")
            * (F.length("top").cast("long") - (F.col("n") - 1)),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    zero = F.lit(0).cast("long")
    masses = (
        per_n.select("doc_id", "n", mass.alias("mass"))
        .groupBy("doc_id")
        .agg(
            *(
                F.coalesce(
                    F.sum(F.when(F.col("n") == n, F.col("mass"))), zero
                ).alias(f"top{n}_mass")
                for n in (2, 3, 4)
            )
        )
    )
    # duplicated-2-gram coverage: each duplicated gram at gram position p
    # covers token positions p and p+1; count each covered token ONCE
    dup2 = counts.filter((F.col("n") == 2) & (F.col("cnt") >= 2)).select(
        "doc_id", "gram"
    )
    cov_pos = (
        occ2.join(dup2, ["doc_id", "gram"])
        .select(
            "doc_id",
            F.explode(F.array(F.col("gpos"), F.col("gpos") + 1)).alias("tpos"),
        )
        .distinct()
    )
    tok_len = t.select(
        "doc_id", F.posexplode("toks").alias("tpos", "tok")
    ).select("doc_id", "tpos", F.length("tok").cast("long").alias("tlen"))
    cov = cov_pos.join(tok_len, ["doc_id", "tpos"]).groupBy("doc_id").agg(
        F.sum("tlen").alias("cov_chars")
    )
    base = t.select(
        "doc_id",
        _arr_chars(F.col("toks")).alias("total_chars"),
        F.size("lines").cast("long").alias("n_lines"),
        F.size(F.array_distinct("lines")).cast("long").alias("n_distinct_lines"),
        _arr_chars(F.col("lines")).alias("line_chars"),
        _arr_chars(F.array_distinct("lines")).alias("distinct_line_chars"),
    )
    m = (
        base.join(masses, "doc_id", "left")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "total_chars",
            "n_lines",
            "n_distinct_lines",
            "line_chars",
            "distinct_line_chars",
            *(
                F.coalesce(f"top{n}_mass", zero).alias(f"top{n}_mass")
                for n in (2, 3, 4)
            ),
            F.coalesce("cov_chars", zero).alias("dup2_cov_chars"),
        )
    )
    # per-mille flags + keep: exact integer cross-multiplications
    dl = 1000 * (F.col("n_lines") - F.col("n_distinct_lines"))
    dlc = 1000 * (F.col("line_chars") - F.col("distinct_line_chars"))
    ok_dl = dl <= GOPREP_DUP_LINE_PM * F.col("n_lines")
    ok_dlc = dlc <= GOPREP_DUP_LINE_CHAR_PM * F.col("line_chars")
    ok_t2 = 1000 * F.col("top2_mass") <= GOPREP_TOP_GRAM_PM[2] * F.col("total_chars")
    ok_t3 = 1000 * F.col("top3_mass") <= GOPREP_TOP_GRAM_PM[3] * F.col("total_chars")
    ok_t4 = 1000 * F.col("top4_mass") <= GOPREP_TOP_GRAM_PM[4] * F.col("total_chars")
    ok_cov = 1000 * F.col("dup2_cov_chars") <= GOPREP_DUP_COV_PM * F.col(
        "total_chars"
    )
    return m.select(
        "doc_id", "total_chars", "n_lines", "n_distinct_lines",
        "top2_mass", "top3_mass", "top4_mass", "dup2_cov_chars",
        F.when(F.col("n_lines") > 0, F.expr("1000 * (n_lines - n_distinct_lines) DIV n_lines"))
        .alias("dup_line_pm"),
        F.when(
            F.col("line_chars") > 0,
            F.expr("1000 * (line_chars - distinct_line_chars) DIV line_chars"),
        ).alias("dup_line_char_pm"),
        ok_dl.alias("ok_dup_lines"),
        ok_dlc.alias("ok_dup_line_chars"),
        ok_t2.alias("ok_top2"),
        ok_t3.alias("ok_top3"),
        ok_t4.alias("ok_top4"),
        ok_cov.alias("ok_dup_cov"),
        (ok_dl & ok_dlc & ok_t2 & ok_t3 & ok_t4 & ok_cov).alias("keep"),
    )


#: every doc_id divisible by this is the stand-in "benchmark/eval" set the
#: corpus is decontaminated against
DECONTAM_BENCH_MOD = 89
#: a document is contaminated when >= 10% of its shingles appear in the
#: benchmark shingle dictionary (integer cross-multiplication, exact)
DECONTAM_PCT = 10


@query(
    "lex_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      LIST_DISTINCT({sql_shingles(SQL_WS_TOKENS.format(c='text'))}) AS sh
               FROM documents),
    bench AS (SELECT DISTINCT UNNEST(sh) AS s FROM t WHERE doc_id % {DECONTAM_BENCH_MOD} = 0),
    corpus AS (SELECT doc_id, UNNEST(sh) AS s FROM t WHERE doc_id % {DECONTAM_BENCH_MOD} <> 0),
    hits AS (SELECT c.doc_id, COUNT(*) AS n_overlap
             FROM corpus c JOIN bench b ON c.s = b.s GROUP BY c.doc_id),
    sz AS (SELECT doc_id, CAST(LEN(sh) AS BIGINT) AS n_shingles FROM t
           WHERE doc_id % {DECONTAM_BENCH_MOD} <> 0)
    SELECT sz.doc_id, sz.n_shingles,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           100 * COALESCE(h.n_overlap, 0) >= {DECONTAM_PCT} * sz.n_shingles
             AND sz.n_shingles > 0 AS contaminated
    FROM sz LEFT JOIN hits h ON h.doc_id = sz.doc_id
    """,
    tags=("llm", "text", "dedup", "documents"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-data hygiene pass that drops
    documents overlapping an evaluation set: benchmark docs (stand-in:
    doc_id % DECONTAM_BENCH_MOD == 0) contribute a DISTINCT shingle
    dictionary; each corpus document counts its shingles present in that
    dictionary and is flagged at >= DECONTAM_PCT% overlap.

    Scale shape: the dictionary is the SMALL side (an eval benchmark is
    KB-MB against a 100 TB corpus) — Spark broadcasts it under AQE, so the
    corpus side streams through map-side with one final groupBy(doc_id)
    shuffle; nothing all-pairs, no driver participation."""
    from projet_pipeline_bigdata_org_spark.catalog import spread_input
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    d = load(spark, sf_dir, "documents")
    # r18: pin the shingle table — it feeds the benchmark dictionary,
    # the hits explode AND the size projection, so unpinned the
    # shingle+distinct build ran 3x per query (§7.2 — the same fix
    # lex_decontaminate_attrib got in r17); spread the single-split scan
    # so the one build runs wide. big=True: per-doc shingle arrays are
    # corpus-sized — DISK_ONLY at scale.
    t = _persist_scoped(
        "decontam_t",
        spread_input(d.select("doc_id", "text")).select(
            "doc_id", F.array_distinct(shingles(ws_tokens("text"))).alias("sh")
        ),
        big=True,
    )
    is_bench = F.col("doc_id") % DECONTAM_BENCH_MOD == 0
    bench = (
        t.filter(is_bench)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    corpus = t.filter(~is_bench)
    hits = (
        corpus.select("doc_id", F.explode("sh").alias("s"))
        .join(bench, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    sz = corpus.select("doc_id", F.size("sh").cast("long").alias("n_shingles"))
    n_overlap = F.coalesce(F.col("n_overlap"), F.lit(0).cast("long"))
    return (
        sz.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            n_overlap.alias("n_overlap"),
            (
                (100 * n_overlap >= DECONTAM_PCT * F.col("n_shingles"))
                & (F.col("n_shingles") > 0)
            ).alias("contaminated"),
        )
    )


#: number of distinct eval benchmarks the bench docs partition into
DECONTAM_N_BENCH = 3

#: attribution fixture riders (both engines): one known benchmark doc
#: assigned to benchmark 2 (267000178 = 89 x 3000002, 3000002 % 3 = 2),
#: one corpus doc leaking HALF its shingles from exactly that benchmark
#: (contaminated-by-2, untouched by 0/1), and one clean corpus doc whose
#: invented tokens appear in no benchmark (its ABSENCE from the
#: attribution table is the pass branch, pinned in tests)
DECONTAM_ATTRIB_FIXTURES: tuple[tuple[int, str], ...] = (
    (267_000_178,
     "qvzork blemft xandrik plovex trumbik quellson vardmik zephlon"
     " grindmax yolbert"),
    (94_000_001,
     "qvzork blemft xandrik plovex trumbik quellson wizzlecorn snarfblat"
     " dinglehop fizzwick"),
    (94_000_002,
     "morblewick tazzlefrond quibberdash vexnorple sprocketeen jumblewock"
     " crandlemist povertubble"),
)

_DECONTAM_ATTRIB_SQL = " UNION ALL ".join(
    f"SELECT CAST({i} AS BIGINT) AS doc_id, '{t}' AS text"
    for i, t in DECONTAM_ATTRIB_FIXTURES
)


@query(
    "lex_decontaminate_attrib",
    oracle=f"""
    WITH src AS (SELECT doc_id, text FROM documents
                 UNION ALL {_DECONTAM_ATTRIB_SQL}),
    t AS (SELECT doc_id,
                 LIST_DISTINCT({sql_shingles(SQL_TOK_NULLSAFE)}) AS sh
          FROM src),
    bench AS (SELECT DISTINCT (doc_id // {DECONTAM_BENCH_MOD}) % {DECONTAM_N_BENCH}
                       AS benchmark_id,
                     UNNEST(sh) AS s
              FROM t WHERE doc_id % {DECONTAM_BENCH_MOD} = 0),
    corpus AS (SELECT doc_id, UNNEST(sh) AS s FROM t
               WHERE doc_id % {DECONTAM_BENCH_MOD} <> 0),
    sz AS (SELECT doc_id, CAST(LEN(sh) AS BIGINT) AS n_shingles FROM t
           WHERE doc_id % {DECONTAM_BENCH_MOD} <> 0),
    hits AS (SELECT c.doc_id, b.benchmark_id, COUNT(*) AS n_overlap
             FROM corpus c JOIN bench b ON c.s = b.s
             GROUP BY c.doc_id, b.benchmark_id)
    SELECT h.doc_id, CAST(h.benchmark_id AS BIGINT) AS benchmark_id,
           sz.n_shingles, h.n_overlap,
           100 * h.n_overlap >= {DECONTAM_PCT} * sz.n_shingles AS contaminated
    FROM hits h JOIN sz ON sz.doc_id = h.doc_id
    """,
    tags=("llm", "text", "dedup", "documents"),
)
def text_decontaminate_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-benchmark decontamination ATTRIBUTION (VERDICT r15 #7) — the
    drill-down ``lex_decontaminate`` can't give: real pipelines hold
    DOZENS of eval sets and need to know WHICH benchmark leaked into a
    document and HOW MUCH, not just a global flag. Bench docs partition
    into DECONTAM_N_BENCH benchmarks (stand-in id: (doc_id DIV
    BENCH_MOD) % N — positive ids only, so DIV truncation agrees across
    engines); each corpus document gets one row PER benchmark it
    overlaps, with the per-benchmark shingle-overlap count and the same
    integer-lifted >= DECONTAM_PCT% contamination flag evaluated
    per-benchmark. Zero-overlap (doc, benchmark) pairs are NOT emitted —
    at fleet scale the attribution table is sparse by design.
    ``lex_decontaminate`` remains the union-dictionary gate the funnel
    ladder consumes; this is its per-benchmark explanation table (a
    shingle shared by two benchmarks counts toward each — attribution is
    per-eval-set evidence, so the per-benchmark counts deliberately
    don't sum to the union overlap).

    Fixture riders plant a known benchmark-2 doc, a corpus doc leaking
    exactly it (attributed ONLY to benchmark 2, contaminated=true), and
    a clean doc (absent). The real corpus splits across all three
    benchmarks at every SF (probed: 102/90/42 attributed docs at
    sf0.001, 3849/3534/3886 at sf0.1).

    Scale shape: identical to lex_decontaminate — the per-benchmark
    dictionaries together are still the tiny side (eval sets are KB-MB
    against a 100 TB corpus) and broadcast EXPLICITLY; the corpus
    streams map-side through the broadcast hash join; the only hash
    exchange is the final partial-agg'd groupBy(doc_id, benchmark_id)."""
    from projet_pipeline_bigdata_org_spark.catalog import spread_input
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    # r17: spread the single-split scan and persist the shingle table —
    # `t` is referenced by the benchmark dictionary, the hits explode AND
    # the size lookup, so unpinned the shingle pass ran 3x per query
    d = spread_input(load(spark, sf_dir, "documents").select("doc_id", "text"))
    fixture = spark.createDataFrame(
        list(DECONTAM_ATTRIB_FIXTURES), "doc_id long, text string"
    )
    src = d.unionByName(fixture)
    # big=True: shingle arrays for every doc are corpus-sized —
    # DISK_ONLY at scale (VERDICT r17 #4)
    t = _persist_scoped(
        "decontam_attrib_t",
        src.select(
            "doc_id",
            F.array_distinct(
                shingles(ws_tokens(F.coalesce(F.col("text"), F.lit(""))))
            ).alias("sh"),
        ),
        big=True,
    )
    is_bench = F.col("doc_id") % DECONTAM_BENCH_MOD == 0
    bench = F.broadcast(
        t.filter(is_bench)
        .select(
            (
                F.expr(f"doc_id DIV {DECONTAM_BENCH_MOD}") % DECONTAM_N_BENCH
            ).alias("benchmark_id"),
            F.explode("sh").alias("s"),
        )
        .distinct()
    )
    corpus = t.filter(~is_bench)
    hits = (
        corpus.select("doc_id", F.explode("sh").alias("s"))
        .join(bench, "s")
        .groupBy("doc_id", "benchmark_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    sz = corpus.select("doc_id", F.size("sh").cast("long").alias("n_shingles"))
    return hits.join(sz, "doc_id").select(
        "doc_id",
        "benchmark_id",
        "n_shingles",
        "n_overlap",
        (100 * F.col("n_overlap") >= DECONTAM_PCT * F.col("n_shingles")).alias(
            "contaminated"
        ),
    )


# ---------------------------------------------------------------------------
# LM-lite fluency scoring (CCNet-style corpus-frequency proxy)
# ---------------------------------------------------------------------------

_BIGRAM_SQL = sql_shingles(SQL_WS_TOKENS.format(c="text"), 2)


@query(
    "lex_bigram_fluency",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, UNNEST({_BIGRAM_SQL}) AS bigram FROM documents
    ), dict AS (
      SELECT bigram, COUNT(*) AS freq FROM b GROUP BY bigram
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(dict.freq) AS BIGINT) AS freq_mass,
           CAST(SUM(dict.freq) AS DOUBLE) / COUNT(*) AS mean_bigram_freq
    FROM b JOIN dict USING (bigram)
    GROUP BY b.doc_id
    """,
    tags=("llm", "text", "quality", "documents"),
)
def lex_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-lite fluency proxy (the CCNet/KenLM filter reduced to exact
    integer arithmetic): build the corpus bigram dictionary, score each
    document by the mean corpus frequency of its bigrams — word salad made
    of rare transitions scores low, boilerplate scores high; both tails get
    filtered in a real pipeline. Two shuffles total (dict groupBy + doc
    re-agg), dictionary join is a plain equi-join on the bigram key — at
    100 TB the dict is Zipf-compact and AQE broadcast-joins it when it fits.
    Documents with <2 tokens have no bigrams and drop out (same in oracle,
    inner join)."""
    d = load(spark, sf_dir, "documents")
    b = d.select(
        "doc_id", F.explode(shingles(ws_tokens("text"), 2)).alias("bigram")
    )
    dict_df = b.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq"))
    return (
        b.join(dict_df, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("freq").cast("long").alias("freq_mass"),
            (F.sum("freq").cast("double") / F.count(F.lit(1))).alias(
                "mean_bigram_freq"
            ),
        )
    )


# Crafted URL-bearing rows unioned into text_extract_urls below: the
# synthetic corpus is URL-free, so without these the query certifies only
# an empty rollup. Negative doc_ids cannot collide with corpus ids. The
# rows exercise every normalization branch: host case-folding, query/
# fragment stripping, path-case preservation, http vs https, multiple
# URLs per document, and cross-document duplicate canonical forms.
URL_FIXTURE_ROWS: tuple[tuple[int, str], ...] = (
    (-1, "see https://Example.COM/Path/One?utm=x#frag and http://example.com/two"),
    (-2, "dup https://example.com/Path/One#other plus https://CDN.example.net/a?b=c"),
    (-3, "plain text with no links at all"),
    (-4, "http://example.com/two?session=9 again and https://cdn.example.net/a"),
)

_URL_FIXTURE_SQL = " UNION ALL ".join(
    "SELECT CAST({} AS BIGINT) AS doc_id, '{}' AS text".format(i, t.replace("'", "''"))
    for i, t in URL_FIXTURE_ROWS
)


def url_domain_rollup(d: DataFrame) -> DataFrame:
    """The bare URL-extraction operator over any (doc_id, text) frame:
    extract URLs, strip query/fragment, case-fold scheme+host (path case
    preserved — paths are case-sensitive, hosts are not), roll up per
    domain. No fixture rows — callers get only what their corpus contains;
    the registered ``text_extract_urls`` certification query unions
    URL_FIXTURE_ROWS explicitly (and its oracle mirrors them) because the
    synthetic corpus is URL-free and a bare run would certify only an
    empty rollup."""
    u = d.select(
        "doc_id",
        F.explode(
            # idx=0 (full match): Spark defaults the group index to 1, which
            # errors on a group-less pattern; DuckDB's default is already 0
            F.regexp_extract_all("text", F.lit(r"https?://[^\s]+"), 0)
        ).alias("url"),
    )
    n = u.select(
        "doc_id",
        F.lower(F.regexp_extract("url", r"https?://([^/\s?#]+)", 1)).alias("domain"),
        F.concat(
            F.lower(F.regexp_extract("url", r"^(https?://[^/\s?#]+)", 1)),
            F.regexp_replace(
                F.regexp_replace("url", r"^https?://[^/\s?#]+", ""), r"[?#].*$", ""
            ),
        ).alias("url_clean"),
    )
    return n.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("url_clean").alias("n_distinct_urls"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@query(
    "text_extract_urls",
    oracle=rf"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      {_URL_FIXTURE_SQL}
    ), u AS (
      SELECT doc_id,
             UNNEST(REGEXP_EXTRACT_ALL(text, 'https?://[^\s]+')) AS url
      FROM corpus
    ), n AS (
      SELECT doc_id,
             LOWER(REGEXP_EXTRACT(url, 'https?://([^/\s?#]+)', 1)) AS domain,
             LOWER(REGEXP_EXTRACT(url, '^(https?://[^/\s?#]+)', 1)) ||
               REGEXP_REPLACE(REGEXP_REPLACE(url, '^https?://[^/\s?#]+', ''),
                              '[?#].*$', '') AS url_clean
      FROM u
    )
    SELECT domain,
           COUNT(*) AS n_urls,
           COUNT(DISTINCT url_clean) AS n_distinct_urls,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM n
    GROUP BY domain
    """,
    tags=("llm", "text", "url", "documents"),
)
def text_extract_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + normalization + domain rollup (the crawl-curation
    primitive behind domain blocklists and per-domain caps) — the
    CERTIFICATION form: corpus ∪ URL_FIXTURE_ROWS through the bare
    ``url_domain_rollup`` operator (fixture mirrored in the oracle; the
    union is a zero-shuffle append of 4 rows). Production callers use
    ``url_domain_rollup`` directly and see only real corpus URLs."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(list(URL_FIXTURE_ROWS), "doc_id long, text string")
    )
    return url_domain_rollup(d)


# Crafted rows for dedup_url_canonical: each exercises a different
# canonicalization rule, and several collapse to the SAME canonical form
# only when every rule fires (ids below -10 so they cannot collide with
# URL_FIXTURE_ROWS).
CANON_URL_FIXTURE_ROWS: tuple[tuple[int, str], ...] = (
    # default-port strip + www strip + trailing slash + tracking-param
    # drop + surviving-param keep: -> https://example.com/Shop?id=42
    (-11, "a https://Example.COM:443/Shop/?utm_source=x&utm_campaign=y&id=42 b"),
    # the SAME canonical via a different surface form (www + fbclid +
    # param already last): cross-document canonical duplicate
    (-12, "b https://www.Example.com/Shop/?fbclid=zzz&id=42"),
    # intra-document duplicate: port form + tracking-only query form of
    # one canonical -> http://example.com/a (x2 in one doc)
    (-13, "c http://example.com:80/a/ and http://example.com/a?utm_medium=m"),
    # parameter ORDER canonicalization: both -> ...?x=2&y=1
    (-14, "d https://example.com/a?x=2&y=1 vs https://example.com/a?y=1&x=2"),
)

_CANON_URL_FIXTURE_SQL = " UNION ALL ".join(
    "SELECT CAST({} AS BIGINT) AS doc_id, '{}' AS text".format(i, t.replace("'", "''"))
    for i, t in CANON_URL_FIXTURE_ROWS
)

#: query parameters a canonicalizer drops: pure click-tracking markers
#: whose presence never changes the fetched resource
_TRACKING_PARAM_RE = r"^(utm_[a-z0-9]+|fbclid|gclid|sid|session|ref)="


def sql_canonical_urls(corpus_sql: str) -> str:
    """DuckDB CTE chain (u -> parts -> norm -> canon) producing
    (doc_id, canonical_url) from a corpus CTE body — the oracle twin of
    :func:`canonical_urls`, shared by the one-shot and incremental URL
    dedup oracles so the canonicalizer cannot drift between them."""
    return rf"""corpus AS (
      {corpus_sql}
    ), u AS (
      SELECT doc_id,
             UNNEST(REGEXP_EXTRACT_ALL(text, 'https?://[^\s]+')) AS url
      FROM corpus
    ), parts AS (
      SELECT doc_id,
             LOWER(REGEXP_EXTRACT(url, '^(https?)://', 1)) AS scheme,
             LOWER(REGEXP_EXTRACT(url, '^https?://([^/\s?#]+)', 1)) AS hostport,
             REGEXP_REPLACE(
               REGEXP_REPLACE(REGEXP_REPLACE(url, '^https?://[^/\s?#]+', ''),
                              '[?#].*$', ''),
               '/+$', '') AS path,
             REGEXP_EXTRACT(url, '\?([^#\s]*)', 1) AS query
      FROM u
    ), norm AS (
      SELECT doc_id, scheme,
             REGEXP_REPLACE(
               CASE WHEN scheme = 'http'
                    THEN REGEXP_REPLACE(hostport, ':80$', '')
                    ELSE REGEXP_REPLACE(hostport, ':443$', '') END,
               '^www\.', '') AS host,
             path,
             ARRAY_TO_STRING(
               LIST_SORT(LIST_FILTER(STR_SPLIT(query, '&'),
                 p -> p <> '' AND NOT REGEXP_MATCHES(p, '{_TRACKING_PARAM_RE}'))),
               '&') AS cq
      FROM parts
    ), canon AS (
      SELECT doc_id,
             scheme || '://' || host || path ||
               CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS canonical_url
      FROM norm
    )"""


def canonical_urls(d: DataFrame) -> DataFrame:
    """(doc_id, canonical_url) for every URL occurrence in a
    (doc_id, text) frame — the ONE Spark-side canonicalizer (rules
    documented on ``dedup_url_canonical``), shared by the one-shot and
    incremental URL dedup queries."""
    u = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("text", F.lit(r"https?://[^\s]+"), 0)
        ).alias("url"),
    )
    scheme = F.lower(F.regexp_extract("url", r"^(https?)://", 1))
    hostport = F.lower(F.regexp_extract("url", r"^https?://([^/\s?#]+)", 1))
    host = F.regexp_replace(
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", "")).otherwise(
            F.regexp_replace(hostport, r":443$", "")
        ),
        r"^www\.",
        "",
    )
    path = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("url", r"^https?://[^/\s?#]+", ""), r"[?#].*$", ""
        ),
        r"/+$",
        "",
    )
    query_s = F.regexp_extract("url", r"\?([^#\s]*)", 1)
    cq = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query_s, "&"),
                lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(cq != "", F.concat(F.lit("?"), cq)).otherwise(F.lit("")),
    )
    return u.select("doc_id", canonical.alias("canonical_url"))


@query(
    "dedup_url_canonical",
    oracle=rf"""
    WITH {sql_canonical_urls(
        f"SELECT doc_id, text FROM documents UNION ALL {_CANON_URL_FIXTURE_SQL}"
    )}
    SELECT canonical_url,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM canon
    GROUP BY canonical_url
    """,
    tags=("llm", "dedup", "url", "documents"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL deduplication — the crawl stage that runs BEFORE any
    content dedup (a frontier dedups by canonical URL so the same page is
    never fetched twice): scheme+host case-fold, default-port strip
    (:80 for http / :443 for https only), leading-``www.`` fold,
    trailing-slash normalization, fragment drop, tracking-parameter drop
    (utm_*/fbclid/gclid/sid/session/ref — markers that never change the
    fetched resource), and QUERY-PARAMETER ORDER canonicalization (sort
    surviving params) — then one groupBy on the canonical form with
    occurrence/document counts and the min-id keeper. Every rule is a
    codegen'd string/array expression with an exact DuckDB twin
    (higher-order LIST_FILTER/LIST_SORT — no UDF), so the oracle replays
    the entire canonicalizer; the crafted fixture makes each rule
    individually load-bearing (a dropped rule splits a canonical group
    and flips the hash).

    Scale shape: row-local extraction + normalization, one
    map-side-combined groupBy on the canonical string — a crawl
    frontier's dedup is exactly this shuffle, bucketable by canonical at
    100 TB."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(
            list(CANON_URL_FIXTURE_ROWS), "doc_id long, text string"
        )
    )
    return (
        canonical_urls(d)
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
    )


# Cross-split fixture for the INCREMENTAL URL frontier: ids at 3·10^9
# (above every other fixture family); residues place the base URL's
# document in history and two batch documents — one whose differently-
# surfaced URL canonicalizes to the SAME form (caught), one novel.
INC_URL_FIXTURE_ROWS: tuple[tuple[int, str], ...] = (
    (3_000_000_000, "h https://Example.org/Page/?utm_source=a&k=1"),
    (3_000_000_008, "b https://www.example.org:443/Page?k=1&gclid=g"),
    (3_000_000_018, "n http://example.org/other"),
)

_INC_URL_FIXTURE_SQL = " UNION ALL ".join(
    "SELECT CAST({} AS BIGINT) AS doc_id, '{}' AS text".format(i, t.replace("'", "''"))
    for i, t in INC_URL_FIXTURE_ROWS
)


@query(
    "dedup_incremental_url",
    oracle=rf"""
    WITH {sql_canonical_urls(
        "SELECT doc_id, text FROM documents UNION ALL " + _INC_URL_FIXTURE_SQL
    )},
    history AS (
      SELECT DISTINCT canonical_url FROM canon
      WHERE doc_id % 10 < 8 OR doc_id < 0
    ), batch AS (
      SELECT doc_id, canonical_url FROM canon
      WHERE doc_id % 10 >= 8 AND doc_id >= 0
    )
    SELECT b.canonical_url,
           COUNT(*) AS n_batch_occurrences,
           COUNT(DISTINCT b.doc_id) AS n_batch_docs,
           (h.canonical_url IS NOT NULL) AS in_history
    FROM batch b LEFT JOIN history h ON b.canonical_url = h.canonical_url
    GROUP BY b.canonical_url, (h.canonical_url IS NOT NULL)
    """,
    tags=("llm", "dedup", "url", "documents", "incremental"),
)
def dedup_incremental_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental canonical-URL dedup — the crawl FRONTIER's admission
    check (completing the URL row of the dedup matrix next to exact/
    MinHash/SimHash/passage/semantic): the incoming shard's canonical
    URLs joined against the historical frontier's canonical set, so a
    page already fetched under any surface form (tracking params, www,
    default port, param order, trailing slash) is never fetched again.
    Canonicalization is the SHARED ``canonical_urls`` /
    ``sql_canonical_urls`` pair — one-shot and incremental forms cannot
    drift. Split is the standard doc_id residue (negative fixture ids
    residue negative → history, matching both engines' dividend-sign
    ``%``); INC_URL_FIXTURE_ROWS keeps the caught path non-vacuous with
    a cross-split pair whose surface forms differ in every rule.

    Scale shape: only canonical strings join; at 100 TB the frontier is
    a bucketed-by-canonical staging table (zero-shuffle history side,
    the HistoryDedupSink discipline — which already provides the
    streaming form of exactly this check when fed ``canonical_url`` as
    its content column)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(list(INC_URL_FIXTURE_ROWS), "doc_id long, text string")
    )
    canon = canonical_urls(d)
    is_hist = (F.col("doc_id") % 10 < 8) | (F.col("doc_id") < 0)
    history = (
        canon.filter(is_hist)
        .select("canonical_url")
        .distinct()
        .withColumn("in_hist", F.lit(1))
    )
    batch = canon.filter(~is_hist)
    return (
        batch.join(history, "canonical_url", "left")
        .groupBy("canonical_url", F.col("in_hist").isNotNull().alias("in_history"))
        .agg(
            F.count(F.lit(1)).alias("n_batch_occurrences"),
            F.countDistinct("doc_id").alias("n_batch_docs"),
        )
        .select(
            "canonical_url", "n_batch_occurrences", "n_batch_docs", "in_history"
        )
    )


# ---------------------------------------------------------------------------
# BM25 relevance ranking ([GAP→add] SURVEY §2.12 — retrieval scoring for
# curation/dedup triage; the reference has keyword membership only, P8)
# ---------------------------------------------------------------------------

#: fixed query terms BM25 ranks against (present in the corpus vocabulary)
BM25_TERMS = ("spark", "join", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


@query(
    "bm25_rank_documents",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({SQL_WS_TOKENS.format(c='text')}) AS token
      FROM documents),
    dl AS (
      SELECT doc_id, CAST(LEN({SQL_WS_TOKENS.format(c='text')}) AS BIGINT) AS dl
      FROM documents),
    stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token IN {BM25_TERMS!r}
      GROUP BY doc_id, token),
    df AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    term_scores AS (
      SELECT tf.doc_id, tf.token,
             ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
             * (CAST(tf AS DOUBLE) * ({BM25_K1} + 1.0))
             / (CAST(tf AS DOUBLE)
                + {BM25_K1} * (1.0 - {BM25_B}
                               + {BM25_B} * CAST(dl.dl AS DOUBLE)
                                 / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))
               AS s
      FROM tf
      JOIN df USING (token)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats),
    scored AS (
      SELECT doc_id,
             COALESCE(MAX(CASE WHEN token = '{BM25_TERMS[0]}' THEN s END), 0.0)
             + COALESCE(MAX(CASE WHEN token = '{BM25_TERMS[1]}' THEN s END), 0.0)
             + COALESCE(MAX(CASE WHEN token = '{BM25_TERMS[2]}' THEN s END), 0.0)
               AS bm25,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      FROM term_scores
      GROUP BY doc_id)
    SELECT doc_id, n_terms_hit, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rnk
    FROM scored
    QUALIFY rnk <= {BM25_TOPK}
    """,
    tags=("llm", "text", "retrieval", "documents"),
)
def bm25_rank_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by BM25 relevance to a fixed term set — the lexical
    retrieval scorer used to triage a corpus against a probe query (e.g.
    finding benchmark contamination or topic-targeted curation). Uses the
    RATIONAL idf form (N - df + 0.5)/(df + 0.5) — same ranking as the log
    form, but a fixed tree of correctly-rounded IEEE ops, so scores are
    bit-exact cross-engine (cf. text_tfidf_topterms).

    Scale shape: tokens are filtered to the |query| terms BEFORE the
    (doc, token) groupBy, so the tf shuffle carries only matching
    postings, not the corpus token stream; df and the corpus stats
    (n_docs, avgdl) are tiny aggregates riding broadcast joins. The final
    global top-k is a row_number window over only the scored (matching)
    docs. Per-term idf saturation weights each term's contribution by the
    BM25 tf-saturation curve with document-length normalization."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", ws_tokens("text").alias("toks"))
    dl = toks.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("token"))
        .filter(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    idf = ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    tf_d = F.col("tf").cast("double")
    term_score = idf * (tf_d * (BM25_K1 + 1.0)) / (
        tf_d
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl").cast("double") / avgdl)
    )
    # per-term scores summed in FIXED term order via a conditional-agg
    # pivot — a SUM over doubles is shuffle-order-dependent (measured
    # last-ulp drift vs the oracle); the coalesced three-term add is the
    # same deterministic tree in both engines
    per_term = [
        F.coalesce(
            F.max(F.when(F.col("token") == t, term_score)), F.lit(0.0)
        )
        for t in BM25_TERMS
    ]
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            (per_term[0] + per_term[1] + per_term[2]).alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
    )
    from pyspark.sql import Window as _W

    rnk = F.row_number().over(_W.orderBy(F.col("bm25").desc(), "doc_id"))
    return (
        scored.select("doc_id", "n_terms_hit", "bm25")
        .withColumn("rnk", rnk.cast("long"))
        .filter(F.col("rnk") <= BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# Readability scoring ([GAP→add] SURVEY §2.12 — a quality-curation signal
# alongside lex_quality_score / lex_gopher_rules)
# ---------------------------------------------------------------------------


@query(
    "curate_readability",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(LEN({SQL_WS_TOKENS.format(c='text')}) AS BIGINT) AS n_words,
             CAST(GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')), 1) AS BIGINT)
               AS n_sentences,
             CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiouy]+')) AS BIGINT)
               AS n_syllables
      FROM documents)
    SELECT doc_id, source, n_words, n_sentences, n_syllables,
           CASE WHEN n_words = 0 THEN NULL
                ELSE 206.835
                     - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                     - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
           END AS flesch
    FROM t
    """,
    tags=("llm", "text", "quality", "documents"),
)
def curate_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading-ease estimate: 206.835 − 1.015·(words/
    sentence) − 84.6·(syllables/word), with syllables approximated by
    vowel-group runs ([aeiouy]+) — the standard no-dictionary estimator.
    A curation signal: very low scores flag run-on machine-generated text,
    very high flag fragment noise.

    Scale shape: a single narrow projection — three regex/split column
    expressions per row, all whole-stage-codegen'd JVM-side, no shuffle at
    all. Empty documents yield NULL score (guarded division).

    Exactness: counts are integers; the score is a fixed tree of IEEE
    double ops identical in both engines."""
    return readability(load(spark, sf_dir, "documents"))


def readability(d: DataFrame) -> DataFrame:
    """Tested core of curate_readability over any (doc_id, source, text)
    frame — see the query docstring."""
    n_words = F.size(ws_tokens("text")).cast("long")
    n_sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)), F.lit(1)
    ).cast("long")
    n_syllables = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("long")
    t = d.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    )
    flesch = F.when(F.col("n_words") == 0, F.lit(None).cast("double")).otherwise(
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        - F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double"))
    )
    return t.withColumn("flesch", flesch)


# ---------------------------------------------------------------------------
# BPE vocabulary learning (tokenizer training as relational algebra)
# ---------------------------------------------------------------------------

#: number of unrolled merge rounds (the iterative-fixed-point discipline:
#: LPA/PageRank/k-core unroll the same way)
BPE_ROUNDS = 3
#: end-of-word marker appended to every character sequence (Sennrich et al.
#: 2016 §3.2); '<'/'/' cannot occur in the [a-z]+ word charset, so the
#: marker can never collide with a learned symbol
BPE_EOW = "</w>"

#: WordPiece likelihood-score quantization: scores rank as the exact
#: integer (pair_count * SCALE) // (left_count * right_count), so both
#: engines compute the identical BIGINT and no float boundary can flip an
#: argmax. The products are computed in DECIMAL(38,0) on the Spark side
#: (BIGINT would wrap once pair_count exceeds int64max/SCALE ~ 9.2e6 —
#: easily reached at corpus scale) and in HUGEINT on the DuckDB side
#: (SUM() of integers); the QUOTIENT is <= SCALE (pair_count <= each
#: symbol count), so the stored score always fits BIGINT.
WP_SCORE_SCALE = 10**12


def _bpe_round_ctes(rounds: int, p: str = "", wordpiece: bool = False) -> list[str]:
    """The per-round s/pc/best/cand/keep/v/m CTE chain of a DuckDB BPE
    twin, reading its seed vocabulary from ``{p}v0``: the identical
    relational steps (positional explode, weighted pair count,
    lexicographic argmax, run-parity leftmost-non-overlap selection,
    ordered re-aggregation) replayed in SQL for EVERY round — the
    arrange_hilbert_layout discipline of re-deriving each round rather
    than trusting the engine. The prefix ``p`` namespaces the CTEs so the
    char-level and byte-level trainers share THIS one merge definition
    (the cm_buckets shared-definition discipline applied to the oracles:
    one argmax/merge semantics, two alphabets).

    ``wordpiece=True`` switches ONLY the two points where the WordPiece
    trainer differs from BPE (Schuster & Nakajima 2012; the BERT
    trainer): the argmax ranks by the likelihood score
    count(pair)/(count(left)*count(right)) — quantized to the exact
    integer (c * WP_SCORE_SCALE) // (lc * rc) so no float boundary can
    flip the argmax between engines — and a merge concatenates with the
    right symbol's '##' continuation prefix stripped (a bare '##' right
    symbol is never selected, as in the Spark twin). The run-parity
    merge application is character-for-character the BPE one."""
    parts = []
    # a WordPiece merge strips the right symbol's '##' continuation prefix
    # (every merge-able right symbol is word-interior, hence '##'-prefixed)
    merged = "s.sym || SUBSTR(s.nxt, 3)" if wordpiece else "s.sym || s.nxt"
    score_col = "CAST(score_q AS BIGINT) AS score_q," if wordpiece else ""
    for r in range(1, rounds + 1):
        if wordpiece:
            best = f"""{p}sc{r} AS MATERIALIZED (
      SELECT sym, SUM(freq) AS c FROM {p}s{r} GROUP BY sym
    ), {p}best{r} AS MATERIALIZED (
      SELECT ls AS bl, rs AS br, c AS bc,
             (c * {WP_SCORE_SCALE}) // (lc * rc) AS score_q
      FROM (SELECT pc.ls, pc.rs, pc.c, l.c AS lc, r2.c AS rc
            FROM {p}pc{r} pc
            JOIN {p}sc{r} l ON l.sym = pc.ls
            JOIN {p}sc{r} r2 ON r2.sym = pc.rs
            WHERE LENGTH(pc.rs) > 2)
      ORDER BY score_q DESC, ls, rs LIMIT 1
    )"""
        else:
            best = f"""{p}best{r} AS MATERIALIZED (
      SELECT ls AS bl, rs AS br, c AS bc FROM {p}pc{r}
      ORDER BY c DESC, ls, rs LIMIT 1
    )"""
        parts.append(f"""{p}s{r} AS MATERIALIZED (
      SELECT word, freq, i - 1 AS pos, l[i] AS sym, l[i + 1] AS nxt
      FROM (SELECT word, freq, STRING_SPLIT(seq, ' ') AS l FROM {p}v{r - 1}),
           UNNEST(GENERATE_SERIES(1, LEN(l))) AS u(i)
    ), {p}pc{r} AS MATERIALIZED (
      SELECT sym AS ls, nxt AS rs, SUM(freq) AS c
      FROM {p}s{r} WHERE nxt IS NOT NULL GROUP BY sym, nxt
    ), {best}, {p}cand{r} AS MATERIALIZED (
      SELECT s.word, s.pos FROM {p}s{r} s, {p}best{r} b
      WHERE s.sym = b.bl AND s.nxt = b.br
    ), {p}keep{r} AS MATERIALIZED (
      SELECT word, pos FROM (
        SELECT word, pos,
               ROW_NUMBER() OVER (PARTITION BY word, run ORDER BY pos) AS rk
        FROM (SELECT word, pos,
                     pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
                       AS run
              FROM {p}cand{r})
      ) WHERE rk % 2 = 1
    ), {p}v{r} AS MATERIALIZED (
      SELECT s.word, s.freq,
             STRING_AGG(CASE WHEN k.pos IS NOT NULL THEN {merged}
                             ELSE s.sym END, ' ' ORDER BY s.pos) AS seq
      FROM {p}s{r} s
      LEFT JOIN {p}keep{r} k  ON s.word = k.word  AND s.pos = k.pos
      LEFT JOIN {p}keep{r} k2 ON s.word = k2.word AND s.pos = k2.pos + 1
      WHERE k2.pos IS NULL
      GROUP BY s.word, s.freq
    ), {p}m{r} AS (
      SELECT CAST({r} AS BIGINT) AS round, bl AS left_sym, br AS right_sym,
             CAST(bc AS BIGINT) AS pair_freq, {score_col}
             (SELECT CAST(SUM(LEN(STRING_SPLIT(seq, ' '))) AS BIGINT)
              FROM {p}v{r}) AS vocab_symbols_after
      FROM {p}best{r}
    )""")
    return parts


def _bpe_sql_ctes() -> list[str]:
    """Shared CTE chain of the DuckDB char-BPE twin (w0 → v0 → per-round
    s/pc/best/cand/keep/v/m via :func:`_bpe_round_ctes`). Consumed by the
    learner's merge-table oracle AND the tokenizer's document-rollup
    oracle, so the two gates certify ONE vocabulary definition."""
    from projet_pipeline_bigdata_org_spark.operators.textops import SQL_WS_TOKENS

    parts = [
        f"""w0 AS MATERIALIZED (
      SELECT tok AS word, COUNT(*) AS freq
      FROM (SELECT UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok FROM documents)
      WHERE REGEXP_MATCHES(tok, '^[a-z]+$')
      GROUP BY tok
    ), v0 AS MATERIALIZED (
      SELECT word, freq,
             ARRAY_TO_STRING(STRING_SPLIT(word, '') || ['{BPE_EOW}'], ' ') AS seq
      FROM w0
    )"""
    ]
    return parts + _bpe_round_ctes(BPE_ROUNDS)


def _bpe_sql() -> str:
    union = " UNION ALL ".join(
        f"SELECT * FROM m{r}" for r in range(1, BPE_ROUNDS + 1)
    )
    return "WITH " + ", ".join(_bpe_sql_ctes()) + " " + union


def _bpe_tokenize_sql() -> str:
    """Document-level rollup against the round-BPE_ROUNDS vocabulary of
    the shared CTE chain."""
    from projet_pipeline_bigdata_org_spark.operators.textops import SQL_WS_TOKENS

    parts = _bpe_sql_ctes() + [
        f"""vt AS MATERIALIZED (
      SELECT word, LEN(STRING_SPLIT(seq, ' ')) AS n_sym FROM v{BPE_ROUNDS}
    ), dw AS MATERIALIZED (
      SELECT doc_id, tok AS word, COUNT(*) AS n_occ
      FROM (SELECT doc_id, UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok
            FROM documents)
      WHERE REGEXP_MATCHES(tok, '^[a-z]+$')
      GROUP BY doc_id, tok
    )"""
    ]
    return (
        "WITH " + ", ".join(parts) + f"""
    SELECT dw.doc_id,
           CAST(SUM(dw.n_occ) AS BIGINT) AS n_words,
           CAST(SUM(dw.n_occ * (LENGTH(dw.word) + 1)) AS BIGINT)
             AS n_char_tokens,
           CAST(SUM(dw.n_occ * vt.n_sym) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(dw.n_occ * vt.n_sym) * 1000
                // SUM(dw.n_occ * (LENGTH(dw.word) + 1)) AS BIGINT)
             AS compression_milli
    FROM dw JOIN vt USING (word)
    GROUP BY dw.doc_id
    """
    )


def bpe_merge_round(
    vocab: DataFrame, rnd: int, wordpiece: bool = False
) -> tuple[DataFrame, DataFrame]:
    """One BPE merge round over the weighted symbol-sequence vocabulary
    (word, freq, syms: array<string>). Returns (rebuilt vocabulary, 1-row
    round summary). Pairing is window-free: ``posexplode`` plus an O(1)
    ``F.get(syms, pos + 1)`` lookup yields (sym, next) without a
    per-word sort; merge application is a per-word array fold (see the
    inline note), so the whole round is entirely window- and
    rebuild-join-free — only the pair count and the argmax touch an
    exchange.

    ``wordpiece=True`` switches the same two points as the SQL twin
    (:func:`_bpe_round_ctes`): argmax by the quantized likelihood score
    (pair / left*right, WP_SCORE_SCALE integer form) instead of raw
    pair count, and '##'-stripped merge concatenation. Everything else
    — pairing, merge selection, rebuild — is the SAME code."""
    ex = (
        vocab.select("word", "freq", "syms", F.posexplode("syms").alias("pos", "sym"))
        .select(
            "word", "freq", "pos", "sym",
            F.get("syms", F.col("pos") + 1).alias("nxt"),
        )
    )
    pc = (
        ex.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("ls"), F.col("nxt").alias("rs"))
        .agg(F.sum("freq").cast("long").alias("c"))
    )
    if wordpiece:
        sc = ex.groupBy("sym").agg(F.sum("freq").cast("long").alias("symc"))
        scored = (
            pc.join(
                F.broadcast(sc.select(F.col("sym").alias("ls"), F.col("symc").alias("lc"))),
                "ls",
            )
            .join(
                F.broadcast(sc.select(F.col("sym").alias("rs"), F.col("symc").alias("rc"))),
                "rs",
            )
            # DECIMAL(38,0) keeps c*SCALE exact up to c ~ 1e26 (BIGINT
            # would wrap past c ~ 9.2e6 = int64max/SCALE); DuckDB's SUM()
            # is HUGEINT so its product is exact natively — both engines
            # compute the identical quotient, which itself is <= SCALE
            # (c <= lc and c <= rc) and so always fits the BIGINT result
            .withColumn(
                "score_q",
                F.expr(
                    f"(CAST(c AS DECIMAL(38,0)) * {WP_SCORE_SCALE})"
                    f" div (CAST(lc AS DECIMAL(38,0)) * rc)"
                ),
            )
        )
        best = (
            # a bare '##' right symbol would merge to bl itself and let
            # the fold chain-merge: keep "merged is bl||<nonempty>" true
            scored.filter(F.length("rs") > 2)
            .orderBy(F.desc("score_q"), "ls", "rs")
            .limit(1)
            .select(
                F.col("ls").alias("bl"),
                F.col("rs").alias("br"),
                F.col("c").alias("bc"),
                "score_q",
            )
        )
    else:
        best = (
            pc.orderBy(F.desc("c"), "ls", "rs")
            .limit(1)
            .select(
                F.col("ls").alias("bl"), F.col("rs").alias("br"), F.col("c").alias("bc")
            )
        )
    # r18 (guide §1.2/§2.4): merge application is WORD-LOCAL — greedy
    # leftmost non-overlapping merging of (bl, br) is exactly a left fold
    # over the symbol array: append each symbol unless the output's last
    # element equals bl and the incoming one equals br, in which case
    # replace the last element with the merge. The fold IS the run-parity
    # rule (a merged element is bl||<nonempty>, never bl itself, so a
    # fresh merge can't chain — the next candidate considered is the one
    # greedy would consider), verified rebuilt-table exceptAll-empty both
    # ways against the window/join form at sf0.01 and sf0.1. This
    # replaces, per round: the candidate join, two per-word row_number
    # windows, two left anti-position joins and the collect_list regroup
    # (4 exchanges of the vocabulary) with ONE narrow projection over the
    # already-persisted vocab. Empty `best` (no pair anywhere) leaves
    # every word unchanged via the left join's NULL bl/br, exactly as the
    # old candidate join matched nothing.
    def _fold_merge(acc, x):
        last = F.get(acc, F.size(acc) - 1)
        # wordpiece merge strips the '##' continuation prefix off the
        # right symbol — substr(3, len-2) IS substring(nxt, 3)
        merged = (
            F.concat(last, x.substr(F.lit(3), F.length(x) - 2))
            if wordpiece
            else F.concat(last, x)
        )
        return F.when(
            last.isNotNull() & (last == F.col("bl")) & (x == F.col("br")),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    rebuilt = vocab.join(F.broadcast(best), F.lit(True), "left").select(
        "word",
        "freq",
        F.aggregate(
            "syms",
            F.expr("CAST(array() AS array<string>)"),
            _fold_merge,
        ).alias("syms"),
    )
    after = rebuilt.agg(
        F.sum(F.size("syms")).cast("long").alias("vocab_symbols_after")
    )
    head = [
        F.lit(rnd).cast("long").alias("round"),
        F.col("bl").alias("left_sym"),
        F.col("br").alias("right_sym"),
        F.col("bc").alias("pair_freq"),
    ]
    if wordpiece:
        head.append(F.col("score_q").cast("long").alias("score_q"))
    summary = best.select(*head).join(F.broadcast(after), how="cross")
    return rebuilt, summary


@query(
    "text_bpe_learn",
    oracle=_bpe_sql(),
    tags=("llm", "text", "documents"),
)
def text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding vocabulary learning (Sennrich, Haddow & Birch
    2016 — the GPT/Llama tokenizer-training algorithm) as pure relational
    algebra: BPE_ROUNDS unrolled merge rounds over the WEIGHTED word
    vocabulary (BPE trains on (word, freq) pairs, never the raw corpus —
    the one corpus-sized pass is the initial word count). Each round:
    count adjacent symbol pairs weighted by word frequency, pick the max
    (count DESC, then lexicographic — fully deterministic), merge greedy
    leftmost-non-overlapping occurrences via the run-parity rule, and
    re-aggregate sequences. The oracle replays every round's argmax AND
    the merge application in DuckDB (``vocab_symbols_after`` certifies
    the rewrite, not just the pair counts — each merge must remove
    exactly one symbol per kept occurrence).

    Scale shape: after the one map-side-combined word count, every table
    is vocabulary-bounded (words x symbols-per-word), not corpus-bounded;
    the 1-row argmax rides TakeOrdered + broadcast; each round's vocab is
    scope-persisted so the three branches that read it (pair counts,
    candidates, rebuild) share one materialization, and round N+1 never
    recomputes round N (the iterative-graph persist discipline)."""
    _vocab, summaries = bpe_learned_vocab(spark, sf_dir)
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionAll(s)
    return out


def bpe_learned_vocab(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """The ONE Spark-side BPE training pipeline: word count → character
    sequences → BPE_ROUNDS scope-persisted merge rounds. Returns the
    final (word, freq, syms) vocabulary and the per-round 1-row
    summaries; ``text_bpe_learn`` reports the summaries,
    ``text_bpe_tokenize`` applies the vocabulary — both read this
    function, so learner and tokenizer cannot train different
    vocabularies (the cm_buckets shared-definition discipline). Served
    from the catalog-layer stage cache as MATERIALIZED parquet staging
    tables (catalog.stage_tables): the merge sequence is deterministic,
    so tokenize/fertility scan the learner's silver-layer rounds
    (VERDICT r12 #7) and clearCache() cannot degrade them back into a
    retrain."""
    from projet_pipeline_bigdata_org_spark.catalog import stage_tables

    def _build():
        vocab, summaries = _bpe_vocab_build(spark, sf_dir)
        out = {"vocab": vocab}
        for i, s in enumerate(summaries):
            out[f"summary_{i}"] = s
        return out

    t = stage_tables(spark, "bpe_learned_vocab", sf_dir, _build)
    n = len([k for k in t if k.startswith("summary_")])
    return t["vocab"], [t[f"summary_{i}"] for i in range(n)]


def _bpe_vocab_build(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(ws_tokens("text")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    vocab = _persist_scoped(
        "bpe_v0",
        words.select(
            "word",
            "freq",
            F.concat(F.split(F.col("word"), ""), F.array(F.lit(BPE_EOW))).alias(
                "syms"
            ),
        ),
    )
    summaries = []
    for r in range(1, BPE_ROUNDS + 1):
        vocab, summary = bpe_merge_round(vocab, r)
        vocab = _persist_scoped(f"bpe_v{r}", vocab)
        summaries.append(summary)
    return vocab, summaries


@query(
    "text_bpe_tokenize",
    oracle=_bpe_tokenize_sql(),
    tags=("llm", "text", "documents"),
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE vocabulary to the corpus — the token-budget
    accounting a training pipeline runs before packing: per document, the
    word count, the pre-merge character-token count (chars + the
    end-of-word marker), the post-merge BPE token count under the
    round-BPE_ROUNDS vocabulary, and the milli-scaled compression ratio
    (division-free up to one truncating div, same on both engines). The
    learner/applier pair mirrors dedup_repeated_passages →
    dedup_passage_prune: ``text_bpe_learn`` certifies the training,
    this query certifies the application (every document's token count
    must reflect each merge's symbol removals exactly).

    Scale shape: training tables are vocabulary-bounded (see
    ``bpe_learned_vocab``); application is ONE corpus pass grouped to
    (doc, word) map-side, then a broadcast join against the <=vocab-size
    symbol-count table — documents never shuffle against each other.
    Docs without a single [a-z]+ word drop out (inner join), identically
    in both engines."""
    vocab, _summaries = bpe_learned_vocab(spark, sf_dir)
    vt = vocab.select("word", F.size("syms").alias("n_sym"))
    d = load(spark, sf_dir, "documents")
    dw = (
        d.select("doc_id", F.explode(ws_tokens("text")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    )
    return (
        dw.join(F.broadcast(vt), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * (F.length("word") + 1))
            .cast("long")
            .alias("n_char_tokens"),
            F.sum(F.col("n_occ") * F.col("n_sym")).cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_char_tokens",
            "n_bpe_tokens",
            F.expr("CAST(n_bpe_tokens * 1000 div n_char_tokens AS BIGINT)").alias(
                "compression_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# BYTE-level BPE (GPT-2/Llama-style): the 256-symbol base alphabet is the
# word's UTF-8 BYTES, so there is no out-of-vocabulary path and merges may
# cross codepoint boundaries (Radford et al. 2019 §2.2 "Input
# Representation"; Sennrich merges unchanged). Bytes travel as fixed-width
# UPPERCASE HEX PAIRS — hex(encode(word)) then a '..' regexp split is
# bit-identical in Spark and DuckDB (verified: both emit uppercase), and a
# merge is plain string concat, so 'C3'+'A9' IS the merged symbol C3A9 (é).
# Token-budget accounting differs materially from char-BPE on non-ASCII
# text (select_token_budget / pack_sequences key off token counts), which
# is why real pipelines publish byte-level counts.
# ---------------------------------------------------------------------------

#: byte-level trainer word cap (BYTES, not chars) — bounds every merge
#: table to words x <=BBPE_MAX_WORD_BYTES symbols, identically via Spark
#: octet_length and DuckDB STRLEN (both count UTF-8 bytes)
BBPE_MAX_WORD_BYTES = 16

#: UTF-8 rider docs (negative ids cannot collide with corpus ids): the
#: corpus text is ASCII by generation, so these pin the multi-byte path —
#: 2-byte Latin accents (é C3A9, ß C39F, ü C3BC) and 3-byte CJK — at any
#: SF; repeated words give the multi-byte pairs real frequency mass so the
#: byte accounting (n_byte_tokens > character count) is non-vacuous
BBPE_FIXTURE_ROWS: tuple[tuple[int, str], ...] = (
    (-201, "café déjà café naïve café déjà"),
    (-202, "日本語 データ 日本語 モデル 日本語"),
    (-203, "größe straße größe füße größe"),
)

_BBPE_FIXTURE_SQL = " UNION ALL ".join(
    f"SELECT CAST({i} AS BIGINT) AS doc_id, '{t}' AS text"
    for i, t in BBPE_FIXTURE_ROWS
)


def _bbpe_seed_ctes() -> list[str]:
    """bdocs → bw0 → bv0: the byte-level seed vocabulary (words as
    space-joined hex-pair sequences), feeding the SAME per-round merge
    CTEs as the char trainer (:func:`_bpe_round_ctes`, prefix ``b``)."""
    return [
        f"""bdocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL {_BBPE_FIXTURE_SQL}
    ), bw0 AS MATERIALIZED (
      SELECT tok AS word, COUNT(*) AS freq
      FROM (SELECT UNNEST({SQL_WS_TOKENS.format(c="COALESCE(text, '')")})
              AS tok FROM bdocs)
      WHERE STRLEN(tok) <= {BBPE_MAX_WORD_BYTES}
      GROUP BY tok
    ), bv0 AS MATERIALIZED (
      SELECT word, freq,
             ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(HEX(ENCODE(word)), '..'), ' ')
               AS seq
      FROM bw0
    )"""
    ]


def _bbpe_sql_ctes() -> list[str]:
    return _bbpe_seed_ctes() + _bpe_round_ctes(BPE_ROUNDS, p="b")


def _bbpe_sql() -> str:
    union = " UNION ALL ".join(
        f"SELECT * FROM bm{r}" for r in range(1, BPE_ROUNDS + 1)
    )
    return "WITH " + ", ".join(_bbpe_sql_ctes()) + " " + union


def _bbpe_tokenize_sql() -> str:
    """Document-level byte-token rollup against the round-BPE_ROUNDS
    byte vocabulary of the shared CTE chain."""
    parts = _bbpe_sql_ctes() + [
        f"""bvt AS MATERIALIZED (
      SELECT word, LEN(STRING_SPLIT(seq, ' ')) AS n_sym FROM bv{BPE_ROUNDS}
    ), bdw AS MATERIALIZED (
      SELECT doc_id, tok AS word, COUNT(*) AS n_occ
      FROM (SELECT doc_id,
                   UNNEST({SQL_WS_TOKENS.format(c="COALESCE(text, '')")}) AS tok
            FROM bdocs)
      WHERE STRLEN(tok) <= {BBPE_MAX_WORD_BYTES}
      GROUP BY doc_id, tok
    )"""
    ]
    return (
        "WITH " + ", ".join(parts) + """
    SELECT bdw.doc_id,
           CAST(SUM(bdw.n_occ) AS BIGINT) AS n_words,
           CAST(SUM(bdw.n_occ * STRLEN(bdw.word)) AS BIGINT) AS n_byte_tokens,
           CAST(SUM(bdw.n_occ * bvt.n_sym) AS BIGINT) AS n_bbpe_tokens,
           CAST(SUM(bdw.n_occ * bvt.n_sym) * 1000
                // SUM(bdw.n_occ * STRLEN(bdw.word)) AS BIGINT)
             AS compression_milli
    FROM bdw JOIN bvt USING (word)
    GROUP BY bdw.doc_id
    """
    )


def _bbpe_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                list(BBPE_FIXTURE_ROWS), "doc_id long, text string"
            )
        )
    )


def bbpe_learned_vocab(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """The ONE Spark-side byte-BPE training pipeline (stage-cached parquet
    staging tables, same silver-layer contract as :func:`bpe_learned_vocab`):
    byte-bounded word count → hex-pair byte sequences → BPE_ROUNDS
    scope-persisted merge rounds through the SAME :func:`bpe_merge_round`
    kernel as the char trainer — one merge semantics, two alphabets.
    ``text_bpe_bytes_learn`` reports the per-round summaries,
    ``text_bpe_bytes_tokenize`` and the fertility row apply the
    vocabulary, so learner and appliers cannot train different
    vocabularies."""
    from projet_pipeline_bigdata_org_spark.catalog import stage_tables

    def _build():
        vocab, summaries = _bbpe_vocab_build(spark, sf_dir)
        out = {"vocab": vocab}
        for i, s in enumerate(summaries):
            out[f"summary_{i}"] = s
        return out

    t = stage_tables(spark, "bbpe_learned_vocab", sf_dir, _build)
    n = len([k for k in t if k.startswith("summary_")])
    return t["vocab"], [t[f"summary_{i}"] for i in range(n)]


def _bbpe_vocab_build(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    d = _bbpe_docs(spark, sf_dir)
    words = (
        d.select(
            F.explode(ws_tokens(F.coalesce(F.col("text"), F.lit("")))).alias(
                "word"
            )
        )
        .filter(F.octet_length("word") <= BBPE_MAX_WORD_BYTES)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    vocab = _persist_scoped(
        "bbpe_v0",
        words.select(
            "word",
            "freq",
            F.regexp_extract_all(
                F.hex(F.encode(F.col("word"), "UTF-8")), F.lit(".."), 0
            ).alias("syms"),
        ),
    )
    summaries = []
    for r in range(1, BPE_ROUNDS + 1):
        vocab, summary = bpe_merge_round(vocab, r)
        vocab = _persist_scoped(f"bbpe_v{r}", vocab)
        summaries.append(summary)
    return vocab, summaries


@query(
    "text_bpe_bytes_learn",
    oracle=_bbpe_sql(),
    tags=("llm", "text", "documents"),
)
def text_bpe_bytes_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-level BPE vocabulary learning — the GPT-2/Llama tokenizer
    base (Radford et al. 2019 §2.2): Sennrich merges over each word's
    UTF-8 BYTE sequence instead of its characters, so the base alphabet
    is 256 symbols, every string is representable (no out-of-vocabulary
    path, no unknown token), and merges may cross codepoint boundaries
    (the first fixture merges are free to rebuild é from C3+A9). Bytes
    travel as uppercase hex pairs — engine-portable, and merge = string
    concat. Per round the oracle replays the weighted pair count, the
    (count DESC, lexicographic) argmax, the run-parity greedy merge, AND
    the rewritten vocabulary size (``vocab_symbols_after`` certifies
    each merge removed exactly one symbol per kept occurrence) through
    the SAME round CTEs as the char trainer (:func:`_bpe_round_ctes`).
    BBPE_FIXTURE_ROWS rider docs keep the multi-byte path non-vacuous on
    the ASCII-by-generation corpus.

    Scale shape: identical to ``text_bpe_learn`` — one map-side-combined
    corpus word count, then every table is vocabulary-bounded (words x
    <=BBPE_MAX_WORD_BYTES symbols); the 1-row argmax rides TakeOrdered +
    broadcast; rounds are scope-persisted parquet stage tables."""
    _vocab, summaries = bbpe_learned_vocab(spark, sf_dir)
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionAll(s)
    return out


@query(
    "text_bpe_bytes_tokenize",
    oracle=_bbpe_tokenize_sql(),
    tags=("llm", "text", "documents"),
)
def text_bpe_bytes_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BYTE-level BPE vocabulary — the token-budget
    accounting real pipelines run (byte-level counts differ materially
    from char counts on non-ASCII text, and budget/packing operators key
    off token counts): per document, the counted word occurrences, the
    pre-merge BYTE count (UTF-8 bytes, not characters — the fixture docs
    certify the difference), the post-merge byte-BPE token count, and
    the milli-scaled compression ratio. Learner/applier pair mirrors
    ``text_bpe_learn`` → ``text_bpe_tokenize``.

    Scale shape: ONE corpus pass grouped to (doc, word) map-side, then a
    broadcast join against the <=vocab-size symbol-count table; documents
    never shuffle against each other. Words longer than
    BBPE_MAX_WORD_BYTES bytes are outside the trained vocabulary and
    excluded from the accounting (identically in both engines); docs
    with no qualifying word drop out (inner join, both engines)."""
    vocab, _summaries = bbpe_learned_vocab(spark, sf_dir)
    vt = vocab.select("word", F.size("syms").alias("n_sym"))
    d = _bbpe_docs(spark, sf_dir)
    dw = (
        d.select(
            "doc_id",
            F.explode(ws_tokens(F.coalesce(F.col("text"), F.lit("")))).alias(
                "word"
            ),
        )
        .filter(F.octet_length("word") <= BBPE_MAX_WORD_BYTES)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    )
    return (
        dw.join(F.broadcast(vt), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.octet_length("word"))
            .cast("long")
            .alias("n_byte_tokens"),
            F.sum(F.col("n_occ") * F.col("n_sym"))
            .cast("long")
            .alias("n_bbpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_byte_tokens",
            "n_bbpe_tokens",
            F.expr("CAST(n_bbpe_tokens * 1000 div n_byte_tokens AS BIGINT)").alias(
                "compression_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece-style, Kudo 2018) — the OTHER
# tokenizer family real pipelines train next to BPE: seed a substring
# vocabulary, score pieces by corpus likelihood, Viterbi-segment every
# word, re-estimate from the segmentation (hard EM), segment again.
# Likelihoods are FIXED-POINT INTEGERS: -log2 p(piece) is approximated by
# lg(total) - lg(occ) where lg is a floor-interpolated milli-scaled
# integer log2 (msb position + linear fraction — exact shifts/divides
# both engines replay bit-identically; max interpolation error ~0.086
# bits, monotone, so Viterbi decisions are deterministic).
# ---------------------------------------------------------------------------

#: words longer than this are excluded from unigram training/accounting
#: (identically in both engines); bounds the Viterbi DP unroll depth
UNI_MAX_WORD = 12
#: maximum piece length in the seed vocabulary
UNI_MAX_PIECE = 4
#: multi-char seed pieces need at least this corpus occurrence count
#: (single chars are always kept so every word stays segmentable)
UNI_MIN_OCC = 2
#: Viterbi state packing: pack = cost_milli*2^16 + n_pieces*2^12 + mask.
#: cost <= UNI_MAX_WORD * lg(2^63) < 2^20 milli, n <= 12 < 2^4, boundary
#: mask < 2^12 — fields never carry, so MIN(pack) IS the lexicographic
#: minimum of (cost, n_pieces, mask): one deterministic aggregation per
#: DP cell, no window, no tie ambiguity.
_UNI_CPACK = 1 << 16
_UNI_NPACK = 1 << 12


def _lg_spark(x: str) -> str:
    """Spark-SQL fragment: milli-scaled integer log2 of positive BIGINT
    ``x`` — msb position (via bin()) plus a shift-exact linear fraction."""
    p = f"(LENGTH(BIN({x})) - 1)"
    return (
        f"(CAST({p} AS BIGINT) * 1000 + shiftright(({x} - "
        f"shiftleft(CAST(1 AS BIGINT), {p})) * 1000, {p}))"
    )


def _lg_duck(x: str) -> str:
    """The identical fragment in DuckDB SQL (<< / >> operators)."""
    p = f"(LENGTH(BIN({x})) - 1)"
    return (
        f"(CAST({p} AS BIGINT) * 1000 + ((({x} - "
        f"(CAST(1 AS BIGINT) << {p})) * 1000) >> {p}))"
    )


def _uni_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, len) over the [a-z]+ corpus vocabulary, length-capped."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(ws_tokens("text")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .filter(F.length("word") <= UNI_MAX_WORD)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .withColumn("len", F.length("word").cast("int"))
    )


def _uni_cost(vocab: DataFrame) -> DataFrame:
    """(piece, c): c = lg(total) - lg(occ), the fixed-point -log2 p(piece)."""
    total = vocab.agg(F.sum("occ").cast("long").alias("total"))
    return (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "piece",
            F.expr(f"CAST({_lg_spark('total')} - {_lg_spark('occ')} AS BIGINT)").alias(
                "c"
            ),
        )
    )


def _uni_viterbi(words: DataFrame, cost: DataFrame) -> DataFrame:
    """Viterbi DP over word positions 1..len: each cell is
    MIN(parent_pack + c*2^16 + 2^12 + 2^(j-1)) over the <=UNI_MAX_PIECE
    pieces ending at j — the packed-field arithmetic makes the min
    lexicographic in (cost, n_pieces, mask), so the chosen segmentation
    is fully deterministic. Returns (word, len, cost, n, mask) at each
    word's final position.

    r18 (guide §1.2 "the distributed algorithm" / §2.4): the DP is
    WORD-LOCAL — cell j of one word never reads another word's cells —
    so the previous formulation (one unrolled level per position, each
    a union of <=UNI_MAX_PIECE broadcast joins + a groupBy-min + an
    EAGER checkpoint to stop the 4^UNI_MAX_WORD analyzer blowup) paid
    ~UNI_MAX_WORD sequential driver-synchronized jobs per pass for what
    is one row-parallel computation. Now: explode each word into its
    (j, k) piece candidates once, keep the in-vocabulary ones via ONE
    broadcast join against the cost table, collect them per word, and
    run the whole DP inside a single F.aggregate fold over positions —
    the accumulator array holds pack(0..j-1) and each step appends
    MIN over that position's candidates. Same candidate set, same pure
    BIGINT arithmetic, same MIN per cell, so bit-identical to the
    unrolled form (pass-1 fin verified exceptAll-empty both ways
    against the old form at sf0.01 and sf0.1; both passes re-MATCH the
    DuckDB oracle, which replays the unrolled DP level by level); an
    unreachable cell is a NULL element that
    array_min skips and NULL arithmetic propagates, exactly as the
    missing row propagated through the unrolled joins. The SQL twin
    keeps the static per-level CTE unroll (DuckDB has no fold over
    per-row state; empty/flat CTE levels cost it nothing)."""
    cands = (
        words.select("word", "len", F.explode(F.expr("sequence(1, len)")).alias("j"))
        .select(
            "word",
            "len",
            "j",
            F.explode(F.expr(f"sequence(1, least({UNI_MAX_PIECE}, j))")).alias("k"),
        )
        .select(
            "word",
            "len",
            "j",
            "k",
            F.expr("substring(word, j - k + 1, k)").alias("piece"),
        )
        .join(F.broadcast(cost), "piece")
        # fold the candidate's whole pack addend (c*2^16 + 2^12 + 2^(j-1))
        # here, once per candidate in the JVM, so the per-position fold
        # below only does lookup + add + min
        .select(
            "word",
            "len",
            "j",
            "k",
            (
                F.col("c") * _UNI_CPACK
                + F.expr(
                    f"CAST({_UNI_NPACK} AS BIGINT)"
                    " + shiftleft(CAST(1 AS BIGINT), j - 1)"
                )
            ).alias("add"),
        )
        .groupBy("word", "len")
        .agg(F.collect_list(F.struct("j", "k", "add")).alias("cands"))
    )
    # acc holds pack for positions 0..j-1 (element_at is 1-indexed:
    # position p lives at acc[p + 1]); each fold step appends position j
    dp = F.aggregate(
        F.sequence(F.lit(1), F.col("len")),
        F.array(F.lit(0).cast("long")),
        lambda acc, j: F.concat(
            acc,
            F.array(
                F.array_min(
                    F.transform(
                        F.filter(F.col("cands"), lambda x: x["j"] == j),
                        lambda x: F.element_at(acc, j - x["k"] + 1) + x["add"],
                    )
                )
            ),
        ),
    )
    return (
        cands.select("word", "len", F.element_at(dp, F.col("len") + 1).alias("pack"))
        .filter(F.col("pack").isNotNull())
        .select(
            "word",
            "len",
            F.shiftright("pack", 16).cast("long").alias("cost"),
            F.expr("shiftright(pack, 12) & 15").cast("long").alias("n"),
            F.expr("pack & 4095").cast("long").alias("mask"),
        )
    )


def unigram_learned(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, list[tuple[int, DataFrame, DataFrame]]]:
    """The ONE Spark-side Unigram-LM training pipeline: seed substring
    counts → cost table → Viterbi pass 1 → hard-EM recount (pieces the
    pass-1 segmentations actually used — unused seeds PRUNE out, Kudo's
    vocabulary shrink) → Viterbi pass 2. Returns (words, fin2, iters)
    where iters = [(1, fin1, cost1-vocab), (2, fin2, cost2-vocab)];
    both registered queries read this function, so learner and tokenizer
    cannot train different vocabularies (the bpe_learned_vocab
    discipline). Served from the catalog-layer stage cache as
    MATERIALIZED parquet staging tables (catalog.stage_tables): training
    is integer-deterministic, so the tokenize and fertility queries scan
    the learner's silver-layer run instead of re-running hard-EM
    (VERDICT r12 #7 — was 3x per sweep), and a clearCache() cannot
    degrade the artifact back into a retrain."""
    from projet_pipeline_bigdata_org_spark.catalog import stage_tables

    def _build():
        words, fin2, iters = _unigram_learned_build(spark, sf_dir)
        (_, fin1, vocab1), (_, _, vocab2) = iters
        return {
            "words": words,
            "fin1": fin1,
            "fin2": fin2,
            "vocab1": vocab1,
            "vocab2": vocab2,
        }

    t = stage_tables(spark, "unigram_learned", sf_dir, _build)
    return (
        t["words"],
        t["fin2"],
        [(1, t["fin1"], t["vocab1"]), (2, t["fin2"], t["vocab2"])],
    )


def _unigram_learned_build(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, list[tuple[int, DataFrame, DataFrame]]]:
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    words = _persist_scoped("uni_words", _uni_words(spark, sf_dir))
    seed = (
        words.select(
            "word",
            "freq",
            "len",
            F.explode(F.sequence(F.lit(1), F.lit(UNI_MAX_PIECE))).alias("k"),
        )
        .filter(F.col("k") <= F.col("len"))
        .select(
            "word", "freq", "k", F.explode(F.expr("sequence(1, len - k + 1)")).alias("i")
        )
        .select(F.expr("substring(word, i, k)").alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("occ"))
    )
    vocab1 = _persist_scoped(
        "uni_v1",
        seed.filter((F.length("piece") == 1) | (F.col("occ") >= UNI_MIN_OCC)),
    )
    cost1 = _persist_scoped("uni_c1", _uni_cost(vocab1))
    fin1 = _persist_scoped("uni_fin1", _uni_viterbi(words, cost1))
    # hard-EM M-step: explode each word's boundary mask back into its
    # segment pieces, recount occurrence mass from the segmentations
    bounds = (
        fin1.select("word", "mask", F.explode(F.expr("sequence(1, len)")).alias("b"))
        .filter(F.expr("(shiftright(mask, b - 1) & 1) = 1"))
        .select(
            "word",
            "b",
            F.lag("b", 1, 0).over(W.partitionBy("word").orderBy("b")).alias("prev"),
        )
        .select("word", F.expr("substring(word, prev + 1, b - prev)").alias("piece"))
    )
    vocab2 = _persist_scoped(
        "uni_v2",
        bounds.join(words.select("word", "freq"), "word")
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("occ")),
    )
    cost2 = _persist_scoped("uni_c2", _uni_cost(vocab2))
    fin2 = _persist_scoped("uni_fin2", _uni_viterbi(words, cost2))
    return words, fin2, [(1, fin1, vocab1), (2, fin2, vocab2)]


def _uni_sql_ctes() -> list[str]:
    """Shared CTE chain of the DuckDB Unigram twin: the identical seed
    count, integer-log2 costs, BOTH unrolled Viterbi DP passes (every
    cell's MIN over the packed candidates), the mask-explode M-step, and
    the per-pass summaries — replayed step for step, the _bpe_sql_ctes
    discipline. Consumed by the learner's summary oracle AND the
    tokenizer's document rollup, so the two gates certify ONE training
    run."""
    parts = [
        f"""uw AS MATERIALIZED (
      SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq,
             LENGTH(tok) AS len
      FROM (SELECT UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok FROM documents)
      WHERE REGEXP_MATCHES(tok, '^[a-z]+$') AND LENGTH(tok) <= {UNI_MAX_WORD}
      GROUP BY tok
    ), useed AS (
      SELECT SUBSTR(word, i, k) AS piece, CAST(SUM(freq) AS BIGINT) AS occ
      FROM uw,
           UNNEST(GENERATE_SERIES(1, {UNI_MAX_PIECE})) uk(k),
           UNNEST(GENERATE_SERIES(1, len - k + 1)) ui(i)
      GROUP BY piece
    ), uv1 AS (
      SELECT piece, occ FROM useed
      WHERE LENGTH(piece) = 1 OR occ >= {UNI_MIN_OCC}
    )"""
    ]

    def cost_cte(it: int) -> str:
        return f"""ut{it} AS (
      SELECT CAST(SUM(occ) AS BIGINT) AS total FROM uv{it}
    ), uc{it} AS MATERIALIZED (
      SELECT piece,
             CAST({_lg_duck('t.total')} - {_lg_duck('v.occ')} AS BIGINT) AS c
      FROM uv{it} v, ut{it} t
    )"""

    def dp_ctes(it: int) -> list[str]:
        # AS MATERIALIZED is load-bearing: each dp level is referenced by
        # up to UNI_MAX_PIECE successors, so DuckDB's default CTE inlining
        # would expand the chain 4^UNI_MAX_WORD-fold (measured: file-handle
        # exhaustion before the first row) — materialization makes the
        # oracle evaluate each DP level once, like the Spark persists
        out = [
            f"""udp{it}_0 AS MATERIALIZED (
      SELECT word, len, CAST(0 AS BIGINT) AS pack FROM uw
    )"""
        ]
        for j in range(1, UNI_MAX_WORD + 1):
            arms = "\n        UNION ALL\n        ".join(
                f"""SELECT d.word, d.len,
               d.pack + p.c * {_UNI_CPACK}
                 + {_UNI_NPACK + (1 << (j - 1))} AS cand
        FROM udp{it}_{j - k} d
        JOIN uc{it} p ON p.piece = SUBSTR(d.word, {j - k + 1}, {k})
        WHERE d.len >= {j}"""
                for k in range(1, min(UNI_MAX_PIECE, j) + 1)
            )
            out.append(f"""udp{it}_{j} AS MATERIALIZED (
      SELECT word, len, MIN(cand) AS pack
      FROM ({arms})
      GROUP BY word, len
    )""")
        fins = "\n        UNION ALL\n        ".join(
            f"SELECT word, len, pack FROM udp{it}_{j} WHERE len = {j}"
            for j in range(1, UNI_MAX_WORD + 1)
        )
        out.append(f"""ufin{it} AS MATERIALIZED (
      SELECT word, len, pack >> 16 AS cost,
             (pack >> 12) & 15 AS n, pack & 4095 AS mask
      FROM ({fins})
    )""")
        return out

    def summary_cte(it: int) -> str:
        return f"""um{it} AS (
      SELECT CAST({it} AS BIGINT) AS iter,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM uc{it}) AS vocab_size,
             (SELECT total FROM ut{it}) AS total_occ,
             CAST(SUM(CAST(w.freq AS HUGEINT) * f.n) AS BIGINT)
               AS corpus_tokens,
             CAST(SUM(CAST(w.freq AS HUGEINT) * f.cost) AS BIGINT)
               AS corpus_cost_milli,
             CAST(SUM(CAST(w.freq AS HUGEINT) * f.mask) AS BIGINT)
               AS seg_checksum
      FROM ufin{it} f JOIN uw w USING (word)
    )"""

    parts.append(cost_cte(1))
    parts.extend(dp_ctes(1))
    parts.append("""uv2 AS (
      SELECT piece, CAST(SUM(w.freq) AS BIGINT) AS occ
      FROM (
        SELECT word, SUBSTR(word, prev + 1, b - prev) AS piece FROM (
          SELECT f.word, b,
                 LAG(b, 1, 0) OVER (PARTITION BY f.word ORDER BY b) AS prev
          FROM ufin1 f, UNNEST(GENERATE_SERIES(1, f.len)) ub(b)
          WHERE ((f.mask >> (b - 1)) & 1) = 1
        )
      ) s JOIN uw w USING (word)
      GROUP BY piece
    )""")
    parts.append(cost_cte(2))
    parts.extend(dp_ctes(2))
    parts.append(summary_cte(1))
    parts.append(summary_cte(2))
    return parts


def _uni_learn_sql() -> str:
    return (
        "WITH "
        + ",\n    ".join(_uni_sql_ctes())
        + "\n    SELECT * FROM um1 UNION ALL SELECT * FROM um2"
    )


def _uni_tokenize_sql() -> str:
    return (
        "WITH "
        + ",\n    ".join(_uni_sql_ctes())
        + f""",
    udw AS MATERIALIZED (
      SELECT doc_id, tok AS word, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM (SELECT doc_id, UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok
            FROM documents)
      WHERE REGEXP_MATCHES(tok, '^[a-z]+$') AND LENGTH(tok) <= {UNI_MAX_WORD}
      GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(n_occ) AS BIGINT) AS n_words,
           CAST(SUM(n_occ * LENGTH(word)) AS BIGINT) AS n_char_tokens,
           CAST(SUM(n_occ * f.n) AS BIGINT) AS n_uni_tokens,
           CAST(SUM(n_occ * f.n) * 1000
                // SUM(n_occ * LENGTH(word)) AS BIGINT) AS compression_milli
    FROM udw JOIN ufin2 f USING (word)
    GROUP BY doc_id"""
    )


@query(
    "text_unigram_learn",
    oracle=_uni_learn_sql(),
    tags=("llm", "text", "documents"),
)
def text_unigram_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018, the SentencePiece
    algorithm — the other tokenizer family next to BPE) as pure
    relational algebra with FIXED-POINT INTEGER likelihoods: seed all
    substrings up to UNI_MAX_PIECE chars (singles always kept), score
    pieces by the milli-scaled integer -log2 p = lg(total) - lg(occ),
    Viterbi-segment every vocabulary word under a packed
    (cost, n_pieces, boundary-mask) BIGINT whose plain MIN is the
    lexicographic optimum (no window, no tie ambiguity), hard-EM
    recount from the chosen segmentations (unused seeds prune out),
    and segment again. One summary row per EM pass: vocabulary size,
    total occurrence mass, corpus token count, corpus cost, and the
    freq-weighted boundary-mask checksum — the checksum certifies the
    EXACT segmentation of every word, so the oracle (which replays the
    seed count, both cost tables, all 2x{UNI_MAX_WORD} DP cells, and the
    M-step explode) gates every Viterbi decision, not just the totals.

    Scale shape: one corpus-sized word count; everything after is
    vocabulary-bounded (words x positions). Each DP cell is a
    broadcast-joined MIN aggregation; dp tables scope-persist so pass
    N+1 never recomputes pass N (the bpe_learned_vocab discipline)."""
    words, _fin2, iters = unigram_learned(spark, sf_dir)
    out = None
    for it, fin, vocab in iters:
        total = vocab.agg(F.sum("occ").cast("long").alias("total_occ"))
        vs = vocab.agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
        stats = (
            fin.join(words.select("word", "freq"), "word")
            .agg(
                F.sum((F.col("freq") * F.col("n")).cast("decimal(38,0)"))
                .cast("long")
                .alias("corpus_tokens"),
                F.sum((F.col("freq") * F.col("cost")).cast("decimal(38,0)"))
                .cast("long")
                .alias("corpus_cost_milli"),
                F.sum((F.col("freq") * F.col("mask")).cast("decimal(38,0)"))
                .cast("long")
                .alias("seg_checksum"),
            )
        )
        row = (
            stats.crossJoin(F.broadcast(vs))
            .crossJoin(F.broadcast(total))
            .select(
                F.lit(it).cast("long").alias("iter"),
                "vocab_size",
                "total_occ",
                "corpus_tokens",
                "corpus_cost_milli",
                "seg_checksum",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "text_unigram_tokenize",
    oracle=_uni_tokenize_sql(),
    tags=("llm", "text", "documents"),
)
def text_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the pass-2 Unigram-LM segmentation to the corpus — the
    token-budget accounting next to ``text_bpe_tokenize``, so the two
    trained tokenizer families are cost-comparable per document: word
    count, character-token count, unigram token count (each word costs
    its Viterbi n_pieces), and the milli-scaled compression ratio.
    Learner/applier mirror the BPE pair: the learner certifies training,
    this certifies application, and both read ``unigram_learned`` so
    they cannot diverge.

    Scale shape: application is ONE corpus pass grouped to (doc, word)
    map-side, then a broadcast join against the vocabulary-bounded
    per-word piece counts — documents never shuffle against each other.
    Words beyond UNI_MAX_WORD chars (and docs with none left) drop out
    identically in both engines."""
    _words, fin2, _iters = unigram_learned(spark, sf_dir)
    vt = fin2.select("word", F.col("n").alias("n_piece"))
    d = load(spark, sf_dir, "documents")
    dw = (
        d.select("doc_id", F.explode(ws_tokens("text")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .filter(F.length("word") <= UNI_MAX_WORD)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    )
    return (
        dw.join(F.broadcast(vt), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.length("word"))
            .cast("long")
            .alias("n_char_tokens"),
            F.sum(F.col("n_occ") * F.col("n_piece"))
            .cast("long")
            .alias("n_uni_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_char_tokens",
            "n_uni_tokens",
            F.expr("CAST(n_uni_tokens * 1000 div n_char_tokens AS BIGINT)").alias(
                "compression_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# WordPiece (Schuster & Nakajima 2012; the BERT tokenizer family) — the
# fourth tokenizer family next to char-BPE, byte-BPE and Unigram-LM, and
# the two places it differs are exactly the two knobs the shared merge
# kernel exposes: training argmaxes the LIKELIHOOD score
# count(pair)/(count(left))*count(right)) instead of raw pair count, and
# application is NOT merge replay — it is greedy LONGEST-MATCH-FIRST
# against the final piece set, with '##' continuation prefixes on
# word-interior pieces. Both engines run the same quantized-integer score
# and the same unrolled max-match DP, so the gates certify the real
# WordPiece semantics end to end.
# ---------------------------------------------------------------------------

WP_ROUNDS = 3
#: word cap (chars) — bounds the max-match DP unroll depth: every level
#: consumes >= 1 char (all single chars sit in the seed piece set, so no
#: UNK path exists), hence WP_MAX_WORD_CHARS levels finish every word
WP_MAX_WORD_CHARS = 12


def _wp_seed_ctes() -> list[str]:
    """wpw0 → wpv0 (word census + '##'-prefixed char seed), feeding the
    SAME per-round merge CTEs as the BPE trainers
    (:func:`_bpe_round_ctes`, prefix ``wp``, wordpiece mode)."""
    parts = [
        f"""wpw0 AS MATERIALIZED (
      SELECT tok AS word, COUNT(*) AS freq
      FROM (SELECT UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok FROM documents)
      WHERE REGEXP_MATCHES(tok, '^[a-z]+$')
        AND LENGTH(tok) <= {WP_MAX_WORD_CHARS}
      GROUP BY tok
    ), wpv0 AS MATERIALIZED (
      SELECT word, freq,
             ARRAY_TO_STRING(
               [word[1:1]] ||
               LIST_TRANSFORM(STRING_SPLIT(word, '')[2:], x -> '##' || x),
               ' ') AS seq
      FROM wpw0
    )"""
    ]
    return parts + _bpe_round_ctes(WP_ROUNDS, p="wp", wordpiece=True)


def _wp_sql() -> str:
    union = " UNION ALL ".join(
        f"SELECT * FROM wpm{r}" for r in range(1, WP_ROUNDS + 1)
    )
    return "WITH " + ", ".join(_wp_seed_ctes()) + " " + union


def _wp_dp_ctes() -> list[str]:
    """The greedy longest-match-first DP, unrolled: the final piece set
    (seed chars ∪ the WP_ROUNDS merged pieces), then WP_MAX_WORD_CHARS
    levels each advancing every unfinished word by its LONGEST matching
    piece at the current offset."""
    merged_union = " UNION ALL ".join(
        f"SELECT bl || SUBSTR(br, 3) AS piece FROM wpbest{r}"
        for r in range(1, WP_ROUNDS + 1)
    )
    parts = [
        f"""wpvx AS MATERIALIZED (
      SELECT piece, is_cont, body, LENGTH(body) AS blen FROM (
        SELECT DISTINCT piece,
               piece LIKE '##%' AS is_cont,
               CASE WHEN piece LIKE '##%' THEN SUBSTR(piece, 3)
                    ELSE piece END AS body
        FROM (SELECT UNNEST(STRING_SPLIT(seq, ' ')) AS piece FROM wpv0
              UNION ALL {merged_union}))
    ), wpl0 AS MATERIALIZED (
      SELECT word, 0 AS off, 0 AS ntok FROM wpw0
    )"""
    ]
    for i in range(1, WP_MAX_WORD_CHARS + 1):
        parts.append(f"""wpa{i} AS MATERIALIZED (
      SELECT s.word, s.off, s.ntok, MAX(v.blen) AS adv
      FROM wpl{i - 1} s JOIN wpvx v
        ON SUBSTR(s.word, s.off + 1, v.blen) = v.body
       AND v.is_cont = (s.off > 0)
      WHERE s.off < LENGTH(s.word)
      GROUP BY s.word, s.off, s.ntok
    ), wpl{i} AS MATERIALIZED (
      SELECT word, off, ntok FROM wpl{i - 1} WHERE off >= LENGTH(word)
      UNION ALL
      SELECT word, off + adv, ntok + 1 FROM wpa{i}
    )""")
    return parts


def _wp_tokenize_sql() -> str:
    parts = _wp_seed_ctes() + _wp_dp_ctes() + [
        f"""wptok AS MATERIALIZED (
      SELECT word, CAST(ntok AS BIGINT) AS n_wp
      FROM wpl{WP_MAX_WORD_CHARS}
    ), wpdw AS MATERIALIZED (
      SELECT doc_id, tok AS word, COUNT(*) AS n_occ
      FROM (SELECT doc_id, UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok
            FROM documents)
      WHERE REGEXP_MATCHES(tok, '^[a-z]+$')
        AND LENGTH(tok) <= {WP_MAX_WORD_CHARS}
      GROUP BY doc_id, tok
    )"""
    ]
    return (
        "WITH " + ", ".join(parts) + """
    SELECT wpdw.doc_id,
           CAST(SUM(wpdw.n_occ) AS BIGINT) AS n_words,
           CAST(SUM(wpdw.n_occ * LENGTH(wpdw.word)) AS BIGINT)
             AS n_char_tokens,
           CAST(SUM(wpdw.n_occ * wptok.n_wp) AS BIGINT) AS n_wp_tokens,
           CAST(SUM(wpdw.n_occ * wptok.n_wp) * 1000
                // SUM(wpdw.n_occ) AS BIGINT) AS fertility_milli
    FROM wpdw JOIN wptok USING (word)
    GROUP BY wpdw.doc_id
    """
    )


def wordpiece_learned(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame], DataFrame]:
    """The ONE Spark-side WordPiece training pipeline, stage-table
    cached like its BPE/Unigram siblings: capped word census →
    '##'-prefixed char seed → WP_ROUNDS merge rounds through the SHARED
    :func:`bpe_merge_round` kernel in wordpiece mode → the final piece
    set → the greedy longest-match DP over distinct words. Returns
    (final piece table (piece, is_cont, body, blen), per-round
    summaries, per-word token counts (word, n_wp))."""
    from projet_pipeline_bigdata_org_spark.catalog import stage_tables

    def _build():
        pieces, summaries, wptok = _wp_build(spark, sf_dir)
        out = {"pieces": pieces, "wptok": wptok}
        for i, s in enumerate(summaries):
            out[f"summary_{i}"] = s
        return out

    t = stage_tables(spark, "wordpiece_learned", sf_dir, _build)
    n = len([k for k in t if k.startswith("summary_")])
    return t["pieces"], [t[f"summary_{i}"] for i in range(n)], t["wptok"]


def _wp_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(ws_tokens("text")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .filter(F.length("word") <= WP_MAX_WORD_CHARS)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _wp_build(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame], DataFrame]:
    # Round vocabularies and DP levels are CHECKPOINTED eagerly, not
    # persisted: a WordPiece round launches FOUR broadcast jobs (the two
    # symbol-census sides, the argmax, the rebuild audit) whose subtrees
    # each re-plan the full prior-round lineage — persist caches runtime
    # blocks but not the analyzer/planner tree, and the measured cost
    # grew 4.6s → 6.2s → 32s per round before truncation (and the DP
    # doubles the tree per level — the _uni_viterbi discipline).
    words = checkpoint_round(_wp_words(spark, sf_dir))
    seed_syms = F.expr(
        "concat(array(substring(word, 1, 1)),"
        " transform(slice(split(word, ''), 2, greatest(length(word) - 1, 0)),"
        " x -> concat('##', x)))"
    )
    vocab = checkpoint_round(words.select("word", "freq", seed_syms.alias("syms")))
    seed_pieces = vocab.select(F.explode("syms").alias("piece")).distinct()
    summaries = []
    merged_pieces = None
    for r in range(1, WP_ROUNDS + 1):
        vocab, summary = bpe_merge_round(vocab, r, wordpiece=True)
        vocab = checkpoint_round(vocab)
        summary = checkpoint_round(summary)
        summaries.append(summary)
        m = summary.select(
            F.concat(
                F.col("left_sym"), F.expr("substring(right_sym, 3)")
            ).alias("piece")
        )
        merged_pieces = m if merged_pieces is None else merged_pieces.unionAll(m)
    pieces = (
        seed_pieces.unionByName(merged_pieces)
        .distinct()
        .select(
            "piece",
            F.col("piece").startswith("##").alias("is_cont"),
            F.when(
                F.col("piece").startswith("##"), F.expr("substring(piece, 3)")
            )
            .otherwise(F.col("piece"))
            .alias("body"),
        )
        .withColumn("blen", F.length("body").cast("long"))
    )
    # greedy longest-match DP over DISTINCT words: every level advances
    # each unfinished word by its longest matching piece at the offset.
    # Depth is bounded by the corpus' actual longest word — levels past
    # it are provably no-ops (every row is already done); the SQL twin
    # keeps the static WP_MAX_WORD_CHARS unroll, whose extra empty
    # levels cost DuckDB nothing.
    pieces = checkpoint_round(pieces)
    row = words.agg(F.max(F.length("word"))).first()
    depth = min(WP_MAX_WORD_CHARS, int(row[0] or 0))
    state = words.select(
        "word", F.lit(0).cast("long").alias("off"), F.lit(0).cast("long").alias("ntok")
    )
    for _lvl in range(1, depth + 1):
        done = state.filter(F.col("off") >= F.length("word"))
        adv = (
            state.filter(F.col("off") < F.length("word"))
            .join(
                F.broadcast(pieces),
                F.expr(
                    "substring(word, off + 1, blen) = body"
                    " AND ((off > 0) = is_cont)"
                ),
            )
            .groupBy("word", "off", "ntok")
            .agg(F.max("blen").alias("adv"))
        )
        state = checkpoint_round(
            done.unionByName(
                adv.select(
                    "word",
                    (F.col("off") + F.col("adv")).cast("long").alias("off"),
                    (F.col("ntok") + 1).cast("long").alias("ntok"),
                )
            )
        )
    wptok = state.select("word", F.col("ntok").alias("n_wp"))
    return pieces, summaries, wptok


@query(
    "text_wordpiece_learn",
    oracle=_wp_sql(),
    tags=("llm", "text", "documents"),
)
def text_wordpiece_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece vocabulary training (Schuster & Nakajima 2012 — the
    BERT tokenizer trainer): WP_ROUNDS merge rounds over the weighted
    word census where each round's argmax ranks pairs by the LIKELIHOOD
    score count(pair)/(count(left)*count(right)) — the merge that most
    increases unigram-LM corpus likelihood — rather than raw pair count.
    The score is the exact integer (c * WP_SCORE_SCALE) // (lc * rc)
    in BOTH engines, so the argmax is bit-deterministic with no float
    boundary; ties break lexicographically. Merges strip the right
    piece's '##' continuation prefix ('u'+'##n' → 'un'; '##a'+'##b' →
    '##ab'). The per-round summary certifies the chosen pair, its
    count, the quantized score, and ``vocab_symbols_after`` (each merge
    must remove exactly one symbol per kept occurrence — the same
    rewrite audit as the BPE trainers, because it IS the same rewrite
    code: :func:`bpe_merge_round` with the two wordpiece knobs).

    Scale shape: identical to ``text_bpe_learn`` — one corpus word
    count, then vocabulary-bounded tables; the symbol census adds one
    vocabulary-bounded groupBy per round and the argmax stays a 1-row
    TakeOrdered + broadcast."""
    _pieces, summaries, _wptok = wordpiece_learned(spark, sf_dir)
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionAll(s)
    return out


@query(
    "text_wordpiece_tokenize",
    oracle=_wp_tokenize_sql(),
    tags=("llm", "text", "documents"),
)
def text_wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained WordPiece vocabulary by greedy LONGEST-MATCH-
    FIRST (the actual BERT runtime algorithm — NOT merge replay, which
    is BPE's application rule; MaxMatch and merge replay genuinely
    differ on adversarial vocabularies): per word, repeatedly take the
    longest piece in the final vocabulary matching at the current
    offset — word-initial offsets match only unprefixed pieces,
    interior offsets only '##' pieces — and advance. The piece set is
    the seed alphabet ∪ the WP_ROUNDS merged pieces, so every single
    char is present and no UNK path exists; the DP therefore terminates
    in <= WP_MAX_WORD_CHARS levels (each consumes >= 1 char), which is
    exactly how deep both engines unroll it. Per document: word count,
    char count, WordPiece token count, and tokens-per-word fertility in
    exact milli-units — THE number a tokenizer bake-off reads.

    Scale shape: the DP runs over DISTINCT words (vocabulary-bounded,
    never the corpus) with the piece table broadcast at every level;
    the corpus-sized work is one (doc, word) map-side-combined count
    joined broadcast against the per-word result — documents never
    shuffle. Training artifacts serve from parquet stage tables like
    every tokenizer sibling."""
    _pieces, _summaries, wptok = wordpiece_learned(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    dw = (
        d.select("doc_id", F.explode(ws_tokens("text")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .filter(F.length("word") <= WP_MAX_WORD_CHARS)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    )
    return (
        dw.join(F.broadcast(wptok), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.length("word"))
            .cast("long")
            .alias("n_char_tokens"),
            F.sum(F.col("n_occ") * F.col("n_wp")).cast("long").alias("n_wp_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_char_tokens",
            "n_wp_tokens",
            F.expr("CAST(n_wp_tokens * 1000 div n_words AS BIGINT)").alias(
                "fertility_milli"
            ),
        )
    )


def _tokenizer_compare_sql() -> str:
    return (
        "WITH "
        + ",\n    ".join(_bpe_sql_ctes())
        + ",\n    "
        + ",\n    ".join(_uni_sql_ctes())
        + ",\n    "
        + ",\n    ".join(_bbpe_sql_ctes())
        + ",\n    "
        + ",\n    ".join(_wp_seed_ctes() + _wp_dp_ctes())
        + f""",
    wptok AS MATERIALIZED (
      SELECT word, CAST(ntok AS BIGINT) AS n_wp
      FROM wpl{WP_MAX_WORD_CHARS}
    ),
    b AS (
      SELECT word, freq, LEN(STRING_SPLIT(seq, ' ')) AS n_bpe
      FROM v{BPE_ROUNDS} WHERE LENGTH(word) <= {UNI_MAX_WORD}
    ),
    bb AS (
      SELECT word, LEN(STRING_SPLIT(seq, ' ')) AS n_bbpe FROM bv{BPE_ROUNDS}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(b.freq) AS BIGINT) AS total_freq,
           CAST(SUM(b.freq * LENGTH(b.word)) AS BIGINT) AS char_tokens,
           CAST(SUM(b.freq * b.n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(b.freq * f.n) AS BIGINT) AS uni_tokens,
           CAST(SUM(b.freq * bb.n_bbpe) AS BIGINT) AS bbpe_tokens,
           CAST(SUM(b.freq * wp.n_wp) AS BIGINT) AS wp_tokens,
           CAST(SUM(b.freq * b.n_bpe) * 1000
                // SUM(b.freq * LENGTH(b.word)) AS BIGINT) AS bpe_milli,
           CAST(SUM(b.freq * f.n) * 1000
                // SUM(b.freq * LENGTH(b.word)) AS BIGINT) AS uni_milli,
           CAST(SUM(b.freq * bb.n_bbpe) * 1000
                // SUM(b.freq * LENGTH(b.word)) AS BIGINT) AS bbpe_milli,
           CAST(SUM(b.freq * wp.n_wp) * 1000
                // SUM(b.freq * LENGTH(b.word)) AS BIGINT) AS wp_milli
    FROM b JOIN ufin2 f USING (word) JOIN bb USING (word)
    JOIN wptok wp USING (word)"""
    )


@query(
    "text_tokenizer_fertility",
    oracle=_tokenizer_compare_sql(),
    tags=("llm", "text", "documents"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility comparison of the FOUR trained tokenizer families — the
    decision table a pipeline publishes before picking its tokenizer:
    the round-BPE_ROUNDS char-BPE vocabulary vs the pass-2 Unigram-LM
    segmentation vs the round-BPE_ROUNDS BYTE-level BPE vocabulary vs
    the WordPiece greedy longest-match counts (the fourth column — the
    BERT family; all four real-world tokenizer lineages in one row)
    (r14's third column — the GPT-2/Llama family, whose counts diverge
    from char counts on non-ASCII text), joined per word over the shared
    length-capped [a-z]+ vocabulary, rolled to ONE corpus row of
    freq-weighted token counts and milli-scaled tokens-per-character
    ratios. Char-BPE counts include its end-of-word marker (that IS a
    token it emits; documented, identical in the oracle); byte-BPE has
    no marker (GPT-2 style). The oracle replays ALL THREE trainings
    through the same CTE chains as their own gates (_bpe_sql_ctes +
    _uni_sql_ctes + _bbpe_sql_ctes), so the comparison is certified
    against the exact vocabularies the learner queries certify — a
    drift in any trainer breaks this row too. ([a-z]+ words <=
    UNI_MAX_WORD chars are <= UNI_MAX_WORD bytes <= BBPE_MAX_WORD_BYTES,
    so every compared word exists in the byte vocabulary — the three-way
    inner join drops nothing.)

    Scale shape: all trainings are vocabulary-bounded after their one
    corpus word count (shared scan at the catalog layer); the compare
    joins and rollup run on the <=|words| joined table."""
    bvocab, _summaries = bpe_learned_vocab(spark, sf_dir)
    _w, fin2, _iters = unigram_learned(spark, sf_dir)
    bbvocab, _bsummaries = bbpe_learned_vocab(spark, sf_dir)
    _pieces, _wsum, wptok = wordpiece_learned(spark, sf_dir)
    b = (
        bvocab.select("word", "freq", F.size("syms").cast("long").alias("n_bpe"))
        .filter(F.length("word") <= UNI_MAX_WORD)
    )
    u = fin2.select("word", F.col("n").alias("n_uni"))
    bb = bbvocab.select("word", F.size("syms").cast("long").alias("n_bbpe"))
    return (
        b.join(u, "word")
        .join(bb, "word")
        .join(wptok, "word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("total_freq"),
            F.sum(F.col("freq") * F.length("word"))
            .cast("long")
            .alias("char_tokens"),
            F.sum(F.col("freq") * F.col("n_bpe")).cast("long").alias("bpe_tokens"),
            F.sum(F.col("freq") * F.col("n_uni")).cast("long").alias("uni_tokens"),
            F.sum(F.col("freq") * F.col("n_bbpe"))
            .cast("long")
            .alias("bbpe_tokens"),
            F.sum(F.col("freq") * F.col("n_wp")).cast("long").alias("wp_tokens"),
        )
        .select(
            "n_words",
            "total_freq",
            "char_tokens",
            "bpe_tokens",
            "uni_tokens",
            "bbpe_tokens",
            "wp_tokens",
            F.expr("CAST(bpe_tokens * 1000 div char_tokens AS BIGINT)").alias(
                "bpe_milli"
            ),
            F.expr("CAST(uni_tokens * 1000 div char_tokens AS BIGINT)").alias(
                "uni_milli"
            ),
            F.expr("CAST(bbpe_tokens * 1000 div char_tokens AS BIGINT)").alias(
                "bbpe_milli"
            ),
            F.expr("CAST(wp_tokens * 1000 div char_tokens AS BIGINT)").alias(
                "wp_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# fixed-stride token chunking (r14): the RAG / embedding-prep primitive —
# split every document into overlapping fixed-token windows, the unit an
# embedding model actually encodes. Boundaries are pure integer arithmetic
# and the chunk content is certified by a sha of the exact token slice.
# ---------------------------------------------------------------------------

#: tokens per chunk window
CHUNK_TOKENS = 64
#: stride between chunk starts (CHUNK_TOKENS - CHUNK_STRIDE tokens overlap)
CHUNK_STRIDE = 48


@query(
    "text_chunk_windows",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {SQL_TOK_NULLSAFE} AS toks FROM documents
    ), n AS (
      SELECT doc_id, toks, CAST(LEN(toks) AS BIGINT) AS n_tokens,
             1 + (GREATEST(CAST(LEN(toks) AS BIGINT) - {CHUNK_TOKENS}, 0)
                  + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE} AS n_chunks
      FROM t WHERE LEN(toks) > 0
    ), c AS (
      SELECT doc_id, n_tokens, u.i AS chunk_id,
             u.i * {CHUNK_STRIDE} AS tok_start,
             LEAST({CHUNK_TOKENS}, n_tokens - u.i * {CHUNK_STRIDE}) AS tok_len,
             toks
      FROM n, UNNEST(GENERATE_SERIES(0, n_chunks - 1)) u(i)
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(tok_start AS BIGINT) AS tok_start,
           CAST(tok_len AS BIGINT) AS tok_len,
           SHA256(ARRAY_TO_STRING(
             toks[tok_start + 1 : tok_start + tok_len], ' ')) AS chunk_sha
    FROM c
    """,
    tags=("llm", "text", "documents"),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride token CHUNKING — the retrieval/embedding-prep
    primitive every RAG and embedding pipeline runs before encoding:
    each document splits into CHUNK_TOKENS-token windows advancing by
    CHUNK_STRIDE (16 tokens of overlap so no sentence is orphaned at a
    boundary), the last window truncated at the document end. Chunk
    count is exact integer arithmetic — 1 + ceil(max(n - C, 0) / S) via
    the nonnegative (x + S - 1) DIV S form both engines truncate
    identically — and ``chunk_sha`` certifies the CONTENT of every
    window (sha256 of the exact token slice), so the gate pins the
    boundaries, not just the counts. Empty/NULL-text documents have no
    chunks and drop out (same WHERE in both engines).

    Scale shape: SHUFFLE-FREE — tokenize, chunk-count, explode, slice,
    and hash are one codegen'd projection per row; output is
    chunk-bounded (~n_tokens/S rows per doc). At 100 TB this is the
    scan→explode stage feeding the embedding UDF; downstream chunk
    dedup rides ``chunk_sha`` exactly like passage dedup rides its
    hash pair."""
    d = load(spark, sf_dir, "documents")
    toks = ws_tokens(F.coalesce(F.col("text"), F.lit("")))
    t = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    n = t.select(
        "doc_id",
        "toks",
        F.size("toks").cast("long").alias("n_tokens"),
        (
            F.lit(1)
            + F.expr(
                f"(GREATEST(CAST(size(toks) AS BIGINT) - {CHUNK_TOKENS}, 0)"
                f" + {CHUNK_STRIDE} - 1) DIV {CHUNK_STRIDE}"
            )
        ).alias("n_chunks"),
    )
    c = n.select(
        "doc_id",
        "n_tokens",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        (F.col("chunk_id") * CHUNK_STRIDE).cast("long").alias("tok_start"),
        F.least(
            F.lit(CHUNK_TOKENS),
            F.col("n_tokens") - F.col("chunk_id") * CHUNK_STRIDE,
        )
        .cast("long")
        .alias("tok_len"),
        "toks",
    )
    return c.select(
        "doc_id",
        "chunk_id",
        "tok_start",
        "tok_len",
        F.sha2(
            F.array_join(
                F.slice(
                    F.col("toks"),
                    (F.col("tok_start") + 1).cast("int"),
                    F.col("tok_len").cast("int"),
                ),
                " ",
            ),
            256,
        ).alias("chunk_sha"),
    )


# ---------------------------------------------------------------------------
# delta-encoded posting lists — inverted-index compression accounting
# ---------------------------------------------------------------------------

#: tokens must appear in at least this many documents to carry a posting
#: list worth compressing (singleton postings have no gaps to encode)
POSTINGS_MIN_DF = 5

#: LEB128-style varint widths: 7 payload bits per byte, so a gap g takes
#: ceil(bits(g)/7) bytes (1 byte minimum); nonnegative int64 caps at 9
_VARINT_STEPS = [(1 << (7 * b), b) for b in range(1, 9)]

_VARINT_SQL_CASE = (
    "CASE "
    + " ".join(f"WHEN {{g}} < {lim} THEN {b}" for lim, b in _VARINT_STEPS)
    + " ELSE 9 END"
)


def varint_bytes(g: Column) -> Column:
    """Byte width of a nonnegative BIGINT under 7-bit varint coding —
    the exact integer CASE chain ``_VARINT_SQL_CASE`` mirrors."""
    expr = None
    for lim, b in _VARINT_STEPS:
        expr = (
            F.when(g < F.lit(lim), F.lit(b))
            if expr is None
            else expr.when(g < F.lit(lim), F.lit(b))
        )
    return expr.otherwise(F.lit(9))


@query(
    "compress_delta_postings",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok
      FROM documents
    ), postings AS (
      SELECT DISTINCT tok, doc_id FROM toks
      WHERE REGEXP_FULL_MATCH(tok, '[a-z]+')
    ), g AS (
      SELECT tok, doc_id,
             COUNT(*) OVER (PARTITION BY tok) AS df,
             COALESCE(doc_id - LAG(doc_id) OVER (PARTITION BY tok
                                                 ORDER BY doc_id),
                      doc_id) AS gap
      FROM postings
    )
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({_VARINT_SQL_CASE.format(g='gap')}) AS BIGINT)
             AS delta_bytes,
           CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
           CAST(SUM({_VARINT_SQL_CASE.format(g='gap')}) * 1000
                // (COUNT(*) * 8) AS BIGINT) AS ratio_milli
    FROM g
    WHERE df >= {POSTINGS_MIN_DF}
    GROUP BY tok
    """,
    tags=("llm", "text", "compression", "documents"),
)
def compress_delta_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta + varint compression accounting for inverted-index posting
    lists — the storage layout every sparse retrieval index (Lucene,
    the BM25 sibling of this module) uses: per token, document ids
    sorted ascending, each id stored as the GAP to its predecessor
    (first id absolute), gaps in LEB128-style 7-bit varints. Emits per
    token the exact encoded size vs the raw 8-byte-per-id size and the
    milli-scaled ratio — the audit that decides whether an index shard
    is worth delta-coding (dense tokens' small gaps compress ~8x;
    sparse tokens' large gaps don't).

    Exactness: gaps, the varint width CASE chain (shared generator for
    both engines), sums, and the truncating-div ratio are all BIGINT.

    Scale shape: ONE corpus-sized shuffle — the distinct (token, doc_id)
    exchange partitioned by token, which IS the inverted-index build;
    document frequency and the gap LAG share that one partition (a
    single sort per token run); output is vocabulary-bounded, singleton
    tokens (df < POSTINGS_MIN_DF) dropped before aggregation."""
    d = load(spark, sf_dir, "documents")
    postings = (
        d.select(F.explode(ws_tokens("text")).alias("tok"), "doc_id")
        .filter(F.col("tok").rlike("^[a-z]+$"))
        .select("tok", "doc_id")
        .distinct()
    )
    wp = W.partitionBy("tok")
    wo = wp.orderBy("doc_id")
    g = postings.select(
        "tok",
        F.count(F.lit(1)).over(wp).alias("df"),
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(wo), F.col("doc_id")
        ).alias("gap"),
    ).filter(F.col("df") >= POSTINGS_MIN_DF)
    vb = varint_bytes(F.col("gap"))
    return (
        g.groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(vb).cast("long").alias("delta_bytes"),
        )
        .select(
            "tok",
            "n_docs",
            "delta_bytes",
            (F.col("n_docs") * 8).cast("long").alias("raw_bytes"),
            F.expr("CAST(delta_bytes * 1000 div (n_docs * 8) AS BIGINT)").alias(
                "ratio_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# batched sparse retrieval — per-query BM25 top-k over the inverted index
# ---------------------------------------------------------------------------

#: number of data-derived probe queries and terms per query
BMQ_QUERIES = 8
BMQ_TERMS_PER_QUERY = 3
#: results returned per query
BMQ_TOPK = 5


def _bmq_sql_ctes() -> str:
    """Shared CTE chain of the DuckDB batched-BM25 twin, ending in
    ``bmq_top`` (the ranked top-{BMQ_TOPK} per query). Consumed by the
    bm25_query_topk gate AND the rank-fusion gate, so both certify ONE
    sparse ranking (the _bpe_sql_ctes discipline)."""
    return f"""postings AS (
      SELECT DISTINCT tok AS token, doc_id FROM (
        SELECT doc_id, UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok
        FROM documents) t
      WHERE REGEXP_FULL_MATCH(tok, '[a-z]+')
    ), dfreq AS (
      SELECT token, COUNT(*) AS df FROM postings GROUP BY token
    ), qterms AS (
      SELECT token, df,
             CAST((rn - 1) // {BMQ_TERMS_PER_QUERY} AS BIGINT) AS q_id,
             CAST((rn - 1) % {BMQ_TERMS_PER_QUERY} AS BIGINT) AS slot
      FROM (SELECT token, df,
                   ROW_NUMBER() OVER (ORDER BY df DESC, token) AS rn
            FROM dfreq) r
      WHERE rn <= {BMQ_QUERIES * BMQ_TERMS_PER_QUERY}
    ), dl AS (
      SELECT doc_id,
             LEN({SQL_WS_TOKENS.format(c='text')}) AS dl
      FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl
    ), tf AS (
      SELECT p.token, p.doc_id, q.q_id, q.slot, q.df, COUNT(*) AS tf
      FROM (
        SELECT doc_id, UNNEST({SQL_WS_TOKENS.format(c='text')}) AS token
        FROM documents) p
      JOIN qterms q ON q.token = p.token
      GROUP BY p.token, p.doc_id, q.q_id, q.slot, q.df
    ), scored AS (
      SELECT tf.q_id, tf.doc_id, tf.slot,
             ((CAST(stats.n_docs AS DOUBLE) - CAST(tf.df AS DOUBLE) + 0.5)
              / (CAST(tf.df AS DOUBLE) + 0.5))
             * (CAST(tf.tf AS DOUBLE) * ({BM25_K1} + 1.0))
             / (CAST(tf.tf AS DOUBLE)
                + {BM25_K1} * (1.0 - {BM25_B}
                               + {BM25_B} * CAST(dl.dl AS DOUBLE)
                                 / (CAST(stats.total_len AS DOUBLE)
                                    / CAST(stats.n_docs AS DOUBLE))))
               AS term_score
      FROM tf JOIN dl ON dl.doc_id = tf.doc_id, stats
    ), per_doc AS (
      SELECT q_id, doc_id,
             COALESCE(MAX(CASE WHEN slot = 0 THEN term_score END), 0.0)
             + COALESCE(MAX(CASE WHEN slot = 1 THEN term_score END), 0.0)
             + COALESCE(MAX(CASE WHEN slot = 2 THEN term_score END), 0.0)
               AS bm25,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      FROM scored GROUP BY q_id, doc_id
    ), bmq_top AS (
      SELECT q_id, CAST(rnk AS BIGINT) AS rnk, doc_id, n_terms_hit, bm25
      FROM (SELECT q_id, doc_id, n_terms_hit, bm25,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY bm25 DESC, doc_id) AS rnk
            FROM per_doc) t
      WHERE rnk <= {BMQ_TOPK}
    )"""


@query(
    "bm25_query_topk",
    oracle=f"""
    WITH {_bmq_sql_ctes()}
    SELECT q_id, rnk, doc_id, n_terms_hit, bm25 FROM bmq_top
    """,
    tags=("llm", "text", "similarity", "documents"),
)
def bm25_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched sparse retrieval: BM25 top-{BMQ_TOPK} per query for a
    batch of {BMQ_QUERIES} probe queries — the query-serving half of
    lexical search ("bm25_rank_documents" scores ONE fixed query
    corpus-wide; this answers a query BATCH through the inverted index,
    the dense-retrieval cascade's sparse sibling). Queries derive
    deterministically from the corpus itself: the top
    {BMQ_QUERIES * BMQ_TERMS_PER_QUERY} [a-z]+ tokens by document
    frequency (ties on token), chunked {BMQ_TERMS_PER_QUERY} per query
    — so the operator needs no external query table and the oracle
    rebuilds the identical batch.

    Same rational-idf BM25 as the sibling (fixed correctly-rounded IEEE
    tree, bit-exact cross-engine); per-(query, doc) scores sum in FIXED
    slot order via the conditional-aggregate pivot (a shuffle-order
    double SUM drifts in the last ulp — the sibling's measured finding).

    Scale shape: the corpus token stream is filtered against the
    broadcast query-term table BEFORE the tf groupBy, so the only
    corpus-sized shuffle carries matching postings (term-at-a-time
    retrieval through the index, never a per-query corpus scan);
    doc-length and corpus stats ride broadcasts; the per-query top-k is
    a WindowGroupLimit-rewritten rank over scored docs only."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", ws_tokens("text").alias("toks"))
    dl = _persist_scoped(
        "bmq_dl", toks.select("doc_id", F.size("toks").cast("long").alias("dl"))
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    # ONE corpus materialization of the exploded [a-z]+ token stream,
    # shared by the query-term derivation and the tf join (VERDICT r11
    # #4 — the sketch_heavy_hitters fix): unpersisted, the corpus would
    # be re-tokenized+exploded for each consumer. The rlike filter sits
    # INSIDE the cache: query terms are [a-z]+ by construction, so the
    # tf join loses nothing and the cache shrinks to matching tokens.
    stream = _persist_scoped(
        "bmq_stream",
        toks.select("doc_id", F.explode("toks").alias("token")).filter(
            F.col("token").rlike("^[a-z]+$")
        ),
    )
    postings = stream.select("token", "doc_id").distinct()
    dfreq = postings.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    rn = F.row_number().over(W.orderBy(F.col("df").desc(), "token"))
    qterms = (
        dfreq.withColumn("rn", rn)
        .filter(F.col("rn") <= BMQ_QUERIES * BMQ_TERMS_PER_QUERY)
        .select(
            "token",
            "df",
            ((F.col("rn") - 1) / BMQ_TERMS_PER_QUERY).cast("long").alias("q_id"),
            ((F.col("rn") - 1) % BMQ_TERMS_PER_QUERY).cast("long").alias("slot"),
        )
    )
    tf = (
        stream.join(F.broadcast(qterms), "token")
        .groupBy("token", "doc_id", "q_id", "slot", "df")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    idf = (
        (F.col("n_docs").cast("double") - F.col("df").cast("double")) + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    tf_d = F.col("tf").cast("double")
    term_score = idf * (tf_d * (BM25_K1 + 1.0)) / (
        tf_d
        + BM25_K1
        * (1.0 - BM25_B + BM25_B * F.col("dl").cast("double") / avgdl)
    )
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("q_id", "doc_id", "slot", term_score.alias("term_score"))
    )
    per_slot = [
        F.coalesce(
            F.max(F.when(F.col("slot") == s, F.col("term_score"))), F.lit(0.0)
        )
        for s in range(BMQ_TERMS_PER_QUERY)
    ]
    per_doc = scored.groupBy("q_id", "doc_id").agg(
        (per_slot[0] + per_slot[1] + per_slot[2]).alias("bm25"),
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
    )
    rnk = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.col("bm25").desc(), "doc_id")
    )
    return (
        per_doc.withColumn("rnk", rnk.cast("long"))
        .filter(F.col("rnk") <= BMQ_TOPK)
        .select("q_id", "rnk", "doc_id", "n_terms_hit", "bm25")
    )


# ---------------------------------------------------------------------------
# character-entropy quality signal (r13): Shannon entropy of the cleaned
# character stream in the engine's fixed-point integer lg — the classic
# low-entropy gate (repetitive boilerplate / keyboard-mash detection) that
# quality ladders run next to the Gopher rules, here fully oracle-gated
# because every lg is the shared milli-scaled integer log2.
# ---------------------------------------------------------------------------

#: docs whose cleaned character entropy falls below this many milli-bits
#: are flagged (natural-language text sits near 4000; heavy repetition
#: collapses toward 0)
ENTROPY_MIN_MILLI = 2000


def _char_entropy_oracle() -> str:
    from projet_pipeline_bigdata_org_spark.functions.cleaning import SQL_CLEAN

    clean = SQL_CLEAN.format(c="text")
    return f"""
    WITH cl AS (
      SELECT doc_id, {clean} AS clean FROM documents
    ), f AS (
      SELECT doc_id, clean FROM cl WHERE LENGTH(clean) > 0
    ), ch AS (
      SELECT doc_id, SUBSTR(clean, i, 1) AS ch
      FROM f, UNNEST(GENERATE_SERIES(1, LENGTH(clean))) AS t(i)
    ), hist AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      FROM ch GROUP BY doc_id, ch
    ), agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_chars,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
             CAST(SUM(c * {_lg_duck('c')}) AS BIGINT) AS clg
      FROM hist GROUP BY doc_id
    )
    SELECT doc_id, n_chars, n_distinct_chars,
           CAST({_lg_duck('n_chars')} - (clg // n_chars) AS BIGINT)
             AS entropy_milli,
           ({_lg_duck('n_chars')} - (clg // n_chars)) < {ENTROPY_MIN_MILLI}
             AS low_entropy
    FROM agg
    """


@query(
    "text_char_entropy",
    oracle=_char_entropy_oracle(),
    tags=("llm", "text", "quality", "documents"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the cleaned character stream, in
    FIXED-POINT INTEGER arithmetic — the low-entropy quality gate
    (repetitive boilerplate, keyboard mash, template spam score near 0
    bits; natural text near 4) a curation ladder runs next to
    ``lex_gopher_rules``. H = lg(n) - (sum c_i*lg(c_i)) / n over the
    per-character counts, with lg the engine's shared milli-scaled
    integer log2 (``_lg_spark`` / ``_lg_duck`` — the Unigram trainer's
    likelihood arithmetic) and a truncating integer division — so the
    oracle replays every histogram count, every lg, and the final
    division bit-identically. Cleaning is the certified chain
    (functions/cleaning.py), so the character universe is lowercase
    alnum + space in both engines.

    Scale shape: pure row-local explode + two partial-agg'd groupBys
    keyed by doc — no join, no skew (per-doc groups are document-sized);
    at 100 TB this is one scan with map-side combine."""
    from projet_pipeline_bigdata_org_spark.functions.cleaning import clean_text

    d = load(spark, sf_dir, "documents")
    cl = d.select("doc_id", clean_text("text").alias("clean")).filter(
        F.length("clean") > 0
    )
    hist = (
        cl.select("doc_id", F.explode(F.split("clean", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = hist.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
        F.sum(F.expr(f"c * {_lg_spark('c')}")).cast("long").alias("clg"),
    )
    entropy = F.expr(f"{_lg_spark('n_chars')} - (clg div n_chars)")
    return agg.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        entropy.cast("long").alias("entropy_milli"),
        (entropy < ENTROPY_MIN_MILLI).alias("low_entropy"),
    )


def _contam_report_oracle() -> str:
    from projet_pipeline_bigdata_org_spark.plans.registry import get as _get

    attrib = _get("lex_decontaminate_attrib").oracle
    return f"""
    WITH attrib AS ({attrib})
    SELECT benchmark_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs_attributed,
           CAST(COUNT(*) FILTER (contaminated) AS BIGINT) AS n_docs_contaminated,
           CAST(SUM(n_overlap) AS BIGINT) AS total_overlap_shingles,
           CAST(MAX(n_overlap) AS BIGINT) AS max_overlap_shingles
    FROM attrib GROUP BY benchmark_id
    """


@query(
    "lex_contamination_report",
    oracle=_contam_report_oracle(),
    tags=("llm", "text", "dedup", "documents"),
)
def text_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark contamination ROLLUP — the one-page governance view
    over ``lex_decontaminate_attrib``: for each eval set, how many corpus
    documents touch it, how many cross the contamination threshold, and
    the total/max shingle overlap (the "which eval leaked, how much"
    summary a training-data review signs off). CERTIFIED COMPOSITION:
    the Spark side aggregates the registered attribution operator's own
    output and the oracle composes its certified SQL as a CTE — the
    report cannot drift from the table it summarizes.

    Scale shape: the attribution table is already sparse (hit pairs
    only); this adds one partial-agg'd groupBy on the tiny benchmark_id
    key — N_BENCH rows out."""
    attrib = text_decontaminate_attrib(spark, sf_dir)
    return attrib.groupBy("benchmark_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_attributed"),
        F.count(F.when(F.col("contaminated"), 1)).cast("long").alias(
            "n_docs_contaminated"
        ),
        F.sum("n_overlap").cast("long").alias("total_overlap_shingles"),
        F.max("n_overlap").cast("long").alias("max_overlap_shingles"),
    )
