"""Fuzzed cross-engine parity for the shared text twins.

The oracle gate runs on the word-soup corpus; these tests push ~300
adversarial strings (URLs, unicode, whitespace runs, punctuation, empties)
through BOTH sides of each shared Spark/DuckDB template in one batch —
the drift class ADVICE r1 found in the initcap twin, hunted proactively.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark.functions.cleaning import SQL_CLEAN, clean_text
from projet_pipeline_bigdata_org_spark.operators.textops import (
    SQL_WS_TOKENS,
    shingles,
    sql_shingles,
    ws_tokens,
)

_PIECES = (
    "hello", "WORLD", "MiXeD", "btc", "émigré", "naïve", "日本語", "x" * 40,
    "http://a.b/c?d=1", "https://long.example.com/path#frag", "www.site.io/x",
    "a@b", "@mention", "#hashtag", "it's", "co-op", "1,234.56", "50%", "!!!",
    "(parens)", "[brackets]", "tab\there", "new\nline", "trailing ", " leading",
    "", " ", "   ", "\t", "under_score", "semi;colon", "um…", "emoji🙂", "９全",
)


def _fuzz_strings(n: int = 300) -> list[str]:
    rng = random.Random(1234)
    out = []
    for _ in range(n):
        k = rng.randint(0, 8)
        sep = rng.choice([" ", "  ", " \t ", " "])
        out.append(sep.join(rng.choice(_PIECES) for _ in range(k)))
    out.extend(_PIECES)  # each piece alone too
    return out


@pytest.fixture(scope="module")
def fuzz_df(spark):
    data = _fuzz_strings()
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(data)), "text": data})
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": range(len(data)), "text": data}))
    return sdf, con


def test_clean_text_twins_agree_on_fuzz(fuzz_df):
    sdf, con = fuzz_df
    got = {
        r.doc_id: r.c
        for r in sdf.select("doc_id", clean_text("text").alias("c")).collect()
    }
    want = dict(
        con.execute(
            f"SELECT doc_id, {SQL_CLEAN.format(c='text')} FROM documents"
        ).fetchall()
    )
    diffs = {i: (got[i], want[i]) for i in got if got[i] != want[i]}
    assert not diffs, f"clean_text twin drift on {len(diffs)} inputs: {list(diffs.items())[:5]}"


def test_ws_tokens_twins_agree_on_fuzz(fuzz_df):
    sdf, con = fuzz_df
    got = {
        r.doc_id: r.t
        for r in sdf.select(
            "doc_id", F.array_join(ws_tokens("text"), "\x1f").alias("t")
        ).collect()
    }
    # COALESCE is part of the twin contract: DuckDB ARRAY_TO_STRING([]) is
    # NULL while Spark array_join([]) is '' — found by this very test; every
    # joined-array oracle carries the same guard
    want = dict(
        con.execute(
            f"SELECT doc_id, COALESCE(ARRAY_TO_STRING({SQL_WS_TOKENS.format(c='text')}, chr(31)), '')"
            " FROM documents"
        ).fetchall()
    )
    diffs = {i: (got[i], want[i]) for i in got if got[i] != want[i]}
    assert not diffs, f"ws_tokens twin drift: {list(diffs.items())[:5]}"


def test_shingle_twins_agree_on_fuzz(fuzz_df):
    sdf, con = fuzz_df
    got = {
        r.doc_id: r.s
        for r in sdf.select(
            "doc_id",
            F.array_join(shingles(ws_tokens("text")), "\x1f").alias("s"),
        ).collect()
    }
    want = dict(
        con.execute(
            "SELECT doc_id, ARRAY_TO_STRING("
            f"{sql_shingles(SQL_WS_TOKENS.format(c='text'))}, chr(31)) FROM documents"
        ).fetchall()
    )
    diffs = {i: (got[i], want[i]) for i in got if (got[i] or "") != (want[i] or "")}
    assert not diffs, f"shingle twin drift: {list(diffs.items())[:5]}"


def test_date_twins_agree_on_fuzz(spark):
    """Timestamp twins (format, last_day, add_months, epoch, month-delta)
    fuzzed across 1906-2096 — the oracle gate only ever sees 1995-2001
    order dates and 2024 events."""
    rng = random.Random(99)
    epochs = [rng.randrange(-2_000_000_000, 4_000_000_000) for _ in range(400)]
    # exact boundary cases
    epochs += [0, -1, 86399, 951782400, 4102444800 - 1]  # 1970, 2000-02-29, 2099-12-31
    pdf = pd.DataFrame({"i": range(len(epochs)), "e": epochs})
    sdf = spark.createDataFrame(pdf)
    got = {
        r.i: (r.fmt, r.month_end, r.plus3, r.ep, r.months_since)
        for r in sdf.select(
            "i",
            F.date_format(F.timestamp_seconds("e"), "yyyy-MM-dd HH:mm:ss").alias("fmt"),
            F.date_format(F.last_day(F.timestamp_seconds("e")), "yyyy-MM-dd").alias(
                "month_end"
            ),
            F.date_format(
                F.add_months(F.timestamp_seconds("e"), 3), "yyyy-MM-dd"
            ).alias("plus3"),
            F.unix_timestamp(F.timestamp_seconds("e")).alias("ep"),
            (
                (F.year(F.timestamp_seconds("e")) - F.lit(1995)) * 12
                + F.month(F.timestamp_seconds("e"))
                - F.lit(1)
            ).cast("long").alias("months_since"),
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            """
            SELECT i,
                   STRFTIME(TO_TIMESTAMP(e), '%Y-%m-%d %H:%M:%S'),
                   STRFTIME(LAST_DAY(TO_TIMESTAMP(e)), '%Y-%m-%d'),
                   STRFTIME(TO_TIMESTAMP(e) + INTERVAL 3 MONTH, '%Y-%m-%d'),
                   CAST(EPOCH(TO_TIMESTAMP(e)) AS BIGINT),
                   CAST(DATE_DIFF('month', TIMESTAMP '1995-01-01', TO_TIMESTAMP(e)) AS BIGINT)
            FROM t
            """
        ).fetchall()
    }
    diffs = {i: (got[i], want[i]) for i in got if got[i] != want[i]}
    assert not diffs, f"date twin drift on {len(diffs)}: {list(diffs.items())[:5]}"


def test_cosine_fold_twins_agree_on_fuzz(spark):
    """The sequential-fold dot/norm twins must be bit-exact on adversarial
    vectors: mixed magnitudes (1e-30..1e30), negatives, zeros within
    vectors, cancellation-prone pairs — the embeddings corpus only ever
    shows well-scaled random floats."""
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        SQL_DOT,
        SQL_NORM,
        dot,
        norm,
    )

    rng = random.Random(7)

    def vec():
        out = []
        for _ in range(16):
            kind = rng.random()
            if kind < 0.1:
                out.append(0.0)
            elif kind < 0.3:
                out.append(rng.uniform(-1e-30, 1e-30))
            elif kind < 0.5:
                out.append(rng.uniform(-1e30, 1e30))
            else:
                out.append(rng.gauss(0, 1))
        return out

    rows = [(i, vec(), vec()) for i in range(200)]
    # cancellation-prone: b = -a plus tiny noise
    rows += [
        (200 + i, v, [-x for x in v])
        for i, v in ((j, vec()) for j in range(20))
    ]
    pdf = pd.DataFrame(rows, columns=["i", "a", "b"])
    sdf = spark.createDataFrame(pdf)
    got = {
        r.i: (r.d, r.na, r.nb)
        for r in sdf.select(
            "i",
            dot(F.col("a"), F.col("b")).alias("d"),
            norm(F.col("a")).alias("na"),
            norm(F.col("b")).alias("nb"),
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            f"""
            SELECT i, {SQL_DOT.format(a='a', b='b')},
                   {SQL_NORM.format(a='a')}, {SQL_NORM.format(a='b')}
            FROM t
            """
        ).fetchall()
    }

    def same(x, y):
        import math
        if x is None or y is None:
            return x is y
        return (x == y) or (math.isnan(x) and math.isnan(y))

    diffs = {
        i: (got[i], want[i])
        for i in got
        if not all(same(a, b) for a, b in zip(got[i], want[i]))
    }
    assert not diffs, f"cosine fold drift on {len(diffs)}: {list(diffs.items())[:3]}"


def test_gopher_rules_twins_agree_on_fuzz(fuzz_df):
    """The Gopher-rule flag expressions (token counts, char sums, regex
    symbol/alpha filters, distinct-stopword counts, integer cross-mult
    booleans) fuzzed through both engines — the oracle gate only sees the
    word-soup corpus."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators import textops

    plans.load_all()
    spec = plans.registry.all_specs()["lex_gopher_rules"]
    sdf, con = fuzz_df
    with mock.patch.object(textops, "load", lambda _s, _d, _t: sdf):
        got = {tuple(r) for r in spec.fn(sdf.sparkSession, "ignored").collect()}
    want = {tuple(r) for r in con.execute(spec.oracle).fetchall()}
    assert got == want


def test_chunker_twins_agree_on_fuzz(fuzz_df):
    """The UDTF chunker (python split loop) against its RANGE+LIST_SLICE
    oracle on adversarial strings — unicode, whitespace runs, empties."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators import udtf_ext

    plans.load_all()
    spec = plans.registry.all_specs()["udtf_chunk_documents"]
    sdf, con = fuzz_df
    with mock.patch.object(udtf_ext, "load", lambda _s, _d, _t: sdf):
        got = {tuple(r) for r in spec.fn(sdf.sparkSession, "ignored").collect()}
    want = {tuple(r) for r in con.execute(spec.oracle).fetchall()}
    assert got == want


def _fuzz_query_twins(fuzz_df, module, name):
    from unittest import mock

    from projet_pipeline_bigdata_org_spark import plans

    plans.load_all()
    spec = plans.registry.all_specs()[name]
    sdf, con = fuzz_df
    with mock.patch.object(module, "load", lambda _s, _d, _t: sdf):
        got = {tuple(r) for r in spec.fn(sdf.sparkSession, "ignored").collect()}
    want = {tuple(r) for r in con.execute(spec.oracle).fetchall()}
    assert got == want


def test_pack_sequences_twins_agree_on_fuzz(fuzz_df):
    """Packing arithmetic (token counts → shard windows → integer div) on
    adversarial strings: unicode tokens, whitespace runs, empties (zero-
    token docs exercise the n_tokens=0 branch both sides)."""
    from projet_pipeline_bigdata_org_spark.operators import packing

    _fuzz_query_twins(fuzz_df, packing, "pack_sequences")


def test_pack_bins_nextfit_twins_agree_on_fuzz(fuzz_df):
    """The pandas next-fit kernel vs the recursive-CTE oracle on the fuzz
    corpus — empty docs and giant single tokens ride through both."""
    from projet_pipeline_bigdata_org_spark.operators import packing

    _fuzz_query_twins(fuzz_df, packing, "pack_bins_nextfit")


def test_bigram_fluency_twins_agree_on_fuzz(fuzz_df):
    """Dictionary-join fluency scoring fuzzed: bigram construction +
    corpus-frequency join + integer/double division on adversarial text."""
    from projet_pipeline_bigdata_org_spark.operators import textops

    _fuzz_query_twins(fuzz_df, textops, "lex_bigram_fluency")


def test_extract_urls_twins_agree_on_fuzz(fuzz_df):
    """URL extraction/canonicalization twins on the fuzz corpus (contains
    real URL shapes plus unicode/punctuation decoys)."""
    from projet_pipeline_bigdata_org_spark.operators import textops

    _fuzz_query_twins(fuzz_df, textops, "text_extract_urls")


def test_select_token_budget_twins_agree_on_fuzz(fuzz_df):
    """Budget selection (token counts → per-shard longest-first running
    sum → boolean gate) on adversarial strings; zero-token docs sort last
    and exercise the cum==prev branch in both engines. The scan lives in
    packing._token_counts (shared with the pack_* queries), so the corpus
    patch targets packing, not curation."""
    from projet_pipeline_bigdata_org_spark.operators import packing

    _fuzz_query_twins(fuzz_df, packing, "select_token_budget")


def test_hash_coin_wrap_free_at_any_id_magnitude(spark):
    """The shared multiplicative-hash coin must equal the mathematical
    (id·KNUTH) mod PRIME32 even where a naive id*KNUTH overflows int64
    (ids > ~3.5e9): Spark expr vs DuckDB SQL vs Python big-int, all three
    identical (ADVICE r5: the naive form wraps silently in Spark and
    raises in DuckDB). Negative ids included (ADVICE r6): both engines'
    ``%`` follows the dividend's sign, so the coin canonicalizes to the
    nonnegative residue — Python's ``%`` is already that residue."""
    from projet_pipeline_bigdata_org_spark.functions.hashing import (
        KNUTH,
        PRIME32,
        hash_coin,
        sql_hash_coin,
    )

    ids = [
        0, 1, 12345, 2**31 - 1, 2**32, 4_000_000_000, 10**12,
        2**62, 2**63 - 1,  # far beyond the naive form's overflow point
        -1, -12345, -(2**31), -(2**62),  # sign-safety (ADVICE r6)
    ]
    truth = {i: (i * KNUTH) % PRIME32 for i in ids}
    sdf = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got_spark = {
        r.doc_id: r.coin
        for r in sdf.select("doc_id", hash_coin("doc_id").alias("coin")).collect()
    }
    assert got_spark == truth
    con = duckdb.connect()
    con.register("ids", pd.DataFrame({"doc_id": ids}))
    got_duck = dict(
        con.execute(
            f"SELECT doc_id, {sql_hash_coin('doc_id')} AS coin FROM ids"
        ).fetchall()
    )
    assert got_duck == truth


@pytest.fixture(scope="module")
def fuzz_events(spark):
    """Adversarial events: COLLIDING timestamps (tie-breaks on event_id),
    same-instant funnel stages, negative / extreme / dyadic-boundary
    values (x.5-cent rounding ties), single-event users, and one user
    with every event at one instant. The oracle gate's generated corpus
    has none of these shapes."""
    import datetime as dt

    rng = random.Random(4242)
    t0 = dt.datetime(2024, 1, 1)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = []
    eid = 0

    def add(uid, typ, seconds, value):
        nonlocal eid
        rows.append((eid, t0 + dt.timedelta(seconds=seconds), uid, typ, value, "{}"))
        eid += 1

    for uid in range(40):
        n = rng.randint(1, 12)
        for _ in range(n):
            # heavy timestamp collisions: only 20 distinct seconds
            s = rng.randrange(20)
            v = rng.choice(
                [
                    0.0, -0.005, 0.005, 0.125, -0.125, 12.125,  # dyadic .5-cent ties
                    rng.uniform(-1e6, 1e6),
                    rng.gauss(0, 1),
                ]
            )
            add(uid, rng.choice(types), s, v)
    # same-instant funnel stages: strict ordering must exclude these
    add(100, "view", 50, 1.0)
    add(100, "click", 50, 1.0)   # same ts as the view -> NOT stage 2
    add(100, "purchase", 51, 1.0)
    # single-event users
    add(101, "purchase", 60, -42.42)
    add(102, "view", 61, 1e9)
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("events", pdf)
    return sdf, con


def _fuzz_events_twins(fuzz_events, module, name):
    from unittest import mock

    from projet_pipeline_bigdata_org_spark import plans

    plans.load_all()
    spec = plans.registry.all_specs()[name]
    sdf, con = fuzz_events
    with mock.patch.object(module, "load", lambda _s, _d, _t: sdf):
        got = sorted(tuple(r) for r in spec.fn(sdf.sparkSession, "ignored").collect())
    want = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert got == want, f"{name} drift: {got[:3]} vs {want[:3]}"


def test_funnel_twins_agree_on_fuzz_events(fuzz_events):
    """Strict-ordering funnel on colliding timestamps: a click at the SAME
    instant as the first view must not count in either engine."""
    from projet_pipeline_bigdata_org_spark.operators import timeseries

    _fuzz_events_twins(fuzz_events, timeseries, "event_funnel_steps")


def test_scd2_twins_agree_on_fuzz_events(fuzz_events):
    """Interval versioning under heavy (ts) collisions — the event_id
    tie-break must produce identical version chains."""
    from projet_pipeline_bigdata_org_spark.operators import timeseries

    _fuzz_events_twins(fuzz_events, timeseries, "dim_scd2_intervals")


def test_markov_twins_agree_on_fuzz_events(fuzz_events):
    """Transition pairs under colliding timestamps + single-event users
    (who contribute zero transitions in both engines)."""
    from projet_pipeline_bigdata_org_spark.operators import timeseries

    _fuzz_events_twins(fuzz_events, timeseries, "event_markov_transitions")


def test_mad_twins_agree_on_fuzz_events(fuzz_events):
    """MAD audit on negative / extreme / dyadic-boundary values — the
    ROUND(x*100) half-tie cases must round identically (both engines
    round halves away from zero)."""
    from projet_pipeline_bigdata_org_spark.operators import outliers

    _fuzz_events_twins(fuzz_events, outliers, "anomaly_mad_outliers")


def test_ks_twins_agree_on_fuzz_events(fuzz_events):
    from projet_pipeline_bigdata_org_spark.operators import outliers

    _fuzz_events_twins(fuzz_events, outliers, "dist_ks_two_sample")


def test_chi_square_twins_agree_on_fuzz_events(fuzz_events):
    from projet_pipeline_bigdata_org_spark.operators import outliers

    _fuzz_events_twins(fuzz_events, outliers, "dist_chi_square_independence")


def test_rfm_twins_agree_on_fuzz_events(fuzz_events):
    """RFM quartiles on adversarial purchases (negative monetary, ties in
    every axis) — NTILE bucket boundaries must match exactly."""
    from projet_pipeline_bigdata_org_spark.operators import timeseries

    _fuzz_events_twins(fuzz_events, timeseries, "event_rfm_segments")


def test_retention_twins_agree_on_fuzz_events(fuzz_events):
    from projet_pipeline_bigdata_org_spark.operators import timeseries

    _fuzz_events_twins(fuzz_events, timeseries, "event_retention_cohorts")


def test_bm25_twins_agree_on_fuzz(fuzz_df):
    """BM25 on the adversarial text corpus — zero-length docs, unicode
    tokens, absent query terms (empty result is fine, but both sides must
    agree on it)."""
    from projet_pipeline_bigdata_org_spark.operators import textops

    _fuzz_query_twins(fuzz_df, textops, "bm25_rank_documents")


def test_quality_classifier_twins_agree_on_fuzz(fuzz_df):
    """The portable token hash (ascii/length/reverse) and LCG weight fold
    on adversarial tokens: unicode first/last codepoints, emoji, CJK,
    empty docs (margin 0), whitespace runs."""
    from projet_pipeline_bigdata_org_spark.operators import curation

    _fuzz_query_twins(fuzz_df, curation, "curate_quality_classifier")


def test_dsir_twins_agree_on_fuzz(spark):
    """DSIR fixed-point selection fuzzed with a source column: adversarial
    bigrams, duplicate texts across sources (high-count ratios), docs with
    <2 tokens dropping out of both sides, plus the crafted fixture rows
    riding along as always."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators import curation

    plans.load_all()
    data = _fuzz_strings()
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(data)),
            "text": data,
            "source": ["src0" if i % 4 == 0 else f"src{i % 3 + 1}" for i in range(len(data))],
        }
    )
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)
    spec = plans.registry.all_specs()["curate_dsir_select"]
    with mock.patch.object(curation, "load", lambda _s, _d, _t: sdf):
        got = {tuple(r) for r in spec.fn(spark, "ignored").collect()}
    want = {tuple(r) for r in con.execute(spec.oracle).fetchall()}
    assert got == want


def test_leakage_safe_split_twins_agree_on_fuzz(spark):
    """Cluster-aware split fuzzed: duplicate adversarial texts form
    jaccard-1 clusters, the recursive-CTE closure and the Spark fixpoint
    must agree on every group id and split decision."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators import curation, dedup

    plans.load_all()
    data = _fuzz_strings()
    pdf = pd.DataFrame({"doc_id": range(len(data)), "text": data})
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)
    spec = plans.registry.all_specs()["curate_leakage_safe_split"]
    patch = lambda _s, _d, _t: sdf  # noqa: E731
    with mock.patch.object(curation, "load", patch), mock.patch.object(
        dedup, "load", patch
    ):
        got = {tuple(r) for r in spec.fn(spark, "ignored").collect()}
    want = {tuple(r) for r in con.execute(spec.oracle).fetchall()}
    assert got == want


def test_rolling_zscore_twins_agree_on_fuzz_events(fuzz_events):
    """Prior-only rolling window on colliding timestamps (the event_id
    tie-break orders them identically), negative and extreme values, and
    day-boundary resets."""
    from projet_pipeline_bigdata_org_spark.operators import outliers

    _fuzz_events_twins(fuzz_events, outliers, "anomaly_rolling_zscore")


def test_countmin_twins_agree_on_fuzz(fuzz_df):
    """Count-min bucket arithmetic on adversarial tokens: the portable
    ascii/length/reverse features must agree on unicode, emoji, and CJK
    codepoints across all four row parameterizations."""
    from projet_pipeline_bigdata_org_spark.operators import analytics_ext

    _fuzz_query_twins(fuzz_df, analytics_ext, "agg_countmin_terms")


def test_repeated_passages_twins_agree_on_fuzz(fuzz_df):
    """15-token passage windows on adversarial text (whitespace runs and
    empties shrink token streams below the window in both engines), plus
    the near-dup fixture rows riding along."""
    from projet_pipeline_bigdata_org_spark.operators import dedup

    _fuzz_query_twins(fuzz_df, dedup, "dedup_repeated_passages")


def test_curriculum_twins_agree_on_fuzz(fuzz_df):
    """Curriculum stage/shard/rank arithmetic on adversarial text: empty
    docs land in stage 0, the coin ordering and the (stage, shard) window
    must agree exactly."""
    from projet_pipeline_bigdata_org_spark.operators import curation

    _fuzz_query_twins(fuzz_df, curation, "curate_curriculum_order")


def test_bloom_twins_agree_on_fuzz(fuzz_df):
    """Bloom bit positions and membership on adversarial tokens — the
    portable feature hash on unicode/emoji/CJK, empty docs, and a
    vocabulary that saturates large parts of the 1,024-bit array."""
    from projet_pipeline_bigdata_org_spark.operators import analytics_ext

    _fuzz_query_twins(fuzz_df, analytics_ext, "agg_bloom_membership")


def test_passage_prune_twins_agree_on_fuzz(fuzz_df):
    """The ExactSubstr applier fuzzed: hash-pair covered-span excision vs
    the string-rebuilding oracle on adversarial text (whitespace runs,
    empties, unicode) — token-join reconstruction must agree byte-exactly
    in both engines."""
    from projet_pipeline_bigdata_org_spark.operators import dedup

    _fuzz_query_twins(fuzz_df, dedup, "dedup_passage_prune")


def test_perplexity_twins_agree_on_fuzz(fuzz_df):
    """Trigram Laplace surprisal fuzzed: positional trigram/context pairing,
    BIN-length floor-log2, vocabulary count, and the corpus-mean
    cross-multiplication on adversarial text in both engines."""
    from projet_pipeline_bigdata_org_spark.operators import curation

    _fuzz_query_twins(fuzz_df, curation, "curate_perplexity_filter")


def test_incremental_passages_twins_agree_on_fuzz(fuzz_df):
    """Incremental substring-level admission fuzzed: residue split, distinct
    window hashing, history membership join, and the >=1 flag rule agree
    across engines on adversarial text."""
    from projet_pipeline_bigdata_org_spark.operators import dedup

    _fuzz_query_twins(fuzz_df, dedup, "dedup_incremental_passages")


def test_ewma_residual_twins_agree_on_fuzz_events(fuzz_events):
    """Positional-lag EWMA on colliding timestamps (event_id tie-break),
    NULL readings in arbitrary lag slots (weightless in both engines),
    negative and clamped-extreme values, and day-boundary lag resets."""
    from projet_pipeline_bigdata_org_spark.operators import outliers

    _fuzz_events_twins(fuzz_events, outliers, "anomaly_ewma_residual")


def test_hll_registers_twins_agree_on_fuzz(fuzz_df):
    """Register / rho nibble arithmetic on adversarial tokens: unicode,
    emoji, and CJK codepoints must sha-slice to identical registers and
    leading-zero-bit counts in both engines, including the empty corpus
    rows (zero-token docs) that leave registers at rho 0."""
    from projet_pipeline_bigdata_org_spark.operators import analytics_ext

    _fuzz_query_twins(fuzz_df, analytics_ext, "agg_hll_registers")


def test_kmv_twins_agree_on_fuzz(spark):
    """KMV hash-slice / rank / estimator arithmetic fuzzed with a lang
    column: adversarial unicode tokens, duplicate texts across langs,
    zero-token docs, and the tiny-vocab fixture rider exercising the
    exact small-set branch in both engines."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators import analytics_ext

    plans.load_all()
    data = _fuzz_strings()
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(data)),
            "text": data,
            "lang": [f"l{i % 4}" for i in range(len(data))],
        }
    )
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)
    spec = plans.registry.all_specs()["agg_kmv_distinct"]
    with mock.patch.object(analytics_ext, "load", lambda _s, _d, _t: sdf):
        got = {tuple(r) for r in spec.fn(spark, "ignored").collect()}
    want = {tuple(r) for r in con.execute(spec.oracle).fetchall()}
    assert got == want


def test_boilerplate_lines_twins_agree_on_fuzz(fuzz_df):
    """Line split / normalize / distinct-fold on adversarial strings:
    embedded newlines inside fuzz pieces become real line boundaries,
    whitespace-only lines vanish identically, unicode case-folds agree."""
    from projet_pipeline_bigdata_org_spark.operators import dedup

    _fuzz_query_twins(fuzz_df, dedup, "dedup_boilerplate_lines")


def test_weighted_sample_twins_agree_on_fuzz(spark):
    """Priority arithmetic fuzzed with adversarial n_chars values (NULL,
    zero, negative, huge) across several sources: the clamp, the IEEE
    quotient, and the (priority, doc_id) rank order must agree exactly."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators import curation

    plans.load_all()
    import random

    rng = random.Random(77)
    vals = [None, 0, -5, 1, 2, 37, 10**6, 10**9]
    pdf = pd.DataFrame(
        {
            "doc_id": range(500),
            "source": [f"s{i % 5}" for i in range(500)],
            "n_chars": [rng.choice(vals) for _ in range(500)],
        }
    )
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)
    spec = plans.registry.all_specs()["curate_weighted_sample"]
    with mock.patch.object(curation, "load", lambda _s, _d, _t: sdf):
        got = {tuple(r) for r in spec.fn(spark, "ignored").collect()}
    want = {tuple(r) for r in con.execute(spec.oracle).fetchall()}
    assert got == want


def test_incremental_rollup_twins_agree_on_fuzz_events(fuzz_events):
    """Partial-state merge vs direct aggregation under negative, extreme,
    and dyadic-tie values — the decimal sum, min/max fold, and
    double-division average must agree bit-for-bit."""
    from projet_pipeline_bigdata_org_spark.operators import analytics_ext

    _fuzz_events_twins(fuzz_events, analytics_ext, "agg_incremental_rollup")


def test_metric_drift_twins_agree_on_fuzz_events(fuzz_events):
    """The drift audit's exact arithmetic under NEGATIVE sums — the class
    the review flagged: floored decimal→BIGINT casts, truncating integer
    division for the display means, and sign-safe cross-multiplication
    flags must match across engines (the fuzz stream lands in one week;
    the internal drift riders supply the multi-week chains)."""
    from projet_pipeline_bigdata_org_spark.operators import dataquality

    _fuzz_events_twins(fuzz_events, dataquality, "audit_metric_drift")


@pytest.fixture(scope="module")
def fuzz_orders(spark):
    """Adversarial orders for the CDC diff: order dates EXACTLY ON every
    snapshot-window boundary (inclusion is >= lo, < hi — one tick either
    way flips a customer's class), negative and .5-cent totals, and
    customers constructed to sit in each change class."""
    import datetime as dt

    rng = random.Random(77)
    bounds = [
        dt.datetime(1995, 1, 1), dt.datetime(1996, 1, 1),
        dt.datetime(1998, 1, 1), dt.datetime(1999, 1, 1),
    ]
    rows = []
    okey = 0

    def add(cust, price, when):
        nonlocal okey
        rows.append((okey, cust, price, when))
        okey += 1

    # every boundary instant and its neighbors, for many customers
    for cust in range(30):
        for b in bounds:
            for delta in (-1, 0, 1):
                if rng.random() < 0.4:
                    add(cust, rng.choice([-12.5, 0.005, 99.99, 0.0,
                                          rng.uniform(-1e5, 1e5)]),
                        b + dt.timedelta(seconds=delta))
    # plus random in-window activity
    for cust in range(30, 60):
        for _ in range(rng.randint(1, 6)):
            add(cust, round(rng.uniform(-1000, 1000), 2),
                dt.datetime(1994, 6, 1)
                + dt.timedelta(days=rng.randrange(2200)))
    pdf = pd.DataFrame(
        rows, columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    )
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("orders", pdf)
    return sdf, con


def test_cdc_twins_agree_on_fuzz_orders(fuzz_orders):
    """One-pass conditional aggregation vs the oracle's generic FULL
    OUTER JOIN on boundary-straddling order dates and negative totals —
    the window-inclusion semantics and exact-decimal state equality must
    classify every customer identically."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators import timeseries

    plans.load_all()
    spec = plans.registry.all_specs()["cdc_snapshot_diff"]
    sdf, con = fuzz_orders
    with mock.patch.object(timeseries, "load", lambda _s, _d, _t: sdf):
        got = sorted(tuple(r) for r in spec.fn(sdf.sparkSession, "x").collect())
    want = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert got == want, f"cdc drift: {got[:3]} vs {want[:3]}"


def test_cogrouped_asof_null_event_ts_matches_oracle(spark):
    """An event with a NULL ``ts`` reaches the cogroup kernel as a NaN
    event day, which ``searchsorted`` places past every order day. The
    oracle's ``<`` against NULL never matches, so the event must get a
    NULL last order day, not the user's latest one."""
    import datetime as dt
    from unittest import mock

    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators import grouped

    plans.load_all()
    spec = plans.registry.all_specs()["pair_cogrouped_asof"]
    events = [(1, 7, None), (2, 7, dt.datetime(1995, 6, 10, 12))]
    orders = [(7, dt.datetime(1995, 6, 1)), (7, dt.datetime(1995, 6, 5))]
    tables = {
        "events": spark.createDataFrame(events, "event_id long, user_id long, ts timestamp"),
        "orders": spark.createDataFrame(orders, "o_custkey long, o_orderdate timestamp"),
    }
    con = duckdb.connect()
    con.register("events", pd.DataFrame(events, columns=["event_id", "user_id", "ts"]))
    con.register("orders", pd.DataFrame(orders, columns=["o_custkey", "o_orderdate"]))
    with mock.patch.object(grouped, "load", lambda _s, _d, t: tables[t]):
        got = {r[0]: tuple(r) for r in spec.fn(spark, "x").collect()}
    want = {r[0]: tuple(r) for r in con.execute(spec.oracle).fetchall()}
    assert got == want
    assert got[1][3] is None


def test_minhash_certified_twins_agree_on_fuzz(fuzz_df):
    """The certified MinHash stack — sha-slice shingle hashes, all 32
    affine-permutation mins, the coin-fold band buckets, candidates, and
    the exact-Jaccard verify — on adversarial text: unicode shingles,
    whitespace runs, and sub-3-token docs (which drop from both engines'
    shingle tables identically)."""
    from projet_pipeline_bigdata_org_spark.operators import dedup

    _fuzz_query_twins(fuzz_df, dedup, "dedup_minhash_certified")


def test_simhash_certified_twins_agree_on_fuzz(fuzz_df):
    """The certified SimHash stack — 48-bit sha-slice features, bit
    votes, chunk-pair bands, hot-bucket census, Hamming join — on the
    same adversarial corpus."""
    from projet_pipeline_bigdata_org_spark.operators import dedup

    _fuzz_query_twins(fuzz_df, dedup, "dedup_simhash_certified")


def test_unigram_learn_twins_agree_on_fuzz(fuzz_df):
    """Viterbi-EM tokenizer training on adversarial text: the [a-z]+
    filter and the UNI_MAX_WORD cap must drop the same words in both
    engines (x*40 exceeds the cap; uppercase/unicode fail the regex),
    and both summary rows' checksums must still match bit-exactly."""
    from projet_pipeline_bigdata_org_spark.operators import textops

    _fuzz_query_twins(fuzz_df, textops, "text_unigram_learn")


def test_unigram_tokenize_twins_agree_on_fuzz(fuzz_df):
    """Per-document unigram token accounting on the fuzz corpus — docs
    whose every token fails the filter drop out identically (inner
    join), survivors' compression ratios match bit-exactly."""
    from projet_pipeline_bigdata_org_spark.operators import textops

    _fuzz_query_twins(fuzz_df, textops, "text_unigram_tokenize")
