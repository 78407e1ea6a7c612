"""Corpus curation operators (SURVEY §2.12 add-on, round 5): the selection
step of a pretraining-data pipeline — which documents make the training mix
— as distinct from cleaning (textops), dedup (dedup/similarity), and
packing (packing).

- ``mix_temperature_sources`` — temperature-flattened source mixture
  (T=2): big sources are down-sampled toward sqrt-proportional weight, the
  standard multilingual/multi-source rebalancing rule. Selection is a
  deterministic hash coin per document (functions.hashing — wrap-free at
  any doc_id magnitude), so every engine, retry, and resample picks the
  same rows.
- ``select_token_budget`` — greedy per-shard document selection under a
  fixed token budget (longest-first): the "fill the training budget"
  primitive. Same per-shard window discipline and shard fan-out as
  packing.pack_sequences (``packing.N_SHARDS``); like the three
  ``pack_*`` queries it ships a ``select_token_budget_at(spark, sf_dir,
  n_shards)`` + ``select_token_budget_oracle(n_shards)`` pair so tests
  prove parity at non-default fan-outs too.

Exactness: thresholds go through SQRT (IEEE correctly-rounded in both
engines) and FLOOR to integers; the coin is pure int64 arithmetic with
every intermediate below 2^49 — so the DuckDB twins are bit-exact at any
corpus scale, no float tolerance anywhere.

Reference seed: the reference pipeline ingests everything it scrapes
(data_ingestion.py:121-141) — mixture control is the curation layer it
lacks for training-scale corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark.catalog import load
from projet_pipeline_bigdata_org_spark.functions.hashing import (
    PRIME32,
    hash_coin,
    sql_hash_coin,
)
from projet_pipeline_bigdata_org_spark.operators.packing import (
    N_SHARDS,
    SEQ_BUDGET,
    _token_counts,
)
from projet_pipeline_bigdata_org_spark.operators.textops import (
    SQL_TOK_NULLSAFE,
    SQL_WS_TOKENS,
    ws_tokens,
)
from projet_pipeline_bigdata_org_spark.plans.registry import query

_TOK_SQL = SQL_WS_TOKENS.format(c="text")


@query(
    "mix_temperature_sources",
    oracle=f"""
    WITH n AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), m AS (
      SELECT MIN(n_docs) AS n_min FROM n
    ), thr AS (
      SELECT source, n_docs,
             CAST(FLOOR(({PRIME32} * SQRT(n_min)) / SQRT(n_docs)) AS BIGINT)
               AS threshold
      FROM n CROSS JOIN m
    )
    SELECT d.source,
           thr.n_docs,
           thr.threshold,
           COUNT(CASE WHEN {sql_hash_coin("d.doc_id")} < thr.threshold
                      THEN 1 END) AS n_kept
    FROM documents d JOIN thr ON d.source = thr.source
    GROUP BY d.source, thr.n_docs, thr.threshold
    """,
    tags=("llm", "curation", "sampling", "documents"),
)
def mix_temperature_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture (T=2): per-source keep
    probability sqrt(n_min/n_source), so the kept mass scales with
    sqrt(n_source) — large sources flatten, the smallest keeps everything.

    Scale shape: source counts are a partial-agg'd rollup (|sources| rows);
    the min is one more scalar agg; both ride broadcast joins back onto the
    corpus — the only full-corpus pass is the final filter+agg. The keep
    coin is the shared wrap-free multiplicative hash of doc_id (no rand():
    deterministic across engines and task retries). Thresholds are
    FLOOR(PRIME * sqrt(n_min)/sqrt(n)) — SQRT is IEEE correctly-rounded in
    Spark and DuckDB alike, so the integer thresholds (and therefore every
    keep decision) are bit-identical."""
    d = load(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # global min via an unpartitioned window over the COUNTS table — its
    # input is already compressed to |sources| rows, so the SinglePartition
    # window is bounded by construction (and saves a second corpus scan
    # that a separate scalar-agg branch would cost)
    n_min = F.min("n_docs").over(W.partitionBy())
    thr = n.select(
        "source",
        "n_docs",
        F.floor((F.lit(PRIME32) * F.sqrt(n_min)) / F.sqrt("n_docs"))
        .cast("long")
        .alias("threshold"),
    )
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(thr), "source")
        .groupBy("source", "n_docs", "threshold")
        .agg(
            F.count(
                F.when(hash_coin("doc_id") < F.col("threshold"), 1)
            ).alias("n_kept")
        )
    )


#: holdout coin threshold: PRIME32 // 10 ⇒ exactly the ids whose coin lands
#: in the first tenth of [0, PRIME32) — an integer constant, so the split
#: decision is pure int64 comparison in both engines
HOLDOUT_THRESHOLD = PRIME32 // 10


@query(
    "curate_split_holdout",
    oracle=f"""
    WITH t AS (
      SELECT source,
             CASE WHEN {sql_hash_coin("doc_id")} < {HOLDOUT_THRESHOLD}
                  THEN 'holdout' ELSE 'train' END AS split,
             CAST(LEN({_TOK_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT source, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS token_mass
    FROM t GROUP BY source, split
    """,
    tags=("llm", "curation", "sampling", "documents"),
)
def curate_split_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% train/holdout split by content-independent hash
    coin — the eval-hygiene primitive: the split must survive reshuffles,
    re-ingestion, engine changes, and task retries without a membership
    file (rand()/TABLESAMPLE give a different holdout every run; a stored
    id list doesn't scale to 10^11 docs). The wrap-free coin
    (functions.hashing) makes the assignment bit-identical at any doc_id
    magnitude in Spark AND DuckDB, so downstream systems recompute
    membership locally instead of joining against it.

    Scale shape: one projection + one partial-agg'd rollup; output bounded
    by |sources| × 2. Reports per-(source, split) doc and token mass — the
    sanity sheet checked before a training run."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "source",
        F.when(hash_coin("doc_id") < HOLDOUT_THRESHOLD, "holdout")
        .otherwise("train")
        .alias("split"),
        F.size(ws_tokens("text")).cast("long").alias("n_tokens"),
    )
    return t.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("token_mass"),
    )


#: per-shard token budget for greedy selection; one shard's selection is
#: independent of every other shard, so total selected tokens scale as
#: budget × packing.N_SHARDS
SELECT_BUDGET = SEQ_BUDGET


def select_token_budget_oracle(n_shards: int) -> str:
    return f"""
    WITH t AS (
      SELECT doc_id,
             doc_id % {n_shards} AS shard,
             CAST(LEN({_TOK_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT *,
             CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY n_tokens DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens, cum_tokens,
           cum_tokens <= {SELECT_BUDGET} AS selected
    FROM c
    """


def select_token_budget_at(spark: SparkSession, sf_dir: str, n_shards: int) -> DataFrame:
    t = _token_counts(spark, sf_dir, n_shards)
    w = (
        W.partitionBy("shard")
        .orderBy(F.col("n_tokens").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return t.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
        (F.sum("n_tokens").over(w) <= SELECT_BUDGET).alias("selected"),
    )


@query(
    "select_token_budget",
    oracle=select_token_budget_oracle(N_SHARDS),
    tags=("llm", "curation", "packing", "documents"),
)
def select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-first document selection under a per-shard token
    budget: within each shard, documents are taken in (n_tokens DESC,
    doc_id) order while the running total stays within SELECT_BUDGET.

    Scale shape: identical to pack_sequences — the window partitions by the
    shard key (packing.N_SHARDS), never a global sort;
    per-task state is one shard's running sum. The greedy-by-length rule is
    a stand-in for greedy-by-quality: swap the ORDER BY for a quality score
    column and the plan is unchanged."""
    return select_token_budget_at(spark, sf_dir, N_SHARDS)


# ---------------------------------------------------------------------------
# Epoch / repetition schedule ([GAP→add] SURVEY §2.12: data-constrained
# mixing — how many epochs of each source a target token budget implies)
# ---------------------------------------------------------------------------

#: total token budget the mixture must fill (uniform target share per
#: source); small enough that every source oversamples at test SFs while
#: the integer arithmetic is identical at any corpus size
EPOCH_BUDGET = 200_000
#: cap on repetition before a source is flagged (the ~4-epoch rule of
#: thumb from data-constrained scaling studies)
EPOCH_CAP = 4


@query(
    "curate_epoch_schedule",
    oracle=f"""
    WITH src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN({_TOK_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tgt AS (
      SELECT *,
             CAST({EPOCH_BUDGET} AS BIGINT)
               // (SELECT COUNT(*) FROM src) AS target_tokens
      FROM src)
    SELECT source, n_docs, n_tokens, target_tokens,
           CAST((target_tokens + n_tokens - 1) // n_tokens AS BIGINT) AS epochs,
           (target_tokens + n_tokens - 1) // n_tokens > {EPOCH_CAP}
             AS over_repeated
    FROM tgt
    """,
    tags=("llm", "curation", "mixing", "documents"),
)
def curate_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition schedule for a token-budgeted training mixture: each
    source owes an equal share of EPOCH_BUDGET tokens; `epochs` is the
    ceiling of target/available — how many passes over that source the
    sampler must take — and `over_repeated` flags sources pushed past the
    EPOCH_CAP repetition rule of thumb (data-constrained scaling: value
    decays fast beyond ~4 epochs). The planner a mixture-weighted
    training-data pipeline runs before writing its sampling manifest.

    Scale shape: one partial-agg'd rollup to |sources| rows; the target
    share is a window-free scalar (count of the rollup) riding a
    broadcast; all arithmetic is exact integer ceil-division — bit-
    identical in both engines (Spark DIV and DuckDB // both truncate)."""
    d = load(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(ws_tokens("text"))).cast("long").alias("n_tokens"),
    )
    nsrc = src.agg(F.count(F.lit(1)).alias("n_sources"))
    tgt = src.crossJoin(F.broadcast(nsrc)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(f"CAST({EPOCH_BUDGET} AS BIGINT) DIV n_sources").alias(
            "target_tokens"
        ),
    )
    epochs = F.expr("(target_tokens + n_tokens - 1) DIV n_tokens")
    return tgt.select(
        "source",
        "n_docs",
        "n_tokens",
        "target_tokens",
        epochs.cast("long").alias("epochs"),
        (epochs > EPOCH_CAP).alias("over_repeated"),
    )


# ---------------------------------------------------------------------------
# Importance-weighted data selection (DSIR-style, fixed-point)
# ---------------------------------------------------------------------------

#: the target distribution: documents from this source define "what good
#: data looks like" (in a real pipeline: a curated corpus like Wikipedia)
DSIR_TARGET_SOURCE = "src0"
#: fixed-point scale for the per-bigram importance ratio. Bound: the
#: per-bigram TARGET count must stay below 2^63 / SCALE ~ 9.2e12
#: occurrences — the target set is the small curated corpus, so this holds
#: far past 100 TB of raw data (the RAW count only appears as a divisor)
DSIR_SCALE = 1_000_000

from projet_pipeline_bigdata_org_spark.operators.textops import (  # noqa: E402
    sql_shingles,
)

_DSIR_BIGRAM_SQL = sql_shingles(_TOK_SQL, 2)

# Crafted fixture rows unioned into curate_dsir_select (and mirrored in its
# oracle): a distinctive target-source document, a raw-source verbatim copy
# of it (its bigrams have target hits -> scores the maximal ratio
# DSIR_SCALE, so the `selected` branch is non-vacuously exercised at any
# SF), and a raw document that is one corpus-unseen bigram repeated 60
# times (ratio DSIR_SCALE DIV 61 ~ 16k, below any realistic corpus prior —
# the deterministic non-selected row). Negative doc_ids cannot collide
# with corpus ids.
DSIR_FIXTURE_ROWS: tuple[tuple[int, str, str], ...] = (
    (
        -101,
        "orbital resonance cascades stabilize the circumbinary disk through "
        "secular perturbation exchange between the inner planet pair",
        DSIR_TARGET_SOURCE,
    ),
    (
        -102,
        "orbital resonance cascades stabilize the circumbinary disk through "
        "secular perturbation exchange between the inner planet pair",
        "src7",
    ),
    (-103, " ".join(["zq"] * 61), "src7"),
)

_DSIR_FIXTURE_SQL = " UNION ALL ".join(
    "SELECT CAST({} AS BIGINT) AS doc_id, '{}' AS text, '{}' AS source".format(
        i, t.replace("'", "''"), s
    )
    for i, t, s in DSIR_FIXTURE_ROWS
)


@query(
    "curate_dsir_select",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL {_DSIR_FIXTURE_SQL}
    ), b AS (
      SELECT doc_id, source, UNNEST({_DSIR_BIGRAM_SQL}) AS bigram FROM docs
    ), cnt AS (
      SELECT bigram,
             COUNT(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 END) AS t_f,
             COUNT(CASE WHEN source <> '{DSIR_TARGET_SOURCE}' THEN 1 END) AS r_f
      FROM b GROUP BY bigram
    ), pri AS (
      SELECT CAST(CAST((SUM(t_f) + COUNT(*)) * {DSIR_SCALE} AS BIGINT)
               // (SUM(r_f) + COUNT(*)) AS BIGINT) AS prior
      FROM cnt
    ), lam AS (
      SELECT bigram,
             CAST((t_f + 1) * {DSIR_SCALE} AS BIGINT) // (r_f + 1) AS lam
      FROM cnt WHERE r_f > 0
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(lam.lam) AS BIGINT) AS dsir_score,
           CAST(SUM(lam.lam) AS BIGINT) // COUNT(*) AS dsir_avg,
           ANY_VALUE(pri.prior) AS prior,
           CAST(SUM(lam.lam) AS BIGINT) // COUNT(*) >= ANY_VALUE(pri.prior)
             AS selected
    FROM b JOIN lam USING (bigram) CROSS JOIN pri
    WHERE b.source <> '{DSIR_TARGET_SOURCE}'
    GROUP BY b.doc_id
    """,
    tags=("llm", "curation", "selection", "documents"),
)
def curate_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted data selection, DSIR-style (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"),
    reduced to exact fixed-point arithmetic: estimate how target-like each
    raw document's bigram distribution is, keep documents whose average
    per-bigram importance ratio clears the corpus prior.

    Fixed-point estimator: for each bigram f, the Laplace-smoothed count
    ratio lambda_f = (t_f+1) * DSIR_SCALE DIV (r_f+1) — a scaled BIGINT,
    no logs, no doubles (the published estimator multiplies per-feature
    probability ratios in log space; this is the same ranking statistic on
    a per-occurrence additive scale, chosen so both engines agree
    bit-exactly). Because the target corpus is much smaller than the raw
    pool, the neutral point of that ratio is not 1 but the smoothed mass
    prior (T+V) * DSIR_SCALE DIV (R+V) (T/R = total target/raw bigram
    occurrences, V = vocabulary) — exactly the normalization the paper's
    p_target/p_raw achieves; `selected` keeps documents whose truncating
    per-bigram average is at least that prior. DSIR_FIXTURE_ROWS pins both
    branches non-vacuously (a raw verbatim copy of a target document must
    select; a repeated corpus-unseen bigram scores DSIR_SCALE DIV 61 and
    must not).

    Overflow posture: every product is target-side-bounded —
    (t_f+1)*DSIR_SCALE and (T+V)*DSIR_SCALE stay under 2^63 for any
    target corpus below ~9.2e12 bigrams (the curated target is the SMALL
    side by construction); raw-scale counts only ever appear as divisors.

    Scale shape: ONE conditional-agg groupBy over the corpus bigram stream
    builds both sides' counts (never two corpus scans); the prior is a
    1-row broadcast off that dictionary; the Zipf-compact lambda
    dictionary rides an equi-join that AQE broadcasts when it fits; the
    final per-document rollup is a partial-agg'd groupBy on doc_id. The
    reference ingests everything it scrapes
    (main/data_ingestion/data_ingestion.py:121-141) — importance-based
    selection is the curation step it lacks."""
    from projet_pipeline_bigdata_org_spark.operators.textops import shingles

    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text", "source")
        .unionByName(
            spark.createDataFrame(
                list(DSIR_FIXTURE_ROWS), "doc_id long, text string, source string"
            )
        )
    )
    # r18 examined, kept as-is: the exploded bigram stream IS referenced
    # twice (count dictionary + per-document rollup), but same-session
    # A/B measured the original recompute form FASTEST (1.84s) vs a
    # DISK_ONLY pin (2.48s — serializing the corpus-sized stream costs
    # more than re-tokenizing) and vs spread-without-pin (2.23s — the
    # plan is aggregate-bound, the curate_perplexity_filter lesson).
    b = d.select(
        "doc_id",
        "source",
        F.explode(shingles(ws_tokens("text"), 2)).alias("bigram"),
    )
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    is_target = F.col("source") == DSIR_TARGET_SOURCE
    cnt = _persist_scoped(
        "dsir_cnt",
        b.groupBy("bigram").agg(
            F.count(F.when(is_target, 1)).alias("t_f"),
            F.count(F.when(~is_target, 1)).alias("r_f"),
        ),
    )
    pri = cnt.agg(
        F.expr(
            f"CAST((SUM(t_f) + COUNT(*)) * {DSIR_SCALE} AS BIGINT)"
            " DIV (SUM(r_f) + COUNT(*))"
        ).alias("prior")
    )
    lam = cnt.filter(F.col("r_f") > 0).select(
        "bigram",
        F.expr(f"CAST((t_f + 1) * {DSIR_SCALE} AS BIGINT) DIV (r_f + 1)").alias(
            "lam"
        ),
    )
    score = F.sum("lam").cast("long")
    return (
        b.filter(~is_target)
        .join(lam, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            score.alias("dsir_score"),
        )
        .crossJoin(F.broadcast(pri))
        .select(
            "doc_id",
            "n_bigrams",
            "dsir_score",
            F.expr("dsir_score DIV n_bigrams").alias("dsir_avg"),
            "prior",
            (F.expr("dsir_score DIV n_bigrams") >= F.col("prior")).alias(
                "selected"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Model-based quality scoring (fastText-style linear classifier, fixed-point)
# ---------------------------------------------------------------------------

#: hashed-feature bucket count (the "hashing trick" width)
QC_BUCKETS = 64
#: pinned LCG-derived integer weight vector: w(h) = (h*A + C) mod M - M//2.
#: The weights are a FIXED published-constant pseudo-random projection —
#: inference-only, like shipping a trained .bin; training stays out of
#: scope (pyspark.ml LogisticRegression slots in here on a real cluster)
QC_A, QC_C, QC_M = 2_654_435_761, 12_345, 1_009


def qc_token_weight(t) -> F.Column:
    """w(h(token)) as a pure column expression: the portable hash
    h = (ascii(first)*31 + len*7 + ascii(last)*13) mod QC_BUCKETS fed
    through the pinned LCG weight w = (h*A + C) mod M - M//2."""
    return (
        (
            (F.ascii(t) * 31 + F.length(t) * 7 + F.ascii(F.reverse(t)) * 13)
            % QC_BUCKETS
            * QC_A
            + QC_C
        )
        % QC_M
        - QC_M // 2
    ).cast("long")


def qc_margin(toks: F.Column) -> F.Column:
    """Exact BIGINT document margin: sum of qc_token_weight over the token
    array, folded per row via aggregate() — no explode, no shuffle."""
    return F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + qc_token_weight(t)
    )


@query(
    "curate_quality_classifier",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {SQL_TOK_NULLSAFE} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(LEN(toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(toks,
             t -> ((ASCII(t) * 31 + LENGTH(t) * 7 + ASCII(REVERSE(t)) * 13)
                    % {QC_BUCKETS} * {QC_A} + {QC_C}) % {QC_M}
                  - {QC_M // 2})), 0) AS BIGINT) AS margin,
           CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(toks,
             t -> ((ASCII(t) * 31 + LENGTH(t) * 7 + ASCII(REVERSE(t)) * 13)
                    % {QC_BUCKETS} * {QC_A} + {QC_C}) % {QC_M}
                  - {QC_M // 2})), 0) AS BIGINT) >= 0 AS keep
    FROM t
    """,
    tags=("llm", "text", "quality", "documents"),
)
def curate_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: linear text-classifier INFERENCE in the
    fastText shape — hashed token features x a fixed integer weight
    vector, sigmoid-free margin decision — the slot between rule-based
    Gopher filters (lex_gopher_rules) and perplexity filters in a curation
    pipeline. The reference's only classifier is the driver-side DistilBERT
    HTTP call (distilbert_fin/app.py); this is the distributed, in-plan
    form.

    Fixed-point inference: h(token) = (ascii(first)*31 + len*7 +
    ascii(last-of-reverse)*13) mod QC_BUCKETS — a deliberately
    engine-portable hash family (ascii/length/reverse are identical
    builtins in both engines; xxhash64 would be the JVM-only choice at
    scale) — then w(h) is a pinned LCG projection into [-M/2, M/2); the
    document margin is the exact BIGINT sum of w over token occurrences
    and `keep` = margin >= 0. Collisions are the hashing trick's design,
    not a bug.

    Scale shape: SHUFFLE-FREE — margin folds per row inside codegen via
    aggregate() over the token array (same discipline as
    curate_readability); no explode, no groupBy, no join, no UDF. The
    weight 'vector' is inlined arithmetic, so there is not even a
    broadcast. Cost is one pruned corpus scan at any corpus size."""
    d = load(spark, sf_dir, "documents")
    # NULL text scores as an empty document in BOTH twins (margin 0,
    # keep) instead of a NULL margin that DuckDB's COALESCE would map
    # differently than Spark's legacy size/aggregate semantics
    toks = ws_tokens(F.coalesce(F.col("text"), F.lit("")))
    margin = qc_margin(toks)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        margin.alias("margin"),
        (margin >= 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe holdout split (cluster-aware eval hygiene)
# ---------------------------------------------------------------------------


def _leakage_split_oracle() -> str:
    from projet_pipeline_bigdata_org_spark.operators.grouped import SQL_CC_LABELS

    group = "COALESCE(l.cluster_id, d.doc_id)"
    return f"""
    WITH RECURSIVE {SQL_CC_LABELS}
    SELECT d.doc_id,
           CAST({group} AS BIGINT) AS group_id,
           CASE WHEN {sql_hash_coin(group)} < {HOLDOUT_THRESHOLD}
                THEN 'holdout' ELSE 'train' END AS split
    FROM documents d LEFT JOIN labels l ON l.node = d.doc_id
    """


@query(
    "curate_leakage_safe_split",
    oracle=_leakage_split_oracle(),
    tags=("llm", "curation", "sampling", "iterative", "documents"),
)
def curate_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/holdout split — the eval-hygiene upgrade of
    ``curate_split_holdout``: the hash coin is thrown per NEAR-DUP CLUSTER
    (connected component of the exact-Jaccard pair graph; singletons are
    their own group), so a document and its near-duplicates can never
    straddle the split — the leakage mode a per-document coin cannot
    prevent (a paraphrased holdout doc whose twin sits in train silently
    inflates eval scores).

    Composition: dedup_ngram_jaccard pairs -> connected components (the
    same labels as dedup_cluster_components, so the oracles share
    SQL_CC_LABELS and cannot drift) -> group_id = cluster min-label or own
    doc_id -> the wrap-free deterministic coin on group_id.

    Scale shape: the cluster-label table holds only documents that appear
    in near-dup pairs (a small fraction of the corpus), so the left join
    rides an AQE broadcast at any corpus size; the coin is per-row int64
    arithmetic; no shuffle beyond the CC stage the dedup pipeline already
    ran (in production the labels table is the PERSISTED output of that
    stage, making this one joined projection)."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import dedup_ngram_jaccard
    from projet_pipeline_bigdata_org_spark.operators.grouped import (
        connected_components,
    )

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    labels = connected_components(pairs)
    d = load(spark, sf_dir, "documents").select("doc_id")
    group = F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast("long")
    return (
        d.join(labels, d.doc_id == labels.node, "left")
        .select("doc_id", group.alias("group_id"))
        .select(
            "doc_id",
            "group_id",
            F.when(hash_coin("group_id") < HOLDOUT_THRESHOLD, "holdout")
            .otherwise("train")
            .alias("split"),
        )
    )


# ---------------------------------------------------------------------------
# Curriculum ordering (difficulty-staged training order)
# ---------------------------------------------------------------------------

#: tokens per difficulty stage (coarse buckets -> short docs first)
CURRICULUM_STAGE_TOKENS = 50
#: deterministic within-stage shuffle fan-out (per-shard window discipline,
#: same rationale as packing.N_SHARDS)
CURRICULUM_SHARDS = 16


@query(
    "curate_curriculum_order",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(LEN({SQL_TOK_NULLSAFE}) AS BIGINT) AS n_tokens,
             {sql_hash_coin("doc_id")} AS coin
      FROM documents
    ), s AS (
      SELECT doc_id, n_tokens,
             n_tokens // {CURRICULUM_STAGE_TOKENS} AS stage,
             coin % {CURRICULUM_SHARDS} AS shard,
             coin
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(stage AS BIGINT) AS stage,
           CAST(shard AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY stage, shard
                                   ORDER BY coin, doc_id) AS BIGINT)
             AS rank_in_shard
    FROM s
    """,
    tags=("llm", "curation", "ordering", "documents"),
)
def curate_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training (Bengio et al. 2009's
    easy-to-hard schedule, the length-based instantiation): documents
    bucket into difficulty STAGES by token count (short first), and
    within each stage are deterministically shuffled by the wrap-free
    hash coin — the training loader consumes (stage, shard,
    rank_in_shard) lexicographically and gets the same curriculum from
    any engine, any retry, any partitioning (rand() would reshuffle the
    curriculum every run; a stored order file doesn't scale).

    Scale shape: one pruned corpus pass computes tokens + coin; the only
    shuffle is the (stage, shard) window — the coin fans each stage into
    CURRICULUM_SHARDS independent sort partitions (the per-shard window
    discipline of pack_sequences), so no global sort and no
    one-partition-per-stage skew; raise the shard fan-out with the
    corpus. Within-shard order derives from the coin alone, so a loader
    can also recompute it locally without reading the rank column."""
    d = load(spark, sf_dir, "documents")
    # NULL text counts as zero tokens in BOTH twins (Spark's legacy
    # size(NULL) = -1 would otherwise diverge from DuckDB's NULL)
    t = d.select(
        "doc_id",
        F.size(ws_tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
        hash_coin("doc_id").alias("coin"),
    )
    s = t.select(
        "doc_id",
        "n_tokens",
        F.expr(f"n_tokens DIV {CURRICULUM_STAGE_TOKENS}").alias("stage"),
        (F.col("coin") % CURRICULUM_SHARDS).alias("shard"),
        "coin",
    )
    w = W.partitionBy("stage", "shard").orderBy("coin", "doc_id")
    return s.select(
        "doc_id",
        "n_tokens",
        F.col("stage").cast("long").alias("stage"),
        F.col("shard").cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("rank_in_shard"),
    )


# ---------------------------------------------------------------------------
# n-gram LM perplexity filter (CCNet's published shape, fixed-point)
# ---------------------------------------------------------------------------

#: crafted docs pinning both branches of the perplexity tail flag at any SF.
#: -101 (one trigram repeated 48x) scores mean surprisal ~1 — far below any
#: corpus mean. -102 is the HIGH-perplexity shape under a self-normalized
#: LM: a two-token context repeated 500x whose continuation is never the
#: same token twice — c2 is large (bits(531+V) ~ 10) while every c3 sits on
#: the Laplace floor, so a third of its positions score ~8 bits and its
#: mean (~5.3) clears the small-vocabulary corpus mean (~4.1, quantized
#: metric max 5 on corpus data). Note an ALL-unique-token doc would NOT
#: work: its contexts are also unseen (c2 = 1), so it scores only
#: bits(V+1)-2 — novel vocabulary is cheap under a per-context-normalized
#: model; unpredictable continuations of familiar contexts are expensive.
#: Negative ids cannot collide with corpus ids.
PPL_FIXTURE_ROWS: tuple[tuple[int, str], ...] = (
    (-101, " ".join(["spamword"] * 50)),
    (-102, " ".join(f"ctxa ctxb uniq{i}zz" for i in range(500))),
)

_PPL_FIXTURE_SQL = " UNION ALL ".join(
    "SELECT CAST({} AS BIGINT) AS doc_id, '{}' AS text".format(i, t)
    for i, t in PPL_FIXTURE_ROWS
)


@query(
    "curate_perplexity_filter",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL {_PPL_FIXTURE_SQL}
    ), t AS (
      SELECT doc_id, {SQL_WS_TOKENS.format(c='text')} AS toks FROM docs
    ), s AS (
      SELECT doc_id, z.trigram AS trigram, z.context AS context
      FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks) - 1), i ->
                 STRUCT_PACK(
                   trigram := toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2],
                   context := toks[i] || ' ' || toks[i+1]))) AS z
        FROM t) u
    ), v AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT UNNEST(toks) AS tok FROM t) u
    ), tri AS (
      SELECT trigram, context, COUNT(*) AS c3 FROM s GROUP BY trigram, context
    ), ctx AS (
      SELECT context, COUNT(*) AS c2 FROM s GROUP BY context
    ), dict AS (
      SELECT trigram, c3,
             LENGTH(BIN(CAST(c2 + v.v AS BIGINT)))
               - LENGTH(BIN(CAST(c3 + 1 AS BIGINT))) AS surp
      FROM tri JOIN ctx USING (context) CROSS JOIN v
    ), tot AS (
      SELECT CAST(SUM(c3 * surp) AS BIGINT) AS total_mass,
             CAST(SUM(c3) AS BIGINT) AS total_n
      FROM dict
    )
    SELECT s.doc_id,
           COUNT(*) AS n_trigrams,
           CAST(SUM(d.surp) AS BIGINT) AS surprisal_bits,
           CAST(CAST(SUM(d.surp) AS BIGINT) AS DOUBLE) / COUNT(*)
             AS mean_surprisal_bits,
           CAST(SUM(d.surp) AS BIGINT) * ANY_VALUE(tot.total_n)
             > ANY_VALUE(tot.total_mass) * COUNT(*) AS ppl_tail
    FROM s JOIN dict d USING (trigram) CROSS JOIN tot
    GROUP BY s.doc_id
    """,
    tags=("llm", "curation", "quality", "documents"),
)
def curate_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram LM perplexity filter — the missing rung of the curation
    ladder (rules → classifier → DSIR → perplexity; CCNet, Wenzek et al.
    2020): score every document by a trigram Laplace-smoothed corpus LM
    and flag the high-perplexity tail. Exact fixed-point surprisal, no
    logs, no doubles until the final display column:

      surprisal(w1 w2 w3) = bits(c(w1 w2) + V) - bits(c(w1 w2 w3) + 1)

    where ``bits(x) = LENGTH(BIN(x))`` is the integer floor-log2+1 —
    identical in both engines — so surprisal approximates
    log2(1/P_Laplace) within 1 bit per term, monotone in the count ratio,
    and >= 0 (c3 <= c2, V >= 1). Context counts derive from the trigram
    table itself (c2 = sum of c3 over continuations), so the smoothed
    model normalizes exactly. A document's score is its mean per-position
    surprisal; ``ppl_tail`` flags documents whose mean exceeds the CORPUS
    mean via integer cross-multiplication — a relative cut, so the flag
    is scale-free (V and the Laplace floor shift both sides of the
    comparison together as the corpus grows). PPL_FIXTURE_ROWS pins both
    branches: a 50x-repeated-trigram doc sits far below the corpus mean;
    a frequent-context/never-repeated-continuation doc sits far above it
    (see the fixture comment for why all-unique tokens would NOT — under
    a self-normalized LM, novel contexts are cheap).
    Documents with <3 tokens have no trigrams and drop out (same inner
    join both engines; NULL text tokenizes to no tokens in both).

    Overflow posture: surp <= 64 bits, so total_mass <= 64 * total_n and
    the cross-products stay under 2^63 for any corpus below ~1.2e16
    trigram positions (>> 100 TB of text).

    Scale shape: ONE PERSISTED pass builds the per-position (trigram,
    context) stream; the trigram and context dictionaries are
    Zipf-compact partial aggregations of it; V and the corpus totals are 1-row broadcasts; the
    per-document rollup joins the stream to the persisted surprisal
    dictionary on the trigram key (AQE broadcasts it when it fits) and
    partial-aggregates by doc_id. The reference has no quality filtering
    at all (main/data_ingestion/data_ingestion.py:121-141 ingests
    everything) — this is the CCNet step a 100 TB crawl pipeline runs."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped
    from projet_pipeline_bigdata_org_spark.operators.textops import shingles

    # r17 note: input spread measured NEUTRAL-to-negative here (3.6 ->
    # 4.6s) — this plan is aggregate/join-bound, not narrow-compute-bound,
    # so the extra round-robin exchange buys nothing; left unspread.
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(list(PPL_FIXTURE_ROWS), "doc_id long, text string")
        )
    )
    t = d.select("doc_id", ws_tokens("text").alias("toks"))
    # trigram i pairs positionally with bigram i (its context); the bigram
    # array is one longer, so zip_with pads the last slot's trigram NULL —
    # filtered after the explode
    z = F.zip_with(
        shingles(F.col("toks"), 3),
        shingles(F.col("toks"), 2),
        lambda tg, bg: F.struct(tg.alias("trigram"), bg.alias("context")),
    )
    # ONE persisted pass: the stream feeds the trigram dict, the context
    # dict, AND the final rollup join — unpersisted, the tokenize+shingle
    # chain re-derives from raw text per consumer (measured 4.28s vs
    # 3.44s N=5 medians at sf0.1; the same lesson as the passage-window
    # tables; at cluster scale this is the bucketed-staging-table slot)
    s = _persist_scoped(
        "ppl_stream",
        t.select("doc_id", F.explode(z).alias("z"))
        .select("doc_id", "z.trigram", "z.context")
        .filter(F.col("trigram").isNotNull()),
    )
    v = t.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    tri = s.groupBy("trigram", "context").agg(F.count(F.lit(1)).alias("c3"))
    ctx = s.groupBy("context").agg(F.count(F.lit(1)).alias("c2"))
    bits = lambda c: F.length(F.bin(c))  # noqa: E731  integer floor-log2 + 1
    dict_df = _persist_scoped(
        "ppl_dict",
        tri.join(ctx, "context")
        .join(F.broadcast(v))
        .select(
            "trigram",
            "c3",
            (bits(F.col("c2") + F.col("v")) - bits(F.col("c3") + F.lit(1))).alias(
                "surp"
            ),
        ),
    )
    tot = dict_df.agg(
        F.sum(F.col("c3") * F.col("surp")).cast("long").alias("total_mass"),
        F.sum("c3").cast("long").alias("total_n"),
    )
    mass = F.sum("surp").cast("long")
    return (
        s.join(dict_df.select("trigram", "surp"), "trigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            mass.alias("surprisal_bits"),
            (mass.cast("double") / F.count(F.lit(1))).alias("mean_surprisal_bits"),
        )
        .join(F.broadcast(tot))
        .select(
            "doc_id",
            "n_trigrams",
            "surprisal_bits",
            "mean_surprisal_bits",
            (
                F.col("surprisal_bits") * F.col("total_n")
                > F.col("total_mass") * F.col("n_trigrams")
            ).alias("ppl_tail"),
        )
    )


# ---------------------------------------------------------------------------
# weighted priority sampling (the deterministic PPS-style subsample)
# ---------------------------------------------------------------------------

#: per-source sample size for the weighted priority sample
WEIGHTED_SAMPLE_K = 50


@query(
    "curate_weighted_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             GREATEST(COALESCE(n_chars, 1), 1) AS w,
             {sql_hash_coin("doc_id")} AS coin
      FROM documents
    ), p AS (
      SELECT doc_id, source, w,
             CAST(coin AS DOUBLE) / CAST(w AS DOUBLE) AS priority
      FROM t
    ), r AS (
      SELECT doc_id, source, w, priority,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY priority, doc_id) AS rn
      FROM p
    )
    SELECT source,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(w AS BIGINT) AS weight,
           priority,
           CAST(rn AS BIGINT) AS rn
    FROM r
    WHERE rn <= {WEIGHTED_SAMPLE_K}
    """,
    tags=("llm", "curation", "sampling", "documents"),
)
def curate_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority subsample, WEIGHTED_SAMPLE_K docs per source:
    each document draws the shared deterministic coin and competes with
    priority coin/weight — lower wins — so selection probability rises
    monotonically with weight (here n_chars, the length prior a
    curation pass uses when no model score exists yet) while replay,
    engines, and task retries all agree on the exact sample. This is
    the certified analogue of Efraimidis-Shirazi priority sampling
    (Efraimidis & Spirakis 2006 order by u^(1/w)): the exponential form
    needs float pow — not certifiable cross-engine — where the linear
    ratio keeps the monotone weight bias with ONE IEEE division, which
    both engines round identically. Inclusion probabilities are
    therefore weight-monotone rather than exactly proportional-to-size;
    a production run wanting exact PPS swaps the priority expression
    and gives up the oracle, nothing else changes.

    Scale shape: one scan, one rank window per source that Spark's
    WindowGroupLimit rewrites to per-partition bottom-K before the
    exchange (the agg_kmv_distinct discipline), so the shuffle carries
    at most K rows per input partition per source. NULL/zero n_chars
    clamps to weight 1 (never a division by zero, never a NULL
    priority dropping rows)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.greatest(F.coalesce(F.col("n_chars"), F.lit(1)), F.lit(1)).alias("w"),
    )
    p = d.select(
        "doc_id",
        "source",
        "w",
        (
            hash_coin("doc_id").cast("double") / F.col("w").cast("double")
        ).alias("priority"),
    )
    r = p.select(
        "source",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("w").cast("long").alias("weight"),
        "priority",
        F.row_number()
        .over(W.partitionBy("source").orderBy("priority", "doc_id"))
        .cast("long")
        .alias("rn"),
    )
    return r.filter(F.col("rn") <= WEIGHTED_SAMPLE_K)


# ---------------------------------------------------------------------------
# classifier calibration audit — model margin vs the rule-based gate
# ---------------------------------------------------------------------------

#: reliability-diagram bins over the per-token margin range
CALIB_BINS = 10


def _calib_oracle() -> str:
    from projet_pipeline_bigdata_org_spark.plans.registry import get as _get

    clf = _get("curate_quality_classifier").oracle
    rules = _get("lex_gopher_rules").oracle
    half = QC_M // 2
    return f"""
    WITH clf AS ({clf}), rules AS ({rules})
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rule_keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rule_pass,
           CAST(SUM(CASE WHEN rule_keep THEN 1 ELSE 0 END) * 1000
                // COUNT(*) AS BIGINT) AS pass_milli,
           CAST(MIN(margin) AS BIGINT) AS min_margin,
           CAST(MAX(margin) AS BIGINT) AS max_margin
    FROM (
      SELECT CAST((clf.margin + {half} * clf.n_tokens) * {CALIB_BINS}
                  // ({QC_M} * clf.n_tokens) AS BIGINT) AS bin,
             clf.margin, rules.keep AS rule_keep
      FROM clf JOIN rules ON rules.doc_id = clf.doc_id
      WHERE clf.n_tokens > 0) t
    GROUP BY bin
    """


@query(
    "audit_calibration_bins",
    oracle=_calib_oracle(),
    tags=("llm", "quality", "audit", "documents"),
)
def audit_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration of the model-based quality
    classifier against the INDEPENDENT rule-based Gopher gate — the
    agreement audit a curation pipeline runs before trusting a learned
    filter's threshold (if high-margin bins don't pass the heuristic
    gate more often than low-margin bins, the classifier's score is not
    a quality signal for this corpus). Documents bin by per-token
    margin — the engine-portable all-nonnegative form
    (margin + {QC_M // 2}·n)·{CALIB_BINS} div ({QC_M}·n), which avoids
    the floor-vs-truncate divergence of negative integer division —
    and each bin reports the Gopher pass rate in exact milli.

    CERTIFIED COMPOSITION: both inputs are the registered operators
    themselves (`curate_quality_classifier`, `lex_gopher_rules`), and
    the ORACLE composes those operators' own certified oracle SQL as
    CTEs — the audit cannot drift from the operators it audits, by
    construction. Empty documents (n_tokens = 0) carry no margin signal
    and are excluded.

    Scale shape: two single-projection corpus passes (both inputs are
    shuffle-free scan→flags pipelines) joined on doc_id, folded to
    {CALIB_BINS} bins by one partial-agg'd groupBy."""
    from projet_pipeline_bigdata_org_spark.operators.textops import text_gopher_rules

    half = QC_M // 2
    clf = curate_quality_classifier(spark, sf_dir).select(
        "doc_id", "n_tokens", "margin"
    )
    rules = text_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("rule_keep")
    )
    binned = (
        clf.filter(F.col("n_tokens") > 0)
        .join(rules, "doc_id")
        .select(
            F.expr(
                f"CAST((margin + {half} * n_tokens) * {CALIB_BINS}"
                f" div ({QC_M} * n_tokens) AS BIGINT)"
            ).alias("bin"),
            "margin",
            "rule_keep",
        )
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("rule_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_rule_pass"),
        F.expr(
            "CAST(SUM(CASE WHEN rule_keep THEN 1 ELSE 0 END) * 1000"
            " div COUNT(*) AS BIGINT)"
        ).alias("pass_milli"),
        F.min("margin").cast("long").alias("min_margin"),
        F.max("margin").cast("long").alias("max_margin"),
    )


# ---------------------------------------------------------------------------
# curation funnel attrition report (r13): the per-stage removal ledger a
# data team actually reviews before a training run — which stage dropped
# how many documents, in fixed precedence, with the running survivor count.
# ---------------------------------------------------------------------------

#: funnel stages in precedence order: a document is attributed to the
#: FIRST stage that would remove it (standard pipeline-ledger semantics)
FUNNEL_STAGES: tuple[tuple[int, str], ...] = (
    (0, "input"),
    (1, "exact_dup"),
    (2, "normalized_dup"),
    (3, "near_dup"),
    (4, "gopher_fail"),
    (5, "low_entropy"),
)


def _funnel_oracle() -> str:
    from projet_pipeline_bigdata_org_spark.functions.cleaning import SQL_CLEAN
    from projet_pipeline_bigdata_org_spark.plans.registry import get as _get

    mh = _get("dedup_minhash_certified").oracle
    gop = _get("lex_gopher_rules").oracle
    ent = _get("text_char_entropy").oracle
    clean = SQL_CLEAN.format(c="text")
    stage_rows = ", ".join(f"({i}, '{s}')" for i, s in FUNNEL_STAGES)
    return f"""
    WITH mh AS ({mh}), gop AS ({gop}), ent AS ({ent}),
    ex AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY SHA256(text)) AS k1,
             MIN(doc_id) OVER (PARTITION BY SHA256({clean})) AS k2
      FROM documents
    ), flags AS (
      SELECT e.doc_id,
             (e.doc_id <> e.k1) AS f_exact,
             (e.doc_id <> e.k2) AS f_norm,
             (e.doc_id IN (SELECT b_id FROM mh)) AS f_near,
             NOT g.keep AS f_gopher,
             COALESCE(en.low_entropy, TRUE) AS f_entropy
      FROM ex e
      JOIN gop g ON g.doc_id = e.doc_id
      LEFT JOIN ent en ON en.doc_id = e.doc_id
    ), staged AS (
      SELECT CASE WHEN f_exact THEN 1 WHEN f_norm THEN 2
                  WHEN f_near THEN 3 WHEN f_gopher THEN 4
                  WHEN f_entropy THEN 5 ELSE 0 END AS stage_ord
      FROM flags
    ), cnt AS (
      SELECT stage_ord, CAST(COUNT(*) AS BIGINT) AS n
      FROM staged GROUP BY stage_ord
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total FROM flags
    ), stages AS (
      SELECT * FROM (VALUES {stage_rows}) s(stage_ord, stage)
    ), j AS (
      SELECT s.stage_ord, s.stage,
             CASE WHEN s.stage_ord = 0 THEN 0
                  ELSE COALESCE(c.n, 0) END AS n_removed
      FROM stages s LEFT JOIN cnt c ON c.stage_ord = s.stage_ord
    )
    SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage,
           CAST(n_removed AS BIGINT) AS n_removed,
           CAST(total - SUM(n_removed) OVER (ORDER BY stage_ord
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_remaining
    FROM j CROSS JOIN tot
    """


@query(
    "curate_funnel_report",
    oracle=_funnel_oracle(),
    tags=("llm", "curation", "dedup", "quality", "documents"),
)
def curate_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation FUNNEL attrition ledger — per pipeline stage, how many
    documents it removes and how many survive, in fixed precedence
    (exact dup → normalized dup → certified near-dup → Gopher fail →
    low entropy); the report a data team signs off before a training
    run. CERTIFIED COMPOSITION (the audit_calibration_bins discipline):
    the Spark side runs the REGISTERED operators themselves
    (``dedup_minhash_certified``, ``text_gopher_rules``,
    ``text_char_entropy``) and the oracle composes those operators' own
    certified oracle SQL as CTEs — the ledger cannot drift from the
    stages it reports on. Near-dup removal uses keep-lowest semantics
    (a doc drops iff it is the higher id of any certified verified
    pair); documents whose cleaned text is empty carry no entropy row
    and are attributed to the low-entropy stage (junk by definition).

    Scale shape: the exact/normalized stages are two sha-keyed window
    mins (one shuffle each); the near/gopher/entropy inputs are the
    operators' own plans; everything folds to a 6-row ledger with a
    6-row running-sum window."""
    from projet_pipeline_bigdata_org_spark.functions.cleaning import clean_text
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        dedup_minhash_certified,
    )
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        text_char_entropy,
        text_gopher_rules,
    )

    d = load(spark, sf_dir, "documents")
    w1 = W.partitionBy(F.sha2(F.col("text"), 256))
    w2 = W.partitionBy(F.sha2(clean_text("text"), 256))
    ex = d.select(
        "doc_id",
        (F.col("doc_id") != F.min("doc_id").over(w1)).alias("f_exact"),
        (F.col("doc_id") != F.min("doc_id").over(w2)).alias("f_norm"),
    )
    near = (
        dedup_minhash_certified(spark, sf_dir)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("f_near", F.lit(True))
    )
    gop = text_gopher_rules(spark, sf_dir).select(
        "doc_id", (~F.col("keep")).alias("f_gopher")
    )
    ent = text_char_entropy(spark, sf_dir).select(
        "doc_id", F.col("low_entropy").alias("f_entropy")
    )
    flags = (
        ex.join(near, "doc_id", "left")
        .join(gop, "doc_id")
        .join(ent, "doc_id", "left")
        .select(
            "doc_id",
            "f_exact",
            "f_norm",
            F.coalesce("f_near", F.lit(False)).alias("f_near"),
            "f_gopher",
            F.coalesce("f_entropy", F.lit(True)).alias("f_entropy"),
        )
    )
    stage_ord = (
        F.when(F.col("f_exact"), 1)
        .when(F.col("f_norm"), 2)
        .when(F.col("f_near"), 3)
        .when(F.col("f_gopher"), 4)
        .when(F.col("f_entropy"), 5)
        .otherwise(0)
    )
    cnt = flags.select(stage_ord.alias("stage_ord")).groupBy("stage_ord").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = flags.agg(F.count(F.lit(1)).cast("long").alias("total"))
    stages = spark.createDataFrame(
        list(FUNNEL_STAGES), "stage_ord long, stage string"
    )
    j = stages.join(cnt, "stage_ord", "left").select(
        "stage_ord",
        "stage",
        F.when(F.col("stage_ord") == 0, F.lit(0).cast("long"))
        .otherwise(F.coalesce("n", F.lit(0).cast("long")))
        .alias("n_removed"),
    )
    wcum = W.orderBy("stage_ord").rowsBetween(W.unboundedPreceding, W.currentRow)
    return j.crossJoin(F.broadcast(total)).select(
        "stage_ord",
        "stage",
        "n_removed",
        (F.col("total") - F.sum("n_removed").over(wcum))
        .cast("long")
        .alias("n_remaining"),
    )


# ---------------------------------------------------------------------------
# FULL-ladder funnel (r14): every registered curation stage in one
# attrition ledger — the complete sign-off report (VERDICT r13 #3). Same
# certified-composition discipline as curate_funnel_report, which stays
# registered as the 5-stage dedup+rules core it was certified as in r13.
# ---------------------------------------------------------------------------

#: full-ladder stages in precedence order (first-match attribution):
#: dedup family first (exact → normalized → certified near-dup), then
#: eval hygiene (decontamination: benchmark members AND overlapping docs),
#: then the quality ladder in pipeline order (rules → classifier → DSIR →
#: perplexity → entropy) — the order a production curation DAG runs them
FUNNEL_LADDER_STAGES: tuple[tuple[int, str], ...] = (
    (0, "input"),
    (1, "exact_dup"),
    (2, "normalized_dup"),
    (3, "near_dup"),
    (4, "decontaminated"),
    (5, "gopher_fail"),
    (6, "classifier_fail"),
    (7, "dsir_reject"),
    (8, "ppl_tail"),
    (9, "low_entropy"),
)

_LADDER_STAGE_CASE = (
    "CASE WHEN f_exact THEN 1 WHEN f_norm THEN 2 WHEN f_near THEN 3"
    " WHEN f_decon THEN 4 WHEN f_gopher THEN 5 WHEN f_clf THEN 6"
    " WHEN f_dsir THEN 7 WHEN f_ppl THEN 8 WHEN f_entropy THEN 9"
    " ELSE 0 END"
)


def _ladder_staged_ctes() -> str:
    """CTE chain ending in ``lstaged(doc_id, stage_ord)`` — each
    document's first-match ladder stage (0 = survivor), with every stage
    flag derived from the REGISTERED operator's own certified oracle SQL
    (composed as CTEs, the audit_calibration_bins discipline). Shared by
    the ladder ledger's oracle AND the export manifest's, so the two
    gates certify ONE survivor definition."""
    from projet_pipeline_bigdata_org_spark.functions.cleaning import SQL_CLEAN
    from projet_pipeline_bigdata_org_spark.plans.registry import get as _get

    mh = _get("dedup_minhash_certified").oracle
    dec = _get("lex_decontaminate").oracle
    gop = _get("lex_gopher_rules").oracle
    clf = _get("curate_quality_classifier").oracle
    dsr = _get("curate_dsir_select").oracle
    ppl = _get("curate_perplexity_filter").oracle
    ent = _get("text_char_entropy").oracle
    clean = SQL_CLEAN.format(c="text")
    return f"""mh AS ({mh}), dec AS ({dec}), gop AS ({gop}), clf AS ({clf}),
    dsr AS ({dsr}), ppl AS ({ppl}), ent AS ({ent}),
    ctot AS (
      SELECT CAST(SUM(margin) AS BIGINT) AS cm,
             CAST(SUM(n_tokens) AS BIGINT) AS ct
      FROM clf WHERE n_tokens > 0
    ),
    ex AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY SHA256(text)) AS k1,
             MIN(doc_id) OVER (PARTITION BY SHA256({clean})) AS k2
      FROM documents
    ), lflags AS (
      SELECT e.doc_id,
             (e.doc_id <> e.k1) AS f_exact,
             (e.doc_id <> e.k2) AS f_norm,
             (e.doc_id IN (SELECT b_id FROM mh)) AS f_near,
             COALESCE(d.contaminated, TRUE) AS f_decon,
             NOT g.keep AS f_gopher,
             (c.n_tokens > 0 AND CAST(c.margin AS HUGEINT) * ctot.ct
                < CAST(ctot.cm AS HUGEINT) * c.n_tokens) AS f_clf,
             NOT COALESCE(s.selected, TRUE) AS f_dsir,
             COALESCE(p.ppl_tail, FALSE) AS f_ppl,
             COALESCE(en.low_entropy, TRUE) AS f_entropy
      FROM ex e
      JOIN gop g ON g.doc_id = e.doc_id
      JOIN clf c ON c.doc_id = e.doc_id
      CROSS JOIN ctot
      LEFT JOIN dec d ON d.doc_id = e.doc_id
      LEFT JOIN dsr s ON s.doc_id = e.doc_id
      LEFT JOIN ppl p ON p.doc_id = e.doc_id
      LEFT JOIN ent en ON en.doc_id = e.doc_id
    ), lstaged AS (
      SELECT doc_id, {_LADDER_STAGE_CASE} AS stage_ord FROM lflags
    )"""


def _funnel_ladder_oracle() -> str:
    stage_rows = ", ".join(f"({i}, '{s}')" for i, s in FUNNEL_LADDER_STAGES)
    return f"""
    WITH {_ladder_staged_ctes()},
    cnt AS (
      SELECT stage_ord, CAST(COUNT(*) AS BIGINT) AS n
      FROM lstaged GROUP BY stage_ord
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total FROM lstaged
    ), stages AS (
      SELECT * FROM (VALUES {stage_rows}) s(stage_ord, stage)
    ), j AS (
      SELECT s.stage_ord, s.stage,
             CASE WHEN s.stage_ord = 0 THEN 0
                  ELSE COALESCE(c.n, 0) END AS n_removed
      FROM stages s LEFT JOIN cnt c ON c.stage_ord = s.stage_ord
    )
    SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage,
           CAST(n_removed AS BIGINT) AS n_removed,
           CAST(total - SUM(n_removed) OVER (ORDER BY stage_ord
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_remaining
    FROM j CROSS JOIN tot
    """


def funnel_ladder_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document first-match ladder stage (doc_id, stage_ord; 0 =
    survivor) — the Spark twin of ``_ladder_staged_ctes``, running the
    REGISTERED operators themselves for every flag. Shared by
    ``curate_funnel_ladder``, ``curate_mixture_shift`` and
    ``curate_export_manifest`` so the ledger, the shift report, and the
    exported corpus cannot disagree on who survived. Served from the
    catalog-layer stage cache as a MATERIALIZED parquet staging table
    (the tokenizer-trainer silver-layer discipline): the sign-off
    ladder is computed once per corpus epoch and its three consumers
    read the (doc_id, stage_ord) table — measured 25.8/13.4/13.2s
    (each consumer re-running all nine stage plans) → build-once +
    ~1s reads."""
    from projet_pipeline_bigdata_org_spark.catalog import stage_tables

    def _build():
        return {"staged": _funnel_ladder_staged_build(spark, sf_dir)}

    return stage_tables(spark, "funnel_ladder_staged", sf_dir, _build)["staged"]


def _funnel_ladder_staged_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nine-stage flag composition itself (see the public wrapper).

    Left-join semantics per stage (each deterministic, mirrored in SQL):
    decontamination covers non-benchmark docs only, so a missing row IS
    a benchmark member — removed (eval data never trains); DSIR scores
    only raw-pool docs with dictionary bigrams, so a missing row (target
    -source doc, or nothing scorable) is kept; perplexity covers docs
    with >=3 tokens, missing rows are kept (the length rules upstream
    already own short docs); a missing entropy row means cleaned-empty
    text — junk, removed.

    The classifier stage is the RELATIVE form of the certified margin:
    a document fails when its per-token margin sits below the corpus
    mean per-token margin — the same scale-free integer
    cross-multiplication as the certified ``ppl_tail`` flag (the
    operator's absolute ``keep = margin >= 0`` passes 3/500 docs on
    this corpus's token mix under the pinned weights, which would zero
    the funnel; a production pipeline likewise tunes the classifier
    threshold to a target retention, CCNet §4). Products ride
    DECIMAL(38,0)/HUGEINT (the _semc_in_ball discipline) so the signed
    comparison is exact at any corpus scale."""
    from projet_pipeline_bigdata_org_spark.functions.cleaning import clean_text
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        dedup_minhash_certified,
    )
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        text_char_entropy,
        text_decontaminate,
        text_gopher_rules,
    )

    d = load(spark, sf_dir, "documents")
    w1 = W.partitionBy(F.sha2(F.col("text"), 256))
    w2 = W.partitionBy(F.sha2(clean_text("text"), 256))
    ex = d.select(
        "doc_id",
        (F.col("doc_id") != F.min("doc_id").over(w1)).alias("f_exact"),
        (F.col("doc_id") != F.min("doc_id").over(w2)).alias("f_norm"),
    )
    near = (
        dedup_minhash_certified(spark, sf_dir)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("f_near", F.lit(True))
    )
    dec = text_decontaminate(spark, sf_dir).select(
        "doc_id", F.col("contaminated").alias("f_decon")
    )
    gop = text_gopher_rules(spark, sf_dir).select(
        "doc_id", (~F.col("keep")).alias("f_gopher")
    )
    clf = curate_quality_classifier(spark, sf_dir).select(
        "doc_id", "margin", "n_tokens"
    )
    ctot = clf.filter(F.col("n_tokens") > 0).agg(
        F.sum("margin").cast("long").alias("cm"),
        F.sum("n_tokens").cast("long").alias("ct"),
    )
    f_clf = (F.col("n_tokens") > 0) & (
        F.col("margin").cast("decimal(19,0)") * F.col("ct").cast("decimal(19,0)")
        < F.col("cm").cast("decimal(19,0)") * F.col("n_tokens").cast("decimal(19,0)")
    )
    dsr = curate_dsir_select(spark, sf_dir).select(
        "doc_id", F.col("selected").alias("dsir_selected")
    )
    ppl = curate_perplexity_filter(spark, sf_dir).select(
        "doc_id", F.col("ppl_tail").alias("f_ppl")
    )
    ent = text_char_entropy(spark, sf_dir).select(
        "doc_id", F.col("low_entropy").alias("f_entropy")
    )
    flags = (
        ex.join(near, "doc_id", "left")
        .join(dec, "doc_id", "left")
        .join(gop, "doc_id")
        .join(clf, "doc_id")
        .crossJoin(F.broadcast(ctot))
        .join(dsr, "doc_id", "left")
        .join(ppl, "doc_id", "left")
        .join(ent, "doc_id", "left")
        .select(
            "doc_id",
            "f_exact",
            "f_norm",
            F.coalesce("f_near", F.lit(False)).alias("f_near"),
            F.coalesce("f_decon", F.lit(True)).alias("f_decon"),
            "f_gopher",
            f_clf.alias("f_clf"),
            (~F.coalesce("dsir_selected", F.lit(True))).alias("f_dsir"),
            F.coalesce("f_ppl", F.lit(False)).alias("f_ppl"),
            F.coalesce("f_entropy", F.lit(True)).alias("f_entropy"),
        )
    )
    return flags.select("doc_id", F.expr(_LADDER_STAGE_CASE).alias("stage_ord"))


@query(
    "curate_funnel_ladder",
    oracle=_funnel_ladder_oracle(),
    tags=("llm", "curation", "dedup", "quality", "documents"),
)
def curate_funnel_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ladder curation funnel — the r13 5-stage ledger extended to
    every registered curation stage a production sign-off covers, in
    fixed precedence: exact dup → normalized dup → certified near-dup →
    decontamination (benchmark members + overlapping docs) → Gopher
    rules → quality classifier (corpus-relative margin cut — see
    :func:`funnel_ladder_staged`) → DSIR importance selection →
    perplexity tail → character entropy. CERTIFIED COMPOSITION
    throughout: the
    Spark side runs the nine REGISTERED operators themselves
    (:func:`funnel_ladder_staged`), and the oracle composes those
    operators' own certified oracle SQL as CTEs
    (:func:`_ladder_staged_ctes`) — the ledger cannot drift from the
    stages it reports on, and a semantics change in ANY stage breaks
    this row too. First-match attribution is exactly-once by the CASE
    precedence; operator fixtures (DSIR/perplexity riders, negative
    doc_ids) drop out at the documents join, so the ledger covers
    exactly the corpus.

    Scale shape: the exact/normalized stages are two sha-keyed window
    mins; every other input is its operator's own certified plan (each
    a bounded-shuffle corpus pass); the flags join on doc_id and fold to
    a 10-row ledger with a 10-row running-sum window. The stage order is
    also the CHEAPNESS order a real DAG exploits: hash dedup and rules
    remove the bulk before the classifier/LM stages score the remainder
    (here all stages run for the full report — attribution needs every
    flag)."""
    return _ledger_from_staged(
        spark, funnel_ladder_staged(spark, sf_dir), FUNNEL_LADDER_STAGES
    )


def _ledger_from_staged(
    spark: SparkSession,
    staged: DataFrame,
    stage_rows: tuple[tuple[int, str], ...],
) -> DataFrame:
    """(doc_id, stage_ord) → attrition ledger (stage_ord, stage,
    n_removed, n_remaining) — the fold shared by the 9-stage ladder and
    its C4-extended form (one ledger arithmetic, every ladder)."""
    cnt = staged.groupBy("stage_ord").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = staged.agg(F.count(F.lit(1)).cast("long").alias("total"))
    stages = spark.createDataFrame(
        list(stage_rows), "stage_ord long, stage string"
    )
    j = stages.join(cnt, "stage_ord", "left").select(
        "stage_ord",
        "stage",
        F.when(F.col("stage_ord") == 0, F.lit(0).cast("long"))
        .otherwise(F.coalesce("n", F.lit(0).cast("long")))
        .alias("n_removed"),
    )
    wcum = W.orderBy("stage_ord").rowsBetween(W.unboundedPreceding, W.currentRow)
    return j.crossJoin(F.broadcast(total)).select(
        "stage_ord",
        "stage",
        "n_removed",
        (F.col("total") - F.sum("n_removed").over(wcum))
        .cast("long")
        .alias("n_remaining"),
    )


# ---------------------------------------------------------------------------
# C4-extended ladder (r15, VERDICT r14 #5): the 9-stage certified ladder
# with the C4 rule stage inserted where real pipelines run it — BEFORE the
# Gopher statistics. The 9-stage ``curate_funnel_ladder`` stays registered
# as certified in r14 (the funnel_report precedent: extensions are new
# names, certified semantics never mutate under an existing one).
# ---------------------------------------------------------------------------

FUNNEL_LADDER_C4_STAGES: tuple[tuple[int, str], ...] = (
    (0, "input"),
    (1, "exact_dup"),
    (2, "normalized_dup"),
    (3, "near_dup"),
    (4, "decontaminated"),
    (5, "c4_fail"),
    (6, "gopher_fail"),
    (7, "classifier_fail"),
    (8, "dsir_reject"),
    (9, "ppl_tail"),
    (10, "low_entropy"),
)


def _funnel_ladder_c4_oracle() -> str:
    from projet_pipeline_bigdata_org_spark.plans.registry import get as _get

    c4 = _get("lex_c4_rules").oracle
    stage_rows = ", ".join(f"({i}, '{s}')" for i, s in FUNNEL_LADDER_C4_STAGES)
    return f"""
    WITH {_ladder_staged_ctes()},
    c4q AS ({c4}),
    l10 AS (
      SELECT l.doc_id,
             CASE WHEN l.stage_ord BETWEEN 1 AND 4 THEN l.stage_ord
                  WHEN NOT c.keep THEN 5
                  WHEN l.stage_ord = 0 THEN 0
                  ELSE l.stage_ord + 1 END AS stage_ord
      FROM lstaged l JOIN c4q c ON c.doc_id = l.doc_id
    ), cnt AS (
      SELECT stage_ord, CAST(COUNT(*) AS BIGINT) AS n
      FROM l10 GROUP BY stage_ord
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total FROM l10
    ), stages AS (
      SELECT * FROM (VALUES {stage_rows}) s(stage_ord, stage)
    ), j AS (
      SELECT s.stage_ord, s.stage,
             CASE WHEN s.stage_ord = 0 THEN 0
                  ELSE COALESCE(c.n, 0) END AS n_removed
      FROM stages s LEFT JOIN cnt c ON c.stage_ord = s.stage_ord
    )
    SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage,
           CAST(n_removed AS BIGINT) AS n_removed,
           CAST(total - SUM(n_removed) OVER (ORDER BY stage_ord
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_remaining
    FROM j CROSS JOIN tot
    """


@query(
    "curate_funnel_ladder_c4",
    oracle=_funnel_ladder_c4_oracle(),
    tags=("llm", "curation", "dedup", "quality", "documents"),
)
def curate_funnel_ladder_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full certified ladder EXTENDED with the C4 rule stage
    (``lex_c4_rules``) inserted at rank 5 — after the dedup family and
    eval hygiene, BEFORE the Gopher statistics, the position C4 and
    FineWeb run their rule pass (cheap zero-shuffle line arithmetic
    drops policy pages before any statistics are computed). First-match
    attribution stays exactly-once: a document's 9-stage attribution in
    ranks 1-4 is untouched; any other document failing C4 attributes to
    rank 5; remaining attributions shift one rank — exactly the CASE a
    10-way precedence chain would produce, derived from the STAGED
    9-stage silver table + one C4 scan instead of re-running all ten
    plans (the oracle composes the same: the 9-stage ``lstaged`` CTEs
    joined with lex_c4_rules' own certified SQL). The C4 fixture riders
    drop out at the join, so the ledger covers exactly the corpus; on
    this punctuation-free synthetic corpus the stage's n_removed is 0
    (every real doc is a single >=3-word line — the rule variety lives
    in the operator's own fixture-backed gate), which certifies the
    composition and attribution shift, not the rule arithmetic twice.

    Scale shape: one read of the staged (doc_id, stage_ord) table + one
    zero-shuffle C4 projection + a doc_id join folding to an 11-row
    ledger."""
    from projet_pipeline_bigdata_org_spark.operators.textops import text_c4_rules

    staged = funnel_ladder_staged(spark, sf_dir)
    c4 = text_c4_rules(spark, sf_dir).select("doc_id", "keep")
    ord9 = F.col("stage_ord")
    staged10 = staged.join(c4, "doc_id").select(
        "doc_id",
        F.when(ord9.between(1, 4), ord9)
        .when(~F.col("keep"), F.lit(5))
        .when(ord9 == 0, F.lit(0))
        .otherwise(ord9 + 1)
        .cast("long")
        .alias("stage_ord"),
    )
    return _ledger_from_staged(spark, staged10, FUNNEL_LADDER_C4_STAGES)


# ---------------------------------------------------------------------------
# certified training-shard export manifest (r14): the lake→loader boundary.
# funnel survivors → curriculum contract → write_training_shards layout,
# with the manifest a training run actually consumes certified end-to-end.
# ---------------------------------------------------------------------------


def funnel_survivor_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exported corpus: full-ladder funnel SURVIVORS carrying the
    curriculum contract (stage, shard, rank_in_shard) computed over the
    survivor set — the exact frame ``write_training_shards`` materializes
    and the manifest summarizes. Same arithmetic as
    ``curate_curriculum_order`` (token-count stages, hash-coin shards,
    within-(stage, shard) rank by (coin, doc_id)), restricted to
    survivors so ranks are dense in the exported corpus."""
    surv = (
        funnel_ladder_staged(spark, sf_dir)
        .filter(F.col("stage_ord") == 0)
        .select("doc_id")
    )
    d = load(spark, sf_dir, "documents").join(surv, "doc_id")
    t = d.select(
        "doc_id",
        F.size(ws_tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
        hash_coin("doc_id").alias("coin"),
    )
    s = t.select(
        "doc_id",
        "n_tokens",
        F.expr(f"n_tokens DIV {CURRICULUM_STAGE_TOKENS}").cast("long").alias("stage"),
        (F.col("coin") % CURRICULUM_SHARDS).cast("long").alias("shard"),
        "coin",
    )
    w = W.partitionBy("stage", "shard").orderBy("coin", "doc_id")
    return s.select(
        "doc_id",
        "n_tokens",
        "stage",
        "shard",
        "coin",
        F.row_number().over(w).cast("long").alias("rank_in_shard"),
    )


def _mixture_shift_oracle() -> str:
    return f"""
    WITH {_ladder_staged_ctes()},
    tok AS (
      SELECT doc_id, source,
             CAST(LEN({SQL_TOK_NULLSAFE}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT t.source,
           COUNT(*) AS n_input_docs,
           CAST(SUM(CASE WHEN s.stage_ord = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_surviving_docs,
           CAST(SUM(t.n_tokens) AS BIGINT) AS input_tokens,
           CAST(SUM(CASE WHEN s.stage_ord = 0 THEN t.n_tokens ELSE 0 END)
                AS BIGINT) AS surviving_tokens,
           CAST(SUM(CASE WHEN s.stage_ord = 0 THEN 1 ELSE 0 END) * 1000
                // COUNT(*) AS BIGINT) AS doc_retention_milli,
           CAST(CASE WHEN SUM(t.n_tokens) > 0
                     THEN SUM(CASE WHEN s.stage_ord = 0 THEN t.n_tokens
                              ELSE 0 END) * 1000 // SUM(t.n_tokens)
                     ELSE 0 END AS BIGINT) AS token_retention_milli
    FROM tok t JOIN lstaged s ON s.doc_id = t.doc_id
    GROUP BY t.source
    """


@query(
    "curate_mixture_shift",
    oracle=_mixture_shift_oracle(),
    tags=("llm", "curation", "quality", "documents"),
)
def curate_mixture_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXTURE-SHIFT report of the full-ladder funnel — per source, how
    the curation ladder changed the training mix: input vs surviving
    document counts and token mass, with milli-scaled retention rates
    (truncating div, identical both engines). This is the sign-off table
    next to the attrition ledger: the ledger says WHAT each stage
    removed, this says WHO paid — a source whose token retention
    collapses signals a filter eating one slice of the mix (the
    imbalance `mix_temperature_sources` would then re-correct).
    CERTIFIED COMPOSITION: survivor membership is the funnel ladder's
    own shared staged frame (:func:`funnel_ladder_staged` /
    ``_ladder_staged_ctes``) — ledger, manifest, and mixture report
    certify ONE survivor definition.

    Scale shape: the flags plans are the operators' own; the report
    adds one doc_id equi-join against a single-projection token scan
    and a |sources|-row conditional-agg rollup — no new corpus pass, no
    window."""
    staged = funnel_ladder_staged(spark, sf_dir)
    tok = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(ws_tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
    )
    surv = F.when(F.col("stage_ord") == 0, 1).otherwise(0)
    return (
        tok.join(staged, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_input_docs"),
            F.sum(surv).cast("long").alias("n_surviving_docs"),
            F.sum("n_tokens").cast("long").alias("input_tokens"),
            F.sum(
                F.when(F.col("stage_ord") == 0, F.col("n_tokens")).otherwise(0)
            )
            .cast("long")
            .alias("surviving_tokens"),
        )
        .select(
            "source",
            "n_input_docs",
            "n_surviving_docs",
            "input_tokens",
            "surviving_tokens",
            F.expr(
                "CAST(n_surviving_docs * 1000 div n_input_docs AS BIGINT)"
            ).alias("doc_retention_milli"),
            F.expr(
                "CAST(CASE WHEN input_tokens > 0 THEN surviving_tokens * 1000"
                " div input_tokens ELSE 0 END AS BIGINT)"
            ).alias("token_retention_milli"),
        )
    )


def _export_manifest_oracle() -> str:
    return f"""
    WITH {_ladder_staged_ctes()},
    surv AS (SELECT doc_id FROM lstaged WHERE stage_ord = 0),
    st AS (
      SELECT d.doc_id,
             CAST(LEN({SQL_TOK_NULLSAFE}) AS BIGINT) AS n_tokens,
             {sql_hash_coin("d.doc_id")} AS coin
      FROM documents d JOIN surv USING (doc_id)
    ), o AS (
      SELECT doc_id, n_tokens,
             n_tokens // {CURRICULUM_STAGE_TOKENS} AS stage,
             coin % {CURRICULUM_SHARDS} AS shard, coin
      FROM st
    ), r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY shard
                                ORDER BY stage, coin, doc_id) AS pos,
             ROW_NUMBER() OVER (PARTITION BY shard
                                ORDER BY stage DESC, coin DESC, doc_id DESC)
               AS pos_rev
      FROM o
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS token_mass,
           CAST(COUNT(DISTINCT stage) AS BIGINT) AS n_stages,
           CAST(MIN(stage) AS BIGINT) AS min_stage,
           CAST(MAX(stage) AS BIGINT) AS max_stage,
           CAST(MAX(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT)
             AS first_doc_id,
           CAST(MAX(CASE WHEN pos_rev = 1 THEN doc_id END) AS BIGINT)
             AS last_doc_id
    FROM r
    GROUP BY shard
    """


@query(
    "curate_export_manifest",
    oracle=_export_manifest_oracle(),
    tags=("llm", "curation", "packing", "documents"),
)
def curate_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard EXPORT MANIFEST of the full-ladder funnel survivors
    — the artifact a training run actually consumes at the lake→loader
    boundary (VERDICT r13 #5): per exported shard, the document count,
    the token mass, the curriculum-stage span, and the first/last
    document keys in the loader's replay order ((stage, rank_in_shard) —
    the order ``write_training_shards`` lays files out in, so a loader
    can verify shard integrity against this manifest without reading
    payloads). CERTIFIED COMPOSITION end-to-end: the survivor set is the
    funnel ladder's own (shared :func:`funnel_ladder_staged` /
    ``_ladder_staged_ctes`` — the ledger and the export cannot disagree
    on who survived), and the ordering is the curriculum contract's own
    deterministic arithmetic (engine-portable hash coin), so the oracle
    replays the EXACT shard layout a crashed-and-rerun export would
    rewrite byte-identically (test-pinned in test_sources.py).

    Scale shape: the flags plans are the operators' own; the survivor
    join is a doc_id equi-join; the only new shuffles are the per-shard
    rank windows (CURRICULUM_SHARDS-way fan-out, no global sort) and the
    final |shards|-row rollup. First/last keys ride the same windows as
    conditional aggregates — no driver participation, no second pass."""
    r = funnel_survivor_curriculum(spark, sf_dir)
    w_asc = W.partitionBy("shard").orderBy("stage", "coin", "doc_id")
    w_rev = W.partitionBy("shard").orderBy(
        F.desc("stage"), F.desc("coin"), F.desc("doc_id")
    )
    pos = r.select(
        "shard",
        "n_tokens",
        "stage",
        "doc_id",
        F.row_number().over(w_asc).alias("pos"),
        F.row_number().over(w_rev).alias("pos_rev"),
    )
    return pos.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("token_mass"),
        F.countDistinct("stage").cast("long").alias("n_stages"),
        F.min("stage").cast("long").alias("min_stage"),
        F.max("stage").cast("long").alias("max_stage"),
        F.max(F.when(F.col("pos") == 1, F.col("doc_id")))
        .cast("long")
        .alias("first_doc_id"),
        F.max(F.when(F.col("pos_rev") == 1, F.col("doc_id")))
        .cast("long")
        .alias("last_doc_id"),
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle WITHOUT a sort (r14): a Feistel-network
# pseudorandom PERMUTATION of the doc-id domain — how a 100 TB training
# loader shuffles each epoch. Sorting by rand() is a corpus-wide sort per
# epoch AND non-reproducible across task retries; a keyed bijection is a
# per-row projection: position = feistel_k(doc_id, epoch), shard =
# position's top bits. Every arithmetic step is the engine-portable
# integer coin, so both engines compute the identical permutation.
# ---------------------------------------------------------------------------

#: Feistel domain: 2^32 ids as two 16-bit halves (corpus ids are far
#: below this; rows outside [0, 2^32) are excluded by the guard — on this
#: data a no-op, documented so the bijection claim has a precise domain)
FEISTEL_HALF = 65536
FEISTEL_ROUNDS = 4
#: epochs scheduled per run (each epoch key is an independent permutation)
PERM_EPOCHS = 2
#: top-4 perm bits address 16 loader shards
PERM_SHARD_DIV = (FEISTEL_HALF * FEISTEL_HALF) // 16


def _feistel_sql(src: str = "documents") -> str:
    """The unrolled Feistel CTE chain (DuckDB twin), parameterized by the
    doc_id-bearing source relation so the epoch-plan composition reuses
    the identical round arithmetic over its kept-docs CTE."""
    parts = [
        f"""fe0 AS (
      SELECT u.e AS epoch, doc_id,
             doc_id // {FEISTEL_HALF} AS l, doc_id % {FEISTEL_HALF} AS r
      FROM {src}, UNNEST(GENERATE_SERIES(0, {PERM_EPOCHS - 1})) u(e)
      WHERE doc_id >= 0 AND doc_id < {FEISTEL_HALF * FEISTEL_HALF}
    )"""
    ]
    for i in range(FEISTEL_ROUNDS):
        key = f"(((epoch * {FEISTEL_ROUNDS}) + {i}) * {FEISTEL_HALF} + r)"
        parts.append(f"""fe{i + 1} AS (
      SELECT epoch, doc_id, r AS l,
             (l + {sql_hash_coin(key)} % {FEISTEL_HALF}) % {FEISTEL_HALF} AS r
      FROM fe{i}
    )""")
    return ", ".join(parts)


def feistel_position() -> F.Column:
    """The {FEISTEL_ROUNDS}-round Feistel permutation position over
    (epoch, doc_id) columns — the ONE Spark-side round arithmetic,
    shared by ``curate_epoch_permutation`` and the epoch-plan
    composition (``curate_epoch_plan``), mirroring :func:`_feistel_sql`
    round for round. DIV for the exact truncating quotient
    (cast-of-divide rounds)."""
    left = F.expr(f"doc_id DIV {FEISTEL_HALF}")
    right = F.col("doc_id") % FEISTEL_HALF
    for i in range(FEISTEL_ROUNDS):
        key = (F.col("epoch") * FEISTEL_ROUNDS + F.lit(i)) * FEISTEL_HALF + right
        left, right = right, (left + hash_coin(key) % FEISTEL_HALF) % FEISTEL_HALF
    return left * FEISTEL_HALF + right


@query(
    "curate_epoch_permutation",
    oracle=f"""
    WITH {_feistel_sql()}
    SELECT CAST(epoch AS BIGINT) AS epoch,
           doc_id,
           CAST(l * {FEISTEL_HALF} + r AS BIGINT) AS perm_pos,
           CAST((l * {FEISTEL_HALF} + r) // {PERM_SHARD_DIV} AS BIGINT)
             AS shard
    FROM fe{FEISTEL_ROUNDS}
    """,
    tags=("llm", "curation", "packing", "documents"),
)
def curate_epoch_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch DETERMINISTIC SHUFFLE as a keyed bijection — the
    loader-side primitive a 100 TB pipeline uses instead of ORDER BY
    rand(): a {FEISTEL_ROUNDS}-round balanced Feistel network over the
    2^32 doc-id domain (two 16-bit halves; round function = the
    engine-portable :func:`hash_coin` keyed by (epoch, round, half),
    mixing by modular addition — invertible, hence a true permutation:
    distinct doc_ids ALWAYS get distinct positions, which
    ``test_epoch_permutation_bijective_and_replays`` pins per epoch).
    Each epoch key yields an independent full-domain permutation, so
    every training epoch visits documents in a different reproducible
    order with zero state; ``shard`` is the position's top 4 bits — the
    16 loader shards read disjoint position ranges.

    Scale shape: SHUFFLE-FREE — one projection per (doc, epoch) row, no
    sort, no window, no exchange (plan-pinned); at 100 TB this is the
    difference between an O(N log N) corpus sort per epoch and a map
    stage. Sorting by the permuted position is deliberately NOT part of
    the operator: the loader consumes shards by position-range scans,
    so no global order ever needs materializing."""
    d = load(spark, sf_dir, "documents")
    e = (
        d.select("doc_id")
        .filter(
            (F.col("doc_id") >= 0)
            & (F.col("doc_id") < FEISTEL_HALF * FEISTEL_HALF)
        )
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(PERM_EPOCHS - 1))).alias(
                "epoch"
            ),
        )
    )
    perm = feistel_position()
    out = e.select(
        F.col("epoch").cast("long").alias("epoch"),
        "doc_id",
        perm.cast("long").alias("perm_pos"),
    )
    # integer DIV (matching the oracle's //), not cast-of-divide: the
    # double path is provably exact for the current 2^32 domain but
    # silently breaks if the domain outgrows 2^53 — keep the one
    # truncating-quotient discipline used for the Feistel halves above
    # (Catalyst collapses the two projections; the plan stays
    # zero-exchange, pinned in test_plan_shape)
    return out.withColumn("shard", F.expr(f"perm_pos DIV {PERM_SHARD_DIV}"))


# ---------------------------------------------------------------------------
# epoch-plan composition (r15, VERDICT r14 #7): the last loader-boundary
# mile — repetition schedule × temperature mixture × epoch permutation
# composed into the per-epoch (epoch, shard, doc_id, position) manifest a
# trainer actually consumes
# ---------------------------------------------------------------------------

#: rider sources unioned into the plan's corpus (BOTH engines): srcfix
#: (3 tiny docs) forces a real n_min so the temperature thresholds bite
#: (the synthetic corpus' sources are exactly balanced — every threshold
#: would be PRIME32 and the mixture filter could certify only its keep
#: branch), and srcbig (one {EPOCH_PLAN_BIG_TOKENS}-token doc) owes
#: fewer epochs than PERM_EPOCHS at every SF, so the epoch < n_ep cut is
#: exercised everywhere. Ids sit inside the Feistel domain, far above
#: corpus ids.
EPOCH_PLAN_BIG_TOKENS = 12_000
EPOCH_PLAN_FIXTURE_ROWS: tuple[tuple[int, str, str], ...] = (
    (93_100_001, "srcfix", "tiny plan fixture alpha"),
    (93_100_002, "srcfix", "tiny plan fixture beta"),
    (93_100_003, "srcfix", "tiny plan fixture gamma"),
    (93_100_010, "srcbig", "tok " * EPOCH_PLAN_BIG_TOKENS),
)

_EPOCH_PLAN_FIXTURE_SQL = " UNION ALL ".join(
    (
        "SELECT CAST({i} AS BIGINT) AS doc_id, '{s}' AS source, "
        + (
            f"REPEAT('tok ', {EPOCH_PLAN_BIG_TOKENS})"
            if s == "srcbig"
            else "'{t}'"
        )
        + " AS text"
    ).format(i=i, s=s, t=t)
    for i, s, t in EPOCH_PLAN_FIXTURE_ROWS
)


def _epoch_plan_core() -> str:
    """The epoch-plan CTE chain from an in-scope ``pdocs(doc_id, source,
    text)`` CTE down to the Feistel output — ONE definition shared by
    ``curate_epoch_plan`` (pdocs = corpus ∪ fixtures) and the e2e
    pipeline capstone (pdocs = funnel survivors ∪ fixtures), so the
    composition cannot drift from the registered component."""
    return f"""pn AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN({_TOK_SQL})) AS BIGINT) AS n_tokens
      FROM pdocs GROUP BY source
    ), pm AS (
      SELECT MIN(n_docs) AS n_min FROM pn
    ), psch AS (
      SELECT source,
             CAST(FLOOR(({PRIME32} * SQRT(n_min)) / SQRT(n_docs)) AS BIGINT)
               AS threshold,
             LEAST(CAST((tt + n_tokens - 1) // n_tokens AS BIGINT),
                   {PERM_EPOCHS}) AS n_ep
      FROM (SELECT *, CAST({EPOCH_BUDGET} AS BIGINT)
                        // (SELECT COUNT(*) FROM pn) AS tt
            FROM pn CROSS JOIN pm)
    ), kept AS (
      SELECT d.doc_id, d.source, s.n_ep
      FROM pdocs d JOIN psch s USING (source)
      WHERE {sql_hash_coin("d.doc_id")} < s.threshold
    ), {_feistel_sql(src="kept")}"""


#: the plan's final SELECT over the core CTEs (same two-consumer sharing)
_EPOCH_PLAN_SELECT = f"""SELECT CAST(f.epoch AS BIGINT) AS epoch,
           CAST((f.l * {FEISTEL_HALF} + f.r) // {PERM_SHARD_DIV} AS BIGINT)
             AS shard,
           f.doc_id, k.source,
           CAST(f.l * {FEISTEL_HALF} + f.r AS BIGINT) AS position
    FROM fe{FEISTEL_ROUNDS} f
    JOIN kept k ON k.doc_id = f.doc_id
    WHERE f.epoch < k.n_ep"""


def _epoch_plan_oracle() -> str:
    return f"""
    WITH pdocs AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL {_EPOCH_PLAN_FIXTURE_SQL}
    ), {_epoch_plan_core()}
    {_EPOCH_PLAN_SELECT}
    """


@query(
    "curate_epoch_plan",
    oracle=_epoch_plan_oracle(),
    tags=("llm", "curation", "mixing", "packing", "documents"),
)
def curate_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-epoch training data-order MANIFEST (epoch, shard, doc_id,
    source, position) — the composition of the three certified loader
    primitives into the one artifact a trainer consumes (VERDICT r14
    #7): ``curate_epoch_schedule``'s repetition counts say how many
    epochs each source owes (ceil(target/available), capped here at
    PERM_EPOCHS — the epochs this run materializes),
    ``mix_temperature_sources``' thresholds say which documents are in
    the mixture (hash-coin < FLOOR(PRIME·sqrt(n_min/n_source)) — the
    T=2 flattening), and ``curate_epoch_permutation``'s Feistel
    bijection assigns every surviving (epoch, doc) its reproducible
    position and loader shard. The oracle composes the components' own
    CTE logic (the funnel-ladder discipline) over the SAME fixture-
    augmented corpus; the Spark side shares :func:`feistel_position`
    and :func:`hash_coin` with the registered components, so the plan
    cannot drift from the primitives it composes. Re-deriving any
    epoch's shard yields the identical order
    (tests/test_llm_ops.py::test_epoch_plan_replay_and_composition).

    Fixture riders (``EPOCH_PLAN_FIXTURE_ROWS``) make every decision
    non-vacuous at every SF: srcfix forces an n_min below the balanced
    synthetic sources (thresholds really drop documents), srcbig owes
    only one epoch (the epoch < n_ep cut really fires).

    Scale shape: two |sources|-row rollup/broadcast stages + one
    zero-shuffle Feistel projection per kept (doc, epoch) row — no
    sort, no corpus-keyed join (the source join broadcasts |sources|
    rows); the trainer range-scans (epoch, shard) slices, so no global
    order is ever materialized."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return _epoch_plan_from(spark, _with_epoch_plan_fixture(spark, d))


def _with_epoch_plan_fixture(spark: SparkSession, d: DataFrame) -> DataFrame:
    return d.unionByName(
        spark.createDataFrame(
            [(i, s, t) for i, s, t in EPOCH_PLAN_FIXTURE_ROWS],
            "doc_id long, source string, text string",
        )
    )


def _epoch_plan_from(spark: SparkSession, pdocs: DataFrame) -> DataFrame:
    """The epoch-plan composition over an arbitrary ``pdocs(doc_id,
    source, text)`` frame — the Spark twin of :func:`_epoch_plan_core`,
    shared by ``curate_epoch_plan`` and ``curate_pipeline_e2e``."""
    pn = pdocs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(ws_tokens("text"))).cast("long").alias("n_tokens"),
    )
    n_min = F.min("n_docs").over(W.partitionBy())
    nsrc = pn.agg(F.count(F.lit(1)).alias("n_sources"))
    thr = F.floor((F.lit(PRIME32) * F.sqrt(n_min)) / F.sqrt("n_docs")).cast(
        "long"
    )
    epochs = F.expr("(tt + n_tokens - 1) DIV n_tokens")
    psch = (
        pn.crossJoin(F.broadcast(nsrc))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            thr.alias("threshold"),
            F.expr(f"CAST({EPOCH_BUDGET} AS BIGINT) DIV n_sources").alias("tt"),
        )
        .select(
            "source",
            "threshold",
            F.least(epochs.cast("long"), F.lit(PERM_EPOCHS)).alias("n_ep"),
        )
    )
    kept = (
        pdocs.select("doc_id", "source")
        .join(F.broadcast(psch), "source")
        .filter(hash_coin("doc_id") < F.col("threshold"))
    )
    e = (
        kept.filter(
            (F.col("doc_id") >= 0)
            & (F.col("doc_id") < FEISTEL_HALF * FEISTEL_HALF)
        )
        .select(
            "doc_id",
            "source",
            "n_ep",
            F.explode(F.sequence(F.lit(0), F.lit(PERM_EPOCHS - 1))).alias(
                "epoch"
            ),
        )
        .filter(F.col("epoch") < F.col("n_ep"))
    )
    perm = feistel_position()
    out = e.select(
        F.col("epoch").cast("long").alias("epoch"),
        "doc_id",
        "source",
        perm.cast("long").alias("position"),
    )
    return out.select(
        "epoch",
        F.expr(f"position DIV {PERM_SHARD_DIV}").alias("shard"),
        "doc_id",
        "source",
        "position",
    )


# ---------------------------------------------------------------------------
# streaming-prefix funnel attribution (r16): the certified batch twin of
# streaming.runtime.CurationFunnelSink — the ladder restricted to its
# streaming-amenable stages, as a per-document attribution table
# ---------------------------------------------------------------------------

def _stream_prefix_oracle() -> str:
    from projet_pipeline_bigdata_org_spark.plans.registry import get as _get

    c4 = _get("lex_c4_rules").oracle
    gop = _get("lex_gopher_rules").oracle
    clf = _get("curate_quality_classifier").oracle
    return f"""
    WITH c4q AS ({c4}), gop AS ({gop}), clf AS ({clf}),
    ex AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY SHA256(COALESCE(text, ''))) AS k1
      FROM documents
    )
    SELECT e.doc_id,
           CAST(CASE WHEN e.doc_id <> e.k1 THEN 1
                     WHEN NOT c.keep THEN 2
                     WHEN NOT g.keep THEN 3
                     WHEN NOT f.keep THEN 4
                     ELSE 0 END AS BIGINT) AS stage_ord
    FROM ex e
    JOIN c4q c ON c.doc_id = e.doc_id
    JOIN gop g ON g.doc_id = e.doc_id
    JOIN clf f ON f.doc_id = e.doc_id
    """


@query(
    "curate_funnel_stream_prefix",
    oracle=_stream_prefix_oracle(),
    tags=("llm", "curation", "dedup", "quality", "documents"),
)
def curate_funnel_stream_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document attribution of the funnel's STREAMING-AMENABLE prefix
    (exact dup → C4 → Gopher → absolute classifier, first-match) — the
    certified batch twin of ``streaming.runtime.CurationFunnelSink``: the
    sink computes exactly this table at ingest (mode-equality
    test-pinned via the shared drift-pinned rule columns), so certifying
    this query certifies the streamed funnel's semantics against DuckDB.
    The classifier stage is the REGISTERED ``curate_quality_classifier``
    absolute keep (margin >= 0), not the full ladder's corpus-relative
    rate — an ingest stream cannot know the final corpus totals; that
    difference is exactly what separates this prefix from
    ``curate_funnel_ladder``. Certified composition: the oracle composes
    the three stage operators' own certified SQL as CTEs (the
    audit_calibration_bins discipline); C4's fixture riders drop out at
    the corpus join.

    Scale shape: one sha-keyed window min (the exact-dup stage's single
    shuffle) + three zero-shuffle rule projections joined on doc_id —
    at ingest the same arithmetic runs per micro-batch with the window
    min replaced by the keeper-agg + history join."""
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        c4_keep_col,
        gopher_keep_col,
        ws_tokens,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    text = F.coalesce(F.col("text"), F.lit(""))
    w = W.partitionBy(F.sha2(text, 256))
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") != F.min("doc_id").over(w), 1)
        .when(~c4_keep_col("text"), 2)
        .when(~gopher_keep_col("text"), 3)
        .when(qc_margin(ws_tokens(text)) < 0, 4)
        .otherwise(0)
        .cast("long")
        .alias("stage_ord"),
    )


# ---------------------------------------------------------------------------
# full streaming-amenable funnel prefix (r17, VERDICT r16 #3/#4): the r16
# 4-stage prefix extended with near-dup admission (certified MinHash, ladder
# rank 3) and benchmark decontamination (ladder rank 4) — the batch twin of
# streaming.runtime.CurationFunnelIngestSink. The r16 4-stage
# ``curate_funnel_stream_prefix`` stays registered as certified (the
# funnel_report precedent: extensions are new names).
# ---------------------------------------------------------------------------

def _stream_prefix6_oracle() -> str:
    from projet_pipeline_bigdata_org_spark.plans.registry import get as _get

    mh = _get("dedup_minhash_certified").oracle
    dec = _get("lex_decontaminate").oracle
    c4 = _get("lex_c4_rules").oracle
    gop = _get("lex_gopher_rules").oracle
    clf = _get("curate_quality_classifier").oracle
    return f"""
    WITH mh AS MATERIALIZED ({mh}), dec AS ({dec}), c4q AS ({c4}),
    gop AS ({gop}), clf AS ({clf}),
    ex AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY SHA256(COALESCE(text, ''))) AS k1
      FROM documents
    )
    SELECT e.doc_id,
           CAST(CASE WHEN e.doc_id <> e.k1 THEN 1
                     WHEN e.doc_id IN (SELECT b_id FROM mh) THEN 3
                     WHEN COALESCE(d.contaminated, TRUE) THEN 4
                     WHEN NOT c.keep THEN 5
                     WHEN NOT g.keep THEN 6
                     WHEN NOT f.keep THEN 7
                     ELSE 0 END AS BIGINT) AS stage_ord
    FROM ex e
    JOIN c4q c ON c.doc_id = e.doc_id
    JOIN gop g ON g.doc_id = e.doc_id
    JOIN clf f ON f.doc_id = e.doc_id
    LEFT JOIN dec d ON d.doc_id = e.doc_id
    """


@query(
    "curate_funnel_stream_prefix6",
    oracle=_stream_prefix6_oracle(),
    tags=("llm", "curation", "dedup", "quality", "documents"),
)
def curate_funnel_stream_prefix6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document attribution of the FULL streaming-amenable funnel
    prefix — exact dup → MinHash near-dup → benchmark decontamination →
    C4 → Gopher → absolute classifier, first-match — the certified batch
    twin of ``streaming.runtime.CurationFunnelIngestSink`` (VERDICT r16
    #3/#4). Stage ordinals are the C4-ladder's OWN ranks (1/3/4/5/6/7;
    rank 2, normalized dup, is the one dedup stage with no streaming
    form), so a doc attributed 3 here and by ``curate_funnel_ladder_c4``
    means the same stage; mode-equality restricted to the shared ranks is
    test-pinned. Everything except the corpus-relative DSIR/perplexity/
    entropy tails now runs at ingest.

    Stage semantics, each from the REGISTERED operator (oracle composes
    their certified SQL as CTEs — the audit_calibration_bins discipline):

    - near_dup (3): ``dedup_minhash_certified``'s verified pairs; a doc
      is removed when it is the LARGER id of any verified pair — the
      first-seen-wins rule the ingest sink reproduces with its
      prior-epoch band history (outcome-independent, so pair chains
      match the one-shot pair set exactly);
    - decontaminated (4): ``lex_decontaminate``'s integer-lifted overlap
      rule; benchmark members themselves have no row there and are
      removed (eval data never trains — the ladder's COALESCE(_, TRUE)
      rule).

    Scale shape: one sha-keyed window min + the certified LSH band join
    (24-byte rows) + one broadcast-dictionary overlap join + three
    zero-shuffle rule projections, all joined on doc_id. Served from the
    catalog-layer stage cache as a MATERIALIZED parquet staging table
    (the funnel_ladder_staged discipline, r17-late): the attribution is
    computed once per corpus epoch — its cost IS the certified sha-slice
    MinHash construction, reported in bench's cold_build tier — and its
    consumers (the stream ledger, repeat certification reads) read the
    (doc_id, stage_ord) table."""
    from projet_pipeline_bigdata_org_spark.catalog import stage_tables

    def _build():
        return {"att": _stream_prefix6_build(spark, sf_dir)}

    return stage_tables(spark, "stream_prefix6_staged", sf_dir, _build)["att"]


def _stream_prefix6_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The six-stage attribution composition itself (see the registered
    wrapper's docstring for semantics and staging)."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        dedup_minhash_certified,
    )
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        c4_keep_col,
        gopher_keep_col,
        text_decontaminate,
        ws_tokens,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    text = F.coalesce(F.col("text"), F.lit(""))
    w = W.partitionBy(F.sha2(text, 256))
    near = (
        dedup_minhash_certified(spark, sf_dir)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("__near", F.lit(1))
    )
    dec = text_decontaminate(spark, sf_dir).select("doc_id", "contaminated")
    return (
        d.join(near, "doc_id", "left")
        .join(dec, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("doc_id") != F.min("doc_id").over(w), 1)
            .when(F.col("__near").isNotNull(), 3)
            .when(F.coalesce(F.col("contaminated"), F.lit(True)), 4)
            .when(~c4_keep_col("text"), 5)
            .when(~gopher_keep_col("text"), 6)
            .when(qc_margin(ws_tokens(text)) < 0, 7)
            .otherwise(0)
            .cast("long")
            .alias("stage_ord"),
        )
    )


def _stream_ledger_oracle() -> str:
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        CURATION_INGEST_STAGES,
    )

    stage_rows = ", ".join(f"({i}, '{s}')" for i, s in CURATION_INGEST_STAGES)
    return f"""
    WITH att AS MATERIALIZED ({_stream_prefix6_oracle()}),
    cnt AS (
      SELECT stage_ord, CAST(COUNT(*) AS BIGINT) AS n
      FROM att GROUP BY stage_ord
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total FROM att
    ), stages AS (
      SELECT * FROM (VALUES {stage_rows}) s(stage_ord, stage)
    ), j AS (
      SELECT s.stage_ord, s.stage,
             CASE WHEN s.stage_ord = 0 THEN 0
                  ELSE COALESCE(c.n, 0) END AS n_removed
      FROM stages s LEFT JOIN cnt c ON c.stage_ord = s.stage_ord
    )
    SELECT CAST(stage_ord AS BIGINT) AS stage_ord, stage,
           CAST(n_removed AS BIGINT) AS n_removed,
           CAST(total - SUM(n_removed) OVER (ORDER BY stage_ord
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_remaining
    FROM j CROSS JOIN tot
    """


@query(
    "curate_funnel_stream_ledger",
    oracle=_stream_ledger_oracle(),
    tags=("llm", "curation", "dedup", "quality", "documents"),
)
def curate_funnel_stream_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attrition LEDGER of the full streaming-amenable ingest funnel —
    the sign-off table for what `CurationFunnelIngestSink` removes at
    each stage (survivor/exact_dup/near_dup/decontaminated/c4_fail/
    gopher_fail/classifier_fail, the C4-ladder's own ordinals): per
    stage, n_removed and the cumulative n_remaining. The batch-ladder
    ledgers (`curate_funnel_ladder`, `curate_funnel_ladder_c4`) sign off
    the offline funnel; this one signs off the ingest path, from the
    SAME shared fold (:func:`_ledger_from_staged`) over the staged
    prefix6 attribution table — so the ingest ledger, the attribution,
    and the streamed decisions certify one definition. Oracle composes
    the attribution's own certified SQL as a MATERIALIZED CTE (the
    lex_contamination_report discipline).

    Scale shape: one read of the staged (doc_id, stage_ord) parquet +
    a |stages|-row conditional rollup + the cumulative window over 7
    rows — the attribution build itself is the stage table's
    once-per-corpus-epoch cost."""
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        CURATION_INGEST_STAGES,
    )

    return _ledger_from_staged(
        spark,
        curate_funnel_stream_prefix6(spark, sf_dir),
        CURATION_INGEST_STAGES,
    )


# ---------------------------------------------------------------------------
# end-to-end pretraining-pipeline capstone (r17, VERDICT r16 #5): ONE
# certified query chaining funnel survivors → epoch-plan composition →
# export-manifest rollup — certifying the INTERFACES between the stages a
# real 100 TB pipeline runs as one DAG
# ---------------------------------------------------------------------------

def _pipeline_e2e_oracle() -> str:
    from projet_pipeline_bigdata_org_spark.plans.registry import get as _get

    c4 = _get("lex_c4_rules").oracle
    return f"""
    WITH {_ladder_staged_ctes()},
    c4q AS ({c4}),
    l10 AS (
      SELECT l.doc_id,
             CASE WHEN l.stage_ord BETWEEN 1 AND 4 THEN l.stage_ord
                  WHEN NOT c.keep THEN 5
                  WHEN l.stage_ord = 0 THEN 0
                  ELSE l.stage_ord + 1 END AS stage_ord
      FROM lstaged l JOIN c4q c ON c.doc_id = l.doc_id
    ),
    pdocs AS MATERIALIZED (
      SELECT d.doc_id, d.source, d.text
      FROM documents d JOIN l10 ON l10.doc_id = d.doc_id
      WHERE l10.stage_ord = 0
      UNION ALL {_EPOCH_PLAN_FIXTURE_SQL}
    ), {_epoch_plan_core()},
    plan AS (
      {_EPOCH_PLAN_SELECT}
    ), tok AS (
      SELECT doc_id, CAST(LEN({_TOK_SQL}) AS BIGINT) AS n_tokens FROM pdocs
    )
    SELECT p.epoch, p.shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.n_tokens) AS BIGINT) AS token_mass,
           CAST(COUNT(DISTINCT p.source) AS BIGINT) AS n_sources,
           MIN_BY(p.doc_id, p.position) AS first_doc_id,
           MAX_BY(p.doc_id, p.position) AS last_doc_id
    FROM plan p JOIN tok t ON t.doc_id = p.doc_id
    GROUP BY p.epoch, p.shard
    """


@query(
    "curate_pipeline_e2e",
    oracle=_pipeline_e2e_oracle(),
    tags=("llm", "curation", "mixing", "packing", "documents"),
)
def curate_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pretraining-pipeline manifest (VERDICT r16 #5): the
    C4-ladder funnel's SURVIVORS flow through the epoch-plan composition
    (temperature mixture thresholds → repetition schedule → Feistel
    per-epoch shuffle) and roll up into the per-(epoch, shard) manifest a
    training run consumes — document count, token mass, source
    diversity, and the first/last document in loader position order.
    This is the one query that certifies the INTERFACES between the
    three individually-certified stages (``curate_funnel_ladder_c4``,
    ``curate_epoch_plan``, ``curate_export_manifest``) as a single DAG:
    every stage is the registered operator's own shared code
    (:func:`funnel_ladder_staged` silver table — no retrain, plan-pinned
    — and :func:`_epoch_plan_from`), and the oracle composes the same
    stages' certified SQL (``_ladder_staged_ctes`` + lex_c4_rules +
    ``_epoch_plan_core`` — the audit_calibration_bins discipline).
    Stage counts reconcile with the member queries' own outputs
    (tests/test_llm_ops.py::test_pipeline_e2e_reconciles_with_members).

    The epoch-plan fixture riders enter AT THE PLAN STAGE (they are not
    corpus rows, so the funnel never sees them) — same riders as
    ``curate_epoch_plan``, keeping the mixture thresholds and the
    epoch < n_ep cut non-vacuous over the small survivor set at every SF.

    Scale shape: one read of the staged (doc_id, stage_ord) parquet
    table + one zero-shuffle C4 projection + the plan's two
    |sources|-row broadcast stages + the zero-shuffle Feistel projection
    + ONE (epoch, shard)-keyed rollup with min_by/max_by riding the same
    aggregate — no corpus sort, no retrain, no second funnel pass."""
    from projet_pipeline_bigdata_org_spark.operators.textops import text_c4_rules

    staged = funnel_ladder_staged(spark, sf_dir)
    c4 = text_c4_rules(spark, sf_dir).select("doc_id", "keep")
    surv = (
        staged.join(c4, "doc_id")
        .filter((F.col("stage_ord") == 0) & F.col("keep"))
        .select("doc_id")
    )
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .join(surv, "doc_id")
    )
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    # r17: persist the survivor+fixture table — referenced by the epoch
    # plan AND the token rollup, so unpinned the staged-read + C4 + join
    # subtree ran twice per query
    pdocs = _persist_scoped(
        "e2e_pdocs", _with_epoch_plan_fixture(spark, d)
    )
    plan = _epoch_plan_from(spark, pdocs)
    tok = pdocs.select(
        "doc_id", F.size(ws_tokens("text")).cast("long").alias("n_tokens")
    )
    return (
        plan.join(tok, "doc_id")
        .groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("token_mass"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min_by("doc_id", "position").cast("long").alias("first_doc_id"),
            F.max_by("doc_id", "position").cast("long").alias("last_doc_id"),
        )
    )
