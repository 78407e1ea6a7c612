"""Round-2 analytics extensions: regexp function pack, exact statistical
moments, TF-IDF term ranking, OHLC time-series resampling, deterministic
systematic sampling, fuzzy (levenshtein) matching, and distribution window
functions — each a [GAP→add] capability class from SURVEY.md §2.5/§2.8/§2.12
with a DuckDB oracle twin.

Numeric parity notes: variance/correlation go through exact DECIMAL power
sums (functions/exact.py discipline) and a fixed double expression tree, so
both engines perform the identical sequence of correctly-rounded IEEE ops;
TF-IDF uses a rational idf ((N - df + 0.5)/(df + 0.5), BM25-flavored)
instead of a transcendental log so scores are bit-exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from projet_pipeline_bigdata_org_spark.catalog import load
from projet_pipeline_bigdata_org_spark.functions.exact import dsum
from projet_pipeline_bigdata_org_spark.functions.hashing import hash_coin, sql_hash_coin
from projet_pipeline_bigdata_org_spark.operators.textops import SQL_WS_TOKENS, ws_tokens
from projet_pipeline_bigdata_org_spark.plans.registry import query

# ---------------------------------------------------------------------------
# regexp surface (SURVEY §2.8 — beyond the cleaning-chain regexp_replace)
# ---------------------------------------------------------------------------


@query(
    "regexp_functions_pack",
    oracle=r"""
    SELECT doc_id,
           REGEXP_EXTRACT(text, '([a-z]{7,})', 1) AS first_long_word,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[aeiou]{2}')) AS BIGINT) AS n_vowel_pairs,
           REGEXP_MATCHES(text, 'data|model|learn') AS mentions_ml,
           REGEXP_REPLACE(text, '[aeiou]', '_', 'g') AS devoweled_prefix
    FROM documents
    WHERE doc_id < 200
    """,
    tags=("relational", "function", "regexp", "documents"),
)
def regexp_functions_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / regexp_count / regexp_like / global regexp_replace —
    the pattern-matching surface beyond the reference's URL-strip chain
    (reference preprocessor.py:19). Patterns restricted to the syntax subset
    Java regex and RE2 interpret identically."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.regexp_extract(F.col("text"), r"([a-z]{7,})", 1).alias("first_long_word"),
        F.regexp_count(F.col("text"), F.lit(r"[aeiou]{2}"))
        .cast("long")
        .alias("n_vowel_pairs"),
        F.regexp_like(F.col("text"), F.lit(r"data|model|learn")).alias("mentions_ml"),
        F.regexp_replace(F.col("text"), r"[aeiou]", "_").alias("devoweled_prefix"),
    )


# ---------------------------------------------------------------------------
# exact statistical moments (SURVEY §2.4 — var/stddev/covar/corr)
# ---------------------------------------------------------------------------

@query(
    "stat_moments_pack",
    # integer-scaled power sums: quantities/prices carry <=2 decimal digits,
    # so ROUND(x*100) is an exact integer ("cents"); products of cents fit
    # int64 per row; sums go through DECIMAL(38,0). An INTEGER decimal ->
    # DOUBLE conversion is ONE correctly-rounded op in both engines, whereas
    # a scale-12 DECIMAL -> DOUBLE double-rounds in DuckDB (int128 then
    # /10^12) and diverges from Spark's BigDecimal.doubleValue in the last
    # ulp. The /100.0 and /10000.0 rescales below are single IEEE divisions
    # performed identically by both engines.
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS qc,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS pc
      FROM lineitem),
    s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(qc AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sq,
             CAST(SUM(CAST(qc * qc AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sq2,
             CAST(SUM(CAST(pc AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sp,
             CAST(SUM(CAST(pc * pc AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sp2,
             CAST(SUM(CAST(qc * pc AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sqp
      FROM c GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           sq / n AS mean_qty,
           (sq2 - sq * sq / n) / n AS var_pop_qty,
           SQRT((sq2 - sq * sq / n) / n) AS stddev_pop_qty,
           (sqp - sq * sp / n) / n AS covar_pop,
           ((sqp - sq * sp / n) / n)
             / (SQRT((sq2 - sq * sq / n) / n) * SQRT((sp2 - sp * sp / n) / n)) AS corr_qty_price
    FROM s
    """,
    tags=("agg", "relational", "statistics"),
)
def stat_moments_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population variance / stddev / covariance / Pearson correlation per
    group — computed from exact integer-scaled power sums (one pass,
    map-side combinable like any sum) and a FIXED double expression tree,
    so Spark and DuckDB perform identical correctly-rounded IEEE ops. The
    built-in var_pop/corr are float-accumulation order-dependent and cannot
    be oracle-gated bit-exactly; this shape is also the numerically-stabler
    one at 100 TB (exact sums don't lose low-order mass)."""
    li = load(spark, sf_dir, "lineitem")
    qc = F.round(F.col("l_quantity") * 100, 0).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    D38 = T.DecimalType(38, 0)
    c = li.select("l_returnflag", qc.alias("qc"), pc.alias("pc"))
    s = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("qc").cast(D38)).cast("double") / 100.0).alias("sq"),
        (F.sum((F.col("qc") * F.col("qc")).cast(D38)).cast("double") / 10000.0).alias("sq2"),
        (F.sum(F.col("pc").cast(D38)).cast("double") / 100.0).alias("sp"),
        (F.sum((F.col("pc") * F.col("pc")).cast(D38)).cast("double") / 10000.0).alias("sp2"),
        (F.sum((F.col("qc") * F.col("pc")).cast(D38)).cast("double") / 10000.0).alias("sqp"),
    )
    n = F.col("n")
    var_q = (F.col("sq2") - F.col("sq") * F.col("sq") / n) / n
    var_p = (F.col("sp2") - F.col("sp") * F.col("sp") / n) / n
    covar = (F.col("sqp") - F.col("sq") * F.col("sp") / n) / n
    return s.select(
        "l_returnflag",
        "n",
        (F.col("sq") / n).alias("mean_qty"),
        var_q.alias("var_pop_qty"),
        F.sqrt(var_q).alias("stddev_pop_qty"),
        covar.alias("covar_pop"),
        (covar / (F.sqrt(var_q) * F.sqrt(var_p))).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# TF-IDF term ranking (SURVEY §2.12 text analysis)
# ---------------------------------------------------------------------------

TFIDF_TOPK = 3


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({SQL_WS_TOKENS.format(c='text')}) AS token
      FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, token, tf,
           CAST(df AS BIGINT) AS df,
           CAST(tf AS DOUBLE) * ((CAST(n_docs - df AS DOUBLE) + 0.5)
                                 / (CAST(df AS DOUBLE) + 0.5)) AS score,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY
                CAST(tf AS DOUBLE) * ((CAST(n_docs - df AS DOUBLE) + 0.5)
                                      / (CAST(df AS DOUBLE) + 0.5)) DESC,
                token) AS BIGINT) AS rnk
    FROM tf JOIN df USING (token) CROSS JOIN n
    QUALIFY rnk <= {TFIDF_TOPK}
    """,
    tags=("llm", "text", "documents"),
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k terms by TF-IDF. The idf is the RATIONAL BM25 form
    (N - df + 0.5)/(df + 0.5) rather than a log — same ranking monotonicity,
    but scores are two correctly-rounded IEEE ops and thus bit-exact
    cross-engine (a transcendental log differs in last ulps per libm).

    Scale: tf is one shuffle on (doc, token); df one on token (map-side
    combined); N rides a broadcast 1-row cross join — no driver action in
    the plan. The final per-doc top-k is a partial row_number window."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(ws_tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf").cast("double") * (
        ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            F.col("df").cast("long").alias("df"),
            score.alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TFIDF_TOPK)
    )


# ---------------------------------------------------------------------------
# OHLC resampling (SURVEY §2.11 time-series analytics)
# ---------------------------------------------------------------------------


@query(
    "ts_resample_ohlc",
    oracle="""
    WITH ranked AS (
      SELECT user_id, DATE_TRUNC('hour', ts) AS hour_start, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('hour', ts)
                                ORDER BY ts, event_id) AS rn_asc,
             ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_desc
      FROM events)
    SELECT user_id,
           STRFTIME(hour_start, '%Y-%m-%d %H:%M:%S') AS hour_start,
           MAX(CASE WHEN rn_asc = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_desc = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM ranked
    GROUP BY user_id, hour_start
    """,
    tags=("relational", "timeseries", "events"),
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample an event stream to per-user hourly OHLC bars
    (open/high/low/close — the canonical resample shape for metrics and
    market data). open/close are row_number picks with (ts, event_id)
    tie-breaks; no float arithmetic, so values match bit-exactly.

    Scale: both windows and the groupBy share the (user_id, hour) key, so
    it is one shuffle + in-partition sorts; at 100 TB, pre-bucketing the
    lake by user_id makes this shuffle-free."""
    e = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    wa = W.partitionBy("user_id", hour).orderBy("ts", "event_id")
    wd = W.partitionBy("user_id", hour).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = e.select(
        "user_id",
        hour.alias("hour_start"),
        "value",
        F.row_number().over(wa).alias("rn_asc"),
        F.row_number().over(wd).alias("rn_desc"),
    )
    return (
        ranked.groupBy("user_id", "hour_start")
        .agg(
            F.max(F.when(F.col("rn_asc") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_desc") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# deterministic systematic sampling (SURVEY §2.12 corpus operations)
# ---------------------------------------------------------------------------

SAMPLE_MOD = 20
SAMPLE_SLOT = 3


@query(
    "sample_systematic",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_sampled,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sampled_value
    FROM orders
    WHERE o_orderkey % {SAMPLE_MOD} = {SAMPLE_SLOT}
    GROUP BY o_orderpriority
    """,
    tags=("relational", "sampling"),
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed systematic 1-in-20 sample + aggregate. ``df.sample()``/
    TABLESAMPLE draw from a per-partition RNG — irreproducible across
    engines, partitionings, and retries — so the corpus-pipeline variant
    samples on a stable key residue: deterministic, joinable (the same rows
    are sampled in every table keyed by the same id), and pushed to the
    scan as an ordinary predicate."""
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") % SAMPLE_MOD == SAMPLE_SLOT)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            dsum("o_totalprice", "sampled_value"),
        )
    )


# ---------------------------------------------------------------------------
# fuzzy matching (SURVEY §2.12 dedup-adjacent: edit-distance blocking join)
# ---------------------------------------------------------------------------

FUZZY_MAX_DIST = 6
#: length-band width for the composite blocking key. levenshtein(a,b) ≤ d
#: implies |len(a)−len(b)| ≤ d, so with width d+1 a true pair's lengths land
#: in the same or an adjacent band — banding is LOSSLESS for this predicate.
FUZZY_BAND = FUZZY_MAX_DIST + 1


def fuzzy_blocked_candidates(c: DataFrame, s: DataFrame) -> DataFrame:
    """Candidate pairs under the composite blocking key
    (nationkey, name-length band).

    The supplier side is exploded to its {b−1, b, b+1} band neighborhood so
    the join stays a pure equi-join on (nation, band) while still covering
    every |len diff| ≤ FUZZY_MAX_DIST pair. Lossless, and each (c, s) pair
    appears exactly once (the customer has one band; the supplier's three
    exploded bands are distinct). Per-block candidate mass is
    O(rows-per-(nation, band))² — the band term splits each nation block by
    name length, so no block is a fixed fraction of the corpus and the
    product stays sub-quadratic on any length-diverse corpus. No broadcast
    hint: AQE picks broadcast vs shuffle from actual sizes."""
    s_band = F.floor(F.length("s_name") / FUZZY_BAND)
    cb = c.withColumn("_band", F.floor(F.length("c_name") / FUZZY_BAND))
    sb = s.withColumn("_band", F.explode(F.array(s_band - 1, s_band, s_band + 1)))
    return cb.join(
        sb,
        (cb["c_nationkey"] == sb["s_nationkey"]) & (cb["_band"] == sb["_band"]),
    )


@query(
    "pair_fuzzy_levenshtein",
    oracle=f"""
    SELECT c_custkey, s_suppkey, c_name, s_name,
           CAST(LEVENSHTEIN(c_name, s_name) AS BIGINT) AS edit_distance
    FROM customer JOIN supplier ON c_nationkey = s_nationkey
    WHERE ABS(LENGTH(c_name) - LENGTH(s_name)) <= {FUZZY_MAX_DIST}
      AND LEVENSHTEIN(c_name, s_name) <= {FUZZY_MAX_DIST}
    """,
    tags=("llm", "dedup", "fuzzy", "relational"),
)
def pair_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record matching: edit-distance pairs under a COMPOSITE blocking
    key (nationkey, length band) — see fuzzy_blocked_candidates for the
    lossless-banding argument and the per-block bound. levenshtein runs
    JVM-side on candidates only. The oracle carries the same (redundant,
    distance-implied) length predicate so the twins cannot drift if the
    band width ever changes."""
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    dist = F.levenshtein(F.col("c_name"), F.col("s_name"))
    return (
        fuzzy_blocked_candidates(c, s)
        .select(
            "c_custkey",
            "s_suppkey",
            "c_name",
            "s_name",
            dist.cast("long").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= FUZZY_MAX_DIST)
    )


# ---------------------------------------------------------------------------
# distribution window functions (SURVEY §2.5 — completes the ranking family)
# ---------------------------------------------------------------------------


@query(
    "window_percent_rank_cume",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("relational", "window"),
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile — relative-position window functions
    (rational arithmetic over exact ranks: bit-exact cross-engine). The
    (o_totalprice, o_orderkey) ordering is a total order, making ntile's
    row-order-dependent assignment deterministic."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


# ---------------------------------------------------------------------------
# higher-order array functions + struct surface (SURVEY §2.8 completion)
# ---------------------------------------------------------------------------


@query(
    "sql_higher_order_pack",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_WS_TOKENS.format(c='text')} AS toks
               FROM documents WHERE doc_id < 300)
    SELECT doc_id,
           COALESCE(ARRAY_TO_STRING(LIST_TRANSFORM(toks, x -> LENGTH(x)), ','), '') AS len_list,
           COALESCE(ARRAY_TO_STRING(LIST_FILTER(toks, x -> LENGTH(x) > 4), ','), '') AS long_tokens,
           LEN(LIST_FILTER(toks, x -> LENGTH(x) > 8)) > 0 AS has_very_long,
           LEN(LIST_FILTER(toks, x -> NOT (LENGTH(x) >= 1))) = 0 AS all_nonempty,
           -- NOT list_reduce: DuckDB 1.0's list_reduce with a CASE merge
           -- returns wrong values under batch vectorization (accumulators
           -- leak across rows; verified 37/300 rows wrong, correct when the
           -- input is a single row). LIST_MAX + COALESCE(…, 0) is the
           -- value-equivalent of the Spark-side fold (token lengths >= 1).
           CAST(COALESCE(LIST_MAX(LIST_TRANSFORM(toks,
                x -> CAST(LENGTH(x) AS BIGINT))), 0) AS BIGINT) AS max_len,
           COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(toks)), ','), '') AS sorted_vocab
    FROM t
    """,
    tags=("relational", "function", "higher-order", "documents"),
)
def sql_higher_order_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as first-class query surface: transform /
    filter / exists / forall / aggregate(fold) / array_sort — the lambda
    expressions stay inside whole-stage codegen (no Python). exists/forall
    are mirrored in DuckDB via filter-length identities; the fold uses a
    CASE max so both engines run the identical comparison chain."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = ws_tokens("text")
    fold_max = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, x: F.when(F.length(x) > acc, F.length(x).cast("long")).otherwise(
            acc
        ),
    )
    return d.select(
        "doc_id",
        F.array_join(F.transform(toks, F.length), ",").alias("len_list"),
        F.array_join(F.filter(toks, lambda x: F.length(x) > 4), ",").alias(
            "long_tokens"
        ),
        F.exists(toks, lambda x: F.length(x) > 8).alias("has_very_long"),
        F.forall(toks, lambda x: F.length(x) >= 1).alias("all_nonempty"),
        fold_max.alias("max_len"),
        F.array_join(F.array_sort(F.array_distinct(toks)), ",").alias("sorted_vocab"),
    )


@query(
    "sql_struct_pack",
    oracle="""
    SELECT o_orderkey,
           STRUCT_EXTRACT(STRUCT_PACK(key := o_orderkey, priority := o_orderpriority),
                          'priority') AS prio_field,
           TO_JSON(STRUCT_PACK(key := o_orderkey,
                               priority := o_orderpriority)) AS as_json
    FROM orders WHERE o_custkey < 50
    """,
    tags=("relational", "function", "struct"),
)
def sql_struct_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct surface: named_struct construction, field access, and
    canonical JSON serialization (ints/strings only — float JSON formatting
    differs across engines)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    st = F.named_struct(
        F.lit("key"), F.col("o_orderkey"), F.lit("priority"), F.col("o_orderpriority")
    )
    return o.select(
        "o_orderkey",
        st.getField("priority").alias("prio_field"),
        F.to_json(st).alias("as_json"),
    )


@query(
    "sql_collect_pack",
    oracle="""
    SELECT c_mktsegment,
           COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST(c_nationkey))), ','), '')
             AS nations_sorted,
           COALESCE(ARRAY_TO_STRING(LIST_SLICE(LIST_SORT(
               LIST(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)), 'DESC'), 1, 3), ','), '')
             AS top3_balance_cents,
           COUNT(*) AS n_customers
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("agg", "relational", "collect"),
)
def sql_collect_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set / collect_list as aggregation payloads (SURVEY §2.4):
    distinct nations per segment and the top-3 balances, emitted as sorted
    joined strings so the unordered collection is deterministic and
    engine-neutral (balances as exact integer cents — double-to-string
    formatting differs across engines).

    Scale note: collect aggregates carry whole payloads through the shuffle
    (no partial combine shrink) — the salted-aggregation fallback in
    functions/skew.py is exactly for hot groups here."""
    c = load(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    return c.groupBy("c_mktsegment").agg(
        F.array_join(
            F.array_sort(F.collect_set("c_nationkey")), ","
        ).alias("nations_sorted"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list(cents), asc=False), 1, 3), ","
        ).alias("top3_balance_cents"),
        F.count(F.lit(1)).alias("n_customers"),
    )


RANGE_RADIUS = 100


@query(
    "range_join_bucketized",
    oracle=f"""
    SELECT s_suppkey, s_name, COUNT(*) AS n_close_customers
    FROM supplier JOIN customer
      ON c_acctbal BETWEEN s_acctbal - {RANGE_RADIUS} AND s_acctbal + {RANGE_RADIUS}
    GROUP BY s_suppkey, s_name
    """,
    tags=("join", "relational", "range"),
)
def range_join_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join as a BUCKETIZED EQUI-JOIN — the shuffle-scalable plan for
    join_nonequi_range's semantics (same oracle, different physical shape).

    Each side maps its value to width-RANGE_RADIUS buckets: a customer to
    floor(bal/W); a supplier to its bucket and both neighbors (any pair
    within ±W differs by at most one bucket). The join becomes an equi-join
    on the bucket key — hash-partitionable, AQE-skew-splittable — followed
    by the exact BETWEEN filter; no pair is double-counted because the
    customer bucket is unique. At 100 TB this replaces the
    BroadcastNestedLoopJoin (which requires one side to fit in memory) with
    an ordinary shuffle whose fan-out is 3x the small side."""
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    w = float(RANGE_RADIUS)
    c_b = c.select(
        "c_acctbal", F.floor(F.col("c_acctbal") / w).cast("long").alias("bucket")
    )
    s_b = s.select(
        "s_suppkey",
        "s_name",
        "s_acctbal",
        F.explode(
            F.array(
                F.floor(F.col("s_acctbal") / w).cast("long") - 1,
                F.floor(F.col("s_acctbal") / w).cast("long"),
                F.floor(F.col("s_acctbal") / w).cast("long") + 1,
            )
        ).alias("bucket"),
    )
    return (
        c_b.join(s_b, "bucket")
        .filter(
            F.col("c_acctbal").between(
                F.col("s_acctbal") - RANGE_RADIUS, F.col("s_acctbal") + RANGE_RADIUS
            )
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_close_customers"))
    )


# ---------------------------------------------------------------------------
# modern SQL surface: LATERAL joins + recursive CTEs (Spark 4)
# ---------------------------------------------------------------------------


@query(
    "sql_lateral_top_lineitem",
    oracle="""
    SELECT o.o_orderkey,
           STRFTIME(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           t.l_linenumber, t.l_extendedprice
    FROM orders o,
    LATERAL (SELECT l_linenumber, l_extendedprice
             FROM lineitem
             WHERE l_orderkey = o.o_orderkey
             ORDER BY l_extendedprice DESC, l_linenumber
             LIMIT 1) t
    WHERE o.o_custkey < 30
    """,
    tags=("relational", "sql-surface", "lateral"),
)
def sql_lateral_top_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (Spark 4 SQL): per order, its single most
    expensive line item — the 'top-1 per key via subquery' idiom users
    port from warehouse SQL. Catalyst decorrelates this into the same
    window/limit plan the DataFrame top-k uses; o_orderdate is emitted as
    a formatted string for engine-neutral hashing."""
    from projet_pipeline_bigdata_org_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o.o_orderkey,
               DATE_FORMAT(o.o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS o_orderdate,
               t.l_linenumber, t.l_extendedprice
        FROM orders o,
        LATERAL (SELECT l_linenumber, l_extendedprice
                 FROM lineitem
                 WHERE l_orderkey = o.o_orderkey
                 ORDER BY l_extendedprice DESC, l_linenumber
                 LIMIT 1) t
        WHERE o.o_custkey < 30
        """
    )


@query(
    "sql_recursive_month_series",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT TIMESTAMP '1995-01-01 00:00:00'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months
      WHERE m < TIMESTAMP '2001-12-01 00:00:00')
    SELECT STRFTIME(m, '%Y-%m-%d') AS month_start,
           COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 0) AS DOUBLE)
             AS month_value
    FROM months LEFT JOIN orders
      ON DATE_TRUNC('month', o_orderdate) = m
    GROUP BY m
    """,
    tags=("relational", "sql-surface", "recursive"),
)
def sql_recursive_month_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 SQL, SPARK-24497): generate the month grid
    recursively and left-join order totals — the calendar-densify pattern
    warehouse users write with WITH RECURSIVE (the Spark-native alternative
    is sequence()+explode, see gapfill_hourly_events; this query proves the
    recursive SQL surface itself). Bounded recursion depth (84 months)."""
    from projet_pipeline_bigdata_org_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01 00:00:00'
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months
          WHERE m < TIMESTAMP '2001-12-01 00:00:00')
        SELECT DATE_FORMAT(m, 'yyyy-MM-dd') AS month_start,
               COUNT(o_orderkey) AS n_orders,
               CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 0) AS DOUBLE)
                 AS month_value
        FROM months LEFT JOIN orders
          ON DATE_TRUNC('month', o_orderdate) = m
        GROUP BY m
        """
    )


@query(
    "sql_variant_pack",
    oracle="""
    SELECT event_id,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_long,
           JSON_EXTRACT_STRING(props, '$.k') AS k_string,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) IS NOT NULL AS has_k
    FROM events WHERE event_id < 5000
    """,
    tags=("relational", "function", "variant", "events"),
)
def sql_variant_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4): parse_json once into a
    VariantType column, then typed try_variant_get path extraction — the
    open-schema ingestion shape that replaces per-query get_json_object
    re-parsing. At 100 TB a parsed variant column is stored once (shredded
    parquet) and every downstream path read skips JSON re-parsing; the
    oracle mirrors the extracted VALUES via DuckDB's JSON functions
    (the variant binary itself is engine-internal)."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    v = F.parse_json(F.col("props"))
    return e.select(
        "event_id",
        F.try_variant_get(v, "$.k", "long").alias("k_long"),
        F.try_variant_get(v, "$.k", "string").alias("k_string"),
        F.try_variant_get(v, "$.k", "long").isNotNull().alias("has_k"),
    )


@query(
    "sql_extrema_pack",
    oracle="""
    WITH k AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) * 1000000000
               + o_orderkey AS ordkey
      FROM orders)
    SELECT o_orderpriority,
           ARG_MAX(o_orderkey, ordkey) AS biggest_order,
           ARG_MIN(o_orderkey, ordkey) AS smallest_order,
           BOOL_AND(o_totalprice > 1000) AS all_over_1k,
           BOOL_OR(o_totalprice > 400000) AS any_over_400k,
           COUNT(*) AS n
    FROM k
    GROUP BY o_orderpriority
    """,
    tags=("agg", "relational", "extrema"),
)
def sql_extrema_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extrema/boolean aggregates: max_by / min_by (argmax-argmin — the
    'row that achieved the max' idiom that otherwise costs a window pass)
    and bool_and / bool_or. The ordering key is a composite integer so
    value ties break deterministically in both engines (DuckDB's arg_max
    has no struct-ordered overload)."""
    o = load(spark, sf_dir, "orders")
    # composite BIGINT ordering key: exact cents * 1e9 + orderkey — ties on
    # price break on orderkey; exact while cents*1e9 + key < 2^63 (holds
    # through the tested SFs; at larger key ranges widen to DECIMAL)
    ordkey = (
        F.round(F.col("o_totalprice") * 100, 0).cast("long") * F.lit(1_000_000_000)
        + F.col("o_orderkey")
    )
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", ordkey).alias("biggest_order"),
        F.min_by("o_orderkey", ordkey).alias("smallest_order"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "sql_grouping_id_rollup",
    oracle="""
    SELECT r_name, n_name,
           CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
           GROUPING(r_name) = 1 AS is_grand_total_level,
           COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg", "relational", "grouping"),
)
def sql_grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping_id() / grouping() over a ROLLUP — the level-discriminator
    columns BI layers key on to split subtotal rows from detail rows
    (bit layout identical across engines: last grouping column is the least
    significant bit)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping_id().cast("long").alias("gid"),
        (F.grouping("r_name") == 1).alias("is_grand_total_level"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@query(
    "sql_null_safe_join",
    oracle="""
    WITH k AS (SELECT n_nationkey, n_name, NULLIF(n_regionkey, 0) AS rk FROM nation)
    SELECT a.n_nationkey AS a_key, b.n_nationkey AS b_key,
           a.n_name AS a_name, b.n_name AS b_name,
           a.rk IS NULL AS joined_on_null
    FROM k a JOIN k b ON a.rk IS NOT DISTINCT FROM b.rk
    """,
    tags=("join", "relational", "null-semantics"),
)
def sql_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing — the semantics reconciliation joins
    need for optional dimension keys. Plain equality would silently drop
    every NULL-keyed row; the oracle pins the difference."""
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        F.nullif(F.col("n_regionkey"), F.lit(0)).alias("rk"),
    )
    a, b = n.alias("a"), n.alias("b")
    return a.join(b, F.col("a.rk").eqNullSafe(F.col("b.rk"))).select(
        F.col("a.n_nationkey").alias("a_key"),
        F.col("b.n_nationkey").alias("b_key"),
        F.col("a.n_name").alias("a_name"),
        F.col("b.n_name").alias("b_name"),
        F.col("a.rk").isNull().alias("joined_on_null"),
    )


@query(
    "sql_try_cast_pack",
    oracle="""
    SELECT doc_id,
           TRY_CAST(SPLIT_PART(text, ' ', 1) AS BIGINT) AS first_token_int,
           TRY_CAST(doc_id AS TINYINT) AS id_as_tinyint,
           TRY_CAST(lang AS DOUBLE) AS lang_as_double,
           CAST(doc_id AS DOUBLE) / NULLIF(doc_id % 3, 0) AS guarded_div
    FROM documents WHERE doc_id < 400
    """,
    tags=("relational", "function", "error-handling", "documents"),
)
def sql_try_cast_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe conversion surface under ANSI mode: try_cast returns NULL
    where CAST would raise (malformed ints, tinyint overflow), and
    try_divide NULLs division by zero — the ingestion-hardening semantics
    a permissive pipeline needs with ANSI enabled."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return d.select(
        "doc_id",
        F.split_part(F.col("text"), F.lit(" "), F.lit(1))
        .try_cast("bigint")
        .alias("first_token_int"),
        F.col("doc_id").try_cast("tinyint").alias("id_as_tinyint"),
        F.col("lang").try_cast("double").alias("lang_as_double"),
        F.try_divide(F.col("doc_id").cast("double"), F.col("doc_id") % 3).alias(
            "guarded_div"
        ),
    )


@query(
    "sql_bag_setops",
    oracle="""
    WITH big AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000),
    urgent AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'except_all' AS op, k FROM (SELECT k FROM big EXCEPT ALL SELECT k FROM urgent)
    UNION ALL
    SELECT 'intersect_all' AS op, k FROM (SELECT k FROM big INTERSECT ALL SELECT k FROM urgent)
    """,
    tags=("setop", "relational"),
)
def sql_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL): duplicate
    multiplicities subtract/intersect instead of collapsing — §2.7's
    DISTINCT variants (combine_*/set_*) cover the other half. A customer
    with 3 big orders and 1 urgent order keeps 2 rows in the except and 1
    in the intersect."""
    o = load(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("k")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    ex = big.exceptAll(urgent).select(F.lit("except_all").alias("op"), "k")
    inter = big.intersectAll(urgent).select(F.lit("intersect_all").alias("op"), "k")
    return ex.union(inter)


@query(
    "sql_string_agg",
    oracle="""
    WITH d AS (SELECT DISTINCT c_mktsegment, n_name
               FROM customer JOIN nation ON c_nationkey = n_nationkey)
    SELECT c_mktsegment,
           STRING_AGG(n_name, '|' ORDER BY n_name) AS nations,
           COUNT(n_name) AS n_nations
    FROM d GROUP BY c_mktsegment
    """,
    tags=("agg", "relational", "string-agg"),
)
def sql_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL:2023 LISTAGG ... WITHIN GROUP —
    Spark 4 syntax) over a pre-deduplicated (segment, nation) set — the
    report-friendly twin of collect_list+array_join with the ordering
    INSIDE the aggregate. Dedup-then-agg rather than DISTINCT-inside-agg:
    the partial-aggregatable shape at scale, and it sidesteps a Spark
    4.1.2 ClassCastException when listagg(DISTINCT) WITHIN GROUP is
    rewritten next to another distinct aggregate."""
    from projet_pipeline_bigdata_org_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH d AS (SELECT DISTINCT c_mktsegment, n_name
                   FROM customer JOIN nation ON c_nationkey = n_nationkey)
        SELECT c_mktsegment,
               listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name) AS nations,
               COUNT(n_name) AS n_nations
        FROM d GROUP BY c_mktsegment
        """
    )


@query(
    "sql_explode_outer",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_WS_TOKENS.format(c='text')} AS toks
               FROM documents WHERE doc_id < 100),
    sh AS (SELECT doc_id,
                  CASE WHEN LEN(toks) >= 2
                       THEN LIST_TRANSFORM(RANGE(1, LEN(toks)),
                                           i -> toks[i] || ' ' || toks[i+1])
                       ELSE [] END AS bigrams
           FROM t)
    SELECT doc_id,
           UNNEST(CASE WHEN LEN(bigrams) = 0 THEN [NULL] ELSE bigrams END) AS bigram,
           LEN(bigrams) = 0 AS was_empty
    FROM sh
    """,
    tags=("relational", "function", "explode", "documents"),
)
def sql_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer null-preservation semantics: documents whose bigram
    array is empty keep ONE null-extended row instead of vanishing — the
    difference that silently drops rows when a pipeline uses plain explode
    on sparse features (DuckDB lacks outer unnest; the oracle emulates it
    with a [NULL] substitution, which is exactly the semantics)."""
    from projet_pipeline_bigdata_org_spark.operators.textops import shingles

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = ws_tokens("text")
    bigrams = shingles(toks, 2)
    return d.select(
        "doc_id", F.explode_outer(bigrams).alias("bigram"),
        (F.size(bigrams) == 0).alias("was_empty"),
    )


# ---------------------------------------------------------------------------
# stratified sampling (LLM corpus mixing)
# ---------------------------------------------------------------------------

#: per-language sampling modulus — keep 1-in-m per stratum (corpus mixing:
#: upsample the head language, thin the tail). Deterministic on the key
#: residue for the same reasons as ``sample_systematic``.
STRATA_MOD: dict[str, int] = {"en": 2, "de": 5, "es": 5, "fr": 5, "zh": 10}
_STRATA_DEFAULT_MOD = 20

_STRATA_CASE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {m}" for k, m in STRATA_MOD.items())
    + f" ELSE {_STRATA_DEFAULT_MOD} END"
)


@query(
    "sample_stratified",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id, {_STRATA_CASE_SQL} AS m FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE doc_id % m = 0) AS n_sampled,
           CAST(SUM(CASE WHEN doc_id % m = 0 THEN m ELSE 0 END) AS BIGINT)
             AS ht_estimate
    FROM t
    GROUP BY lang
    """,
    tags=("llm", "sampling", "documents"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified keyed sampling with per-stratum rates (corpus mixing):
    keep 1-in-m documents per language on a stable key residue, plus the
    Horvitz-Thompson population estimate the kept rows imply. Deterministic
    across engines/retries (no RNG), the keep predicate is scan-pushable,
    and the same residue keeps joins between sampled tables consistent."""
    d = load(spark, sf_dir, "documents")
    m = F.lit(_STRATA_DEFAULT_MOD)
    for k, v in reversed(STRATA_MOD.items()):
        m = F.when(F.col("lang") == k, F.lit(v)).otherwise(m)
    t = d.select("lang", "doc_id", m.alias("m"))
    kept = F.col("doc_id") % F.col("m") == 0
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(kept, 1)).alias("n_sampled"),
        F.sum(F.when(kept, F.col("m")).otherwise(0)).cast("long").alias("ht_estimate"),
    )


# ---------------------------------------------------------------------------
# mergeable sketches & collation (Spark 3.5+/4 surfaces)
# ---------------------------------------------------------------------------

#: HLL register count (2^4 — register index is ONE hex char of the sha,
#: no modulo), rho ceiling for the all-zero slice, and alpha_16 * m^2 *
#: 1000 as an exact integer (0.673 * 256 * 1000): the numerator of the
#: milli-scaled raw HLL estimate
HLL_M = 16
HLL_RHO_SLICE_HEX = 12
HLL_RHO_CAP = 4 * HLL_RHO_SLICE_HEX + 1
HLL_ALPHA_M2_MILLI = 172_288
#: the full milli-scaled numerator alpha_16 * m^2 * 1000 * 2^50 as ONE
#: compile-time literal (~1.94e20 — beyond int64, so it rides as Spark's
#: DECIMAL literal / DuckDB's HUGEINT literal; the quotient against the
#: <= 16 * 2^50 harmonic sum is back inside BIGINT by construction)
HLL_EST_NUMERATOR = HLL_ALPHA_M2_MILLI << (HLL_RHO_CAP + 1)


def _hll_rho_sql(slice_expr: str) -> str:
    """DuckDB: 1 + leading-zero-bit count of a 12-hex-char uniform slice
    (rho of Flajolet et al.), capped at HLL_RHO_CAP for the all-zero
    slice. z counts whole leading zero NIBBLES via regexp; the first
    nonzero nibble contributes its 0-3 leading zero bits."""
    z = f"LENGTH(REGEXP_EXTRACT({slice_expr}, '^0*'))"
    v = f"CAST(('0x' || SUBSTR({slice_expr}, {z} + 1, 1)) AS BIGINT)"
    return (
        f"CASE WHEN {z} >= {HLL_RHO_SLICE_HEX} THEN {HLL_RHO_CAP} "
        f"ELSE 4 * {z} + CASE WHEN {v} >= 8 THEN 0 WHEN {v} >= 4 THEN 1 "
        f"WHEN {v} >= 2 THEN 2 ELSE 3 END + 1 END"
    )


def _hll_rho_col(slice_col: F.Column) -> F.Column:
    """Spark twin of :func:`_hll_rho_sql` (conv parses the hex nibble;
    the z >= 12 branch fires before conv ever sees an empty string)."""
    z = F.length(F.regexp_extract(slice_col, "^0*", 0))
    v = F.conv(F.substring(slice_col, z + 1, F.lit(1)), 16, 10).cast("long")
    nibble_lz = (
        F.when(v >= 8, 0).when(v >= 4, 1).when(v >= 2, 2).otherwise(3)
    )
    return F.when(z >= HLL_RHO_SLICE_HEX, HLL_RHO_CAP).otherwise(
        4 * z + nibble_lz + 1
    )


@query(
    "agg_hll_registers",
    oracle=f"""
    WITH toks AS (
      SELECT UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok FROM documents
    ), h AS (
      SELECT tok, SHA256(tok) AS sha FROM toks
    ), rho AS (
      SELECT CAST(('0x' || SUBSTR(sha, 1, 1)) AS BIGINT) AS register,
             {_hll_rho_sql(f"SUBSTR(sha, 2, {HLL_RHO_SLICE_HEX})")} AS rho
      FROM h
    ), agg AS (
      SELECT register, MAX(rho) AS max_rho FROM rho GROUP BY register
    ), regs AS (
      SELECT gs.i AS register FROM UNNEST(GENERATE_SERIES(0, {HLL_M - 1})) gs(i)
    ), full_regs AS (
      SELECT r.register, COALESCE(a.max_rho, 0) AS max_rho
      FROM regs r LEFT JOIN agg a USING (register)
    ), s AS (
      SELECT CAST(SUM(CAST(1 AS BIGINT) << ({HLL_RHO_CAP + 1} - max_rho))
                  AS BIGINT) AS sum_inv_scaled
      FROM full_regs
    ), e AS (
      SELECT COUNT(DISTINCT tok) AS exact_distinct FROM toks
    )
    SELECT CAST(f.register AS BIGINT) AS register,
           CAST(f.max_rho AS BIGINT) AS max_rho,
           s.sum_inv_scaled,
           CAST({HLL_EST_NUMERATOR} // s.sum_inv_scaled AS BIGINT)
             AS hll_estimate_milli,
           CAST(e.exact_distinct AS BIGINT) AS exact_distinct
    FROM full_regs f, s, e
    """,
    tags=("llm", "sketch", "documents"),
)
def agg_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with CERTIFIED arithmetic — the oracle-gated twin of
    the engine-side ``sketch_hll_distinct``: every register, the
    harmonic-mean fold, and the raw estimate are exact integers both
    engines rebuild bit-identically, so the driver certifies the sketch
    CONSTRUCTION, not just that some estimate came out.

    Construction (Flajolet et al. 2007): token -> sha256; register = the
    first hex nibble (m = 16, no modulo — the Bloom-slice discipline);
    rho = 1 + leading-zero-bit count of the next 12 hex chars, capped at
    49. The harmonic sum rides as sum(2^(50 - max_rho)) (BIGINT, largest
    term 2^50, max sum 16 * 2^50 ~ 1.8e16 << 2^63) and the raw estimate
    alpha_16 * m^2 / sum(2^-rho) is emitted milli-scaled as
    HLL_EST_NUMERATOR DIV sum — one integer division of a wide literal
    (DECIMAL in Spark, HUGEINT in DuckDB), identical truncation in both
    engines, quotient back inside BIGINT by construction. exact_distinct rides along as the certification
    yardstick (the test pins the estimate within HLL's published error
    envelope of it; a 100 TB deployment would drop that column).

    Scale shape: rho is a function of the token, so NO distinct
    pre-shuffle is needed — max(rho) over all occurrences equals max over
    distinct tokens, and the only full-stream operation is a partial-agg'd
    16-group groupBy (map-side combine reduces every partition to <= 16
    rows). The register table is 16 rows; dimension, fold, and yardstick
    join via broadcast. Output: exactly m rows."""
    toks = load(spark, sf_dir, "documents").select(
        F.explode(ws_tokens("text")).alias("tok")
    )
    sha = F.sha2(F.col("tok"), 256)
    rho = toks.select(
        F.conv(F.substring(sha, 1, 1), 16, 10).cast("long").alias("register"),
        _hll_rho_col(F.substring(sha, 2, HLL_RHO_SLICE_HEX)).alias("rho"),
    )
    agg = rho.groupBy("register").agg(F.max("rho").alias("max_rho"))
    regs = spark.range(HLL_M).select(F.col("id").alias("register"))
    full_regs = regs.join(F.broadcast(agg), "register", "left").select(
        "register", F.coalesce(F.col("max_rho"), F.lit(0)).alias("max_rho")
    )
    # harmonic fold as an unpartitioned window over the 16 register rows
    # (bounded by construction, the mix_temperature discipline) — folding
    # via a separate .agg() branch would recompute the whole token
    # explode+groupBy subtree a second time (review-caught double scan)
    term = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_RHO_CAP + 1} - max_rho AS INT))"
    )
    folded = full_regs.select(
        "register",
        F.col("max_rho").cast("long").alias("max_rho"),
        F.sum(term).over(W.partitionBy()).cast("long").alias("sum_inv_scaled"),
    ).select(
        "register",
        "max_rho",
        "sum_inv_scaled",
        F.expr(
            f"CAST({HLL_EST_NUMERATOR} div sum_inv_scaled AS BIGINT)"
        ).alias("hll_estimate_milli"),
    )
    e = toks.agg(F.count_distinct(F.col("tok")).cast("long").alias("exact_distinct"))
    return folded.crossJoin(F.broadcast(e))


#: KMV (k-minimum-values / bottom-k theta) sketch size, hash width, and
#: the (k-1) * 2^48 * 1000 estimator numerator (exact, < 2^63: 15 * 2^48
#: * 1000 ~ 4.2e18)
KMV_K = 16
KMV_HASH_HEX = 12
KMV_EST_NUMERATOR = (KMV_K - 1) * (1 << (4 * KMV_HASH_HEX)) * 1000

#: crafted low-vocabulary rider (the INCREMENTAL_NEARDUP_FIXTURE pattern):
#: a lang whose distinct-token count sits BELOW KMV_K, so the sketch's
#: exact small-set branch is certified at any SF alongside the estimator
#: branch the 31-token corpus vocabulary exercises
KMV_FIXTURE_ROWS: tuple[tuple[int, str, str], ...] = (
    (90_000_001, "kmv tiny vocab probe", "xs"),
    (90_000_002, "kmv tiny vocab again probe", "xs"),
)
_KMV_FIXTURE_SQL = " UNION ALL ".join(
    f"SELECT CAST({i} AS BIGINT) AS doc_id, '{t}' AS text, '{g}' AS lang"
    for i, t, g in KMV_FIXTURE_ROWS
)


@query(
    "agg_kmv_distinct",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL {_KMV_FIXTURE_SQL}
    ), tok_d AS (
      SELECT DISTINCT lang, UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok
      FROM docs
    ), both_scopes AS (
      SELECT lang, tok FROM tok_d
      UNION SELECT '__all__' AS lang, tok FROM tok_d
    ), dh AS (
      SELECT DISTINCT lang,
             CAST(('0x' || SUBSTR(SHA256(tok), 1, {KMV_HASH_HEX})) AS BIGINT)
               AS h
      FROM both_scopes
    ), ranked AS (
      SELECT lang, h,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
      FROM dh
    ), kept AS (
      SELECT lang, COUNT(*) AS n_kept, MAX(h) AS max_h
      FROM ranked WHERE rn <= {KMV_K} GROUP BY lang
    ), exact AS (
      SELECT lang, COUNT(*) AS exact_distinct FROM both_scopes GROUP BY lang
    )
    SELECT k.lang,
           CAST(k.n_kept AS BIGINT) AS n_kept,
           CAST(CASE WHEN k.n_kept = {KMV_K} THEN k.max_h END AS BIGINT)
             AS kth_min_h,
           CAST(CASE WHEN k.n_kept < {KMV_K} THEN k.n_kept * 1000
                     ELSE {KMV_EST_NUMERATOR} // k.max_h END AS BIGINT)
             AS kmv_estimate_milli,
           CAST(e.exact_distinct AS BIGINT) AS exact_distinct
    FROM kept k JOIN exact e USING (lang)
    """,
    tags=("llm", "sketch", "documents"),
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k theta sketch per language plus the merged corpus
    row — the third certified-arithmetic sketch next to
    ``agg_hll_registers`` and ``agg_countmin_terms``, and the one whose
    MERGE is trivially exact: the union of per-group bottom-k sets
    re-trimmed to k IS the bottom-k of the union (the '__all__' row is
    built exactly that way conceptually, and
    ``test_kmv_merge_of_group_sketches_equals_global`` pins it), which is
    what makes KMV the shard-then-merge distinct counter (and, unlike
    HLL, intersectable via inclusion-exclusion on thresholds).

    Construction (Bar-Yossef et al. 2002): token -> the first 12 hex
    chars of sha256 as a uniform 48-bit integer; keep the K smallest
    distinct values per scope; estimate = (K-1) * 2^48 / h_(K), emitted
    milli-scaled through one integer division of an exact < 2^63
    numerator. Scopes with fewer than K distinct hashes ARE the exact
    answer (n_kept * 1000) — the KMV_FIXTURE_ROWS rider certifies that
    branch at any SF while the corpus vocabulary exercises the estimator
    branch.

    Scale shape: one distinct on (scope, hash) — fixed-width keys — then
    a rank window that Spark's WindowGroupLimit rewrites into per-
    partition bottom-K BEFORE the exchange (plan-pinned), so the sort
    after the shuffle sees at most K rows per partition per scope, not
    the distinct stream. exact_distinct is the certification yardstick
    (dropped at 100 TB, as in the HLL twin)."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .unionByName(
            spark.createDataFrame(
                list(KMV_FIXTURE_ROWS), "doc_id long, text string, lang string"
            )
        )
    )
    tok_d = docs.select(
        "lang", F.explode(ws_tokens("text")).alias("tok")
    ).distinct()
    both_scopes = tok_d.unionByName(
        tok_d.select(F.lit("__all__").alias("lang"), "tok")
    ).distinct()
    kept = kmv_summarize(kmv_trim(both_scopes.select("lang", kmv_hash("tok"))))
    exact = both_scopes.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    return kept.join(F.broadcast(exact), "lang").select(
        "lang", "n_kept", "kth_min_h", "kmv_estimate_milli", "exact_distinct"
    )


def kmv_hash(tok_col: str | F.Column) -> F.Column:
    """The ONE 48-bit KMV hash definition (12 sha hex chars as BIGINT),
    shared by the batch query and the streaming KmvSketchSink so bits
    cannot drift between modes. Aliased ``h``."""
    c = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    return (
        F.conv(F.substring(F.sha2(c, 256), 1, KMV_HASH_HEX), 16, 10)
        .cast("long")
        .alias("h")
    )


def kmv_trim(scoped: DataFrame) -> DataFrame:
    """Bottom-KMV_K distinct hashes per ``lang`` scope — the sketch
    itself. Idempotent and associative under union-then-trim (the merge
    identity the tests pin), which is what makes it the cross-epoch
    streaming state. WindowGroupLimit turns the rank into per-partition
    bottom-K before the exchange (plan-pinned)."""
    ranked = scoped.distinct().select(
        "lang",
        "h",
        F.row_number().over(W.partitionBy("lang").orderBy("h")).alias("rn"),
    )
    return ranked.filter(F.col("rn") <= KMV_K).drop("rn")


def kmv_summarize(kept: DataFrame) -> DataFrame:
    """Per-scope sketch summary (n_kept, kth threshold, milli-scaled
    estimate) from trimmed (lang, h) rows — the shared estimator
    arithmetic of the batch query and the streaming sink."""
    agg = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("max_h")
    )
    est = F.when(
        F.col("n_kept") < KMV_K, F.col("n_kept") * 1000
    ).otherwise(F.expr(f"{KMV_EST_NUMERATOR} div max_h"))
    return agg.select(
        "lang",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.when(F.col("n_kept") == KMV_K, F.col("max_h"))
        .cast("long")
        .alias("kth_min_h"),
        est.cast("long").alias("kmv_estimate_milli"),
    )


@query(
    "sketch_hll_distinct",
    tags=("llm", "sketch", "documents", "no-oracle"),
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token cardinality via Apache DataSketches HLL: one sketch
    per language (partial aggregation, map-side combined), then the
    corpus-wide estimate from `hll_union_agg` over the per-language
    sketches — the mergeable-sketch discipline that replaces a full
    COUNT(DISTINCT) re-shuffle at 100 TB: sketches are ~KB-sized and
    re-aggregable across shards/days without touching raw data again.
    Rows-only (sketch binaries and estimates are engine-side; ±5% accuracy
    vs exact is asserted in tests)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(ws_tokens("text")).alias("tok"))
    per_lang = toks.groupBy("lang").agg(
        F.hll_sketch_agg("tok").alias("sk"), F.count(F.lit(1)).alias("n_tokens")
    )
    est = per_lang.select(
        "lang",
        "n_tokens",
        F.hll_sketch_estimate("sk").cast("long").alias("est_distinct_tokens"),
    )
    total = per_lang.agg(
        F.lit("__all__").alias("lang"),
        F.sum("n_tokens").alias("n_tokens"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias(
            "est_distinct_tokens"
        ),
    )
    return est.unionByName(total)


@query(
    "sql_collated_group",
    oracle="""
    WITH t AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN UPPER(c_mktsegment)
                  ELSE LOWER(c_mktsegment) END AS v,
             c_nationkey
      FROM customer
    )
    SELECT LOWER(v) AS segment,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT c_nationkey) AS n_nations
    FROM t
    GROUP BY LOWER(v)
    """,
    tags=("relational", "collation", "customer"),
)
def sql_collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 string collations: rows whose
    keys differ only by case fold into one group under UTF8_LCASE — the
    collation rides the grouping key natively (no LOWER() rewrite in the
    aggregation path). The emitted key is lowercased explicitly so output
    is deterministic; the oracle states the same semantics as GROUP BY
    LOWER(v). (ASCII corpus: LCASE collation and LOWER agree; locale-heavy
    text can diverge on e.g. dotted-I — the collation is the correct
    primitive there, which is why it, not the rewrite, is the operator.)"""
    c = load(spark, sf_dir, "customer")
    v = F.when(
        F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment")
    ).otherwise(F.lower("c_mktsegment"))
    t = c.select(v.alias("v"), "c_nationkey")
    return (
        t.groupBy(F.expr("v COLLATE UTF8_LCASE").alias("k"))
        .agg(
            F.min(F.lower("v")).alias("segment"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
        .select("segment", "n_rows", "n_nations")
    )


@query(
    "privacy_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey,
             c_mktsegment,
             c_custkey % 10 AS age_band,
             COUNT(*) AS grp_n
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, c_custkey % 10
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COUNT(*) FILTER (WHERE grp_n < 5) AS BIGINT) AS n_small_groups,
           CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
             AS n_rows_suppressed,
           CAST(MIN(grp_n) AS BIGINT) AS min_group_size
    FROM g
    """,
    tags=("llm", "privacy", "customer"),
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (nation, segment,
    age band): how many QI groups fall below k=5, and how many rows a
    suppress-small-groups release would drop. The partner operator to PII
    redaction in a privacy-preserving training-data pipeline: redaction
    removes direct identifiers, k-audit quantifies re-identification risk
    from the quasi-identifiers that remain. One groupBy + one scalar agg —
    partial-aggregates map-side at any scale."""
    c = load(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_custkey") % 10).alias("age_band"),
    ).agg(F.count(F.lit(1)).alias("grp_n"))
    small = F.col("grp_n") < 5
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(small, 1)).alias("n_small_groups"),
        F.sum(F.when(small, F.col("grp_n")).otherwise(0)).cast("long").alias(
            "n_rows_suppressed"
        ),
        F.min("grp_n").alias("min_group_size"),
    )


#: l-diversity floor: a QI group whose sensitive attribute shows fewer
#: distinct values than this is re-identifiable by attribute disclosure
L_DIVERSITY = 3


@query(
    "privacy_l_diversity",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, c_custkey % 10 AS age_band,
             COUNT(*) AS grp_n,
             COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT)) AS l_div
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, c_custkey % 10
    )
    SELECT COUNT(*) AS n_groups,
           COUNT(CASE WHEN l_div < {L_DIVERSITY} THEN 1 END) AS n_low_diversity,
           CAST(SUM(CASE WHEN l_div < {L_DIVERSITY} THEN grp_n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(MIN(l_div) AS BIGINT) AS min_diversity
    FROM g
    """,
    tags=("llm", "privacy", "customer"),
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's partner check: a QI group can be
    large (k-safe) yet still leak if everyone in it shares the same
    sensitive value. Counts QI groups whose sensitive attribute (account-
    balance band) shows < L distinct values, and the rows exposed to
    attribute disclosure. Same shape as privacy_k_anonymity: one groupBy
    with a distinct-count (partial-agg'd map-side) + one scalar rollup."""
    c = load(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_custkey") % 10).alias("age_band"),
    ).agg(
        F.count(F.lit(1)).alias("grp_n"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000).cast("long")
        ).alias("l_div"),
    )
    low = F.col("l_div") < L_DIVERSITY
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(low, 1)).alias("n_low_diversity"),
        F.sum(F.when(low, F.col("grp_n")).otherwise(0)).cast("long").alias(
            "n_rows_at_risk"
        ),
        F.min("l_div").alias("min_diversity"),
    )


#: two-sided-geometric (discrete Laplace) mechanism constants: the noise
#: distribution is P(k) ∝ DP_ALPHA^|k| with DP_ALPHA = 3/4, i.e. epsilon
#: = ln(4/3) per released count; support clamps at ±DP_CLAMP with the
#: tail mass folded into the extremes (documented utility tradeoff). The
#: inverse-CDF threshold table is computed in EXACT rational arithmetic
#: at import (Fractions -> floor-scaled to the coin range), so both
#: engines share identical integer thresholds — the _BOOT_THRESH
#: discipline, rational instead of float.
DP_ALPHA = (3, 4)
DP_CLAMP = 16
DP_EPS_MILLI = 288  # round(ln(4/3) * 1000)


def _dp_thresholds() -> tuple[tuple[int, int], ...]:
    from fractions import Fraction

    from projet_pipeline_bigdata_org_spark.functions.hashing import PRIME32

    a = Fraction(*DP_ALPHA)
    p0 = (1 - a) / (1 + a)
    cdf, out = Fraction(0), []
    for k in range(-DP_CLAMP, DP_CLAMP + 1):
        cdf += p0 * a ** abs(k)
        out.append((k, int(cdf * PRIME32)))
    # fold the clamped upper tail into +DP_CLAMP: the last threshold
    # becomes the full coin range so the CASE chain is total
    out[-1] = (DP_CLAMP, PRIME32)
    return tuple(out)


DP_THRESHOLDS = _dp_thresholds()


def dp_geometric_noise(coin) -> F.Column:
    """Two-sided-geometric noise from a uniform coin via the exact
    integer inverse-CDF table (smallest k with coin < T_k)."""
    expr = None
    for k, t in DP_THRESHOLDS:
        expr = (
            F.when(coin < F.lit(t), F.lit(k))
            if expr is None
            else expr.when(coin < F.lit(t), F.lit(k))
        )
    return expr.otherwise(F.lit(DP_CLAMP))


def _dp_noise_sql(coin: str) -> str:
    cases = " ".join(
        f"WHEN {coin} < {t} THEN ({k})" for k, t in DP_THRESHOLDS
    )
    return f"(CASE {cases} ELSE {DP_CLAMP} END)"


def _dp_counts_oracle() -> str:
    key_int = (
        "(CAST('0x' || SUBSTR(SHA256(CAST(c_nationkey AS VARCHAR)"
        " || '|' || c_mktsegment), 1, 8) AS BIGINT))"
    )
    coin = sql_hash_coin(key_int)
    return f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST({_dp_noise_sql(coin)} AS BIGINT) AS noise
      FROM customer
      GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
           n_rows, noise,
           GREATEST(CAST(0 AS BIGINT), n_rows + noise) AS noisy_count,
           CAST({DP_EPS_MILLI} AS BIGINT) AS eps_milli,
           TRUE AS certification_only
    FROM g
    """


@query(
    "privacy_dp_counts",
    oracle=_dp_counts_oracle(),
    tags=("llm", "privacy", "customer"),
)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release — the PUBLISHING member of
    the privacy family (k-anonymity and l-diversity AUDIT risk; this
    adds the calibrated noise a real release applies): per (nation,
    segment) counts plus two-sided-geometric noise (the discrete Laplace
    mechanism — Ghosh, Roughgarden & Sundararajan 2009 prove it
    universally utility-optimal for counts), epsilon = ln(4/3), support
    clamped at ±{DP_CLAMP} with the tail folded into the extremes,
    negative releases post-processed to 0 (both standard, both
    epsilon-free post-processing).

    Determinism-for-certification: production DP draws fresh randomness
    per release; HERE the noise coin is the portable hash_coin of the
    group key's sha-slice pushed through an inverse-CDF threshold table
    computed in EXACT rational arithmetic at import — so the oracle
    replays every noise draw bit-identically and the driver certifies
    the MECHANISM (thresholds, clamp, post-processing), which is exactly
    the part a DP bug silently corrupts. The true n_rows column rides
    along as certification evidence; a production release drops it (and
    seeds the coin from a secret salt, not the key alone). Because the
    deterministic coin provides NO actual privacy, the artifact itself
    says so: ``certification_only = TRUE`` travels in the schema so a
    downstream consumer cannot mistake this for a real DP release
    (ADVICE r12).

    Scale shape: one map-side-combined groupBy; the noise is a codegen'd
    CASE chain over the bounded group table. Output |nations x
    segments| rows."""
    c = load(spark, sf_dir, "customer")
    key_int = F.conv(
        F.substring(
            F.sha2(
                F.concat(
                    F.col("c_nationkey").cast("string"),
                    F.lit("|"),
                    F.col("c_mktsegment"),
                ),
                256,
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    noise = dp_geometric_noise(hash_coin(key_int)).cast("long")
    return g.select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "c_mktsegment",
        "n_rows",
        noise.alias("noise"),
        F.greatest(F.lit(0).cast("long"), F.col("n_rows") + noise).alias(
            "noisy_count"
        ),
        F.lit(DP_EPS_MILLI).cast("long").alias("eps_milli"),
        F.lit(True).alias("certification_only"),
    )


@query(
    "stat_exact_percentiles",
    oracle="""
    WITH t AS (
      SELECT o_orderpriority AS prio,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), c AS (
      SELECT *, CUME_DIST() OVER (PARTITION BY prio ORDER BY cents) AS cd
      FROM t
    )
    SELECT prio,
           COUNT(*) AS n_orders,
           CAST(MIN(CASE WHEN cd >= 0.25 THEN cents END) AS DOUBLE) / 100.0 AS p25,
           CAST(MIN(CASE WHEN cd >= 0.50 THEN cents END) AS DOUBLE) / 100.0 AS p50,
           CAST(MIN(CASE WHEN cd >= 0.75 THEN cents END) AS DOUBLE) / 100.0 AS p75,
           CAST(MIN(CASE WHEN cd >= 0.95 THEN cents END) AS DOUBLE) / 100.0 AS p95
    FROM c GROUP BY prio
    """,
    tags=("relational", "stats", "orders"),
)
def stat_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped percentiles (p25/p50/p75/p95) without an approx
    sketch, via the same compressed-distribution discipline as
    stat_winsorize: the raw table never enters a window. Rows compress to
    the distinct (prio, cents) -> count distribution; cume_dist is
    recovered exactly as running_count/total (the long/long->double
    division both engines use), and each percentile reduces to a
    conditional MIN in one per-prio aggregate. The oracle runs the
    textbook raw-row window form — agreement proves the compression is
    semantics-preserving. Window input is ~|distinct prices| rows, not the
    corpus; the pattern is the 100 TB answer to "exact p99 by group"."""
    o = load(spark, sf_dir, "orders")
    t = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    dist = t.groupBy("prio", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wo = (
        W.partitionBy("prio")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cd = (F.sum("cnt").over(wo) / F.sum("cnt").over(W.partitionBy("prio"))).alias("cd")
    c = dist.select("prio", "cents", "cnt", cd)

    def pctl(p: float, name: str):
        return (
            F.min(F.when(F.col("cd") >= p, F.col("cents"))).cast("double") / 100.0
        ).alias(name)

    return c.groupBy("prio").agg(
        F.sum("cnt").alias("n_orders"),
        pctl(0.25, "p25"),
        pctl(0.50, "p50"),
        pctl(0.75, "p75"),
        pctl(0.95, "p95"),
    )


@query(
    "sample_fixed_per_group",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             {sql_hash_coin("doc_id")} AS shuffle_key
      FROM documents
    ), r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY shuffle_key, doc_id) AS rn
      FROM h
    )
    SELECT doc_id, lang, CAST(shuffle_key AS BIGINT) AS shuffle_key,
           CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 20
    """,
    tags=("llm", "sampling", "documents"),
)
def sample_fixed_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sampling: exactly min(20, |group|) documents per
    language, chosen by a deterministic multiplicative-hash shuffle order
    (functions.hashing.hash_coin — wrap-free at any doc_id magnitude) —
    the bounded "give me K examples per stratum" primitive (eval set
    construction, few-shot pools). Per-group top-K plans as partial
    per-partition heaps below the rank shuffle, so no group ever
    materializes fully; every engine/retry picks the same rows."""
    d = load(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "lang",
        hash_coin("doc_id").alias("shuffle_key"),
    )
    w = W.partitionBy("lang").orderBy("shuffle_key", "doc_id")
    return (
        h.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang", F.col("shuffle_key").cast("long"), "rn")
    )


@query(
    "stat_winsorize",
    oracle="""
    WITH t AS (
      SELECT o_orderpriority AS prio,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), c AS (
      SELECT *, CUME_DIST() OVER (PARTITION BY prio ORDER BY cents) AS cd
      FROM t
    ), b AS (
      SELECT *,
             MIN(CASE WHEN cd >= 0.05 THEN cents END) OVER (PARTITION BY prio) AS lo,
             MIN(CASE WHEN cd >= 0.95 THEN cents END) OVER (PARTITION BY prio) AS hi
      FROM c
    )
    SELECT prio,
           COUNT(*) AS n_orders,
           CAST(lo AS DOUBLE) / 100.0 AS p05,
           CAST(hi AS DOUBLE) / 100.0 AS p95,
           CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) / 100.0 / COUNT(*)
             AS mean_raw,
           CAST(SUM(CAST(LEAST(GREATEST(cents, lo), hi) AS DECIMAL(38,0)))
                AS DOUBLE) / 100.0 / COUNT(*) AS mean_winsorized
    FROM b
    GROUP BY prio, lo, hi
    """,
    tags=("relational", "stats", "orders"),
)
def stat_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%/95%-clipped) means per order priority — the robust
    aggregate that tames heavy tails before averaging.

    Scale shape: the raw table NEVER enters a window. Rows first compress
    to the distinct ``(prio, cents) -> count`` distribution (bounded by the
    price domain, not the row count); cume_dist is recovered exactly as a
    running sum of counts over that compressed distribution, the 5%/95%
    thresholds reduce to a per-prio aggregate, and the bounded threshold
    table broadcast-joins back onto the distribution for the final
    count-weighted means. With 5 priority values, the naive plan
    (``W.partitionBy(prio)`` over raw orders) puts ~20% of the table in one
    task at any scale; this plan's window input is ~|distinct prices| rows.

    Exactness: cume_dist(x) == (#rows <= x)/total, reproduced as
    running/total in the SAME long/long->double division both engines use,
    so threshold selection is bit-identical to the oracle's window form.
    All money rides as exact integer cents; count-weighted DECIMAL(38,0)
    sums equal the oracle's row-level sums exactly, and both means go
    through one correctly-rounded double cast and a FIXED division tree
    (the integer-scaling parity rule, cf. stat_moments_pack)."""
    o = load(spark, sf_dir, "orders")
    t = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    # distinct-value compression: the only full-table pass, a partial-agg
    # groupBy; everything after runs on the bounded distribution
    dist = t.groupBy("prio", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wo = (
        W.partitionBy("prio")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cd = (F.sum("cnt").over(wo) / F.sum("cnt").over(W.partitionBy("prio"))).alias("cd")
    thresholds = (
        dist.select("prio", "cents", "cnt", cd)
        .groupBy("prio")
        .agg(
            F.min(F.when(F.col("cd") >= 0.05, F.col("cents"))).alias("lo"),
            F.min(F.when(F.col("cd") >= 0.95, F.col("cents"))).alias("hi"),
        )
    )
    D38 = T.DecimalType(38, 0)
    clipped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    n = F.sum("cnt")
    return (
        dist.join(F.broadcast(thresholds), "prio")
        .groupBy("prio", "lo", "hi")
        .agg(
            n.alias("n_orders"),
            (
                F.sum(F.col("cents").cast(D38) * F.col("cnt")).cast("double")
                / 100.0
                / n
            ).alias("mean_raw"),
            (
                F.sum(clipped.cast(D38) * F.col("cnt")).cast("double") / 100.0 / n
            ).alias("mean_winsorized"),
        )
        .select(
            "prio",
            "n_orders",
            (F.col("lo").cast("double") / 100.0).alias("p05"),
            (F.col("hi").cast("double") / 100.0).alias("p95"),
            "mean_raw",
            "mean_winsorized",
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch (point-frequency estimation under bounded memory)
# ---------------------------------------------------------------------------

#: sketch geometry: 4 hash rows x 256 buckets = 1024 counters total
CM_WIDTH = 256
#: per-row coefficients of the portable token hash
#: h_j = (a1*A + a2*B + len*C + a_last*D) mod CM_WIDTH over the first/second/
#: last codepoints — the same engine-portable feature family as
#: curation.qc_token_weight, four independent parameterizations
CM_ROW_PARAMS: tuple[tuple[int, int, int, int], ...] = (
    (31, 131, 7, 13),
    (53, 173, 11, 19),
    (97, 233, 17, 29),
    (151, 283, 23, 37),
)
#: probe terms whose true frequency the sketch is asked to estimate
CM_PROBE_TERMS: tuple[str, ...] = ("scan", "column", "window", "data", "zzznotaword")

def cm_token_features(
    t: F.Column,
) -> tuple[F.Column, F.Column, F.Column, F.Column]:
    """The ONE Spark-side definition of the portable token feature
    projection (first/second/last codepoint + length) shared by the
    count-min and Bloom sketches — the twin of _CM_FEATS_SQL; a change to
    either family member must land in both, and hoisting this to module
    scope means the two sketches cannot drift from each other."""
    return (
        F.ascii(t),
        F.ascii(F.substring(F.concat(t, F.lit("_")), 2, 1)),
        F.length(t),
        F.ascii(F.reverse(t)),
    )


def cm_buckets(t: F.Column) -> F.Column:
    """The ONE (row, bucket) fan-out definition: an array of
    ``CM_ROW_PARAMS``-many (j, bucket) structs per token, buckets from the
    portable feature projection. Shared by the batch sketch and the
    streaming ``CountMinSketchSink`` so counter addresses cannot drift
    between modes (the kmv_hash discipline)."""
    a1, a2, ln, al = cm_token_features(t)
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                ((a1 * a + a2 * b + ln * c + al * dd) % CM_WIDTH).alias("bucket"),
            )
            for j, (a, b, c, dd) in enumerate(CM_ROW_PARAMS)
        ]
    )


def cm_sketch_counters(toks: DataFrame) -> DataFrame:
    """Count-min counter table (j, bucket, c) from a ``tok`` stream — one
    explode to d pairs per token, partial-agg'd to <= d x w rows. Counters
    are exact BIGINTs, so sketches ADD across shards/epochs (the merge the
    streaming sink and any map-side combine rely on)."""
    return (
        toks.select(F.explode(cm_buckets(F.col("tok"))).alias("p"))
        .select("p.j", "p.bucket")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def cm_probe_estimates(spark: SparkSession, sketch: DataFrame) -> DataFrame:
    """Point-frequency estimates for CM_PROBE_TERMS against a counter
    table: MIN over the d per-row counters, absent buckets read 0."""
    probes = spark.createDataFrame([(t,) for t in CM_PROBE_TERMS], "term string")
    pb = probes.select("term", F.explode(cm_buckets(F.col("term"))).alias("p")).select(
        "term", "p.j", "p.bucket"
    )
    return (
        pb.join(sketch, ["j", "bucket"], "left")
        .groupBy("term")
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("cm_estimate")
        )
    )


_CM_FEATS_SQL = (
    "ASCII({t}) AS a1, ASCII(SUBSTR({t} || '_', 2, 1)) AS a2, "
    "LENGTH({t}) AS ln, ASCII(REVERSE({t})) AS al"
)
_CM_BUCKET_SQL = "((a1*{A} + a2*{B} + ln*{C} + al*{D}) % {W})"
_CM_PROBES_SQL = " UNION ALL ".join(
    f"SELECT '{t}' AS term" for t in CM_PROBE_TERMS
)


def _cm_pairs_sql(src: str) -> str:
    return " UNION ALL ".join(
        f"SELECT {key}, {j} AS j, "
        + _CM_BUCKET_SQL.format(A=a, B=b, C=c, D=d, W=CM_WIDTH)
        + f" AS bucket FROM {src}"
        for j, (a, b, c, d) in enumerate(CM_ROW_PARAMS)
        for key in (["tok"] if src == "f" else ["term"])
    )


@query(
    "agg_countmin_terms",
    oracle=f"""
    WITH toks AS (
      SELECT UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok FROM documents
    ), f AS (
      SELECT tok, {_CM_FEATS_SQL.format(t='tok')} FROM toks
    ), pairs AS (
      {_cm_pairs_sql('f')}
    ), sketch AS (
      SELECT j, bucket, COUNT(*) AS c FROM pairs GROUP BY j, bucket
    ), probes AS (
      {_CM_PROBES_SQL}
    ), pf AS (
      SELECT term, {_CM_FEATS_SQL.format(t='term')} FROM probes
    ), pb AS (
      {_cm_pairs_sql('pf')}
    ), est AS (
      SELECT pb.term, CAST(MIN(COALESCE(sketch.c, 0)) AS BIGINT) AS cm_estimate
      FROM pb LEFT JOIN sketch USING (j, bucket)
      GROUP BY pb.term
    ), tru AS (
      SELECT tok AS term, COUNT(*) AS true_count FROM toks
      WHERE tok IN ({', '.join("'" + t + "'" for t in CM_PROBE_TERMS)})
      GROUP BY tok
    )
    SELECT est.term,
           CAST(COALESCE(tru.true_count, 0) AS BIGINT) AS true_count,
           est.cm_estimate,
           CAST(est.cm_estimate - COALESCE(tru.true_count, 0) AS BIGINT)
             AS overcount
    FROM est LEFT JOIN tru USING (term)
    """,
    tags=("llm", "sketch", "documents"),
)
def agg_countmin_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream (Cormode &
    Muthukrishnan 2005): 4 hash rows x 256 buckets of exact integer
    counters, point-frequency estimates for a probe term set as the MIN
    across rows. The bounded-memory companion of sketch_hll_distinct —
    HLL answers "how many distinct", count-min answers "how often does
    THIS term occur" in O(d x w) memory regardless of corpus size, always
    overestimating (every probe's `overcount` >= 0 is the structural
    invariant, tested).

    The hash family is the engine-portable first/second/last-codepoint +
    length projection (shared feature shape with qc_token_weight; DuckDB
    has no xxhash64) under four parameterizations — bucket collisions are
    the sketch's design, the 4-row MIN is the correction. One honest
    caveat of the portable family: tokens sharing the FULL 4-feature
    projection collide in every row, which the MIN cannot correct
    (feature hashing's standard behavior; test-pinned). On a real cluster
    where cross-engine parity is not required, xxhash64 per row removes
    that class entirely — the sketch shape is unchanged.

    Scale shape: ONE token-stream pass fans out to 4 (row, bucket) pairs
    per token, partial-agg'd into the 1,024-counter sketch — the shuffle
    carries at most d x w rows after map-side combine at any corpus size;
    probes are a 5-row broadcast; true counts for the probe set ride a
    pushdown-filtered second pass (the certification comparison only — a
    production sketch never scans for truth)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(ws_tokens("text")).alias("tok"))
    est = cm_probe_estimates(spark, cm_sketch_counters(toks))
    tru = (
        toks.filter(F.col("tok").isin(list(CM_PROBE_TERMS)))
        .groupBy(F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return (
        est.join(tru, "term", "left")
        .select(
            "term",
            F.coalesce(F.col("true_count"), F.lit(0)).cast("long").alias("true_count"),
            "cm_estimate",
            (
                F.col("cm_estimate")
                - F.coalesce(F.col("true_count"), F.lit(0))
            ).cast("long").alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom filter (set membership under bounded memory) — completes the sketch
# trio: HLL answers "how many distinct", count-min "how often", Bloom
# "have we seen THIS" in O(bits) regardless of corpus size.
# ---------------------------------------------------------------------------

#: filter width in bits and hash-row count (same portable feature family
#: and row parameterizations as the count-min sketch)
BLOOM_BITS = 1024
#: membership probes: two corpus terms (must test present — a Bloom filter
#: has NO false negatives), one absent term, and one crafted
#: full-projection twin of 'scan' ('sczn' shares first/second/last/length)
#: that demonstrates the false-positive class deterministically
BLOOM_PROBE_TERMS: tuple[str, ...] = ("scan", "data", "zzznotaword", "sczn")

_BLOOM_POS_SQL = "((a1*{A} + a2*{B} + ln*{C} + al*{D}) % {W})"


def _bloom_pairs_sql(src: str, key: str) -> str:
    return " UNION ALL ".join(
        f"SELECT {key}, "
        + _BLOOM_POS_SQL.format(A=a, B=b, C=c, D=d, W=BLOOM_BITS)
        + f" AS pos FROM {src}"
        for a, b, c, d in CM_ROW_PARAMS
    )


@query(
    "agg_bloom_membership",
    oracle=f"""
    WITH toks AS (
      SELECT UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok FROM documents
    ), f AS (
      SELECT tok, {_CM_FEATS_SQL.format(t='tok')} FROM toks
    ), bloom AS (
      SELECT DISTINCT pos FROM ({_bloom_pairs_sql('f', 'tok')})
    ), probes AS (
      {" UNION ALL ".join(f"SELECT '{t}' AS term" for t in BLOOM_PROBE_TERMS)}
    ), pf AS (
      SELECT term, {_CM_FEATS_SQL.format(t='term')} FROM probes
    ), pb AS (
      {_bloom_pairs_sql('pf', 'term')}
    ), hits AS (
      SELECT pb.term,
             COUNT(*) AS n_positions,
             COUNT(bloom.pos) AS n_set
      FROM pb LEFT JOIN bloom USING (pos)
      GROUP BY pb.term
    ), tru AS (
      SELECT tok AS term, COUNT(*) AS n_occurrences FROM toks
      WHERE tok IN ({', '.join("'" + t + "'" for t in BLOOM_PROBE_TERMS)})
      GROUP BY tok
    )
    SELECT h.term,
           CAST(h.n_set AS BIGINT) AS n_set,
           CAST(h.n_positions AS BIGINT) AS n_positions,
           h.n_set = h.n_positions AS maybe_member,
           CAST(COALESCE(tru.n_occurrences, 0) AS BIGINT) AS true_count
    FROM hits h LEFT JOIN tru USING (term)
    """,
    tags=("llm", "sketch", "documents"),
)
def agg_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (Bloom 1970) over the corpus vocabulary:
    every token sets BLOOM_K=4 bit positions (the count-min hash family
    under the same four parameterizations, modulo BLOOM_BITS); a probe is
    `maybe_member` iff ALL its positions are set. The structural
    contract — no false negatives, false positives possible — is pinned
    by the probe set: two corpus terms (must report member), one absent
    term, and a crafted full-projection twin of a corpus term that
    demonstrates the false-positive class deterministically (it shares
    every feature the portable hash sees, so all four positions collide;
    with xxhash64 rows at cluster scale the deterministic twin class
    disappears and only random collisions remain).

    Scale shape: ONE token pass fans into 4 bit positions per token and
    collapses map-side to the <= BLOOM_BITS distinct set bits — the
    shuffle carries at most 1,024 rows at any corpus size; probes are a
    4-row broadcast; the truth column is the certification comparison
    only (a production filter never scans for truth)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(ws_tokens("text")).alias("tok"))

    def positions(t: F.Column) -> F.Column:
        a1, a2, ln, al = cm_token_features(t)
        return F.array(
            *[
                ((a1 * a + a2 * b + ln * c + al * dd) % BLOOM_BITS)
                for a, b, c, dd in CM_ROW_PARAMS
            ]
        )

    bloom = (
        toks.select(F.explode(positions(F.col("tok"))).alias("pos"))
        .distinct()
        .withColumn("is_set", F.lit(1))
    )
    probes = spark.createDataFrame([(t,) for t in BLOOM_PROBE_TERMS], "term string")
    pb = probes.select(
        "term", F.explode(positions(F.col("term"))).alias("pos")
    )
    hits = (
        pb.join(bloom, "pos", "left")
        .groupBy("term")
        .agg(
            F.count("is_set").cast("long").alias("n_set"),
            F.count(F.lit(1)).cast("long").alias("n_positions"),
        )
    )
    tru = (
        toks.filter(F.col("tok").isin(list(BLOOM_PROBE_TERMS)))
        .groupBy(F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        hits.join(tru, "term", "left")
        .select(
            "term",
            "n_set",
            "n_positions",
            (F.col("n_set") == F.col("n_positions")).alias("maybe_member"),
            F.coalesce(F.col("n_occurrences"), F.lit(0))
            .cast("long")
            .alias("true_count"),
        )
    )


# ---------------------------------------------------------------------------
# incremental aggregate maintenance (the materialized-view pattern: per-epoch
# partial states merged at read — the batch twin of the streaming sinks'
# cross-epoch stores, with the merge CERTIFIED against direct aggregation)
# ---------------------------------------------------------------------------


def rollup_epoch_partials(events: DataFrame) -> DataFrame:
    """Per-(epoch_week, event_type) partial aggregate states: count,
    exact-decimal sum, min, max. This is the table an incremental pipeline
    PERSISTS — a new epoch's arrival costs one partial-agg over that epoch
    alone, never a rescan of history (the dedup_incremental_* discipline
    applied to aggregation)."""
    return events.groupBy(
        F.date_trunc("week", F.col("ts")).alias("epoch_week"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("p_n"),
        F.sum(F.col("value").cast(T.DecimalType(18, 6))).alias("p_sum"),
        F.min("value").alias("p_min"),
        F.max("value").alias("p_max"),
    )


def rollup_merge(partials: DataFrame) -> DataFrame:
    """Merge partial states into the full per-type aggregate: counts and
    decimal sums add, min/max fold — every column is an algebraic
    aggregate, so merge(partials) == direct(stream) exactly (the identity
    the oracle gate certifies; avg derives at read as sum/count)."""
    return partials.groupBy("event_type").agg(
        F.sum("p_n").cast("long").alias("n_events"),
        F.sum("p_sum").cast("double").alias("total_value"),
        F.min("p_min").cast("double").alias("min_value"),
        F.max("p_max").cast("double").alias("max_value"),
        F.count(F.lit(1)).cast("long").alias("n_epochs"),
        (F.sum("p_sum").cast("double") / F.sum("p_n")).alias("avg_value"),
    )


@query(
    "agg_incremental_rollup",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value,
           CAST(COUNT(DISTINCT DATE_TRUNC('week', ts)) AS BIGINT) AS n_epochs,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS avg_value
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "incremental", "events"),
)
def agg_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintainable per-type event rollup: the stream folds
    to per-(week, type) PARTIAL states (``rollup_epoch_partials`` — the
    persisted table), which MERGE to the full aggregate at read
    (``rollup_merge``). The oracle computes the same aggregate DIRECTLY
    over the raw stream, so the driver gate is literally the
    partial-merge correctness proof — the property that lets a 100 TB
    pipeline maintain dashboards by aggregating only the newest epoch.

    Scale shape: epoch partials partial-agg map-side (the shuffle carries
    ≤ |weeks|×|types| rows per partition); the merge input IS that
    bounded table, so the second exchange moves O(calendar) rows, not
    O(stream). Exact decimal sums make the merge order-independent."""
    return rollup_merge(rollup_epoch_partials(load(spark, sf_dir, "events")))


# ---------------------------------------------------------------------------
# KMV theta-sketch set operations (the property the KMV docstring claims and
# HLL lacks: sketches INTERSECT via the common-hashes-below-theta estimator)
# ---------------------------------------------------------------------------

#: theta of an UNSATURATED sketch (the sketch holds the whole set, so the
#: "kept" region is the full 48-bit hash space)
THETA_FULL = 1 << (4 * KMV_HASH_HEX)
#: exact < 2^63 milli-scale numerator bound: 16 * 2^48 * 1000 ~ 4.5e18
_THETA_EST_SCALE = THETA_FULL * 1000

#: crafted partially-overlapping vocabularies (the KMV_FIXTURE_ROWS
#: discipline): the shared corpus vocabulary makes every real lang pair
#: near-identical, so these riders certify the interesting branches at any
#: SF — a saturated pair with true Jaccard 1/3 (xa/xb), a mixed
#: saturated/unsaturated pair (xa/xc), and an exact both-unsaturated pair
#: (xc/xd, intersection {tc03, tc04})
THETA_FIXTURE_ROWS: tuple[tuple[int, str, str], ...] = (
    (91_000_001, " ".join(f"ta{i:02d}" for i in range(1, 21)), "xa"),
    (91_000_002, " ".join(f"ta{i:02d}" for i in range(11, 31)), "xb"),
    (91_000_003, "ta01 ta02 tc03 tc04 tc05", "xc"),
    (91_000_004, "tc03 tc04 td05", "xd"),
)
_THETA_FIXTURE_SQL = " UNION ALL ".join(
    f"SELECT CAST({i} AS BIGINT) AS doc_id, '{t}' AS text, '{g}' AS lang"
    for i, t, g in THETA_FIXTURE_ROWS
)


@query(
    "agg_theta_setops",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL {_THETA_FIXTURE_SQL}
    ), tok_d AS (
      SELECT DISTINCT lang, UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok
      FROM docs
    ), dh AS (
      SELECT DISTINCT lang,
             CAST(('0x' || SUBSTR(SHA256(tok), 1, {KMV_HASH_HEX})) AS BIGINT)
               AS h
      FROM tok_d
    ), ranked AS (
      SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
      FROM dh
    ), sk AS (
      SELECT lang, h FROM ranked WHERE rn <= {KMV_K}
    ), summ AS (
      SELECT lang, COUNT(*) AS n_kept, MAX(h) AS max_h FROM sk GROUP BY lang
    ), pairs AS (
      SELECT a.lang AS la, b.lang AS lb,
             LEAST(CASE WHEN a.n_kept = {KMV_K} THEN a.max_h
                        ELSE {THETA_FULL} END,
                   CASE WHEN b.n_kept = {KMV_K} THEN b.max_h
                        ELSE {THETA_FULL} END) AS theta
      FROM summ a JOIN summ b ON a.lang < b.lang
    ), com AS (
      SELECT p.la, p.lb, COUNT(*) AS n_common
      FROM pairs p
      JOIN sk sa ON sa.lang = p.la AND sa.h < p.theta
      JOIN sk sb ON sb.lang = p.lb AND sb.h = sa.h
      GROUP BY p.la, p.lb
    ), abel AS (
      SELECT p.la, p.lb, COUNT(*) AS na_below
      FROM pairs p JOIN sk s ON s.lang = p.la AND s.h < p.theta
      GROUP BY p.la, p.lb
    ), bbel AS (
      SELECT p.la, p.lb, COUNT(*) AS nb_below
      FROM pairs p JOIN sk s ON s.lang = p.lb AND s.h < p.theta
      GROUP BY p.la, p.lb
    ), ex AS (
      SELECT p.la, p.lb, COUNT(*) AS exact_intersection
      FROM pairs p
      JOIN dh da ON da.lang = p.la
      JOIN dh db ON db.lang = p.lb AND db.h = da.h
      GROUP BY p.la, p.lb
    )
    SELECT p.la AS lang_a, p.lb AS lang_b,
           CAST(p.theta AS BIGINT) AS theta,
           CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
           CAST(COALESCE(a.na_below, 0) + COALESCE(b.nb_below, 0)
                - COALESCE(c.n_common, 0) AS BIGINT) AS n_union_below,
           CAST(CASE WHEN COALESCE(a.na_below, 0) + COALESCE(b.nb_below, 0)
                          - COALESCE(c.n_common, 0) = 0 THEN 0
                     ELSE COALESCE(c.n_common, 0) * 1000
                          // (COALESCE(a.na_below, 0) + COALESCE(b.nb_below, 0)
                              - COALESCE(c.n_common, 0)) END
                AS BIGINT) AS jaccard_milli,
           CAST(COALESCE(c.n_common, 0) * {_THETA_EST_SCALE} // p.theta
                AS BIGINT) AS inter_estimate_milli,
           CAST(COALESCE(e.exact_intersection, 0) AS BIGINT)
             AS exact_intersection
    FROM pairs p
    LEFT JOIN com c ON c.la = p.la AND c.lb = p.lb
    LEFT JOIN abel a ON a.la = p.la AND a.lb = p.lb
    LEFT JOIN bbel b ON b.la = p.la AND b.lb = p.lb
    LEFT JOIN ex e ON e.la = p.la AND e.lb = p.lb
    """,
    tags=("llm", "sketch", "documents"),
)
def agg_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations over per-language KMV sketches (Beyer
    et al. 2007): for every unordered lang pair, theta = min of the two
    sketch thresholds (an unsaturated sketch's theta is the full 2^48
    space — its kept set IS the set), the intersection estimate counts
    common kept hashes BELOW theta scaled by 2^48/theta (milli, one
    integer division), and Jaccard is common/union restricted to the
    same sub-theta region. When both sketches are unsaturated the
    'estimates' are exact — the xc/xd fixture pair certifies that branch
    while xa/xb exercises the saturated estimator. This is the
    set-operation capability HLL registers structurally lack (max(rho)
    destroys membership) and the reason shard-level corpus-overlap
    audits ship KMV/theta sketches.

    Scale shape: the only stream-sized work is the distinct (lang, hash)
    pass + the WindowGroupLimit bottom-K trim (shared shape with
    agg_kmv_distinct); everything after operates on <= |langs| x K kept
    rows with the |pairs|-row theta table broadcast. exact_intersection
    is the certification yardstick (a full hash-set self-join — dropped
    at 100 TB, as exact_distinct is for the HLL twin). Every unordered
    pair always emits a row: the below-theta and common counts attach by
    LEFT join with COALESCE(0) (an inner join would silently delete a
    pair whose one side keeps nothing below theta; review-caught), and a
    zero union reads as Jaccard 0, never a division error."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .unionByName(
            spark.createDataFrame(
                list(THETA_FIXTURE_ROWS),
                "doc_id long, text string, lang string",
            )
        )
    )
    tok_d = docs.select("lang", F.explode(ws_tokens("text")).alias("tok")).distinct()
    dh = tok_d.select("lang", kmv_hash("tok")).distinct()
    sk = kmv_trim(dh)
    summ = sk.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("max_h")
    )
    theta = F.when(F.col("n_kept") == KMV_K, F.col("max_h")).otherwise(
        F.lit(THETA_FULL)
    )
    a = summ.select(F.col("lang").alias("la"), theta.alias("ta"))
    b = summ.select(F.col("lang").alias("lb"), theta.alias("tb"))
    pairs = a.join(b, F.col("la") < F.col("lb")).select(
        "la", "lb", F.least("ta", "tb").alias("theta")
    )
    sa = sk.select(F.col("lang").alias("la"), "h")
    sb = sk.select(F.col("lang").alias("lb"), "h")
    com = (
        sa.join(sb, "h")
        .join(F.broadcast(pairs), ["la", "lb"])
        .filter(F.col("h") < F.col("theta"))
        .groupBy("la", "lb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    abel = (
        sa.join(F.broadcast(pairs), "la")
        .filter(F.col("h") < F.col("theta"))
        .groupBy("la", "lb")
        .agg(F.count(F.lit(1)).alias("na_below"))
    )
    bbel = (
        sb.join(F.broadcast(pairs), "lb")
        .filter(F.col("h") < F.col("theta"))
        .groupBy("la", "lb")
        .agg(F.count(F.lit(1)).alias("nb_below"))
    )
    da = dh.select(F.col("lang").alias("la"), "h")
    db = dh.select(F.col("lang").alias("lb"), "h")
    ex = (
        da.join(db, "h")
        .filter(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    n_common = F.coalesce(F.col("n_common"), F.lit(0))
    n_union_below = (
        F.coalesce(F.col("na_below"), F.lit(0))
        + F.coalesce(F.col("nb_below"), F.lit(0))
        - n_common
    )
    return (
        pairs.join(com, ["la", "lb"], "left")
        .join(abel, ["la", "lb"], "left")
        .join(bbel, ["la", "lb"], "left")
        .join(ex, ["la", "lb"], "left")
        .select(
            F.col("la").alias("lang_a"),
            F.col("lb").alias("lang_b"),
            F.col("theta").cast("long").alias("theta"),
            n_common.cast("long").alias("n_common"),
            n_union_below.cast("long").alias("n_union_below"),
            F.expr(
                "CAST(CASE WHEN coalesce(na_below, 0) + coalesce(nb_below, 0)"
                " - coalesce(n_common, 0) = 0 THEN 0"
                " ELSE coalesce(n_common, 0) * 1000 div"
                " (coalesce(na_below, 0) + coalesce(nb_below, 0)"
                " - coalesce(n_common, 0)) END AS BIGINT)"
            ).alias("jaccard_milli"),
            F.expr(
                f"CAST(coalesce(n_common, 0) * {_THETA_EST_SCALE} div theta "
                "AS BIGINT)"
            ).alias("inter_estimate_milli"),
            F.coalesce(F.col("exact_intersection"), F.lit(0))
            .cast("long")
            .alias("exact_intersection"),
        )
    )


# ---------------------------------------------------------------------------
# Heavy hitters (sketch-prefiltered frequent-term extraction): the count-min
# sketch made actionable — the two-pass production shape where the exact
# groupBy only ever sees occurrences the sketch already admitted
# ---------------------------------------------------------------------------

#: support threshold as a stream fraction: heavy <=> count * HH_K >= total
#: (phi = 1/HH_K of all token occurrences)
HH_K = 30


def hh_bucket_columns(t: F.Column) -> list[F.Column]:
    """Per-row count-min bucket ids as four COLUMNS (``b0``..``b3``) on one
    row — the no-explode twin of ``cm_buckets`` for probe-side plans that
    join each hash row's counter slice independently (the
    dedup_bloom_incremental probe shape). Same features, same parameters:
    addresses cannot drift from the sketch builder's."""
    a1, a2, ln, al = cm_token_features(t)
    return [
        ((a1 * a + a2 * b + ln * c + al * dd) % CM_WIDTH).alias(f"b{j}")
        for j, (a, b, c, dd) in enumerate(CM_ROW_PARAMS)
    ]


_HH_BUCKET_COLS_SQL = ", ".join(
    _CM_BUCKET_SQL.format(A=a, B=b, C=c, D=d, W=CM_WIDTH) + f" AS b{j}"
    for j, (a, b, c, d) in enumerate(CM_ROW_PARAMS)
)
_HH_EST_JOINS_SQL = " ".join(
    f"LEFT JOIN (SELECT bucket, c FROM sketch WHERE j = {j}) s{j} "
    f"ON fb.b{j} = s{j}.bucket"
    for j in range(len(CM_ROW_PARAMS))
)
_HH_EST_SQL = "LEAST(" + ", ".join(
    f"COALESCE(s{j}.c, 0)" for j in range(len(CM_ROW_PARAMS))
) + ")"


@query(
    "sketch_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT UNNEST({SQL_WS_TOKENS.format(c='text')}) AS tok FROM documents
    ), tot AS (
      SELECT COUNT(*) AS total_tokens FROM toks
    ), f AS (
      SELECT tok, {_CM_FEATS_SQL.format(t='tok')} FROM toks
    ), pairs AS (
      {_cm_pairs_sql('f')}
    ), sketch AS (
      SELECT j, bucket, COUNT(*) AS c FROM pairs GROUP BY j, bucket
    ), fb AS (
      SELECT tok, {_HH_BUCKET_COLS_SQL} FROM f
    ), est AS (
      SELECT fb.tok, {_HH_EST_SQL} AS e
      FROM fb {_HH_EST_JOINS_SQL}
    ), cand AS (
      SELECT tok, e FROM est, tot WHERE e * {HH_K} >= tot.total_tokens
    ), grp AS (
      SELECT tok AS term, COUNT(*) AS true_count, MIN(e) AS cm_estimate
      FROM cand GROUP BY tok
    )
    SELECT grp.term,
           CAST(grp.true_count AS BIGINT) AS true_count,
           CAST(grp.cm_estimate AS BIGINT) AS cm_estimate,
           CAST(tot.total_tokens AS BIGINT) AS total_tokens,
           grp.true_count * {HH_K} >= tot.total_tokens AS is_heavy
    FROM grp, tot
    """,
    tags=("llm", "sketch", "documents"),
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with a count-min admission filter (Cormode &
    Muthukrishnan 2005, the "point queries for frequent items" use): a
    term is heavy iff its count is at least 1/HH_K of all token
    occurrences. Pass 1 builds the 4x256 exact-counter sketch (shared
    ``cm_buckets`` definition — the streaming ``CountMinSketchSink``
    maintains the identical counters incrementally); pass 2 probes the
    sketch PER OCCURRENCE via four <=256-row broadcast joins (the
    dedup_bloom_incremental probe shape, one counter slice per hash row)
    and only occurrences whose estimate clears the threshold reach the
    exact groupBy. Because the estimate never undercounts, the candidate
    set provably contains every true heavy hitter (no false negatives);
    the exact confirm then splits candidates into ``is_heavy`` true/false
    — the false band is exactly the sketch's overcount class.

    Scale shape: the sketch shuffle is bounded by d x w counters at any
    corpus size; the probe side is four broadcast hash joins (map-side,
    zero exchange); the ONLY corpus-sized shuffle carries candidate
    occurrences — at phi = 1/{HH_K} that is at most ~{HH_K} distinct
    terms' worth of rows plus the overcount band, regardless of
    vocabulary size. A direct groupBy(term) would shuffle the full
    vocabulary; this plan's exact aggregation sees only what the sketch
    admitted. Threshold compare is division-free (count * HH_K vs total)
    on both engines. The exploded token stream is scope-persisted so the
    three branches that read it (sketch build, total count, probe) share
    ONE corpus materialization instead of three scans (r10 advice)."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    d = load(spark, sf_dir, "documents")
    toks = _persist_scoped(
        "hh_toks", d.select(F.explode(ws_tokens("text")).alias("tok"))
    )
    sketch = cm_sketch_counters(toks)
    total = toks.agg(F.count(F.lit(1)).cast("long").alias("total_tokens"))
    fb = toks.select("tok", *hh_bucket_columns(F.col("tok")))
    est = fb
    for j in range(len(CM_ROW_PARAMS)):
        slice_j = (
            sketch.filter(F.col("j") == j)
            .select(F.col("bucket").alias(f"b{j}"), F.col("c").alias(f"c{j}"))
        )
        est = est.join(F.broadcast(slice_j), f"b{j}", "left")
    e = F.least(
        *[F.coalesce(F.col(f"c{j}"), F.lit(0)) for j in range(len(CM_ROW_PARAMS))]
    )
    cand = (
        est.select("tok", e.alias("e"))
        .join(F.broadcast(total), how="cross")
        .filter(F.col("e") * HH_K >= F.col("total_tokens"))
    )
    return (
        cand.groupBy(F.col("tok").alias("term"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("true_count"),
            F.min("e").cast("long").alias("cm_estimate"),
            F.min("total_tokens").cast("long").alias("total_tokens"),
        )
        .select(
            "term",
            "true_count",
            "cm_estimate",
            "total_tokens",
            (F.col("true_count") * HH_K >= F.col("total_tokens")).alias("is_heavy"),
        )
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch (bounded-memory mergeable quantiles): the
# quantile member of the sketch family — HLL counts distincts, count-min
# counts frequencies, KMV intersects sets, this one locates ranks
# ---------------------------------------------------------------------------

#: equi-width bucket size in cents (2^18 ~ $2,621): the sketch's whole
#: memory is range/HQ_WIDTH counters, and its rank error is bounded by the
#: largest single bucket's population
HQ_WIDTH = 262_144
#: percentiles the sketch is asked to locate (integer percents)
HQ_PERCENTS: tuple[int, ...] = (1, 5, 25, 50, 75, 95, 99)


def hq_histogram(cents: DataFrame) -> DataFrame:
    """Equi-width counter table (bucket, cnt) from a cents column — ONE
    partial-agg'd pass; counters are exact BIGINTs so histograms ADD
    across shards/epochs (the cm_sketch_counters merge discipline applied
    to quantiles; test-pinned merge identity)."""
    return (
        cents.select(F.expr(f"cents div {HQ_WIDTH}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _hq_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order totals as exact integer cents — the sketch's input column."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )


def hq_quantile_estimates(cents: DataFrame) -> DataFrame:
    """PRODUCTION quantile path — sketch-only, no value-level pass: ONE
    partial-agg'd histogram build (shuffle bounded by range/HQ_WIDTH
    counters, not rows), cumulative window + integer linear interpolation
    over the bounded histogram (the agg_hll_registers 16-register
    discipline), targets on a 7-row broadcast. Like the count-min
    counters, histograms ADD across shards and epochs, so a cluster
    maintains one per partition/day and merges at read (merge identity
    test-pinned). Returns (q, t, n, est_cents)."""
    hist = hq_histogram(cents)
    w_all = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(w_all).alias("cum"),
        (F.sum("cnt").over(w_all) - F.col("cnt")).alias("cum_before"),
        F.sum("cnt").over(W.partitionBy()).alias("n"),
    )
    targets = (
        cents.sparkSession.createDataFrame([(q,) for q in HQ_PERCENTS], "q int")
        .join(F.broadcast(hist.agg(F.sum("cnt").cast("long").alias("_n"))), how="cross")
        .select("q", F.expr("(q * _n + 99) div 100").alias("t"))
    )
    return (
        F.broadcast(targets)
        .join(
            cum,
            (F.col("cum") >= F.col("t")) & (F.col("cum_before") < F.col("t")),
        )
        .select(
            "q",
            "t",
            "n",
            (
                F.col("bucket") * HQ_WIDTH
                + F.expr(f"((t - cum_before) * {HQ_WIDTH}) div cnt")
            ).alias("est_cents"),
        )
    )


@query(
    "stat_histogram_quantiles",
    oracle=f"""
    WITH c AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ), hist AS (
      SELECT cents // {HQ_WIDTH} AS bucket, COUNT(*) AS cnt
      FROM c GROUP BY bucket
    ), cum AS (
      SELECT bucket, cnt,
             SUM(cnt) OVER (ORDER BY bucket) AS cum,
             SUM(cnt) OVER (ORDER BY bucket) - cnt AS cum_before,
             SUM(cnt) OVER () AS n
      FROM hist
    ), targets AS (
      SELECT q, (q * (SELECT SUM(cnt) FROM hist) + 99) // 100 AS t
      FROM (SELECT UNNEST(ARRAY{list(HQ_PERCENTS)}) AS q)
    ), est AS (
      SELECT targets.q, targets.t, cum.n,
             cum.bucket * {HQ_WIDTH}
               + ((targets.t - cum.cum_before) * {HQ_WIDTH}) // cum.cnt
               AS est_cents
      FROM targets JOIN cum
        ON cum.cum >= targets.t AND cum.cum_before < targets.t
    ), vcum AS (
      SELECT cents,
             SUM(cnt) OVER (ORDER BY cents) AS cum
      FROM (SELECT cents, COUNT(*) AS cnt FROM c GROUP BY cents)
    ), exact AS (
      SELECT targets.q, MIN(vcum.cents) AS exact_cents
      FROM targets JOIN vcum ON vcum.cum >= targets.t
      GROUP BY targets.q
    )
    SELECT est.q,
           CAST(est.t AS BIGINT) AS target_rank,
           CAST(est.n AS BIGINT) AS n,
           CAST(est.est_cents AS DOUBLE) / 100.0 AS est_price,
           CAST(exact.exact_cents AS DOUBLE) / 100.0 AS exact_price,
           CAST(est.est_cents - exact.exact_cents AS BIGINT) AS err_cents
    FROM est JOIN exact ON est.q = exact.q
    """,
    tags=("sketch", "orders"),
)
def stat_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CERTIFICATION query for the equi-width histogram quantile sketch:
    the production estimator (:func:`hq_quantile_estimates`, sketch-only,
    shuffle bounded by bucket count) joined against a value-level exact
    twin whose only purpose is to let the driver gate measure the
    sketch's error row-for-row. The exact twin's cumulative window over
    all distinct cent values is certification-only (r10 advice: it would
    funnel every distinct value through one partition at scale) —
    production callers use :func:`hq_quantile_estimates` directly and
    never build it; this registered query is the gate artifact, run at
    test SFs where the distinct-value pass is trivially bounded.

    The estimate's structural guarantee: the containing bucket covers the
    target rank, and the exact value lies in the same bucket, so
    |err_cents| <= HQ_WIDTH always (test-pinned). The known-range
    equi-width tradeoff vs GK/KLL is deliberate: monetary columns have
    operator-known ranges, and the fixed grid is what makes the sketch
    partition-invariant and engine-portable (a rank-adaptive compactor
    depends on arrival order)."""
    cents = _hq_cents(spark, sf_dir)
    est = hq_quantile_estimates(cents)
    vcum = (
        cents.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("long").alias("vcnt"))
        .select(
            "cents",
            F.sum("vcnt").over(W.orderBy("cents").rowsBetween(
                W.unboundedPreceding, W.currentRow)).alias("vc"),
        )
    )
    exact = (
        F.broadcast(est.select("q", "t"))
        .join(vcum, F.col("vc") >= F.col("t"))
        .groupBy("q")
        .agg(F.min("cents").alias("exact_cents"))
    )
    return (
        est.join(exact, "q")
        .select(
            "q",
            F.col("t").cast("long").alias("target_rank"),
            F.col("n").cast("long").alias("n"),
            (F.col("est_cents").cast("double") / 100.0).alias("est_price"),
            (F.col("exact_cents").cast("double") / 100.0).alias("exact_price"),
            (F.col("est_cents") - F.col("exact_cents")).cast("long").alias("err_cents"),
        )
    )


# ---------------------------------------------------------------------------
# shuffle-skew audit — the "why is my join slow" diagnostic
# ---------------------------------------------------------------------------

#: partitions the audit simulates (one hex nibble of the key's sha —
#: engine-portable bucket addressing, no modulo, no engine hash)
SKEW_PARTITIONS = 16
#: heavy keys reported
SKEW_TOP_KEYS = 5

_SKEW_HEX = "0123456789abcdef"


def skew_bucket(key_str: F.Column) -> F.Column:
    """Partition id 0..15 from the first sha256 hex nibble — the same
    portable-addressing discipline as the Bloom/count-min operators
    (STRPOS over a hex alphabet, identical in both engines)."""
    return (
        F.instr(F.lit(_SKEW_HEX), F.substring(F.sha2(key_str, 256), 1, 1)) - 1
    ).cast("long")


@query(
    "agg_shuffle_skew_audit",
    oracle=f"""
    WITH k AS (
      SELECT COALESCE(CAST(user_id AS VARCHAR), '<null>') AS key,
             COUNT(*) AS cnt
      FROM events GROUP BY COALESCE(CAST(user_id AS VARCHAR), '<null>')
    ), tot AS (
      SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM k
    ), b AS (
      SELECT STRPOS('{_SKEW_HEX}', SUBSTR(SHA256(key), 1, 1)) - 1 AS bucket,
             COUNT(*) AS n_keys, SUM(cnt) AS n_rows
      FROM k GROUP BY 1
    ), parts AS (
      SELECT 'partition' AS section,
             CAST(b.bucket AS VARCHAR) AS item,
             CAST(b.n_rows AS BIGINT) AS n_rows,
             CAST(b.n_keys AS BIGINT) AS n_keys,
             CAST(b.n_rows * 1000 // tot.total AS BIGINT) AS share_milli
      FROM b, tot
    ), heavy AS (
      SELECT 'heavy_key' AS section, key AS item,
             CAST(cnt AS BIGINT) AS n_rows,
             CAST(1 AS BIGINT) AS n_keys,
             CAST(cnt * 1000 // tot.total AS BIGINT) AS share_milli
      FROM (SELECT key, cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rn
            FROM k) t, tot
      WHERE rn <= {SKEW_TOP_KEYS}
    ), summary AS (
      SELECT 'summary' AS section,
             'max_partition_vs_ideal' AS item,
             CAST(MAX(b.n_rows) AS BIGINT) AS n_rows,
             CAST(MAX(tot.n_keys) AS BIGINT) AS n_keys,
             CAST(MAX(b.n_rows) * {SKEW_PARTITIONS} * 1000
                  // MAX(tot.total) AS BIGINT) AS share_milli
      FROM b, tot
    )
    SELECT * FROM parts
    UNION ALL SELECT * FROM heavy
    UNION ALL SELECT * FROM summary
    """,
    tags=("agg", "diagnostics", "events"),
)
def agg_shuffle_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic for a prospective join/aggregation key —
    the audit run BEFORE picking a partitioning at 100 TB (is this key
    broadcastable? saltable? does one tenant own half the stream?):
    simulates a {SKEW_PARTITIONS}-way hash partitioning of events by
    user_id and reports (a) per-partition row/key loads with milli
    shares, (b) the top {SKEW_TOP_KEYS} heavy keys — the salting
    candidates, and (c) the max-partition-vs-ideal milli ratio (1000 =
    perfectly balanced; the straggler factor AQE's skew-join would have
    to absorb).

    Partition addressing is the first sha256 nibble via a hex-alphabet
    STRPOS (the Bloom/count-min portable-addressing discipline) — NOT
    the engine's hash, which neither matches across engines nor is
    documented stable across versions; for load-balance measurement any
    uniform hash is equivalent. NULL keys collapse to the '<null>'
    token (a real skew source worth seeing, not dropping).

    Scale shape: the per-key count is the one stream-sized op
    (map-side-combined groupBy); everything after runs on the key table
    — partitions fold to {SKEW_PARTITIONS} rows, the heavy-key rank is
    WindowGroupLimit-rewritten to per-partition top-{SKEW_TOP_KEYS},
    totals ride broadcasts. Output is {SKEW_PARTITIONS}+{SKEW_TOP_KEYS}+1
    rows at any corpus size."""
    e = load(spark, sf_dir, "events")
    k = (
        e.select(
            F.coalesce(F.col("user_id").cast("string"), F.lit("<null>")).alias(
                "key"
            )
        )
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    k = _persist_scoped("skew_keys", k)
    tot = F.broadcast(
        k.agg(
            F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("total_keys")
        )
    )
    b = (
        k.groupBy(skew_bucket(F.col("key")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("bn_keys"), F.sum("cnt").alias("bn_rows"))
    )
    parts = b.join(tot, how="cross").select(
        F.lit("partition").alias("section"),
        F.col("bucket").cast("string").alias("item"),
        F.col("bn_rows").cast("long").alias("n_rows"),
        F.col("bn_keys").cast("long").alias("n_keys"),
        F.expr("CAST(bn_rows * 1000 div total AS BIGINT)").alias("share_milli"),
    )
    rn = F.row_number().over(W.orderBy(F.col("cnt").desc(), "key"))
    heavy = (
        k.withColumn("rn", rn)
        .filter(F.col("rn") <= SKEW_TOP_KEYS)
        .join(tot, how="cross")
        .select(
            F.lit("heavy_key").alias("section"),
            F.col("key").alias("item"),
            F.col("cnt").cast("long").alias("n_rows"),
            F.lit(1).cast("long").alias("n_keys"),
            F.expr("CAST(cnt * 1000 div total AS BIGINT)").alias("share_milli"),
        )
    )
    summary = (
        b.agg(F.max("bn_rows").alias("max_rows"))
        .join(tot, how="cross")
        .select(
            F.lit("summary").alias("section"),
            F.lit("max_partition_vs_ideal").alias("item"),
            F.col("max_rows").cast("long").alias("n_rows"),
            F.col("total_keys").cast("long").alias("n_keys"),
            F.expr(
                f"CAST(max_rows * {SKEW_PARTITIONS} * 1000 div total AS BIGINT)"
            ).alias("share_milli"),
        )
    )
    return parts.unionByName(heavy).unionByName(summary)


# ---------------------------------------------------------------------------
# Simpson diversity of the training mixture — log-free concentration index
# ---------------------------------------------------------------------------


@query(
    "agg_simpson_diversity",
    oracle="""
    WITH g AS (
      SELECT dim, grp, cnt FROM (
        SELECT 'lang' AS dim, COALESCE(lang, '<null>') AS grp,
               COUNT(*) AS cnt
        FROM documents GROUP BY 2
        UNION ALL
        SELECT 'source' AS dim, COALESCE(source, '<null>') AS grp,
               COUNT(*) AS cnt
        FROM documents GROUP BY 2
        UNION ALL
        SELECT 'lang_x_source' AS dim,
               COALESCE(lang, '<null>') || '|' || COALESCE(source, '<null>'),
               COUNT(*)
        FROM documents GROUP BY 2)
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           CAST(MAX(cnt) AS BIGINT) AS max_group,
           CASE WHEN SUM(cnt) > 1 THEN
             CAST(SUM(CAST(cnt AS HUGEINT) * (cnt - 1)) * 1000
                  // (CAST(SUM(cnt) AS HUGEINT) * (SUM(cnt) - 1)) AS BIGINT)
           END AS simpson_milli,
           CAST(MAX(cnt) * 1000 // SUM(cnt) AS BIGINT)
             AS berger_parker_milli
    FROM g GROUP BY dim
    """,
    tags=("llm", "agg", "curation", "documents"),
)
def agg_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration/diversity audit of the training mixture along its
    lang, source, and joint dimensions — the balance check run before
    fixing mixture weights (a corpus where one source owns 90% of
    documents trains a different model than its doc count suggests).
    Two LOG-FREE indices, chosen precisely because Shannon entropy's
    transcendental log is not bit-reproducible across engines:
    Simpson's index Σ n_i(n_i−1) / (N(N−1)) — the probability two
    random documents share a group, 0 = perfectly diverse, 1000 milli =
    monoculture — and Berger-Parker max n_i/N (the dominance of the
    single largest group). Both are exact integer rationals under
    truncating division, with the pair counts folded through
    DECIMAL(38,0)/HUGEINT (n_i² wraps int64 past ~3e9 docs per group);
    NULL groups collapse to a visible '<null>' token rather than
    vanishing.

    Scale shape: three map-side-combined groupBys over the corpus fold
    to group tables bounded by |langs|, |sources|, and their product;
    the index aggregation runs on those bounded tables. Output is 3
    rows."""
    d = load(spark, sf_dir, "documents")
    lang = F.coalesce(F.col("lang"), F.lit("<null>"))
    source = F.coalesce(F.col("source"), F.lit("<null>"))
    dims = [
        ("lang", lang),
        ("source", source),
        ("lang_x_source", F.concat(lang, F.lit("|"), source)),
    ]
    parts = None
    for name, expr in dims:
        p = d.groupBy(expr.alias("grp")).agg(F.count(F.lit(1)).alias("cnt")).select(
            F.lit(name).alias("dim"), "grp", "cnt"
        )
        parts = p if parts is None else parts.unionByName(p)
    return (
        parts.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("cnt").cast("long").alias("n_docs"),
            F.max("cnt").cast("long").alias("max_group"),
            F.sum(
                F.col("cnt").cast("decimal(19,0)") * (F.col("cnt") - 1)
            )
            .cast("decimal(38,0)")
            .alias("_pairs"),
        )
        .select(
            "dim",
            "n_groups",
            "n_docs",
            "max_group",
            # n_docs <= 1 zeroes the denominator: Spark's integral div
            # returns NULL but DuckDB's // raises, so both sides guard the
            # degenerate corpus with the same CASE (ADVICE r11)
            F.expr(
                "CASE WHEN n_docs > 1 THEN"
                " CAST(_pairs * 1000 div (CAST(n_docs AS DECIMAL(19,0))"
                " * (n_docs - 1)) AS BIGINT) END"
            ).alias("simpson_milli"),
            F.expr("CAST(max_group * 1000 div n_docs AS BIGINT)").alias(
                "berger_parker_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals — error bars without resampling scans
# ---------------------------------------------------------------------------

#: bootstrap resamples (one weight column each, single corpus pass)
BOOT_B = 32
#: per-(row, resample) coin mixing constant
_BOOT_MIX = 7919

#: inverse-CDF thresholds of Poisson(1) scaled to the coin range [0, P):
#: weight k iff t_{k-1} <= coin < t_k (cap at 6; tail mass ~8e-5)
import math as _math

from projet_pipeline_bigdata_org_spark.functions.hashing import PRIME32 as _P32

_BOOT_THRESH: tuple[int, ...] = tuple(
    int(round(sum(_math.exp(-1) / _math.factorial(i) for i in range(k + 1)) * _P32))
    for k in range(6)
)


def _boot_weight_sql(coin: str) -> str:
    cases = " ".join(
        f"WHEN {coin} < {t} THEN {k}" for k, t in enumerate(_BOOT_THRESH)
    )
    return f"(CASE {cases} ELSE 6 END)"


def boot_weight(coin) -> F.Column:
    """Pseudo-Poisson(1) weight from a uniform coin — the fixed integer
    threshold table both engines share."""
    expr = None
    for k, t in enumerate(_BOOT_THRESH):
        expr = (
            F.when(coin < F.lit(t), F.lit(k))
            if expr is None
            else expr.when(coin < F.lit(t), F.lit(k))
        )
    return expr.otherwise(F.lit(6))


def _boot_oracle() -> str:
    from projet_pipeline_bigdata_org_spark.operators.outliers import (
        SQL_CLAMPED_CENTS,
    )

    coin = sql_hash_coin(f"({sql_hash_coin('event_id')} + b * {_BOOT_MIX})")
    return _BOOT_ORACLE_TEMPLATE.format(clamped=SQL_CLAMPED_CENTS, coin=coin)


_BOOT_ORACLE_TEMPLATE = f"""
    WITH e AS (
      SELECT event_id, event_type,
             COALESCE({{clamped}}, 0) AS cents
      FROM events
    ), w AS (
      SELECT event_type, b,
             {_boot_weight_sql('c2')} AS w, cents
      FROM (
        SELECT event_type, cents, b,
               {{coin}} AS c2
        FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {BOOT_B - 1})) AS b) bs
      ) t
    ), means AS (
      SELECT event_type, b,
             CAST(SUM(CAST(w AS HUGEINT) * cents) AS BIGINT) AS s_b,
             CAST(SUM(w) AS BIGINT) AS n_b,
             CAST(SUM(CAST(w AS HUGEINT) * cents) AS DOUBLE)
               / CAST(SUM(w) AS DOUBLE) AS mean_b
      FROM w GROUP BY event_type, b
    ), ranked AS (
      SELECT event_type, mean_b,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY mean_b, b) AS rn
      FROM means
      WHERE n_b > 0
    ), full_m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) / COUNT(*)
               AS mean_cents
      FROM e GROUP BY event_type
    )
    SELECT f.event_type, f.n_events, f.mean_cents,
           MIN(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
           MIN(CASE WHEN rn = {BOOT_B - 1} THEN mean_b END) AS ci_hi
    FROM full_m f JOIN ranked r ON r.event_type = f.event_type
    GROUP BY f.event_type, f.n_events, f.mean_cents
    """


@query(
    "agg_bootstrap_ci",
    oracle=_boot_oracle(),
    tags=("agg", "statistics", "events"),
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-type mean event
    value (in cents) — the error bars a metrics pipeline should publish
    beside every mean, computed the way a DISTRIBUTED bootstrap must be
    (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    Google 2012): classical resampling-with-replacement needs the full
    sample per resample (impossible at scale), the Poisson bootstrap
    gives each row an independent Poisson(1) multiplicity PER RESAMPLE —
    one corpus pass computes all {BOOT_B} resampled means.

    Determinism: the Poisson draw is the portable hash_coin over
    (event, resample) pushed through a fixed integer inverse-CDF
    threshold table (weights 0..6, tail mass ~8e-5 folded into 6) — no
    rand(), so every engine/retry/partitioning produces the identical
    resample weights, and the whole statistic is oracle-checkable.
    Resample sums fold exactly (wide integers); each mean is one
    long/long double division; the interval is the (2/{BOOT_B},
    {BOOT_B - 1}/{BOOT_B}) order statistics of the {BOOT_B} means with
    a deterministic resample-id tie-break.

    Scale shape: the explode is x{BOOT_B} on the event stream but folds
    immediately in a map-side-combined groupBy (shuffle = types x
    {BOOT_B} partials, not rows); the rank runs over {BOOT_B} rows per
    type. NULL readings carry zero cents (present in n_events, inert in
    the mean — matching the full-mean denominator)."""
    from projet_pipeline_bigdata_org_spark.operators.outliers import clamped_cents

    e = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.coalesce(clamped_cents(), F.lit(0)).alias("cents"),
    )
    bs = F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b")
    coin = hash_coin(hash_coin(F.col("event_id")) + F.col("b") * _BOOT_MIX)
    w = e.select("event_id", "event_type", "cents", bs).select(
        "event_type", "cents", "b", boot_weight(coin).alias("w")
    )
    means = (
        w.groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w").cast("decimal(19,0)") * F.col("cents"))
            .cast("decimal(38,0)")
            .alias("s_b"),
            F.sum("w").cast("long").alias("n_b"),
        )
        # an all-zero-weight resample (P ~ e^-n per resample) would make
        # mean_b NULL, and Spark/DuckDB disagree on NULL sort order — drop
        # it before ranking on both sides (ADVICE r11)
        .filter(F.col("n_b") > 0)
        .select(
            "event_type",
            "b",
            (F.col("s_b").cast("double") / F.col("n_b").cast("double")).alias(
                "mean_b"
            ),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("event_type").orderBy("mean_b", "b")
    )
    ranked = means.withColumn("rn", rn)
    full_m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (
            F.sum(F.col("cents").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_cents"),
    )
    return (
        full_m.join(ranked, "event_type")
        .groupBy("event_type", "n_events", "mean_cents")
        .agg(
            F.min(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("ci_lo"),
            F.min(F.when(F.col("rn") == BOOT_B - 1, F.col("mean_b"))).alias(
                "ci_hi"
            ),
        )
    )
