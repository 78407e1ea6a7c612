"""Reference-pipeline capabilities as engine operators (SURVEY.md §7 Phase 2).

Each operator the reference implements imperatively inside its streaming
micro-batch (clean → tokenize → stopwords → time features → sentiment →
bucket → sink projection; spark/engine.py:71-200) is re-expressed here as a
declarative column transform over the driver's batch tables, registered with
a DuckDB oracle twin. The same transforms are reused by the streaming layer
(streaming/) and the ML pipeline (ml/) — written once, run batch or stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark.catalog import load
from projet_pipeline_bigdata_org_spark.functions.buckets import (
    sql_virality_bucket,
    virality_bucket,
)
from projet_pipeline_bigdata_org_spark.functions.cleaning import (
    SQL_CLEAN,
    SQL_REMOVE_STOPWORDS,
    SQL_TOKENIZE,
    clean_text,
    remove_stopwords,
    tokenize,
)
from projet_pipeline_bigdata_org_spark.functions.extraction import (
    extract_hashtags,
    extract_keywords,
    extract_mentions,
    keyword_filter,
)
from projet_pipeline_bigdata_org_spark.ml.enrich import (
    SQL_STUB_SENTIMENT,
    make_sentiment_udf,
)
from projet_pipeline_bigdata_org_spark.plans.registry import query

#: relevance keywords over the documents vocabulary (the reference's 32
#: crypto keywords, main/data_ingestion/config.py:17-23, play this role on
#: Reddit text)
KEYWORDS = ("spark", "join", "stream", "query")


@query(
    "etl_clean_text",
    oracle=f"""
    SELECT doc_id, {SQL_CLEAN.format(c='text')} AS clean FROM documents
    """,
    tags=("pipeline", "text", "documents"),
)
def pipe_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F1-F4 cleaning chain (lower / strip URLs / strip non-alnum /
    collapse whitespace / trim) as one codegen'd projection — no UDF."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", clean_text("text").alias("clean"))


@query(
    "pipe_tokenize_stopwords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             {SQL_REMOVE_STOPWORDS.format(toks=SQL_TOKENIZE.format(c=SQL_CLEAN.format(c='text')))} AS kept
      FROM documents)
    SELECT doc_id,
           COALESCE(ARRAY_TO_STRING(kept, '|'), '') AS tokens,
           CAST(LEN(kept) AS BIGINT) AS n_tokens
    FROM toks
    """,
    tags=("pipeline", "text", "documents"),
)
def pipe_tokenize_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference M1+M2 (Tokenizer → StopWordsRemover) as native array exprs."""
    d = load(spark, sf_dir, "documents")
    kept = remove_stopwords(tokenize(clean_text("text")))
    return d.select(
        "doc_id",
        F.array_join(kept, "|").alias("tokens"),
        F.size(kept).cast("long").alias("n_tokens"),
    )


@query(
    "pipe_time_features",
    oracle="""
    SELECT event_id,
           CAST(YEAR(ts) AS BIGINT) AS yr,
           CAST(MONTH(ts) AS BIGINT) AS mo,
           CAST(DAY(ts) AS BIGINT) AS dom,
           CAST(HOUR(ts) AS BIGINT) AS hr,
           CAST(MINUTE(ts) AS BIGINT) AS mi,
           CAST(SECOND(ts) AS BIGINT) AS sec,
           CAST(DAYOFWEEK(ts) AS BIGINT) AS dow,
           CAST(DAYOFYEAR(ts) AS BIGINT) AS doy
    FROM events
    """,
    tags=("pipeline", "temporal", "events"),
)
def pipe_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F7 time-feature projection (preprocessor.py:24-32) on event
    time; dayofweek normalized to DuckDB's 0=Sunday convention."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.year("ts").cast("long").alias("yr"),
        F.month("ts").cast("long").alias("mo"),
        F.dayofmonth("ts").cast("long").alias("dom"),
        F.hour("ts").cast("long").alias("hr"),
        F.minute("ts").cast("long").alias("mi"),
        F.second("ts").cast("long").alias("sec"),
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.dayofyear("ts").cast("long").alias("doy"),
    )


@query(
    "pipe_keyword_filter",
    oracle=r"""
    SELECT doc_id, lang
    FROM documents
    WHERE REGEXP_MATCHES(text, '\b(spark|join|stream|query)\b')
    """,
    tags=("pipeline", "filter", "documents"),
)
def pipe_keyword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference P8 keyword-relevance predicate (word-boundary any-match,
    utils.py:22-35) as an rlike filter pushed into the scan stage."""
    d = load(spark, sf_dir, "documents")
    return d.filter(keyword_filter("text", KEYWORDS)).select("doc_id", "lang")


@query(
    "pipe_extract_entities",
    oracle=r"""
    SELECT doc_id,
           COALESCE(ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(text, '@(\w+)', 1), '|'), '') AS mentions,
           COALESCE(ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(text, '#(\w+)', 1), '|'), '') AS hashtags,
           COALESCE(ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(text, '\b(spark|join|stream|query)\b', 1), '|'), '') AS keywords_found,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(spark|join|stream|query)\b', 1)) AS BIGINT) AS n_keywords
    FROM documents
    """,
    tags=("pipeline", "text", "documents"),
)
def pipe_extract_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F12 mention/hashtag/keyword extraction via
    regexp_extract_all (arrays emitted as joined strings)."""
    d = load(spark, sf_dir, "documents")
    kw = extract_keywords("text", KEYWORDS)
    return d.select(
        "doc_id",
        F.array_join(extract_mentions("text"), "|").alias("mentions"),
        F.array_join(extract_hashtags("text"), "|").alias("hashtags"),
        F.array_join(kw, "|").alias("keywords_found"),
        F.size(kw).cast("long").alias("n_keywords"),
    )


@query(
    "pipe_virality_bucket",
    oracle=f"""
    SELECT event_id, value,
           {sql_virality_bucket('value')} AS viralite
    FROM events
    """,
    tags=("pipeline", "events"),
)
def pipe_virality_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference P7 virality bucketing (HOT>3.0 / UP>1.5 / LOW)."""
    e = load(spark, sf_dir, "events")
    return e.select("event_id", "value", virality_bucket("value").alias("viralite"))


@query(
    "etl_sink_projection",
    oracle=f"""
    SELECT CAST(event_id AS VARCHAR) AS id,
           CAST(user_id AS VARCHAR) AS author,
           event_type AS subreddit,
           props AS text_content,
           {SQL_STUB_SENTIMENT.format(c='props')} AS sentiment,
           CAST(CAST(value AS REAL) AS DOUBLE) AS score_predit,
           {sql_virality_bucket('value')} AS viralite,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS creation_date
    FROM events
    """,
    tags=("pipeline", "events"),
)
def pipe_sink_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference P3 sink projection (engine.py:192-200 ↔ init.cql:8-18):
    rename / cast-to-float / timestamp-shape the record for the primary sink.
    score_predit is float32 then widened, matching the Cassandra DDL's
    ``float`` column."""
    e = load(spark, sf_dir, "events")
    n = F.length(F.coalesce("props", F.lit(""))) % 3
    return e.select(
        F.col("event_id").cast("string").alias("id"),
        F.col("user_id").cast("string").alias("author"),
        F.col("event_type").alias("subreddit"),
        F.col("props").alias("text_content"),
        F.when(n == 0, "neutral")
        .when(n == 1, "positive")
        .otherwise("negative")
        .alias("sentiment"),
        F.col("value").cast("float").cast("double").alias("score_predit"),
        virality_bucket("value").alias("viralite"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("creation_date"),
    )


@query(
    "pipe_dedup_keep_first",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn = 1
    """,
    tags=("pipeline", "dedup", "documents"),
)
def pipe_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference S8 id-dedup (keep first per key), made deterministic: min
    doc_id per (lang, source) via row_number — unlike dropDuplicates, the
    survivor is stable across partitionings (and engines)."""
    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("lang", "source").orderBy("doc_id")
    return (
        d.select("doc_id", "lang", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "pipe_enrich_sentiment",
    oracle=f"""
    SELECT doc_id, {SQL_STUB_SENTIMENT.format(c='text')} AS sentiment
    FROM documents
    """,
    tags=("pipeline", "udf", "documents"),
)
def pipe_enrich_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference U1: Arrow-batched enrichment pandas_udf with mini-batch
    chunking + neutral-fill fallback, running the deterministic stub backend
    (the HTTP backend is pluggable and never on the oracle path)."""
    d = load(spark, sf_dir, "documents")
    sent = make_sentiment_udf()
    return d.select("doc_id", sent(F.col("text")).alias("sentiment"))


def with_quality_metrics(df: DataFrame):
    """Attach free-riding data-quality metrics to a DataFrame via
    ``df.observe``: row count, null/empty-text count, and total text bytes
    are accumulated DURING whatever action the caller runs next — no second
    scan, no extra job. This is the 100 TB way to monitor a pipeline stage:
    a COUNT-based quality probe re-reads the corpus; an Observation rides
    the existing pass for free (Spark aggregates the metrics per task and
    merges on the driver).

    Returns ``(df, observation)``; read ``observation.get`` after an action.
    """
    from pyspark.sql import Observation

    obs = Observation("quality")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(
                F.col("text").isNull() | (F.length("text") == 0), 1
            ).otherwise(0)
        ).alias("n_null_or_empty"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
    )
    return observed, obs
