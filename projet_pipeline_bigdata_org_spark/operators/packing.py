"""Sequence/bin packing for LLM pretraining shards (SURVEY.md §2.12 add-on).

Two packing disciplines over the ``documents`` corpus, both sharded so no
global single-partition window exists at scale:

- ``pack_sequences`` — concat-and-split: documents are concatenated in a
  deterministic per-shard order and cut into fixed ``SEQ_BUDGET``-token
  training sequences; a document may straddle sequence boundaries. Pure
  window arithmetic (running token sum), fully SQL-expressible.
- ``pack_bins_nextfit`` — whole-document next-fit: a document never splits;
  a bin closes when the next document would overflow the budget. The
  per-shard scan is inherently sequential, so it runs as an
  ``applyInPandas`` grouped-map kernel (one numpy pass per shard); the
  DuckDB oracle replays the same recurrence with a recursive CTE.

Scale posture: the shard key (``doc_id % N_SHARDS``) bounds every window /
grouped-map to one shard. N_SHARDS is the engine's default shuffle fan-out
(``session.DEFAULT_SHUFFLE_PARTITIONS``). The registered oracles render
from the same constant, so Spark and DuckDB always agree on the shard
layout. Every query also has a ``*_at(spark, sf_dir, n_shards)`` builder +
``*_oracle(n_shards)`` template pair so tests prove parity holds at
other fan-outs. No global ordering, no driver collect.

Reference seed: the reference's micro-batch accumulation (SURVEY §2.1 S5)
is record-oriented; packing is the training-side counterpart it lacks.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark.catalog import load
from projet_pipeline_bigdata_org_spark.operators.textops import SQL_WS_TOKENS, ws_tokens
from projet_pipeline_bigdata_org_spark.plans.registry import query
from projet_pipeline_bigdata_org_spark.session import DEFAULT_SHUFFLE_PARTITIONS

#: fixed token budget of one packed training sequence / bin
SEQ_BUDGET = 256


#: shard fan-out; registered oracles render from the same value
N_SHARDS = DEFAULT_SHUFFLE_PARTITIONS

_TOK_SQL = SQL_WS_TOKENS.format(c="text")


def _token_counts(spark: SparkSession, sf_dir: str, n_shards: int) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        (F.col("doc_id") % n_shards).cast("long").alias("shard"),
        F.size(ws_tokens("text")).cast("long").alias("n_tokens"),
    )


def pack_sequences_oracle(n_shards: int) -> str:
    return f"""
    WITH t AS (
      SELECT doc_id,
             doc_id % {n_shards} AS shard,
             CAST(LEN({_TOK_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT *,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
      FROM t
    )
    SELECT doc_id,
           CAST(shard AS BIGINT) AS shard,
           n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS tok_start,
           CAST((cum - n_tokens) // {SEQ_BUDGET} AS BIGINT) AS seq_first,
           CAST(CASE WHEN n_tokens > 0 THEN (cum - 1) // {SEQ_BUDGET}
                     ELSE (cum - n_tokens) // {SEQ_BUDGET} END AS BIGINT) AS seq_last,
           CAST(CASE WHEN n_tokens > 0
                     THEN (cum - 1) // {SEQ_BUDGET} - (cum - n_tokens) // {SEQ_BUDGET} + 1
                     ELSE 0 END AS BIGINT) AS n_seqs_spanned
    FROM c
    """


def pack_sequences_at(spark: SparkSession, sf_dir: str, n_shards: int) -> DataFrame:
    t = _token_counts(spark, sf_dir, n_shards)
    w = W.partitionBy("shard").orderBy("doc_id")
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    tok_start = F.col("cum") - F.col("n_tokens")
    seq_first = F.expr(f"(cum - n_tokens) div {SEQ_BUDGET}")
    seq_last = F.when(
        F.col("n_tokens") > 0, F.expr(f"(cum - 1) div {SEQ_BUDGET}")
    ).otherwise(seq_first)
    return c.select(
        "doc_id",
        "shard",
        "n_tokens",
        tok_start.alias("tok_start"),
        seq_first.alias("seq_first"),
        seq_last.alias("seq_last"),
        F.when(F.col("n_tokens") > 0, seq_last - seq_first + F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_seqs_spanned"),
    )


@query(
    "pack_sequences",
    oracle=pack_sequences_oracle(N_SHARDS),
    tags=("llm", "packing", "documents"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split packing: per-shard running token offsets mapped to
    fixed-budget sequence ids (a document spanning a boundary reports the
    sequence range it lands in). One window per shard — no global sort."""
    return pack_sequences_at(spark, sf_dir, N_SHARDS)


def nextfit_bins(counts: DataFrame, budget: int = SEQ_BUDGET) -> DataFrame:
    """Assign whole documents to next-fit bins per shard.

    Input: (doc_id, shard, n_tokens). Output adds ``bin_id``. The recurrence
    (close the bin when the next doc would overflow a non-empty bin) is
    order-sequential within a shard, so each shard runs one vectorizable
    pandas kernel; shards themselves parallelize. Oversized documents
    (n_tokens > budget) occupy a bin alone.
    """
    schema = "doc_id long, shard long, n_tokens long, bin_id long"

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", ignore_index=True)
        bins = []
        bin_id, acc = 0, 0
        for n in pdf["n_tokens"].to_numpy():
            if acc + n > budget and acc > 0:
                bin_id += 1
                acc = 0
            acc += n
            bins.append(bin_id)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf[["doc_id", "shard", "n_tokens", "bin_id"]]

    return counts.groupBy("shard").applyInPandas(_pack, schema=schema)


def pack_bins_nextfit_oracle(n_shards: int) -> str:
    return f"""
    WITH t AS (
      SELECT doc_id,
             doc_id % {n_shards} AS shard,
             CAST(LEN({_TOK_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ), s AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM t
    ), r AS (
      WITH RECURSIVE walk AS (
        SELECT shard, rn, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS bin_id, n_tokens AS acc
        FROM s WHERE rn = 1
        UNION ALL
        SELECT s.shard, s.rn, s.doc_id, s.n_tokens,
               CASE WHEN walk.acc + s.n_tokens > {SEQ_BUDGET} AND walk.acc > 0
                    THEN walk.bin_id + 1 ELSE walk.bin_id END,
               CASE WHEN walk.acc + s.n_tokens > {SEQ_BUDGET} AND walk.acc > 0
                    THEN s.n_tokens ELSE walk.acc + s.n_tokens END
        FROM walk JOIN s ON s.shard = walk.shard AND s.rn = walk.rn + 1
      )
      SELECT * FROM walk
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens, bin_id
    FROM r
    """


def pack_bins_nextfit_at(spark: SparkSession, sf_dir: str, n_shards: int) -> DataFrame:
    return nextfit_bins(_token_counts(spark, sf_dir, n_shards))


@query(
    "pack_bins_nextfit",
    oracle=pack_bins_nextfit_oracle(N_SHARDS),
    tags=("llm", "packing", "documents", "applyInPandas"),
)
def pack_bins_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document next-fit bin packing per shard (grouped-map kernel;
    recursive-CTE oracle replays the identical recurrence)."""
    return pack_bins_nextfit_at(spark, sf_dir, N_SHARDS)


def pack_bin_fill_oracle(n_shards: int) -> str:
    return f"""
    WITH t AS (
      SELECT doc_id,
             doc_id % {n_shards} AS shard,
             CAST(LEN({_TOK_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT *,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
      FROM t
    ), d AS (
      SELECT shard, (cum - n_tokens) // {SEQ_BUDGET} AS seq_first, n_tokens
      FROM c
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(seq_first AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs_starting,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_started
    FROM d
    GROUP BY shard, seq_first
    """


def pack_bin_fill_at(spark: SparkSession, sf_dir: str, n_shards: int) -> DataFrame:
    seqs = pack_sequences_at(spark, sf_dir, n_shards)
    return seqs.groupBy("shard", F.col("seq_first").alias("seq_id")).agg(
        F.count("*").alias("n_docs_starting"),
        F.sum("n_tokens").cast("long").alias("tokens_started"),
    )


@query(
    "pack_bin_fill",
    oracle=pack_bin_fill_oracle(N_SHARDS),
    tags=("llm", "packing", "documents"),
)
def pack_bin_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing diagnostics: per sequence, how many documents start in it and
    the token mass they carry (boundary-straddle load profile)."""
    return pack_bin_fill_at(spark, sf_dir, N_SHARDS)


#: length-bucket granularity: pad-to-multiple-of-16 (the tensor-core /
#: block-sparse alignment trainers actually pad to)
BUCKET_STEP = 16


@query(
    "pack_length_buckets",
    oracle=f"""
    WITH t AS (
      SELECT CAST(LEN({_TOK_SQL}) AS BIGINT) AS n_tokens FROM documents
    ), b AS (
      SELECT n_tokens,
             ((n_tokens + {BUCKET_STEP} - 1) // {BUCKET_STEP})
               * {BUCKET_STEP} AS bucket_cap
      FROM t WHERE n_tokens >= 1
    )
    SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS token_mass,
           CAST(COUNT(*) * bucket_cap AS BIGINT) AS padded_mass,
           CAST((COUNT(*) * bucket_cap - SUM(n_tokens)) * 1000
                // (COUNT(*) * bucket_cap) AS BIGINT) AS waste_milli
    FROM b GROUP BY bucket_cap
    """,
    tags=("llm", "packing", "documents"),
)
def pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit — the THIRD packing discipline
    next to concat-and-split and next-fit: when documents must stay
    whole AND unconcatenated (SFT, reward-model pairs, encoder
    batches), trainers batch by length bucket and pad each doc to its
    bucket cap. Per bucket (caps at BUCKET_STEP-token alignment —
    pad-to-multiple-of-16 is what tensor cores want): document count,
    real token mass, padded mass, and the padding waste in exact
    integer milli-units. The table answers the capacity question
    directly — SUM(padded_mass) vs SUM(token_mass) is the cluster-hours
    price of not packing, and a fat high-waste bucket is the signal to
    split its range. Zero-token docs carry no batch slot and drop.

    Scale shape: shuffle-free until a ~dozen-row groupBy on the bucket
    key (partial map-side agg reduces each scan split to its bucket
    counts); the tokenize is the same single pass every packing
    sibling makes."""
    t = load(spark, sf_dir, "documents").select(
        F.size(ws_tokens("text")).cast("long").alias("n_tokens")
    )
    b = t.filter(F.col("n_tokens") >= 1).select(
        "n_tokens",
        F.expr(
            f"((n_tokens + {BUCKET_STEP} - 1) DIV {BUCKET_STEP})"
            f" * {BUCKET_STEP}"
        ).alias("bucket_cap"),
    )
    g = b.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("token_mass"),
    )
    padded = F.col("n_docs") * F.col("bucket_cap")
    return g.select(
        F.col("bucket_cap").cast("long").alias("bucket_cap"),
        "n_docs",
        "token_mass",
        padded.cast("long").alias("padded_mass"),
        F.expr(
            "(n_docs * bucket_cap - token_mass) * 1000"
            " DIV (n_docs * bucket_cap)"
        ).alias("waste_milli"),
    )
