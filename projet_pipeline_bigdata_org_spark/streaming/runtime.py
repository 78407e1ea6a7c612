"""Structured Streaming runtime: sources, watermarked transforms, and the
reference's micro-batch lifecycle (SURVEY.md §2.11 T1-T6) rebuilt on
idiomatic building blocks.

Reference semantics preserved:
- rate limiting per trigger      (T2: maxOffsetsPerTrigger=50 → maxFilesPerTrigger)
- checkpointing                  (T3: checkpointLocation)
- foreachBatch with failover     (T4: try Cassandra → except Mongo,
                                  engine.py:169-219 — here primary/fallback
                                  writers, NO driver collect, unlike the
                                  reference's toPandas() fallback)
- replay / loss tolerance        (T5: earliest offsets → file source reads all)
- empty-batch guard              (P9: engine.py:101,170)
Plus the gaps the reference lacks: watermarks, event-time windows,
dropDuplicatesWithinWatermark, and the exactly-once epoch sinks, which
all share the ``_EpochSink`` skeleton.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

#: canonical streaming-record schema (reference engine.py:224-231)
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("author", T.StringType()),
        T.StructField("subreddit", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("timestamp", T.DoubleType()),
        T.StructField("score", T.IntegerType()),
    ]
)


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,  # keyword-only: a positional None in the fmt slot NPEs inside Spark
    fmt: str = "parquet",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """File-based streaming source (the test stand-in for Kafka; S1).
    maxFilesPerTrigger plays maxOffsetsPerTrigger's rate-limit role."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int = 50,
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Kafka source with the reference's exact options (engine.py:234-241).
    Requires the spark-sql-kafka package on the classpath (not in this
    container — constructed lazily, used in production deployments)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
        .load()
    )


def parse_json_records(kafka_df: DataFrame) -> DataFrame:
    """Kafka value bytes → ``RECORD_SCHEMA`` columns (P1+P2: CAST value AS
    STRING → from_json → flatten; engine.py:245-247)."""
    return (
        kafka_df.selectExpr("CAST(value AS STRING) AS raw")
        .select(F.from_json("raw", RECORD_SCHEMA).alias("data"))
        .select("data.*")
    )


def windowed_counts(
    events: DataFrame, watermark: str = "10 minutes", window: str = "5 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts of ``event_type`` over ``ts`` —
    the canonical stateful agg. Late rows beyond the watermark are dropped
    (append mode)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup with bounded state (dropDuplicatesWithinWatermark
    over ``ts``): the id-dedup capability (reference S8) with state that
    expires instead of growing forever."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


BatchWriter = Callable[[DataFrame, int], None]


def parquet_batch_writer(path: str) -> BatchWriter:
    def write(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("append").parquet(path)

    return write


def json_batch_writer(path: str) -> BatchWriter:
    def write(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("append").json(path)

    return write


def idempotent_parquet_batch_writer(path: str) -> BatchWriter:
    """Exactly-once foreachBatch parquet: each epoch OVERWRITES its own
    ``epoch=<id>`` partition directory, so a replayed batch (checkpoint
    restart after a half-committed epoch) rewrites the same partition
    instead of appending duplicates — the idempotent-write discipline
    foreachBatch needs for exactly-once (plain append writers are
    at-least-once under replay). ``spark.read.parquet(path)`` recovers the
    epoch as a partition column."""

    def write(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")

    return write


def _record_epoch(
    stats: dict, per_epoch: dict, epoch_id: int, counts: dict, snapshot: bool
) -> None:
    """Keep ``counts`` as epoch ``epoch_id``'s entry of ``per_epoch`` and
    set each of its keys in ``stats`` to the sum over epochs — or, with
    ``snapshot``, to the newest epoch's value — so a replayed epoch
    leaves ``stats`` as it was."""
    per_epoch[epoch_id] = counts
    newest = per_epoch[max(per_epoch)]
    for key in counts:
        stats[key] = (
            newest[key] if snapshot else sum(c[key] for c in per_epoch.values())
        )


@dataclass
class FailoverBatchSink:
    """foreachBatch sink with primary→fallback failover (reference T4/S5/S6,
    engine.py:169-219), minus its anti-patterns: rows are counted by
    observe() on the write job instead of a separate count() job, and
    there is no toPandas() driver collect — the fallback is a distributed
    write too. The empty-batch guard still runs one short isEmpty() job
    per batch; an empty batch reaches neither writer and counts as
    ``stats["empty"]``. ``rows_written``, ``failover`` and ``dropped`` are
    kept per epoch like the epoch sinks' counts, so a replayed epoch
    replaces its own entry; ``batches`` and ``empty`` count calls.

    A transform callable runs inside the micro-batch (the reference's
    _transform_batch slot). Poison batches are counted and dropped after
    both sinks fail (the reference's outer try/except)."""

    primary: BatchWriter
    fallback: BatchWriter | None = None
    transform: Callable[[DataFrame], DataFrame] | None = None
    stats: dict = field(default_factory=lambda: {"batches": 0, "empty": 0, "failover": 0, "dropped": 0})
    _epoch_counts: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            self.stats["empty"] += 1
            return
        df = self.transform(batch_df) if self.transform else batch_df
        # row accounting rides the write job via observe() — the reference
        # ran a separate count() job per batch (engine.py:204 anti-pattern)
        from pyspark.sql import Observation

        obs = Observation(f"sink_epoch_{epoch_id}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        counts = {"rows_written": 0, "failover": 0, "dropped": 0}
        try:
            self.primary(df, epoch_id)
            counts["rows_written"] = obs.get.get("rows", 0)
        except Exception as primary_err:
            counts["failover"] = counts["dropped"] = 1
            log.warning("primary sink failed for epoch %s: %s", epoch_id, primary_err)
            if self.fallback is not None:
                try:
                    self.fallback(df, epoch_id)
                    counts["dropped"] = 0
                except Exception as fallback_err:  # drop poison batch, keep stream alive
                    log.error(
                        "fallback sink failed for epoch %s: %s", epoch_id, fallback_err
                    )
        _record_epoch(self.stats, self._epoch_counts, epoch_id, counts, snapshot=False)


def _epoch_history_scan(
    spark: SparkSession, path: str, schema: str, epoch_id: int
) -> DataFrame:
    """Read an epoch-partitioned store, restricted to epochs STRICTLY
    before ``epoch_id`` and pruned to the store's declared columns. The
    missing-store guard is a local-FS ``os.path.isdir`` — at cluster
    scale the store is a catalog table (or an object-store prefix the
    catalog tracks) and the guard disappears; keeping the check in ONE
    place is what lets that swap happen once."""
    import os

    empty = spark.createDataFrame([], schema)
    if not os.path.isdir(path):
        return empty
    # Declared schema (+ the epoch partition column) instead of inference:
    # a crash mid-write can leave the store directory existing with ZERO
    # committed parquet files (e.g. only a _temporary dir), and schema
    # inference on an empty store throws — which would make every
    # subsequent epoch and every replay of the sink fail permanently.
    # With the schema declared, an empty/uncommitted store reads as empty.
    return (
        spark.read.schema(f"{schema}, epoch bigint")
        .parquet(path)
        .filter(F.col("epoch") < epoch_id)
        .select(*empty.columns)
    )


@dataclass
class _EpochSink:
    """The epoch contract shared by every foreachBatch sink below: a
    checkpoint restart may replay any epoch ``e``, in any order, and the
    sink must end exactly as if each epoch ran once.

    - **Strict-prior scan.** State is read only through :meth:`_prior`,
      which sees epochs strictly before ``e``: a replayed epoch sees
      exactly the state its first run saw, so it can never reject, or
      fold in, its own already-recorded rows.
    - **Idempotent epoch overwrite.** Every write goes through
      :meth:`_write`, an overwrite of ``<path>/epoch=e``: a replay
      rewrites the same partitions instead of appending duplicates
      (``spark.read.parquet(path)`` recovers ``epoch`` as a column).
    - **Per-epoch counts that a replay overwrites.** The sink body
      :meth:`_epoch` returns the epoch's outcome counts. They are kept by
      epoch and ``stats`` is their sum — or, for a ``SNAPSHOT`` sink whose
      counts describe the whole state, the newest epoch's entry — so a
      replay leaves ``stats`` as it was. ``stats["batches"]`` counts calls.
    - **Single cache per stage.** A stage read by several consumers (the
      stats aggregate, the writes, the joins) is cached once with
      :meth:`_cache` and released when the epoch ends — never one
      ``count()`` job per consumer (the reference's per-batch count(),
      engine.py:204, is the anti-pattern).

    An empty micro-batch (P9 guard, engine.py:101,170) counts as a batch
    and reaches no sink body."""

    _epoch_counts: dict = field(default_factory=dict, init=False, repr=False, compare=False)
    _caches: list = field(default_factory=list, init=False, repr=False, compare=False)

    SNAPSHOT = False

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            return
        try:
            counts = self._epoch(batch_df, epoch_id)
        finally:
            while self._caches:
                self._caches.pop().unpersist()
        _record_epoch(self.stats, self._epoch_counts, epoch_id, counts, self.SNAPSHOT)

    def _prior(self, path: str, schema: str, epoch_id: int) -> DataFrame:
        return _epoch_history_scan(self.spark, path, schema, epoch_id)

    @staticmethod
    def _write(df: DataFrame, path: str, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")

    def _cache(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._caches.append(df)
        return df


class _FoldSink(_EpochSink):
    """Mergeable-state sinks (ANN postings, KMV, count-min, CUSUM, OLS,
    seasonal): a sink is its arithmetic hooks plus a dataclass.

    - ``_partial(batch)``  -> the batch's bounded partial-state table;
    - ``_merge(unioned)``  -> fold of (partial ∪ strictly-prior state);
    - ``_derive(folded)``  -> the observable table for this epoch;
    - ``_stat(derived)``   -> optional snapshot counts of that table
      (``SNAPSHOT``: ``stats`` shows the newest epoch's);
    - ``STATE_SCHEMA``; ``STATE_DIR`` / ``DERIVED_DIR``, path templates
      over the sink's fields.

    ``STORE_FOLDED`` picks the state representation: False stores
    per-epoch DELTAS (counters/partials ADD — cumulative snapshots would
    double-count; count-min, CUSUM, OLS, seasonal, ANN points), True
    stores the MERGED state (union-then-trim is idempotent/associative,
    so the folded rows subsume replays; KMV)."""

    SNAPSHOT = True

    def _stat(self, derived: DataFrame) -> dict:
        return {}

    def _epoch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        state_dir = self.STATE_DIR.format_map(vars(self))
        part = self._cache(self._partial(batch_df))
        prior = self._prior(state_dir, self.STATE_SCHEMA, epoch_id)
        folded = self._merge(part.unionByName(prior))
        if self.STORE_FOLDED:
            folded = self._cache(folded)
        self._write(folded if self.STORE_FOLDED else part, state_dir, epoch_id)
        derived = self._cache(self._derive(folded))
        counts = self._stat(derived)
        self._write(derived, self.DERIVED_DIR.format_map(vars(self)), epoch_id)
        return counts


@dataclass
class HistoryDedupSink(_EpochSink):
    """Exactly-once streaming dedup against a persisted historical corpus —
    the foreachBatch form of ``operators.dedup.dedup_incremental_exact``
    (reference analogue: S8's driver-side id-skip,
    test/data_ingestion/testpy.py:130-131, made streaming-native and
    content-addressed).

    Per micro-batch: within-batch duplicates collapse to the min-id
    keeper (map-side partial agg, same keeper rule as
    ``dedup_exact_hash``; upstream ``dedup_within_watermark`` already
    bounds in-flight dups across batches — this is the at-rest guard),
    then an anti-join drops rows whose content sha is in the prior
    history. Admitted rows go to ``out``, their shas to ``history``.

    Scale shape: only 64-hex shas join — at 100 TB the history side is a
    bucketed-by-sha staging table (sources/batch.py: write_bucketed_table),
    making the per-batch anti-join zero-shuffle on the history side while
    each micro-batch shuffles only its own delta; epoch partition pruning
    keeps the strict-epoch filter a metadata operation. With
    ``bloom_prefilter`` (default on) the batch first probes the history's
    Bloom filter via broadcast joins (shared helpers with
    ``dedup_bloom_incremental`` — the bits cannot drift) and only bloom
    candidates reach the membership join: the mostly-novel steady-state
    batch admits with zero shuffle, and exactness is untouched because
    the filter has no false negatives and false positives still hit the
    confirm join (mode equality test-pinned). The filter is MAINTAINED
    INCREMENTALLY, never rebuilt: every epoch writes its admitted
    positions to ``<history>_bloom`` (in BOTH modes, so toggling the flag
    mid-stream stays sound), and the prefilter unions the <=
    BLOOM_SHA_BITS-row position store from prior epochs — it never
    rescans history itself."""

    spark: SparkSession
    out_path: str
    history_path: str
    content_col: str = "text"
    id_col: str = "event_id"
    bloom_prefilter: bool = True
    stats: dict = field(default_factory=lambda: {"batches": 0, "admitted": 0, "rejected": 0})

    def _epoch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        from projet_pipeline_bigdata_org_spark.operators.dedup import (
            bloom_position_table,
            mark_bloom_candidates,
        )

        hashed = batch_df.withColumn(
            "content_sha", F.sha2(F.col(self.content_col), 256)
        )
        keeper = hashed.groupBy("content_sha").agg(
            F.min(self.id_col).alias(self.id_col)
        )
        batch = hashed.join(keeper, ["content_sha", self.id_col])
        history = (
            self._prior(self.history_path, "content_sha string", epoch_id)
            .distinct()
            .withColumn("in_history", F.lit(1))
        )
        bloom_path = self.history_path.rstrip("/") + "_bloom"
        if self.bloom_prefilter:
            probed = mark_bloom_candidates(
                batch, self._prior(bloom_path, "pos bigint", epoch_id).distinct()
            )
            cand = probed.filter(F.col("is_cand") == 1).drop("is_cand").join(
                history, "content_sha", "left"
            )
            rest = (
                probed.filter(F.col("is_cand") == 0)
                .drop("is_cand")
                .withColumn("in_history", F.lit(None).cast("int"))
            )
            joined = self._cache(cand.unionByName(rest))
        else:
            joined = self._cache(batch.join(history, "content_sha", "left"))
        n_batch, n_dup = joined.agg(F.count(F.lit(1)), F.count("in_history")).first()
        admitted = joined.filter(F.col("in_history").isNull())
        self._write(admitted.drop("content_sha", "in_history"), self.out_path, epoch_id)
        self._write(admitted.select("content_sha"), self.history_path, epoch_id)
        # the Bloom position store is kept in BOTH modes: an epoch skipped
        # here would be a false-negative hole if the prefilter is ever
        # enabled later
        self._write(bloom_position_table(admitted), bloom_path, epoch_id)
        return {"admitted": n_batch - n_dup, "rejected": n_dup}


def _admit_batch(
    sink: _EpochSink,
    batch_df: DataFrame,
    feat: DataFrame,
    rejected_ids: DataFrame,
    epoch_id: int,
) -> dict:
    """The shared admission TAIL of the feature-history sinks (minhash,
    simhash, passage, boilerplate, semantic): mark the family's rejected
    ids with ONE left join, count both outcomes with one aggregate over
    that cache, write the admitted rows to ``out``, and hand the ADMITTED
    subset of the family's feature stage to its ``_write_history``.
    Rejected rows never reach history.

    Preconditions a new family must honor: ``rejected_ids`` has exactly
    one row per rejected ``sink.id_col`` value (every caller ends in
    ``.distinct()`` — a duplicate would multiply batch rows through the
    marker join), and ``feat`` exposes its document id under the column
    name ``doc_id`` (the semi-join key), whatever ``sink.id_col`` is on
    the batch side."""
    joined = sink._cache(
        batch_df.join(
            rejected_ids.withColumn("_rejected", F.lit(1)), sink.id_col, "left"
        )
    )
    n_batch, n_rejected = joined.agg(F.count(F.lit(1)), F.count("_rejected")).first()
    admitted = joined.filter(F.col("_rejected").isNull()).drop("_rejected")
    sink._write(admitted, sink.out_path, epoch_id)
    sink._write_history(
        feat.join(
            admitted.select(F.col(sink.id_col).alias("doc_id")), "doc_id", "left_semi"
        ),
        epoch_id,
    )
    return {"admitted": n_batch - n_rejected, "rejected": n_rejected}


def _minhash_history_hits(
    sink: _EpochSink,
    sh: DataFrame,
    bands: DataFrame,
    epoch_id: int,
    threshold: float,
    bucket_type: str = "int",
) -> DataFrame:
    """``doc_id``s of the batch shingle stage ``sh`` (doc_id, sh) with a
    verified near-duplicate in the prior MinHash history under
    ``sink.history_path``: the batch ``bands`` equi-join the ``bands``
    store into candidates, and exact Jaccard >= ``threshold`` against the
    ``shingles`` store runs on candidates only."""
    cand = (
        bands.alias("b")
        .join(
            sink._prior(
                f"{sink.history_path}/bands",
                f"doc_id long, band int, bucket {bucket_type}",
                epoch_id,
            ).alias("h"),
            (F.col("b.band") == F.col("h.band"))
            & (F.col("b.bucket") == F.col("h.bucket")),
        )
        .select(
            F.col("b.doc_id").alias("batch_id"), F.col("h.doc_id").alias("history_id")
        )
        .dropDuplicates(["batch_id", "history_id"])
    )
    sh_b = sh.select(F.col("doc_id").alias("batch_id"), F.col("sh").alias("sh_b"))
    sh_h = sink._prior(
        f"{sink.history_path}/shingles", "doc_id long, sh array<string>", epoch_id
    ).select(F.col("doc_id").alias("history_id"), F.col("sh").alias("sh_h"))
    inter = F.size(F.array_intersect("sh_b", "sh_h"))
    union = F.size("sh_b") + F.size("sh_h") - inter
    return (
        cand.join(sh_b, "batch_id")
        .join(sh_h, "history_id")
        .filter((inter.cast("double") / union) >= F.lit(threshold))
        .select(F.col("batch_id").alias("doc_id"))
    )


def _write_minhash_history(
    sink: _EpochSink, sh: DataFrame, epoch_id: int, portable: bool = False
) -> None:
    """Record the shingle stage ``sh`` in the ``bands`` and ``shingles``
    stores that :func:`_minhash_history_hits` reads."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import minhash_band_table

    sink._write(
        minhash_band_table(sh, portable=portable), f"{sink.history_path}/bands", epoch_id
    )
    sink._write(sh.select("doc_id", "sh"), f"{sink.history_path}/shingles", epoch_id)


@dataclass
class MinHashHistoryDedupSink(_EpochSink):
    """Streaming NEAR-dedup admission against a persisted historical corpus
    — the foreachBatch form of ``operators.dedup.dedup_incremental_minhash``,
    completing the dedup matrix's last cell (near x streaming; the exact
    cell is :class:`HistoryDedupSink`). Reference analogue: S8's driver-side
    id-skip (test/data_ingestion/testpy.py:130-131) — here content-similar,
    not just id-equal, and streaming-native.

    Per micro-batch:

    1. the shard's texts shingle once into a cached (doc_id, sh, hh)
       stage — identical staging discipline (and identical shingle/hash/
       band expressions, shared via ``minhash_band_table``) as the batch
       query, so band keys can never drift between the two forms;
    2. candidate generation: the shard's 24-byte (doc_id, band, bucket)
       rows equi-join the historical band table;
    3. exact-Jaccard verify on candidates only against the historical
       shingle store; shard rows with ANY verified near-duplicate
       (jaccard >= threshold) are rejected at ingest;
    4. admitted rows go to ``out``; their band rows to ``history/bands``
       and their shingles to ``history/shingles``.

    Within-shard dedup (exact or near) is upstream's job — the one-shot
    ``dedup_minhash_lsh`` over the shard, or ``dedup_within_watermark`` in
    flight. This sink decides ADMISSION against history only, exactly like
    its batch sibling, which makes admitted-set equality with the batch
    query's restriction directly testable (tests/test_streaming.py).
    Rows whose text yields zero shingles (< 3 tokens) are admitted and
    contribute no history — the batch query drops them from both join
    sides the same way, so they can never be flagged there either.

    Scale shape: the candidate join carries 24-byte band rows on both
    sides; at 100 TB the history bands are a staging table bucketed by
    (band, bucket) and the shingle store bucketed by doc_id
    (sources/batch.py: write_bucketed_table), making BOTH history-side
    joins zero-shuffle while each micro-batch shuffles only its own delta;
    the strict-epoch filter is partition pruning — a metadata operation."""

    spark: SparkSession
    out_path: str
    history_path: str
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "rejected": 0}
    )

    id_col = "doc_id"

    def _epoch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        from projet_pipeline_bigdata_org_spark.operators.dedup import (
            JACCARD_THRESHOLD,
            minhash_band_table,
            shingle_hashes,
        )
        from projet_pipeline_bigdata_org_spark.operators.textops import (
            shingles,
            ws_tokens,
        )

        batch_df = self._cache(batch_df)
        # one shingle pass, cached: feeds the band table, the verify join,
        # and the history write (same projection-collapse guard as the
        # batch query — inlining shingle_hashes into all 32 permutation
        # mins would re-hash every shingle 32x)
        sh = self._cache(
            batch_df.select(
                "doc_id", F.array_distinct(shingles(ws_tokens("text"))).alias("sh")
            )
            .filter(F.size("sh") > 0)
            .select("doc_id", "sh", shingle_hashes(F.col("sh")).alias("hh"))
        )
        rejected_ids = (
            _minhash_history_hits(
                self, sh, minhash_band_table(sh), epoch_id, JACCARD_THRESHOLD
            ).distinct()
        )
        return _admit_batch(self, batch_df, sh, rejected_ids, epoch_id)

    def _write_history(self, adm_sh: DataFrame, epoch_id: int) -> None:
        _write_minhash_history(self, self._cache(adm_sh), epoch_id)


@dataclass
class SimHashHistoryDedupSink(_EpochSink):
    """Streaming SimHash near-dedup admission vs epoch history — the
    fingerprint-family sibling of :class:`MinHashHistoryDedupSink`
    (a crawl pipeline runs whichever family it standardized on; both are
    available at ingest). foreachBatch form of
    ``operators.dedup.dedup_incremental_simhash``.

    Per micro-batch: shingle features hash to xxhash64, fingerprint via
    the shared numpy majority-vote kernel, slice into the shared
    chunk-pair band keys (``simhash_chunk_table`` — identical expressions
    as the batch query, so keys cannot drift), equi-join the historical
    band keys, and reject shard rows within SIMHASH_HAMMING_MAX of any
    historical fingerprint. No separate verify store: the band rows carry
    the fingerprints, and hamming distance is one bit_count(xor) inside
    the join. Admitted rows go to ``out``; admitted fingerprints (16
    bytes/row) to ``history/fingerprints``.

    Hot-bucket cap: the census runs over the HISTORY chunk table — at
    scale a maintained property of the fingerprint store that each small
    shard perturbs negligibly (the batch twin censuses the full corpus;
    identical in the no-hot-bucket regime, and the cap is a join-cost
    guard, not a semantic knob). Rows with zero shingle features are
    admitted and contribute no history, exactly like the batch query
    drops them from both join sides.

    Scale shape: the candidate join carries (doc_id, simhash, chunk,
    chunk_val) rows — 28 bytes; at 100 TB the history store is bucketed
    by (chunk, chunk_val) making the join zero-shuffle on the history
    side; the strict-epoch filter is partition pruning."""

    spark: SparkSession
    out_path: str
    history_path: str
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "rejected": 0}
    )

    id_col = "doc_id"

    def _epoch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        from projet_pipeline_bigdata_org_spark.operators.dedup import (
            SIMHASH_HAMMING_MAX,
            SIMHASH_MAX_BUCKET,
            _drop_hot_simhash_buckets,
            simhash_chunk_table,
            simhash_fingerprint_np,
        )
        from projet_pipeline_bigdata_org_spark.operators.textops import (
            shingles,
            ws_tokens,
        )

        batch_df = self._cache(batch_df)
        fp = self._cache(
            batch_df.select(
                "doc_id", F.array_distinct(shingles(ws_tokens("text"))).alias("feats")
            )
            .filter(F.size("feats") > 0)
            .select("doc_id", F.transform("feats", lambda t: F.xxhash64(t)).alias("hh"))
            .select("doc_id", simhash_fingerprint_np()(F.col("hh")).alias("simhash"))
        )
        hist_chunks = self._cache(
            simhash_chunk_table(
                self._prior(
                    f"{self.history_path}/fingerprints",
                    "doc_id long, simhash long",
                    epoch_id,
                )
            )
        )
        hist_f = _drop_hot_simhash_buckets(
            hist_chunks, SIMHASH_MAX_BUCKET, census_over=hist_chunks
        )
        batch_f = _drop_hot_simhash_buckets(
            simhash_chunk_table(fp), SIMHASH_MAX_BUCKET, census_over=hist_chunks
        )
        ham = F.bit_count(F.col("b.simhash").bitwiseXOR(F.col("h.simhash")))
        rejected_ids = (
            batch_f.alias("b")
            .join(
                hist_f.alias("h"),
                (F.col("b.chunk") == F.col("h.chunk"))
                & (F.col("b.chunk_val") == F.col("h.chunk_val")),
            )
            .filter(ham <= SIMHASH_HAMMING_MAX)
            .select(F.col("b.doc_id").alias("doc_id"))
            .distinct()
        )
        return _admit_batch(self, batch_df, fp, rejected_ids, epoch_id)

    def _write_history(self, adm_fp: DataFrame, epoch_id: int) -> None:
        self._write(adm_fp, f"{self.history_path}/fingerprints", epoch_id)


@dataclass
class QualityGateSink(_EpochSink):
    """Streaming model-based quality gate: each micro-batch splits on the
    fastText-style linear-classifier margin (``curation.qc_margin`` — the
    same inlined fixed-point arithmetic as the batch
    ``curate_quality_classifier``, so the streaming and batch decisions
    cannot drift). Rows with a margin >= 0 go to ``out``; the rest
    land in ``quarantine`` WITH their margin — quarantined data is kept
    reviewable, never silently dropped (the JSONL-quarantine discipline
    applied to model-based filtering).

    Scale shape: the margin folds per row inside codegen (no shuffle, no
    join, no UDF — see the batch query's plan test); ONE membership
    predicate splits the cached batch."""

    spark: SparkSession
    out_path: str
    quarantine_path: str
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "quarantined": 0}
    )

    def _epoch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        from projet_pipeline_bigdata_org_spark.operators.curation import qc_margin
        from projet_pipeline_bigdata_org_spark.operators.textops import ws_tokens

        # COALESCE NULL content to '' exactly like the batch twin
        # (textops.SQL_TOK_NULLSAFE): NULL text then scores margin 0 and is
        # ADMITTED in both engines
        scored = self._cache(
            batch_df.withColumn(
                "margin",
                qc_margin(ws_tokens(F.coalesce(F.col("text"), F.lit("")))),
            )
        )
        passes = F.col("margin") >= 0
        n_total, n_adm = scored.agg(
            F.count(F.lit(1)), F.count(F.when(passes, 1))
        ).first()
        self._write(scored.filter(passes).drop("margin"), self.out_path, epoch_id)
        # The admit/reject split must PARTITION the batch — a predicate
        # pair (x >= t / x < t) silently loses NULL rows from both sides.
        # The coalesce above makes margin non-NULL for every row, but the
        # isNull() arm stays as the partition invariant's last line of
        # defense.
        self._write(
            scored.filter(~passes | F.col("margin").isNull()),
            self.quarantine_path,
            epoch_id,
        )
        return {"admitted": n_adm, "quarantined": n_total - n_adm}


class _PairHistorySink(_EpochSink):
    """Admission on 16-byte ``passage_hash_pair`` keys (the batch twins'
    and the prune applier's shared expressions, so keys cannot drift):
    a document is rejected when ANY key of its ``_pieces()`` (an array
    column) is already in the prior ``history/<_STORE>`` dictionary;
    admitted documents' distinct keys enter it. Documents with no pieces
    are admitted and contribute no history.

    Scale shape: both join sides carry 16-byte pairs; at 100 TB the
    history store is a staging table bucketed by (h1, h2)
    (sources/batch.py: write_bucketed_table), zero-shuffle on the history
    side; the strict-epoch filter is partition pruning."""

    id_col = "doc_id"

    def _epoch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        from projet_pipeline_bigdata_org_spark.operators.dedup import (
            passage_hash_pair,
        )

        batch_df = self._cache(batch_df)
        keys = self._cache(
            batch_df.select("doc_id", F.explode(self._pieces()).alias("piece")).select(
                "doc_id", *passage_hash_pair(F.col("piece"))
            )
        )
        known = self._prior(
            f"{self.history_path}/{self._STORE}", "h1 long, h2 long", epoch_id
        ).distinct()
        rejected_ids = keys.join(known, ["h1", "h2"]).select("doc_id").distinct()
        return _admit_batch(self, batch_df, keys, rejected_ids, epoch_id)

    def _write_history(self, adm_keys: DataFrame, epoch_id: int) -> None:
        self._write(
            adm_keys.select("h1", "h2").distinct(),
            f"{self.history_path}/{self._STORE}",
            epoch_id,
        )


@dataclass
class PassageHistoryDedupSink(_PairHistorySink):
    """Streaming SUBSTRING-level dedup admission vs epoch history — the
    foreachBatch form of ``operators.dedup.dedup_incremental_passages``,
    completing the dedup matrix at the passage level: {exact, minhash,
    simhash, passage} x {one-shot, incremental, streaming}. A shard row
    is rejected when ANY of its distinct PASSAGE_TOKENS-token windows
    already exists in the historical window dictionary
    (``history/windows``) — the batch twin's flagged >= 1 rule.

    Rows with <PASSAGE_TOKENS tokens have zero windows, are admitted,
    and contribute no history — the batch query reports them 0/unflagged
    the same way."""

    spark: SparkSession
    out_path: str
    history_path: str
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "rejected": 0}
    )

    _STORE = "windows"

    def _pieces(self):
        from projet_pipeline_bigdata_org_spark.operators.dedup import PASSAGE_TOKENS
        from projet_pipeline_bigdata_org_spark.operators.textops import (
            shingles,
            ws_tokens,
        )

        return F.array_distinct(shingles(ws_tokens("text"), PASSAGE_TOKENS))


@dataclass
class BoilerplateHistoryDedupSink(_PairHistorySink):
    """Streaming LINE-level dedup admission vs epoch history — the
    foreachBatch form of ``operators.dedup.dedup_incremental_boilerplate``,
    completing the dedup matrix's boilerplate row: {exact, minhash,
    simhash, passage, semantic, URL, boilerplate} x {one-shot,
    incremental, streaming}. A shard row is rejected when ANY of its
    distinct normalized (lower, trimmed, non-empty) newline-delimited
    lines already exists in the historical line dictionary
    (``history/lines``) — navigation chrome / cookie banners / footers
    re-entering the pool, CCNet's granularity at ingest time. The line
    kernel is the SHARED :func:`~...operators.dedup.boilerplate_norm_lines`
    (one definition across audit, batch admission, and this sink).

    Empty/NULL-text rows have zero lines, are admitted, and contribute
    no history — the batch query reports them (0, false) the same way."""

    spark: SparkSession
    out_path: str
    history_path: str
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "rejected": 0}
    )

    _STORE = "lines"

    def _pieces(self):
        from projet_pipeline_bigdata_org_spark.operators.dedup import (
            boilerplate_norm_lines,
        )

        return boilerplate_norm_lines(F.col("text"))


@dataclass
class SemDeDupHistorySink(_EpochSink):
    """Streaming SEMANTIC dedup admission vs epoch history — the
    foreachBatch form of ``operators.similarity.embed_semdedup_incremental``,
    completing the dedup matrix's semantic row: {exact, minhash, simhash,
    passage, semantic} x {one-shot, incremental, streaming}. An incoming
    embedded shard row is rejected when any HISTORICAL vector in its IVF
    cell sits inside the cosine epsilon ball (cos >= SEMC_TAU), evaluated
    with the same exact-integer arithmetic as the certified batch twins
    (``ivfc_scaled_points`` / ``ivfc_cell_distances`` /
    ``ivfc_argmin_cells`` / ``_semc_pair_dots`` / ``_semc_in_ball`` —
    shared code, so a streaming admission can never disagree with the
    oracle-gated batch decision on the same state).

    Per micro-batch:

    1. one scaled-points pass turns the shard's embeddings into integer-
       millionth (vec_id, dim, xs) rows — the representation every
       certified stage distances over;
    2. the codebook is derived from the prior history point store:
       history ids under ``IVFC_INC_SEED_MAX`` (a pure predicate — the same
       history-seeded rule as the batch twin). First epochs with no seed
       vectors admit everything (no index yet), exactly like an empty
       history table;
    3. shard and prior-history points assign to the frozen codebook by
       exact integer L2 (argmin, ties on id); each shard vector compares
       only against history members of ITS cell (nprobe=1 admission)
       through the shared dot/ball stages;
    4. admitted rows go to ``out``; their POINTS to ``history/points``.

    Scale shape: per epoch, codebook derivation reads seed ids'
    points (partition- and predicate-prunable), assignment is one
    broadcast-agg pass, and pair work is cell-confined. The history
    ASSIGNMENT is recomputed per epoch here because the codebook can
    still be growing; a production deployment freezes the codebook once
    seeded and materializes history assignments as a bucketed staging
    table (sources/batch.py: write_bucketed_table) refreshed only on
    codebook change — the decision arithmetic is identical either way."""

    spark: SparkSession
    out_path: str
    history_path: str
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "rejected": 0}
    )

    id_col = "vec_id"

    def _epoch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        from projet_pipeline_bigdata_org_spark.operators.similarity import (
            IVFC_INC_SEED_MAX,
            SEMC_TAU,
            _semc_in_ball,
            _semc_pair_dots,
            ivfc_argmin_cells,
            ivfc_cell_distances,
            ivfc_scaled_points,
        )

        batch_df = self._cache(batch_df)
        pts_b = self._cache(ivfc_scaled_points(batch_df.select("vec_id", "embedding")))
        pts_h = self._prior(
            f"{self.history_path}/points", "vec_id bigint, dim int, xs bigint", epoch_id
        )
        cents = pts_h.filter(F.col("vec_id") < IVFC_INC_SEED_MAX).select(
            F.col("vec_id").alias("cid"), "dim", F.col("xs").alias("cs")
        )
        assign_b = ivfc_argmin_cells(ivfc_cell_distances(pts_b, cents))
        assign_h = ivfc_argmin_cells(ivfc_cell_distances(pts_h, cents))
        prs = (
            assign_b.select(F.col("vec_id").alias("b_id"), "cell")
            .join(assign_h.select(F.col("vec_id").alias("h_id"), "cell"), "cell")
            .select("b_id", "h_id")
        )
        pts_all = pts_b.unionByName(pts_h)
        n2 = pts_all.groupBy("vec_id").agg(
            F.sum(F.col("xs") * F.col("xs")).cast("long").alias("n2")
        )
        nb = n2.select(F.col("vec_id").alias("b_id"), F.col("n2").alias("n2a"))
        nh = n2.select(F.col("vec_id").alias("h_id"), F.col("n2").alias("n2b"))
        rejected_ids = (
            _semc_pair_dots(prs, pts_all, "b_id", "h_id")
            .join(nb, "b_id")
            .join(nh, "h_id")
            .filter(_semc_in_ball(SEMC_TAU))
            .select(F.col("b_id").alias("vec_id"))
            .distinct()
        )
        feat = pts_b.withColumnRenamed("vec_id", "doc_id")
        return _admit_batch(self, batch_df, feat, rejected_ids, epoch_id)

    def _write_history(self, adm_pts: DataFrame, epoch_id: int) -> None:
        self._write(
            adm_pts.withColumnRenamed("doc_id", "vec_id"),
            f"{self.history_path}/points",
            epoch_id,
        )


@dataclass
class AnnPostingsSink(_FoldSink):
    """Streaming ANN index maintenance — the foreachBatch form of
    ``operators.similarity.sim_ann_ivf_incremental``: each micro-batch
    of embedded rows becomes integer-millionth points (the state DELTA —
    points ADD across epochs), and the derived table per epoch is the
    POSTINGS SNAPSHOT of the index as of that epoch: every point seen so
    far assigned to the codebook under the batch twin's exact
    history-seed predicate (ids < IVFC_INC_SEED_MAX AND residue-history —
    a pure predicate over the folded points, so a replayed or out-of-order
    epoch can never grow the codebook with shard ids). All arithmetic is
    the certified shared code (``ivfc_scaled_points`` /
    ``ivfc_cell_distances`` / ``ivfc_argmin_cells``), so the streamed
    postings cannot drift from the batch index
    (tests/test_streaming.py::test_ann_postings_sink_matches_batch).

    Scale note: the snapshot recomputes prior points' assignments per
    epoch (the SemDeDupHistorySink caveat, same reason); a production
    deployment freezes the codebook once fully seeded and APPENDS only
    the epoch's assignments to a cell-bucketed postings table — the
    assignment arithmetic is identical either way."""

    spark: SparkSession
    out_path: str
    state_path: str
    stats: dict = field(default_factory=lambda: {"batches": 0, "postings": 0})

    STATE_SCHEMA = "vec_id bigint, dim int, xs bigint"
    STORE_FOLDED = False
    STATE_DIR, DERIVED_DIR = "{state_path}", "{out_path}"

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.similarity import (
            ivfc_scaled_points,
        )

        return ivfc_scaled_points(batch_df.select("vec_id", "embedding"))

    def _merge(self, unioned: DataFrame) -> DataFrame:
        return unioned  # per-dim points simply accumulate across epochs

    def _derive(self, folded: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.similarity import (
            EMB_BATCH_RESIDUE,
            IVFC_INC_SEED_MAX,
            ivfc_argmin_cells,
            ivfc_cell_distances,
        )

        cents = folded.filter(
            (F.col("vec_id") < IVFC_INC_SEED_MAX)
            & (F.col("vec_id") % 10 < EMB_BATCH_RESIDUE)
        ).select(F.col("vec_id").alias("cid"), "dim", F.col("xs").alias("cs"))
        return ivfc_argmin_cells(ivfc_cell_distances(folded, cents))

    def _stat(self, derived: DataFrame) -> dict:
        return {"postings": derived.count()}


@dataclass
class AnomalyGateSink(_EpochSink):
    """Streaming EWMA anomaly gate: each micro-batch's readings are
    tested against the exponentially-smoothed level of their
    STRICTLY-PRIOR readings — including priors from earlier epochs, via
    a per-(event_type, day) TAIL store holding the last EWMA_LAGS rows
    of each epoch. The lag fold and band test are the batch
    ``anomaly_ewma_residual``'s own shared expressions
    (``outliers.ewma_components`` / ``ewma_is_anomalous``), so for an
    in-order stream the union of per-epoch flag sets EQUALS the batch
    operator applied to the whole stream, however the stream is split
    into micro-batches (mode-equality test-pinned — the dedup sinks'
    batch-restriction discipline applied to anomaly detection). Late
    rows (arriving after younger rows of their key) are scored against
    the tail as of arrival — the documented streaming divergence, the
    same one watermarked windows bound.

    Per micro-batch: flagged rows go to ``out`` WITH their (ewma_num,
    ewma_den, n_prior) evidence; the batch's last <= EWMA_LAGS rows per
    (event_type, day) — NULL readings included, they occupy lag slots —
    go to ``tail``. Reading the tail store re-ranks the accumulated
    per-epoch tails down to the latest EWMA_LAGS per key, so history
    stays O(keys x EWMA_LAGS x epochs) on disk and O(keys x EWMA_LAGS)
    in the join — never the stream.

    Scale shape: one window pass over (bounded tail UNION batch), one
    filter, two bounded writes; no state store, no stream re-scan —
    the applyInPandasWithState-free formulation of keyed smoothing
    state, possible because EWMA state IS the last EWMA_LAGS rows."""

    spark: SparkSession
    out_path: str
    tail_path: str
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "flagged": 0, "scored": 0}
    )

    _TAIL_SCHEMA = (
        "event_id bigint, event_type string, day date, ts timestamp, cents bigint"
    )

    @staticmethod
    def _latest_tail(df: DataFrame) -> DataFrame:
        """The ONE definition of the tail cut — the last EWMA_LAGS rows
        per (event_type, day), desc tie-break on (ts, event_id) — shared
        by the history READ (re-ranking accumulated epoch tails) and the
        epoch WRITE (cutting the batch's own tail), so the read/write
        symmetry the mode-equality guarantee rests on cannot drift."""
        from pyspark.sql import Window as W

        from projet_pipeline_bigdata_org_spark.operators.outliers import EWMA_LAGS

        rn = F.row_number().over(
            W.partitionBy("event_type", "day").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        return df.withColumn("_rn", rn).filter(F.col("_rn") <= EWMA_LAGS).drop("_rn")

    def _tail_before(self, epoch_id: int) -> DataFrame:
        return self._latest_tail(self._prior(self.tail_path, self._TAIL_SCHEMA, epoch_id))

    def _epoch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        from projet_pipeline_bigdata_org_spark.operators.outliers import (
            clamped_cents,
            ewma_components,
            ewma_is_anomalous,
        )

        b = self._cache(
            batch_df.select(
                "event_id",
                "event_type",
                F.col("ts").cast("date").alias("day"),
                "ts",
                clamped_cents().alias("cents"),
            )
        )
        tagged = self._tail_before(epoch_id).select(
            "*", F.lit(0).alias("is_batch")
        ).unionByName(b.select("*", F.lit(1).alias("is_batch")))
        flagged = self._cache(
            ewma_components(tagged)
            .filter((F.col("is_batch") == 1) & ewma_is_anomalous())
            .select("event_id", "event_type", "cents", "ewma_num", "ewma_den", "n_prior")
        )
        counts = {"flagged": flagged.count(), "scored": b.count()}
        self._write(flagged, self.out_path, epoch_id)
        self._write(self._latest_tail(b), self.tail_path, epoch_id)
        return counts


@dataclass
class KmvSketchSink(_FoldSink):
    """Streaming distinct-count tracking via the KMV bottom-k sketch —
    the mergeable-sketch discipline running ONLINE: each micro-batch's
    distinct token hashes union the accumulated sketch and re-trim to
    KMV_K per scope, and because union-then-trim is idempotent and
    associative (the merge identity ``agg_kmv_distinct`` pins), the
    sketch after any sequence of micro-batches EQUALS the batch sketch
    over the concatenated stream — mode-equality test-pinned, and replay
    is free: a replayed epoch unions rows that are already subsumed.

    Per micro-batch: the batch's per-lang + '__all__' distinct (scope,
    hash) rows union the <= |scopes| x KMV_K rows read from ALL prior
    epoch partitions (re-trimmed at read — no 'latest epoch' pointer to
    corrupt), the merged sketch goes to ``sketch``, and the per-scope
    summary (n_kept, kth threshold, milli estimate — the shared
    ``kmv_summarize`` arithmetic) to ``estimates`` for observability.

    Scale shape: per-epoch state is O(scopes x KMV_K) rows on disk per
    epoch and in the union — never the stream; the batch side is one
    distinct + a WindowGroupLimit bottom-K. The hash, trim, and
    estimator are the batch operator's own helpers (kmv_hash / kmv_trim
    / kmv_summarize) — one definition, no drift."""

    spark: SparkSession
    sketch_path: str
    stats: dict = field(default_factory=lambda: {"batches": 0})

    STATE_SCHEMA = "lang string, h bigint"
    STORE_FOLDED = True  # trim is idempotent: merged rows subsume replays
    STATE_DIR, DERIVED_DIR = "{sketch_path}/sketch", "{sketch_path}/estimates"

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
            kmv_hash,
        )
        from projet_pipeline_bigdata_org_spark.operators.textops import ws_tokens

        toks = batch_df.select("lang", F.explode(ws_tokens("text")).alias("tok"))
        return toks.unionByName(
            toks.select(F.lit("__all__").alias("lang"), "tok")
        ).select("lang", kmv_hash("tok"))

    def _merge(self, unioned: DataFrame) -> DataFrame:
        # trim(batch ∪ prior) — prior rows are already trimmed per epoch,
        # and trim is associative/idempotent, so one trim of the raw
        # union equals trimming at read and again after the union
        from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
            kmv_trim,
        )

        return kmv_trim(unioned)

    def _derive(self, folded: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
            kmv_summarize,
        )

        return kmv_summarize(folded)


@dataclass
class CountMinSketchSink(_FoldSink):
    """Streaming term-frequency tracking via the count-min sketch — the
    third mergeable sketch running ONLINE next to the Bloom position
    store and ``KmvSketchSink``. Unlike KMV, count-min counters ADD, so
    the store holds per-epoch DELTAS: each micro-batch writes only its
    own counter table to ``delta``, and the cumulative sketch at any
    epoch is the SUM over deltas up to it. Addition is associative and
    commutative, so the folded sketch equals the batch sketch over the
    concatenated stream for ANY micro-batch split (mode-equality
    test-pinned — the agg_incremental_rollup identity applied to sketch
    counters).

    Per micro-batch: counters ride the batch operator's own
    ``cm_sketch_counters`` (one explode, partial-agg'd to <= d x w rows —
    shared bucket addressing, no drift); ``estimates`` records the
    probe-term estimates against the cumulative sketch (prior deltas +
    this one, <= d x w rows per epoch in the fold) for observability.

    Scale shape: per-epoch state is <= 1,024 counter rows on disk and in
    the fold — never the token stream; the only stream-sized work is the
    batch's own partial-agg'd counter build."""

    spark: SparkSession
    sketch_path: str
    stats: dict = field(default_factory=lambda: {"batches": 0})

    STATE_SCHEMA = "j int, bucket int, c bigint"
    STORE_FOLDED = False  # counters ADD: store per-epoch deltas
    STATE_DIR, DERIVED_DIR = "{sketch_path}/delta", "{sketch_path}/estimates"

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
            cm_sketch_counters,
        )
        from projet_pipeline_bigdata_org_spark.operators.textops import ws_tokens

        tokens = F.explode(ws_tokens("text")).alias("tok")
        return cm_sketch_counters(batch_df.select(tokens))

    def _merge(self, unioned: DataFrame) -> DataFrame:
        return unioned.groupBy("j", "bucket").agg(
            F.sum("c").cast("long").alias("c")
        )

    def _derive(self, folded: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
            cm_probe_estimates,
        )

        return cm_probe_estimates(self.spark, folded)


def start_foreach_batch(
    df: DataFrame,
    sink: FailoverBatchSink,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """writeStream.foreachBatch with checkpointing (T1/T3/T6), append
    mode. Call .processAllAvailable() / .awaitTermination() on the
    returned query."""
    writer = (
        df.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


@dataclass
class CusumGateSink(_FoldSink):
    """Streaming CUSUM level-shift gate — the change-detection member of
    the streaming gate family, built on MERGEABLE DAILY PARTIALS rather
    than a tail store: per-(type, day) clamped-cents sums ADD across
    epochs (the agg_incremental_rollup identity), so each micro-batch
    writes only its own daily DELTA table to ``delta`` (cumulative
    snapshots would double-count a day spanning epochs), and the chart
    at any epoch recomputes over the SUM of deltas up to it with the
    batch operator's own ``cusum_chart`` (one definition, no drift).

    Because daily sums are commutative and associative, the final chart
    EQUALS the batch ``anomaly_cusum_gate`` over the concatenated
    stream for ANY micro-batch split — including OUT-OF-ORDER and
    late-arriving rows, a strictly stronger guarantee than the tail
    sinks' in-order contract (a late row lands in its day's partial and
    the whole chart re-derives; mode-equality test-pinned under a
    shuffled split).

    Per micro-batch: ``delta`` gets the batch's daily partials (<= types
    x batch-days rows); ``chart`` gets the full recomputed chart (<=
    types x days rows), and ``stats["shifts"]`` is the current chart's
    flag count. Scale shape: the only stream-sized op is the batch's
    map-side-combined daily rollup; the chart windows run over the
    bounded daily table."""

    spark: SparkSession
    store_path: str
    stats: dict = field(default_factory=lambda: {"batches": 0, "shifts": 0})

    STATE_SCHEMA = "event_type string, day date, daily_cents decimal(38,0)"
    STORE_FOLDED = False  # daily sums ADD: store per-epoch deltas
    STATE_DIR, DERIVED_DIR = "{store_path}/delta", "{store_path}/chart"

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.outliers import (
            cusum_daily,
        )

        return cusum_daily(batch_df)

    def _merge(self, unioned: DataFrame) -> DataFrame:
        return unioned.groupBy("event_type", "day").agg(
            F.sum("daily_cents").cast("decimal(38,0)").alias("daily_cents")
        )

    def _derive(self, folded: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.outliers import (
            cusum_chart,
        )

        return cusum_chart(folded)

    def _stat(self, derived: DataFrame) -> dict:
        return {"shifts": derived.filter(F.col("is_shift")).count()}


@dataclass
class OlsTrendSink(_FoldSink):
    """Streaming per-type OLS trend on mergeable daily partials: daily
    counts ADD across epochs, so the state store holds per-epoch deltas
    and the trend at any epoch is the batch operator's own
    ``ols_trend_from_daily`` over the summed deltas — the final table
    equals the batch ``agg_ols_trend`` over the concatenated stream for
    ANY split, out-of-order rows included (mode-equality test-pinned)."""

    spark: SparkSession
    store_path: str
    stats: dict = field(default_factory=lambda: {"batches": 0, "types": 0})

    STATE_SCHEMA = "event_type string, di int, y bigint"
    STORE_FOLDED = False  # daily counts ADD: store per-epoch deltas
    STATE_DIR, DERIVED_DIR = "{store_path}/delta", "{store_path}/trend"

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.timeseries import (
            ols_daily,
        )

        return ols_daily(batch_df)

    def _merge(self, unioned: DataFrame) -> DataFrame:
        return unioned.groupBy("event_type", "di").agg(
            F.sum("y").cast("long").alias("y")
        )

    def _derive(self, folded: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.timeseries import (
            ols_trend_from_daily,
        )

        return ols_trend_from_daily(folded)

    def _stat(self, derived: DataFrame) -> dict:
        return {"types": derived.count()}


@dataclass
class SeasonalGateSink(_FoldSink):
    """Streaming weekday-profile residual gate — the seasonal gate's
    streaming twin, on the same MERGEABLE DAILY PARTIALS discipline as
    ``CusumGateSink``: per-(type, day-index) clamped-cents sums ADD
    across epochs, so each micro-batch writes only its own daily DELTA
    to ``delta`` and the gate at any epoch recomputes over the SUM of
    deltas up to it with the batch operator's own ``seasonal_flags`` (one
    definition, no drift). Commutative partials ⇒ the final flag table
    EQUALS the batch ``anomaly_seasonal_residual`` over the concatenated
    stream for ANY split, out-of-order and late rows included
    (mode-equality test-pinned under a shuffled stride split).

    Note the semantics this recompute-from-partials form buys: the
    weekday PROFILE itself updates as data arrives (each epoch's flags
    are judged against the profile of everything seen so far), which is
    the batch operator's own definition — a frozen-profile variant is a
    different gate and would diverge from its batch twin.

    Per micro-batch: ``delta`` <= types x batch-days rows; ``flags`` the
    full recomputed gate (<= types x days rows), and
    ``stats["anomalies"]`` is the current gate's flag count. The only
    stream-sized op is the batch's map-side-combined rollup."""

    spark: SparkSession
    store_path: str
    stats: dict = field(default_factory=lambda: {"batches": 0, "anomalies": 0})

    STATE_SCHEMA = "event_type string, di int, daily_cents decimal(38,0)"
    STORE_FOLDED = False  # daily sums ADD: store per-epoch deltas
    STATE_DIR, DERIVED_DIR = "{store_path}/delta", "{store_path}/flags"

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.outliers import (
            seasonal_daily,
        )

        return seasonal_daily(batch_df)

    def _merge(self, unioned: DataFrame) -> DataFrame:
        return unioned.groupBy("event_type", "di").agg(
            F.sum("daily_cents").cast("decimal(38,0)").alias("daily_cents")
        )

    def _derive(self, folded: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.outliers import (
            seasonal_flags,
        )

        return seasonal_flags(folded)

    def _stat(self, derived: DataFrame) -> dict:
        return {"anomalies": derived.filter(F.col("is_anomaly")).count()}


#: stage ids of the composed streaming curation funnel, in the C4 ladder's
#: precedence order restricted to its streaming-amenable stages
#: (FUNNEL_LADDER_C4_STAGES ranks 1, 5, 6, 7 → 1..4 here)
CURATION_FUNNEL_STAGES: tuple[tuple[int, str], ...] = (
    (0, "survivor"),
    (1, "exact_dup"),
    (2, "c4_fail"),
    (3, "gopher_fail"),
    (4, "classifier_fail"),
)


def _exact_dup_flags(
    sink: _EpochSink, batch_df: DataFrame, text, sha_path: str, epoch_id: int
) -> DataFrame:
    """``batch_df`` plus the funnels' exact-dup flag ``__f_exact``: a row is
    an exact duplicate when it is not its content's within-batch min-id
    keeper (``dedup_exact_hash``'s keeper rule) or its content sha is in
    the prior sha dictionary at ``sha_path``."""
    hashed = batch_df.withColumn("content_sha", F.sha2(text, 256))
    keeper = hashed.groupBy("content_sha").agg(F.min(sink.id_col).alias("__keep_id"))
    known = sink._prior(sha_path, "content_sha string", epoch_id).distinct()
    return (
        hashed.join(keeper, "content_sha")
        .join(known.withColumn("__in_hist", F.lit(1)), "content_sha", "left")
        .withColumn(
            "__f_exact",
            (F.col(sink.id_col) != F.col("__keep_id")) | F.col("__in_hist").isNotNull(),
        )
    )


def _funnel_tail(
    sink: _EpochSink,
    flagged: DataFrame,
    batch_columns: list[str],
    sha_path: str,
    epoch_id: int,
) -> dict:
    """Count, then write, the funnels' cached attribution ``flagged``:
    survivors (``stage_ord`` 0, the batch's own columns) to ``out``,
    (doc_id, stage_ord) to ``attributed``, and every first-seen keeper's
    sha to the dictionary at ``sha_path`` whatever its quality outcome —
    ladder semantics: exact-dup is quality-independent, a doc duplicating
    a rejected doc is still a duplicate."""
    survivor = F.col("stage_ord") == 0
    n_total, n_adm = flagged.agg(
        F.count(F.lit(1)), F.count(F.when(survivor, 1))
    ).first()
    sink._write(flagged.filter(survivor).select(*batch_columns), sink.out_path, epoch_id)
    sink._write(
        flagged.select(sink.id_col, "stage_ord"), sink.attributed_path, epoch_id
    )
    sink._write(
        flagged.filter(~F.col("__f_exact")).select("content_sha").distinct(),
        sha_path,
        epoch_id,
    )
    return {"admitted": n_adm, "removed": n_total - n_adm}


@dataclass
class CurationFunnelSink(_EpochSink):
    """The curation funnel COMPOSED at ingest: exact-dedup admission → C4
    rules → Gopher rules → classifier gate in ONE foreachBatch pipeline,
    with first-match stage attribution — the streaming twin of the batch
    ladder's streaming-amenable prefix (``FUNNEL_LADDER_C4_STAGES`` ranks
    1/5/6/7). At 100 TB the funnel runs at ingest, not as a batch pass;
    this sink is that path, built from the SAME rule definitions as the
    batch operators (``c4_keep_col`` / ``gopher_keep_col`` /
    ``qc_margin`` — each drift-pinned against its registered operator)
    so the streamed and batch decisions cannot diverge.

    Per micro-batch, one flag pass over the cached batch:

    1. exact_dup — within-batch min-id keeper OR a content-sha hit in the
       prior history dictionary. The dictionary records every FIRST-SEEN
       content whatever its quality outcome (this is where the
       composition differs from chaining a bare HistoryDedupSink, which
       records only admitted rows);
    2. c4_fail / gopher_fail — the rule columns, evaluated only for
       batch-unique non-historical rows by CASE precedence;
    3. classifier_fail — absolute margin < 0 (the REGISTERED
       ``curate_quality_classifier`` keep and QualityGateSink semantics;
       the batch ladder's corpus-RELATIVE margin rate needs the final
       corpus totals, which an ingest stream by definition does not have
       — the absolute gate is the streaming-correct form).

    Writes: survivors → ``out``; the full per-document attribution
    (doc_id, stage_ord) → ``attributed``; newly seen keeper shas →
    ``history``.

    Scale shape: the rule flags are zero-shuffle codegen'd projections
    (the batch plan pins); the only joins are the min-id keeper partial
    agg and the 64-hex sha membership join (bucketed history table at
    scale, epoch pruning for the strict bound); stats ride ONE aggregate
    on the cache."""

    spark: SparkSession
    out_path: str
    attributed_path: str
    history_path: str
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "removed": 0}
    )

    id_col = "doc_id"

    def _epoch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        from projet_pipeline_bigdata_org_spark.operators.curation import qc_margin
        from projet_pipeline_bigdata_org_spark.operators.textops import (
            c4_keep_col,
            gopher_keep_col,
            ws_tokens,
        )

        text = F.coalesce(F.col("text"), F.lit(""))
        stage = (
            F.when(F.col("__f_exact"), 1)
            .when(~c4_keep_col(F.col("text")), 2)
            .when(~gopher_keep_col(F.col("text")), 3)
            .when(F.col("__margin") < 0, 4)
            .otherwise(0)
            .cast("long")
        )
        flagged = self._cache(
            _exact_dup_flags(self, batch_df, text, self.history_path, epoch_id)
            .withColumn("__margin", qc_margin(ws_tokens(text)))
            .withColumn("stage_ord", stage)
        )
        return _funnel_tail(self, flagged, batch_df.columns, self.history_path, epoch_id)


def _decontam_flags(sh: DataFrame, id_col: str, bench_shingles: DataFrame) -> DataFrame:
    """Per-document overlap of ``sh`` (``id_col``, sh: distinct shingles)
    with the STATIC benchmark dictionary ``bench_shingles`` (one column
    ``s``), broadcast: (id_col, n_shingles, n_overlap, contaminated) — the
    ``lex_decontaminate`` integer-lifted >= DECONTAM_PCT% rule."""
    from projet_pipeline_bigdata_org_spark.operators.textops import DECONTAM_PCT

    hits = (
        sh.select(id_col, F.explode("sh").alias("s"))
        .join(F.broadcast(bench_shingles.select("s").distinct()), "s")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    n_overlap = F.coalesce(F.col("n_overlap"), F.lit(0).cast("long"))
    return (
        sh.select(id_col, F.size("sh").cast("long").alias("n_shingles"))
        .join(hits, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            n_overlap.alias("n_overlap"),
            (
                (100 * n_overlap >= DECONTAM_PCT * F.col("n_shingles"))
                & (F.col("n_shingles") > 0)
            ).alias("contaminated"),
        )
    )


@dataclass
class DecontaminationGateSink(_EpochSink):
    """Streaming benchmark-decontamination gate — the eval-hygiene ladder
    stage (FUNNEL_LADDER_STAGES rank 4) at ingest: each micro-batch's
    documents are checked for shingle overlap against a STATIC benchmark
    dictionary and split pass/contaminated. Unlike the dedup sinks there
    is NO epoch state: eval sets are fixed reference data, so the
    dictionary broadcasts once and every epoch is independently
    idempotent — the stream-static join discipline, applied to the
    ``lex_decontaminate`` arithmetic (same shingles / distinct /
    integer-lifted >= DECONTAM_PCT% rule, mode-equality test-pinned).

    Writes: passing rows → ``out``; the full per-document overlap audit
    (doc_id, n_shingles, n_overlap, contaminated) → ``flags``.

    Scale shape: the dictionary is KB-MB (eval sets) and broadcasts; the
    batch streams map-side through the broadcast hash join; the only
    exchange is the partial-agg'd per-doc overlap groupBy."""

    spark: SparkSession
    out_path: str
    flags_path: str
    bench_shingles: DataFrame  # one column `s`: the distinct dictionary
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "passed": 0, "contaminated": 0}
    )

    def _epoch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        from projet_pipeline_bigdata_org_spark.operators.textops import (
            shingles,
            ws_tokens,
        )

        text = F.coalesce(F.col("text"), F.lit(""))
        sh = self._cache(
            batch_df.select(
                "doc_id", F.array_distinct(shingles(ws_tokens(text))).alias("sh")
            )
        )
        flags = self._cache(_decontam_flags(sh, "doc_id", self.bench_shingles))
        n_total, n_bad = flags.agg(
            F.count(F.lit(1)), F.count(F.when(F.col("contaminated"), 1))
        ).first()
        self._write(flags, self.flags_path, epoch_id)
        passed = flags.filter(~F.col("contaminated")).select("doc_id")
        self._write(batch_df.join(passed, "doc_id"), self.out_path, epoch_id)
        return {"passed": n_total - n_bad, "contaminated": n_bad}


#: (stage_ord, stage) rows of the FULL streaming-amenable funnel prefix —
#: the C4-ladder's OWN ranks (rank 2, normalized dup, has no streaming
#: form; the corpus-relative DSIR/perplexity/entropy tails, ranks 8-10,
#: need final corpus totals an ingest stream cannot have)
CURATION_INGEST_STAGES: tuple[tuple[int, str], ...] = (
    (0, "survivor"),
    (1, "exact_dup"),
    (3, "near_dup"),
    (4, "decontaminated"),
    (5, "c4_fail"),
    (6, "gopher_fail"),
    (7, "classifier_fail"),
)


@dataclass
class CurationFunnelIngestSink(_EpochSink):
    """The FULL streaming-amenable curation funnel at ingest: exact-dedup
    → MinHash near-dup admission → benchmark decontamination → C4 →
    Gopher → classifier in ONE foreachBatch pipeline with first-match
    stage attribution, using the C4-ladder's own stage ordinals
    (``CURATION_INGEST_STAGES``). Extends :class:`CurationFunnelSink`
    with the two stages it lacked — the band-table near-dup admission
    spliced between exact-dedup and C4 exactly as
    :class:`MinHashHistoryDedupSink` runs it standalone (shared
    ``minhash_band_table`` / ``_lsh_candidate_jaccard`` code, so band
    keys and the verify division can never drift), and the stream-static
    benchmark gate of :class:`DecontaminationGateSink`. Certified batch
    twin: ``curate_funnel_stream_prefix6`` (mode-equality test-pinned).

    Stage semantics per micro-batch:

    1. exact_dup (rank 1) — within-batch min-id keeper OR a content-sha
       hit in the prior sha dictionary (CurationFunnelSink semantics:
       every FIRST-SEEN content enters whatever its outcome);
    2. near_dup (rank 3) — a first-seen keeper is removed when it has a
       verified near-duplicate (exact Jaccard >= threshold on band
       collisions) against the prior band/shingle history OR against a
       SMALLER-id first-seen keeper in the same batch. Unlike the
       standalone MinHashHistoryDedupSink (which records only ADMITTED
       rows), the history here records EVERY first-seen keeper's
       bands/shingles whatever its own stage — the ladder's one-shot pair
       semantics (a doc near-duplicating a rejected doc is still a
       near-duplicate), which is exactly what makes the streamed
       attribution equal the one-shot twin's pair set;
    3. decontaminated (rank 4) — benchmark members (the corpus's
       doc_id % DECONTAM_BENCH_MOD == 0 stand-in) are removed outright
       (eval data never trains), and other docs at
       >= DECONTAM_PCT% shingle overlap with the STATIC broadcast
       benchmark dictionary (DecontaminationGateSink arithmetic);
    4. c4_fail / gopher_fail / classifier_fail (ranks 5/6/7) — the
       drift-pinned rule columns, absolute classifier margin < 0.

    Writes: survivors → ``out``; attribution (doc_id, stage_ord) →
    ``attributed``; first-seen keeper shas → ``history/shas``; their
    bands/shingles → ``history/bands|shingles``.

    Scale shape: rule flags are zero-shuffle codegen'd projections; the
    joins are the min-id keeper partial agg, the sha membership join,
    the 24-byte band-collision join (history side bucketable to
    zero-shuffle like the standalone sink), the candidates-only Jaccard
    verify, and the broadcast-dictionary overlap join. ``portable=True``
    swaps xxhash64/murmur3 for the certified sha-slice/coin-fold hashes
    (DuckDB-reproducible — what the mode-equality test runs); production
    keeps the default JVM hashes."""

    spark: SparkSession
    out_path: str
    attributed_path: str
    history_path: str
    bench_shingles: DataFrame  # one column `s`: the static eval dictionary
    portable: bool = False
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "removed": 0}
    )

    id_col = "doc_id"

    def _epoch(self, batch_df: DataFrame, epoch_id: int) -> dict:
        from projet_pipeline_bigdata_org_spark.operators.curation import qc_margin
        from projet_pipeline_bigdata_org_spark.operators.dedup import (
            _lsh_candidate_jaccard,
            JACCARD_THRESHOLD,
            minhash_band_table,
            portable_shingle_hashes,
            shingle_hashes,
        )
        from projet_pipeline_bigdata_org_spark.operators.textops import (
            DECONTAM_BENCH_MOD,
            c4_keep_col,
            gopher_keep_col,
            shingles,
            ws_tokens,
        )

        text = F.coalesce(F.col("text"), F.lit(""))
        did = F.col("doc_id")
        sha_path = f"{self.history_path}/shas"
        base = self._cache(_exact_dup_flags(self, batch_df, text, sha_path, epoch_id))
        # one shingle/hash stage over this epoch's FIRST-SEEN keepers:
        # feeds the within-batch pair join, the history verify, and the
        # history writes (the MinHashHistoryDedupSink staging discipline)
        hashes = portable_shingle_hashes if self.portable else shingle_hashes
        sh = self._cache(
            base.filter(~F.col("__f_exact"))
            .select(
                did.alias("doc_id"),
                F.array_distinct(shingles(ws_tokens(text))).alias("sh"),
            )
            .filter(F.size("sh") > 0)
            .select("doc_id", "sh", hashes(F.col("sh")).alias("hh"))
        )
        bands_b = minhash_band_table(sh, portable=self.portable)
        # within-batch verified pairs flag the LARGER id (first-seen
        # wins — the one-shot twin's a_id < b_id rule)
        near_batch = _lsh_candidate_jaccard(sh, bands_b).select(
            F.col("b_id").alias("doc_id")
        )
        # portable (coin-fold) buckets are BIGINT; JVM murmur3 buckets INT
        near_hist = _minhash_history_hits(
            self, sh, bands_b, epoch_id, JACCARD_THRESHOLD,
            "long" if self.portable else "int",
        )
        near_ids = (
            near_batch.unionByName(near_hist)
            .distinct()
            .withColumnRenamed("doc_id", "__near_id")
        )
        shc = base.select(
            did.alias("__did"), F.array_distinct(shingles(ws_tokens(text))).alias("sh")
        )
        contam = _decontam_flags(shc, "__did", self.bench_shingles).select(
            "__did", F.col("contaminated").alias("__contam")
        )
        stage = (
            F.when(F.col("__f_exact"), 1)
            .when(F.col("__near_id").isNotNull(), 3)
            .when((did % DECONTAM_BENCH_MOD == 0) | F.col("__contam"), 4)
            .when(~c4_keep_col(F.col("text")), 5)
            .when(~gopher_keep_col(F.col("text")), 6)
            .when(F.col("__margin") < 0, 7)
            .otherwise(0)
            .cast("long")
        )
        flagged = self._cache(
            base.join(near_ids, did == F.col("__near_id"), "left")
            .join(contam, did == F.col("__did"), "left")
            .withColumn("__margin", qc_margin(ws_tokens(text)))
            .withColumn("stage_ord", stage)
        )
        counts = _funnel_tail(self, flagged, batch_df.columns, sha_path, epoch_id)
        # EVERY first-seen keeper enters the band/shingle history whatever
        # its stage (ladder pair semantics, docstring 1-2)
        _write_minhash_history(self, sh, epoch_id, portable=self.portable)
        return counts
