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
dropDuplicatesWithinWatermark.
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


def rate_stream(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """Built-in rate source (timestamp, value) for smoke tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


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


def parse_json_records(kafka_df: DataFrame, schema: T.StructType = RECORD_SCHEMA) -> DataFrame:
    """Kafka value bytes → typed columns (P1+P2: CAST value AS STRING →
    from_json → flatten; engine.py:245-247)."""
    return (
        kafka_df.selectExpr("CAST(value AS STRING) AS raw")
        .select(F.from_json("raw", schema).alias("data"))
        .select("data.*")
    )


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window: str = "5 minutes",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window counts — the canonical stateful agg.
    Late rows beyond the watermark are dropped (append mode)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), *keys, "n_events")
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming dedup with bounded state (dropDuplicatesWithinWatermark):
    the id-dedup capability (reference S8) with state that expires instead
    of growing forever."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
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


@dataclass
class FailoverBatchSink:
    """foreachBatch sink with primary→fallback failover (reference T4/S5/S6,
    engine.py:169-219), minus its anti-patterns: rows are counted by
    observe() on the write job instead of a separate count() job, and
    there is no toPandas() driver collect — the fallback is a distributed
    write too. The empty-batch guard still runs one short isEmpty() job
    per batch; an empty batch reaches neither writer and counts as
    ``stats["empty"]``.

    A transform callable runs inside the micro-batch (the reference's
    _transform_batch slot). Poison batches are counted and dropped after
    both sinks fail (the reference's outer try/except)."""

    primary: BatchWriter
    fallback: BatchWriter | None = None
    transform: Callable[[DataFrame], DataFrame] | None = None
    stats: dict = field(default_factory=lambda: {"batches": 0, "empty": 0, "failover": 0, "dropped": 0})

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
        try:
            self.primary(df, epoch_id)
            self.stats["rows_written"] = self.stats.get("rows_written", 0) + (
                obs.get.get("rows", 0)
            )
        except Exception as primary_err:
            self.stats["failover"] += 1
            log.warning("primary sink failed for epoch %s: %s", epoch_id, primary_err)
            if self.fallback is None:
                self.stats["dropped"] += 1
                return
            try:
                self.fallback(df, epoch_id)
            except Exception as fallback_err:  # drop poison batch, keep stream alive
                self.stats["dropped"] += 1
                log.error(
                    "fallback sink failed for epoch %s: %s", epoch_id, fallback_err
                )


def _epoch_history_scan(
    spark: SparkSession, path: str, schema: str, epoch_id: int
) -> DataFrame:
    """Read an epoch-partitioned history store, restricted to epochs
    STRICTLY before ``epoch_id`` (the replay-safety bound every history
    sink shares) and pruned to the store's declared columns. The
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


def _epoch_fold_batch(sink, batch_df: DataFrame, epoch_id: int) -> None:
    """The shared epoch-store skeleton of every MERGEABLE-STATE sink
    (KMV, count-min, CUSUM gate, seasonal gate — r12, VERDICT r11 #7:
    previously copy-adjacent per sink). A new mergeable sink is its
    arithmetic hooks plus a dataclass; the per-epoch-store /
    strict-prior-epoch / idempotent-overwrite / single-cache-per-stage
    contract lives HERE, once.

    Hooks the sink provides:

    - ``_partial(batch)``  -> the batch's bounded partial-state table;
    - ``_merge(unioned)``  -> fold of (partial ∪ strictly-prior state);
    - ``_derive(folded)``  -> the observable table for this epoch;
    - ``_stat(derived)``   -> optional stats update (the derived table is
      persisted around stat + write, so they share one cache — the
      HistoryDedupSink never-one-job-per-consumer discipline);
    - ``STATE_SCHEMA``, ``STORE_FOLDED``, ``_state_dir()``,
      ``_derived_dir()``.

    ``STORE_FOLDED`` picks the state representation: False stores
    per-epoch DELTAS (counters/partials ADD — cumulative snapshots would
    double-count; count-min, CUSUM, seasonal), True stores the MERGED
    state (union-then-trim is idempotent/associative, so the folded rows
    subsume replays; KMV). Replay safety and idempotence are the
    harness's job: state reads are strictly-prior-epoch scans
    (``_epoch_history_scan``), every write an epoch-partition
    overwrite."""
    sink.stats["batches"] += 1
    if batch_df.isEmpty():  # P9 empty-batch guard
        return
    part = sink._partial(batch_df).persist()
    try:
        prior = _epoch_history_scan(
            sink.spark, sink._state_dir(), sink.STATE_SCHEMA, epoch_id
        )
        folded = sink._merge(part.unionByName(prior))
        if sink.STORE_FOLDED:
            folded = folded.persist()
        try:
            state = folded if sink.STORE_FOLDED else part
            state.write.mode("overwrite").parquet(
                f"{sink._state_dir()}/epoch={epoch_id}"
            )
            derived = sink._derive(folded).persist()
            try:
                # optional hook, as documented: a sink without _stat is
                # valid (ADVICE r12 — previously AttributeError at runtime)
                stat = getattr(sink, "_stat", None)
                if stat is not None:
                    stat(derived)
                derived.write.mode("overwrite").parquet(
                    f"{sink._derived_dir()}/epoch={epoch_id}"
                )
            finally:
                derived.unpersist()
        finally:
            if sink.STORE_FOLDED:
                folded.unpersist()
    finally:
        part.unpersist()


@dataclass
class HistoryDedupSink:
    """Exactly-once streaming dedup against a persisted historical corpus —
    the foreachBatch form of ``operators.dedup.dedup_incremental_exact``
    (reference analogue: S8's driver-side id-skip,
    test/data_ingestion/testpy.py:130-131, made streaming-native and
    content-addressed).

    Per micro-batch (epoch ``e``):
    1. within-batch duplicates collapse to the min-id keeper (map-side
       partial agg, same keeper rule as ``dedup_exact_hash``); upstream
       ``dedup_within_watermark`` already bounds in-flight dups across
       batches — this is the at-rest guard;
    2. admission: an anti-join drops rows whose content sha exists in the
       history table *from epochs strictly before e* — the strict bound is
       the replay-safety invariant: a restarted epoch sees exactly the
       history state its first run saw, so it can never anti-join away its
       own (already-recorded) shas;
    3. admitted rows overwrite ``out/epoch=e`` and their shas overwrite
       ``history/epoch=e`` (both idempotent epoch-partition writes, like
       ``idempotent_parquet_batch_writer``) — replaying an epoch rewrites
       both partitions identically instead of appending duplicates.

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
    INCREMENTALLY, never rebuilt: every epoch idempotently overwrites
    ``history_bloom/epoch=e`` with its admitted positions (written in
    BOTH modes, so toggling the flag mid-stream stays sound), and the
    prefilter unions the <= BLOOM_SHA_BITS-row position store from
    strictly-prior epochs — it never rescans history itself."""

    spark: SparkSession
    out_path: str
    history_path: str
    content_col: str = "text"
    id_col: str = "event_id"
    bloom_prefilter: bool = True
    stats: dict = field(default_factory=lambda: {"batches": 0, "admitted": 0, "rejected": 0})

    def _history_before(self, epoch_id: int) -> DataFrame:
        return _epoch_history_scan(
            self.spark, self.history_path, "content_sha string", epoch_id
        ).distinct()

    def _bloom_store_path(self) -> str:
        return self.history_path.rstrip("/") + "_bloom"

    def _bloom_before(self, epoch_id: int) -> DataFrame:
        """The incrementally-maintained filter: union of strictly-prior
        epochs' admitted positions (<= BLOOM_SHA_BITS rows at any history
        size; epoch pruning keeps the strict bound a metadata filter)."""
        return _epoch_history_scan(
            self.spark, self._bloom_store_path(), "pos bigint", epoch_id
        ).distinct()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            return
        hashed = batch_df.withColumn(
            "content_sha", F.sha2(F.col(self.content_col), 256)
        )
        keeper = hashed.groupBy("content_sha").agg(
            F.min(self.id_col).alias(self.id_col)
        )
        batch = hashed.join(keeper, ["content_sha", self.id_col])
        history = self._history_before(epoch_id)
        # one membership join, persisted for the batch: the stats agg, the
        # output write, and the history write all read the cache — no
        # separate count() job per consumer (the reference's per-batch
        # count() at engine.py:204 is the anti-pattern this avoids)
        if self.bloom_prefilter:
            from projet_pipeline_bigdata_org_spark.operators.dedup import (
                mark_bloom_candidates,
            )

            probed = mark_bloom_candidates(batch, self._bloom_before(epoch_id))
            cand = probed.filter(F.col("is_cand") == 1).drop("is_cand").join(
                history.withColumn("in_history", F.lit(1)), "content_sha", "left"
            )
            rest = (
                probed.filter(F.col("is_cand") == 0)
                .drop("is_cand")
                .withColumn("in_history", F.lit(None).cast("int"))
            )
            joined = cand.unionByName(rest).persist()
        else:
            joined = batch.join(
                history.withColumn("in_history", F.lit(1)),
                "content_sha",
                "left",
            ).persist()
        try:
            n_batch, n_dup = joined.agg(
                F.count(F.lit(1)), F.count("in_history")
            ).first()
            self.stats["admitted"] += n_batch - n_dup
            self.stats["rejected"] += n_dup
            admitted = joined.filter(F.col("in_history").isNull())
            admitted.drop("content_sha", "in_history").write.mode(
                "overwrite"
            ).parquet(f"{self.out_path}/epoch={epoch_id}")
            admitted.select("content_sha").write.mode("overwrite").parquet(
                f"{self.history_path}/epoch={epoch_id}"
            )
            # maintain the Bloom position store in BOTH modes (an epoch
            # skipped here would be a false-negative hole if the prefilter
            # is ever enabled later); idempotent like the history write
            from projet_pipeline_bigdata_org_spark.operators.dedup import (
                bloom_position_table,
            )

            bloom_position_table(admitted).write.mode("overwrite").parquet(
                f"{self._bloom_store_path()}/epoch={epoch_id}"
            )
        finally:
            joined.unpersist()


def _admit_batch(
    sink,
    batch_df: DataFrame,
    feat: DataFrame,
    rejected_ids: DataFrame,
    epoch_id: int,
) -> None:
    """The shared admission TAIL of every feature-history sink (minhash /
    simhash / passage — the scaffolding a fourth family would otherwise
    copy a fifth time): mark the family's rejected ids with ONE left
    join, account stats with one count-pair agg over that cache (never a
    count() job per consumer — the HistoryDedupSink discipline),
    overwrite ``out/epoch=e`` idempotently, and hand the ADMITTED subset
    of the persisted feature stage to the family's ``_write_history``.
    Rejected rows never reach history; a replayed epoch rewrites every
    partition identically.

    Preconditions a fourth family must honor: ``rejected_ids`` has
    exactly one row per rejected ``sink.id_col`` value (every caller
    ends in ``.distinct()`` — a duplicate would multiply batch rows
    through the marker join), and ``feat`` exposes its document id under
    the column name ``doc_id`` (the semi-join key), whatever
    ``sink.id_col`` is on the batch side."""
    joined = batch_df.join(
        rejected_ids.withColumn("_rejected", F.lit(1)), sink.id_col, "left"
    ).persist()
    try:
        n_batch, n_rejected = joined.agg(
            F.count(F.lit(1)), F.count("_rejected")
        ).first()
        sink.stats["admitted"] += n_batch - n_rejected
        sink.stats["rejected"] += n_rejected
        admitted = joined.filter(F.col("_rejected").isNull()).drop("_rejected")
        admitted.write.mode("overwrite").parquet(
            f"{sink.out_path}/epoch={epoch_id}"
        )
        adm_feat = feat.join(
            admitted.select(F.col(sink.id_col).alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        sink._write_history(adm_feat, epoch_id)
    finally:
        joined.unpersist()


@dataclass
class MinHashHistoryDedupSink:
    """Streaming NEAR-dedup admission against a persisted historical corpus
    — the foreachBatch form of ``operators.dedup.dedup_incremental_minhash``,
    completing the dedup matrix's last cell (near x streaming; the exact
    cell is :class:`HistoryDedupSink`). Reference analogue: S8's driver-side
    id-skip (test/data_ingestion/testpy.py:130-131) — here content-similar,
    not just id-equal, and streaming-native.

    Per micro-batch (epoch ``e``):

    1. the shard's texts shingle once into a persisted (doc_id, sh, hh)
       stage — identical staging discipline (and identical shingle/hash/
       band expressions, shared via ``minhash_band_table``) as the batch
       query, so band keys can never drift between the two forms;
    2. candidate generation: the shard's 24-byte (doc_id, band, bucket)
       rows equi-join the historical band table from epochs *strictly
       before e*. The strict bound is the replay-safety invariant: a
       restarted epoch sees exactly the history state its first run saw,
       so it can never reject its own already-recorded rows;
    3. exact-Jaccard verify on candidates only against the historical
       shingle store; shard rows with ANY verified near-duplicate
       (jaccard >= threshold) are rejected at ingest;
    4. admitted rows overwrite ``out/epoch=e``; their band rows overwrite
       ``history/bands/epoch=e`` and their shingles
       ``history/shingles/epoch=e`` — idempotent epoch-partition writes,
       so a replayed epoch rewrites all three partitions identically.

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
    content_col: str = "text"
    id_col: str = "doc_id"
    threshold: float | None = None  # default: operators.dedup.JACCARD_THRESHOLD
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "rejected": 0}
    )

    def _bands_before(self, epoch_id: int) -> DataFrame:
        return _epoch_history_scan(
            self.spark,
            f"{self.history_path}/bands",
            "doc_id long, band int, bucket int",
            epoch_id,
        )

    def _shingles_before(self, epoch_id: int) -> DataFrame:
        return _epoch_history_scan(
            self.spark,
            f"{self.history_path}/shingles",
            "doc_id long, sh array<string>",
            epoch_id,
        )

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from projet_pipeline_bigdata_org_spark.operators.dedup import (
            JACCARD_THRESHOLD,
            minhash_band_table,
            shingle_hashes,
        )
        from projet_pipeline_bigdata_org_spark.operators.textops import (
            shingles,
            ws_tokens,
        )

        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            return
        thr = JACCARD_THRESHOLD if self.threshold is None else self.threshold
        # persist the micro-batch once: the shingle stage, the admission
        # anti-join, the stats count, and the output write all read the
        # cache — no per-consumer source re-scan (the reference's per-batch
        # count() at engine.py:204 is the anti-pattern this avoids, same
        # discipline as HistoryDedupSink)
        batch_df = batch_df.persist()
        # one shingle pass, persisted: feeds the band table, the verify
        # join, and the history write (same projection-collapse guard as
        # the batch query — inlining shingle_hashes into all 32 permutation
        # mins would re-hash every shingle 32x)
        sh = (
            batch_df.select(
                F.col(self.id_col).alias("doc_id"),
                F.array_distinct(
                    shingles(ws_tokens(self.content_col))
                ).alias("sh"),
            )
            .filter(F.size("sh") > 0)
            .select("doc_id", "sh", shingle_hashes(F.col("sh")).alias("hh"))
            .persist()
        )
        try:
            cand = (
                minhash_band_table(sh)
                .alias("b")
                .join(
                    self._bands_before(epoch_id).alias("h"),
                    (F.col("b.band") == F.col("h.band"))
                    & (F.col("b.bucket") == F.col("h.bucket")),
                )
                .select(
                    F.col("b.doc_id").alias("batch_id"),
                    F.col("h.doc_id").alias("history_id"),
                )
                .dropDuplicates(["batch_id", "history_id"])
            )
            sh_b = sh.select(
                F.col("doc_id").alias("batch_id"), F.col("sh").alias("sh_b")
            )
            sh_h = self._shingles_before(epoch_id).select(
                F.col("doc_id").alias("history_id"), F.col("sh").alias("sh_h")
            )
            inter = F.size(F.array_intersect("sh_b", "sh_h"))
            union = F.size("sh_b") + F.size("sh_h") - inter
            rejected_ids = (
                cand.join(sh_b, "batch_id")
                .join(sh_h, "history_id")
                .filter((inter.cast("double") / union) >= F.lit(thr))
                .select(F.col("batch_id").alias(self.id_col))
                .distinct()
            )
            _admit_batch(self, batch_df, sh, rejected_ids, epoch_id)
        finally:
            sh.unpersist()
            batch_df.unpersist()

    def _write_history(self, adm_sh: DataFrame, epoch_id: int) -> None:
        from projet_pipeline_bigdata_org_spark.operators.dedup import (
            minhash_band_table,
        )

        adm_sh = adm_sh.persist()  # feeds both the band and shingle writes
        try:
            minhash_band_table(adm_sh).write.mode("overwrite").parquet(
                f"{self.history_path}/bands/epoch={epoch_id}"
            )
            adm_sh.select("doc_id", "sh").write.mode("overwrite").parquet(
                f"{self.history_path}/shingles/epoch={epoch_id}"
            )
        finally:
            adm_sh.unpersist()


@dataclass
class SimHashHistoryDedupSink:
    """Streaming SimHash near-dedup admission vs epoch history — the
    fingerprint-family sibling of :class:`MinHashHistoryDedupSink`
    (a crawl pipeline runs whichever family it standardized on; both are
    now available at ingest). foreachBatch form of
    ``operators.dedup.dedup_incremental_simhash``.

    Per micro-batch (epoch ``e``): shingle features hash to xxhash64,
    fingerprint via the shared numpy majority-vote kernel, slice into the
    shared chunk-pair band keys (``simhash_chunk_table`` — identical
    expressions as the batch query, so keys cannot drift), equi-join the
    historical band keys from epochs *strictly before e* (replay safety),
    reject shard rows within SIMHASH_HAMMING_MAX of any historical
    fingerprint. No separate verify store: the band rows carry the
    fingerprints, and hamming distance is one bit_count(xor) inside the
    join. Admitted rows overwrite ``out/epoch=e``; admitted fingerprints
    (16 bytes/row) overwrite ``history/fingerprints/epoch=e``.

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
    content_col: str = "text"
    id_col: str = "doc_id"
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "rejected": 0}
    )

    def _fingerprints_before(self, epoch_id: int) -> DataFrame:
        return _epoch_history_scan(
            self.spark,
            f"{self.history_path}/fingerprints",
            "doc_id long, simhash long",
            epoch_id,
        )

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
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

        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            return
        # persist the micro-batch once: fingerprint stage, admission
        # anti-join, stats count, and output write all read the cache —
        # no per-consumer source re-scan (same discipline as the sibling
        # sinks; the reference's per-batch count() is the anti-pattern)
        batch_df = batch_df.persist()
        fp = (
            batch_df.select(
                F.col(self.id_col).alias("doc_id"),
                F.array_distinct(
                    shingles(ws_tokens(self.content_col))
                ).alias("feats"),
            )
            .filter(F.size("feats") > 0)
            .select(
                "doc_id", F.transform("feats", lambda t: F.xxhash64(t)).alias("hh")
            )
            .select(
                "doc_id", simhash_fingerprint_np()(F.col("hh")).alias("simhash")
            )
            .persist()
        )
        try:
            hist_chunks = simhash_chunk_table(self._fingerprints_before(epoch_id)).persist()
            try:
                batch_chunks = simhash_chunk_table(fp)
                hist_f = _drop_hot_simhash_buckets(
                    hist_chunks, SIMHASH_MAX_BUCKET, census_over=hist_chunks
                )
                batch_f = _drop_hot_simhash_buckets(
                    batch_chunks, SIMHASH_MAX_BUCKET, census_over=hist_chunks
                )
                ham = F.bit_count(
                    F.col("b.simhash").bitwiseXOR(F.col("h.simhash"))
                )
                rejected_ids = (
                    batch_f.alias("b")
                    .join(
                        hist_f.alias("h"),
                        (F.col("b.chunk") == F.col("h.chunk"))
                        & (F.col("b.chunk_val") == F.col("h.chunk_val")),
                    )
                    .filter(ham <= SIMHASH_HAMMING_MAX)
                    .select(F.col("b.doc_id").alias(self.id_col))
                    .distinct()
                )
                _admit_batch(self, batch_df, fp, rejected_ids, epoch_id)
            finally:
                hist_chunks.unpersist()
        finally:
            fp.unpersist()
            batch_df.unpersist()

    def _write_history(self, adm_fp: DataFrame, epoch_id: int) -> None:
        adm_fp.write.mode("overwrite").parquet(
            f"{self.history_path}/fingerprints/epoch={epoch_id}"
        )


@dataclass
class QualityGateSink:
    """Streaming model-based quality gate: each micro-batch splits on the
    fastText-style linear-classifier margin (``curation.qc_margin`` — the
    same inlined fixed-point arithmetic as the batch
    ``curate_quality_classifier``, so the streaming and batch decisions
    cannot drift). Rows at or above ``threshold`` overwrite
    ``out/epoch=e``; the rest land in ``quarantine/epoch=e`` WITH their
    margin — quarantined data is kept reviewable, never silently dropped
    (the JSONL-quarantine discipline applied to model-based filtering).
    Both writes are idempotent epoch-partition overwrites, so a
    checkpoint replay rewrites identically.

    Scale shape: the margin folds per row inside codegen (no shuffle, no
    join, no UDF — see the batch query's plan test); ONE membership
    predicate splits the persisted batch; stats ride counts on the
    cache, never a source re-scan."""

    spark: SparkSession
    out_path: str
    quarantine_path: str
    content_col: str = "text"
    threshold: int = 0
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "quarantined": 0}
    )

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from projet_pipeline_bigdata_org_spark.operators.curation import qc_margin
        from projet_pipeline_bigdata_org_spark.operators.textops import ws_tokens

        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            return
        # COALESCE NULL content to '' exactly like the batch twin
        # (textops.SQL_TOK_NULLSAFE): NULL text then scores margin 0 and
        # is ADMITTED at the default threshold in both engines — before
        # round 9 the sink alone sent NULL text to quarantine (NULL
        # margin), so the "cannot drift" claim was false on NULL text.
        scored = batch_df.withColumn(
            "margin",
            qc_margin(ws_tokens(F.coalesce(F.col(self.content_col), F.lit("")))),
        ).persist()
        try:
            passes = F.col("margin") >= self.threshold
            admitted = scored.filter(passes)
            # The admit/reject split must PARTITION the batch — a predicate
            # pair (x >= t / x < t) silently loses NULL rows from both
            # sides. The coalesce above makes margin non-NULL for every
            # row, but the isNull() arm stays as the partition invariant's
            # last line of defense.
            quarantined = scored.filter(~passes | F.col("margin").isNull())
            # one stats pass over the cache (HistoryDedupSink discipline —
            # never one count() job per consumer)
            n_total, n_adm = scored.agg(
                F.count(F.lit(1)), F.count(F.when(passes, 1))
            ).first()
            self.stats["admitted"] += n_adm
            self.stats["quarantined"] += n_total - n_adm
            admitted.drop("margin").write.mode("overwrite").parquet(
                f"{self.out_path}/epoch={epoch_id}"
            )
            quarantined.write.mode("overwrite").parquet(
                f"{self.quarantine_path}/epoch={epoch_id}"
            )
        finally:
            scored.unpersist()


@dataclass
class PassageHistoryDedupSink:
    """Streaming SUBSTRING-level dedup admission vs epoch history — the
    foreachBatch form of ``operators.dedup.dedup_incremental_passages``,
    completing the dedup matrix at the passage level: {exact, minhash,
    simhash, passage} x {one-shot, incremental, streaming}. A shard row
    is rejected when ANY of its distinct PASSAGE_TOKENS-token windows
    already exists in the historical window dictionary from epochs
    *strictly before e* (replay safety: a restarted epoch sees exactly
    the history its first run saw, so it can never reject its own
    already-recorded windows).

    Per micro-batch (epoch ``e``):

    1. one tokenize+shingle+hash pass builds the shard's distinct
       (doc_id, h1, h2) window pairs — the same 16-byte
       ``passage_hash_pair`` keys as the batch query and the prune
       applier, shared expressions so keys cannot drift;
    2. admission: the pairs equi-join the historical window dictionary;
       any hit rejects the document (the batch twin's flagged >= 1
       rule);
    3. admitted rows overwrite ``out/epoch=e``; admitted documents'
       DISTINCT window pairs overwrite ``history/windows/epoch=e`` —
       idempotent epoch-partition writes, so a replayed epoch rewrites
       both partitions identically.

    Rows with <PASSAGE_TOKENS tokens have zero windows, are admitted,
    and contribute no history — the batch query reports them 0/unflagged
    the same way. Scale shape: both join sides carry 16-byte pairs; at
    100 TB the history store is a staging table bucketed by (h1, h2)
    (sources/batch.py: write_bucketed_table), zero-shuffle on the
    history side; the strict-epoch filter is partition pruning."""

    spark: SparkSession
    out_path: str
    history_path: str
    content_col: str = "text"
    id_col: str = "doc_id"
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "rejected": 0}
    )

    def _windows_before(self, epoch_id: int) -> DataFrame:
        return _epoch_history_scan(
            self.spark,
            f"{self.history_path}/windows",
            "h1 long, h2 long",
            epoch_id,
        ).distinct()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from projet_pipeline_bigdata_org_spark.operators.dedup import (
            PASSAGE_TOKENS,
            passage_hash_pair,
        )
        from projet_pipeline_bigdata_org_spark.operators.textops import (
            shingles,
            ws_tokens,
        )

        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            return
        # persist the micro-batch once: the window stage, the admission
        # anti-join, the stats count, and both writes all read the cache
        # (same discipline as every sibling history sink)
        batch_df = batch_df.persist()
        win = (
            batch_df.select(
                F.col(self.id_col).alias("doc_id"),
                F.explode(
                    F.array_distinct(
                        shingles(ws_tokens(self.content_col), PASSAGE_TOKENS)
                    )
                ).alias("passage"),
            )
            .select("doc_id", *passage_hash_pair(F.col("passage")))
            .persist()
        )
        try:
            rejected_ids = (
                win.join(self._windows_before(epoch_id), ["h1", "h2"])
                .select(F.col("doc_id").alias(self.id_col))
                .distinct()
            )
            _admit_batch(self, batch_df, win, rejected_ids, epoch_id)
        finally:
            win.unpersist()
            batch_df.unpersist()

    def _write_history(self, adm_win: DataFrame, epoch_id: int) -> None:
        adm_win.select("h1", "h2").distinct().write.mode("overwrite").parquet(
            f"{self.history_path}/windows/epoch={epoch_id}"
        )


@dataclass
class BoilerplateHistoryDedupSink:
    """Streaming LINE-level dedup admission vs epoch history — the
    foreachBatch form of ``operators.dedup.dedup_incremental_boilerplate``,
    completing the dedup matrix's boilerplate row: {exact, minhash,
    simhash, passage, semantic, URL, boilerplate} x {one-shot,
    incremental, streaming}. A shard row is rejected when ANY of its
    distinct normalized (lower, trimmed, non-empty) newline-delimited
    lines already exists in the historical line dictionary from epochs
    *strictly before e* — navigation chrome / cookie banners / footers
    re-entering the pool, CCNet's granularity at ingest time. The line
    kernel is the SHARED :func:`~...operators.dedup.boilerplate_norm_lines`
    (one definition across audit, batch admission, and this sink), the
    keys the shared 16-byte ``passage_hash_pair``, and the admission
    tail the shared ``_admit_batch`` — a fifth feature family is its
    kernel and nothing else.

    Per micro-batch (epoch ``e``): one split+normalize+hash pass builds
    the shard's distinct (doc_id, h1, h2) line pairs; any hit against
    the strictly-prior dictionary rejects the document; admitted rows
    overwrite ``out/epoch=e`` and admitted documents' distinct line
    pairs overwrite ``history/lines/epoch=e`` — idempotent
    epoch-partition writes, so a replayed epoch rewrites both
    partitions identically and rejected rows never enter history.
    Empty/NULL-text rows have zero lines, are admitted, and contribute
    no history — the batch query reports them (0, false) the same way.
    Scale shape: both join sides carry 16-byte pairs; at 100 TB the
    history store is a staging table bucketed by (h1, h2), zero-shuffle
    on the history side; the strict-epoch filter is partition pruning."""

    spark: SparkSession
    out_path: str
    history_path: str
    content_col: str = "text"
    id_col: str = "doc_id"
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "rejected": 0}
    )

    def _lines_before(self, epoch_id: int) -> DataFrame:
        return _epoch_history_scan(
            self.spark,
            f"{self.history_path}/lines",
            "h1 long, h2 long",
            epoch_id,
        ).distinct()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from projet_pipeline_bigdata_org_spark.operators.dedup import (
            boilerplate_norm_lines,
            passage_hash_pair,
        )

        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            return
        batch_df = batch_df.persist()
        ln = (
            batch_df.select(
                F.col(self.id_col).alias("doc_id"),
                F.explode(
                    boilerplate_norm_lines(F.col(self.content_col))
                ).alias("line"),
            )
            .select("doc_id", *passage_hash_pair(F.col("line")))
            .persist()
        )
        try:
            rejected_ids = (
                ln.join(self._lines_before(epoch_id), ["h1", "h2"])
                .select(F.col("doc_id").alias(self.id_col))
                .distinct()
            )
            _admit_batch(self, batch_df, ln, rejected_ids, epoch_id)
        finally:
            ln.unpersist()
            batch_df.unpersist()

    def _write_history(self, adm_ln: DataFrame, epoch_id: int) -> None:
        adm_ln.select("h1", "h2").distinct().write.mode("overwrite").parquet(
            f"{self.history_path}/lines/epoch={epoch_id}"
        )


@dataclass
class SemDeDupHistorySink:
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

    Per micro-batch (epoch ``e``):

    1. one scaled-points pass turns the shard's embeddings into integer-
       millionth (vec_id, dim, xs) rows — the representation every
       certified stage distances over;
    2. the codebook is derived from the STRICTLY-PRIOR history point
       store: history ids under ``seed_max`` (a pure predicate — the
       same history-seeded rule as the batch twin). First epochs with no
       seed vectors admit everything (no index yet), exactly like an
       empty history table;
    3. shard and prior-history points assign to the frozen codebook by
       exact integer L2 (argmin, ties on id); each shard vector compares
       only against history members of ITS cell (nprobe=1 admission)
       through the shared dot/ball stages;
    4. admitted rows overwrite ``out/epoch=e``; their POINTS overwrite
       ``history/points/epoch=e`` — idempotent epoch-partition writes, so
       a replayed epoch rewrites both partitions identically (and the
       strictly-prior scan means it can never reject its own rows).

    Scale shape: per epoch, codebook derivation reads seed_max ids'
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
    id_col: str = "vec_id"
    embedding_col: str = "embedding"
    seed_max: int | None = None  # default: similarity.IVFC_INC_SEED_MAX
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "rejected": 0}
    )

    def _points_before(self, epoch_id: int) -> DataFrame:
        return _epoch_history_scan(
            self.spark,
            f"{self.history_path}/points",
            "vec_id bigint, dim int, xs bigint",
            epoch_id,
        )

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from projet_pipeline_bigdata_org_spark.operators.similarity import (
            IVFC_INC_SEED_MAX,
            SEMC_TAU,
            _semc_in_ball,
            _semc_pair_dots,
            ivfc_argmin_cells,
            ivfc_cell_distances,
            ivfc_scaled_points,
        )

        seed_max = IVFC_INC_SEED_MAX if self.seed_max is None else self.seed_max
        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            return
        batch_df = batch_df.persist()
        pts_b = (
            ivfc_scaled_points(
                batch_df.select(
                    F.col(self.id_col).alias("vec_id"),
                    F.col(self.embedding_col).alias("embedding"),
                )
            )
            # the admission joins, the stats agg, and the history write
            # all read this cache (sibling-sink discipline)
            .persist()
        )
        try:
            pts_h = self._points_before(epoch_id)
            cents = pts_h.filter(F.col("vec_id") < seed_max).select(
                F.col("vec_id").alias("cid"), "dim", F.col("xs").alias("cs")
            )
            assign_b = ivfc_argmin_cells(ivfc_cell_distances(pts_b, cents))
            assign_h = ivfc_argmin_cells(ivfc_cell_distances(pts_h, cents))
            prs = (
                assign_b.select(F.col("vec_id").alias("b_id"), "cell")
                .join(
                    assign_h.select(F.col("vec_id").alias("h_id"), "cell"),
                    "cell",
                )
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
                .select(F.col("b_id").alias(self.id_col))
                .distinct()
            )
            _admit_batch(
                self,
                batch_df,
                pts_b.withColumnRenamed("vec_id", "doc_id"),
                rejected_ids,
                epoch_id,
            )
        finally:
            pts_b.unpersist()
            batch_df.unpersist()

    def _write_history(self, adm_pts: DataFrame, epoch_id: int) -> None:
        adm_pts.withColumnRenamed("doc_id", "vec_id").write.mode(
            "overwrite"
        ).parquet(f"{self.history_path}/points/epoch={epoch_id}")


@dataclass
class AnnPostingsSink:
    """Streaming ANN index maintenance — the foreachBatch form of
    ``operators.similarity.sim_ann_ivf_incremental`` (VERDICT r14 #4),
    on the shared ``_epoch_fold_batch`` harness: each micro-batch of
    embedded rows becomes integer-millionth points (the state DELTA —
    points ADD across epochs, STORE_FOLDED=False), and the derived
    table per epoch is the POSTINGS SNAPSHOT of the index as of that
    epoch: every point seen so far assigned to the codebook under the
    batch twin's exact history-seed predicate (ids < seed_max AND
    residue-history — a pure predicate over the folded points, so a
    replayed or out-of-order epoch can never grow the codebook with
    shard ids). All arithmetic is the certified shared code
    (``ivfc_scaled_points`` / ``ivfc_cell_distances`` /
    ``ivfc_argmin_cells``), so the streamed postings cannot drift from
    the batch index
    (tests/test_streaming.py::test_ann_postings_sink_matches_batch).

    Scale note: the snapshot recomputes prior points' assignments per
    epoch (the SemDeDupHistorySink caveat, same reason); a production
    deployment freezes the codebook once fully seeded and APPENDS only
    the epoch's assignments to a cell-bucketed postings table — the
    assignment arithmetic is identical either way."""

    spark: SparkSession
    out_path: str
    state_path: str
    id_col: str = "vec_id"
    embedding_col: str = "embedding"
    seed_max: int | None = None  # default: similarity.IVFC_INC_SEED_MAX
    stats: dict = field(default_factory=lambda: {"batches": 0, "postings": 0})

    STATE_SCHEMA = "vec_id bigint, dim int, xs bigint"
    STORE_FOLDED = False

    def _state_dir(self) -> str:
        return self.state_path

    def _derived_dir(self) -> str:
        return self.out_path

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.similarity import (
            ivfc_scaled_points,
        )

        return ivfc_scaled_points(
            batch_df.select(
                F.col(self.id_col).alias("vec_id"),
                F.col(self.embedding_col).alias("embedding"),
            )
        )

    def _merge(self, unioned: DataFrame) -> DataFrame:
        return unioned  # per-dim points simply accumulate across epochs

    def _derive(self, folded: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.similarity import (
            EMB_BATCH_RESIDUE,
            IVFC_INC_SEED_MAX,
            ivfc_argmin_cells,
            ivfc_cell_distances,
        )

        seed_max = IVFC_INC_SEED_MAX if self.seed_max is None else self.seed_max
        cents = folded.filter(
            (F.col("vec_id") < seed_max)
            & (F.col("vec_id") % 10 < EMB_BATCH_RESIDUE)
        ).select(F.col("vec_id").alias("cid"), "dim", F.col("xs").alias("cs"))
        return ivfc_argmin_cells(ivfc_cell_distances(folded, cents))

    def _stat(self, derived: DataFrame) -> None:
        self.stats["postings"] = derived.count()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        _epoch_fold_batch(self, batch_df, epoch_id)


@dataclass
class AnomalyGateSink:
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

    Per micro-batch (epoch ``e``): flagged rows overwrite
    ``out/epoch=e`` WITH their (ewma_num, ewma_den, n_prior) evidence;
    the batch's last <= EWMA_LAGS rows per (event_type, day) — NULL
    readings included, they occupy lag slots — overwrite
    ``tail/epoch=e``. Both writes are idempotent epoch-partition
    overwrites (replay rewrites identically). Reading the tail store
    re-ranks the accumulated per-epoch tails down to the latest
    EWMA_LAGS per key, so history stays O(keys x EWMA_LAGS x epochs)
    on disk and O(keys x EWMA_LAGS) in the join — never the stream.

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
        return self._latest_tail(
            _epoch_history_scan(
                self.spark, self.tail_path, self._TAIL_SCHEMA, epoch_id
            )
        )

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from projet_pipeline_bigdata_org_spark.operators.outliers import (
            clamped_cents,
            ewma_components,
            ewma_is_anomalous,
        )

        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            return
        b = batch_df.select(
            "event_id",
            "event_type",
            F.col("ts").cast("date").alias("day"),
            "ts",
            clamped_cents().alias("cents"),
        ).persist()
        try:
            tagged = self._tail_before(epoch_id).select(
                "*", F.lit(0).alias("is_batch")
            ).unionByName(b.select("*", F.lit(1).alias("is_batch")))
            flagged = (
                ewma_components(tagged)
                .filter((F.col("is_batch") == 1) & ewma_is_anomalous())
                .select(
                    "event_id",
                    "event_type",
                    "cents",
                    "ewma_num",
                    "ewma_den",
                    "n_prior",
                )
            ).persist()
            try:
                n_flagged = flagged.count()
                self.stats["flagged"] += n_flagged
                self.stats["scored"] += b.count()
                flagged.write.mode("overwrite").parquet(
                    f"{self.out_path}/epoch={epoch_id}"
                )
            finally:
                flagged.unpersist()
            self._latest_tail(b).write.mode("overwrite").parquet(
                f"{self.tail_path}/epoch={epoch_id}"
            )
        finally:
            b.unpersist()


@dataclass
class KmvSketchSink:
    """Streaming distinct-count tracking via the KMV bottom-k sketch —
    the mergeable-sketch discipline running ONLINE: each micro-batch's
    distinct token hashes union the accumulated sketch and re-trim to
    KMV_K per scope, and because union-then-trim is idempotent and
    associative (the merge identity ``agg_kmv_distinct`` pins), the
    sketch after any sequence of micro-batches EQUALS the batch sketch
    over the concatenated stream — mode-equality test-pinned, and replay
    is free: a replayed epoch unions rows that are already subsumed.

    Per micro-batch (epoch ``e``): the batch's per-lang + '__all__'
    distinct (scope, hash) rows union the <= |scopes| x KMV_K rows read
    from ALL strictly-prior epoch partitions (re-trimmed at read — no
    'latest epoch' pointer to corrupt), the merged sketch overwrites
    ``sketch/epoch=e`` idempotently, and the per-scope summary
    (n_kept, kth threshold, milli estimate — the shared
    ``kmv_summarize`` arithmetic) overwrites ``estimates/epoch=e`` for
    observability.

    Scale shape: per-epoch state is O(scopes x KMV_K) rows on disk per
    epoch and in the union — never the stream; the batch side is one
    distinct + a WindowGroupLimit bottom-K. The hash, trim, and
    estimator are the batch operator's own helpers (kmv_hash / kmv_trim
    / kmv_summarize) — one definition, no drift."""

    spark: SparkSession
    sketch_path: str
    content_col: str = "text"
    lang_col: str = "lang"
    stats: dict = field(default_factory=lambda: {"batches": 0})

    STATE_SCHEMA = "lang string, h bigint"
    STORE_FOLDED = True  # trim is idempotent: merged rows subsume replays

    def _state_dir(self) -> str:
        return f"{self.sketch_path}/sketch"

    def _derived_dir(self) -> str:
        return f"{self.sketch_path}/estimates"

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
            kmv_hash,
        )
        from projet_pipeline_bigdata_org_spark.operators.textops import ws_tokens

        toks = batch_df.select(
            F.col(self.lang_col).alias("lang"),
            F.explode(ws_tokens(self.content_col)).alias("tok"),
        )
        return toks.unionByName(
            toks.select(F.lit("__all__").alias("lang"), "tok")
        ).select("lang", kmv_hash("tok"))

    def _merge(self, unioned: DataFrame) -> DataFrame:
        # trim(batch ∪ prior) — prior rows are already trimmed per epoch,
        # and trim is associative/idempotent, so one trim of the raw
        # union equals the old trim-at-read-then-trim-again form
        from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
            kmv_trim,
        )

        return kmv_trim(unioned)

    def _derive(self, folded: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
            kmv_summarize,
        )

        return kmv_summarize(folded)

    def _stat(self, derived: DataFrame) -> None:
        pass

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        _epoch_fold_batch(self, batch_df, epoch_id)


@dataclass
class CountMinSketchSink:
    """Streaming term-frequency tracking via the count-min sketch — the
    third mergeable sketch running ONLINE next to the Bloom position
    store and ``KmvSketchSink``. Unlike KMV (whose cumulative sketch is
    union-then-trim idempotent, so each epoch can store the MERGED
    state), count-min counters ADD — re-summing cumulative snapshots
    would double-count — so the store holds per-epoch DELTAS: each
    micro-batch writes only its own counter table to
    ``delta/epoch=e`` (idempotent overwrite, replay-safe), and the
    cumulative sketch at any epoch is the SUM over deltas up to it.
    Addition is associative and commutative, so the folded sketch equals
    the batch sketch over the concatenated stream for ANY micro-batch
    split (mode-equality test-pinned — the agg_incremental_rollup
    identity applied to sketch counters).

    Per micro-batch: counters ride the batch operator's own
    ``cm_sketch_counters`` (one explode, partial-agg'd to <= d x w rows —
    shared bucket addressing, no drift); ``estimates/epoch=e`` records
    the probe-term estimates against the cumulative sketch
    (strictly-prior deltas + this one, <= d x w rows per epoch in the
    fold) for observability.

    Scale shape: per-epoch state is <= 1,024 counter rows on disk and in
    the fold — never the token stream; the only stream-sized work is the
    batch's own partial-agg'd counter build."""

    spark: SparkSession
    sketch_path: str
    content_col: str = "text"
    stats: dict = field(default_factory=lambda: {"batches": 0})

    STATE_SCHEMA = "j int, bucket int, c bigint"
    STORE_FOLDED = False  # counters ADD: store per-epoch deltas

    def _state_dir(self) -> str:
        return f"{self.sketch_path}/delta"

    def _derived_dir(self) -> str:
        return f"{self.sketch_path}/estimates"

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
            cm_sketch_counters,
        )
        from projet_pipeline_bigdata_org_spark.operators.textops import ws_tokens

        return cm_sketch_counters(
            batch_df.select(F.explode(ws_tokens(self.content_col)).alias("tok"))
        )

    def _merge(self, unioned: DataFrame) -> DataFrame:
        return unioned.groupBy("j", "bucket").agg(
            F.sum("c").cast("long").alias("c")
        )

    def _derive(self, folded: DataFrame) -> DataFrame:
        from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
            cm_probe_estimates,
        )

        return cm_probe_estimates(self.spark, folded)

    def _stat(self, derived: DataFrame) -> None:
        pass

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        _epoch_fold_batch(self, batch_df, epoch_id)


def start_foreach_batch(
    df: DataFrame,
    sink: FailoverBatchSink,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    output_mode: str = "append",
):
    """writeStream.foreachBatch with checkpointing (T1/T3/T6). Call
    .processAllAvailable() / .awaitTermination() on the returned query."""
    writer = (
        df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


@dataclass
class CusumGateSink:
    """Streaming CUSUM level-shift gate — the change-detection member of
    the streaming gate family, built on MERGEABLE DAILY PARTIALS rather
    than a tail store: per-(type, day) clamped-cents sums ADD across
    epochs (the agg_incremental_rollup identity), so each micro-batch
    writes only its own daily DELTA table to ``delta/epoch=e``
    (idempotent overwrite, replay-safe — the CountMinSketchSink delta
    discipline: cumulative snapshots would double-count a day spanning
    epochs), and the chart at any epoch recomputes over the SUM of
    deltas up to it with the batch operator's own ``cusum_chart``
    (one definition, no drift).

    Because daily sums are commutative and associative, the final chart
    EQUALS the batch ``anomaly_cusum_gate`` over the concatenated
    stream for ANY micro-batch split — including OUT-OF-ORDER and
    late-arriving rows, a strictly stronger guarantee than the tail
    sinks' in-order contract (a late row lands in its day's partial and
    the whole chart re-derives; mode-equality test-pinned under a
    shuffled split).

    Per micro-batch: ``delta/epoch=e`` gets the batch's daily partials
    (<= types x batch-days rows); ``chart/epoch=e`` gets the full
    recomputed chart (<= types x days rows). Scale shape: the only
    stream-sized op is the batch's map-side-combined daily rollup; the
    chart windows run over the bounded daily table."""

    spark: SparkSession
    store_path: str
    stats: dict = field(default_factory=lambda: {"batches": 0, "shifts": 0})

    STATE_SCHEMA = "event_type string, day date, daily_cents decimal(38,0)"
    STORE_FOLDED = False  # daily sums ADD: store per-epoch deltas

    def _state_dir(self) -> str:
        return f"{self.store_path}/delta"

    def _derived_dir(self) -> str:
        return f"{self.store_path}/chart"

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

    def _stat(self, derived: DataFrame) -> None:
        # the chart is a full recompute — "shifts" is the CURRENT chart's
        # flag count, not a sum over epochs
        self.stats["shifts"] = derived.filter(F.col("is_shift")).count()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        _epoch_fold_batch(self, batch_df, epoch_id)


@dataclass
class OlsTrendSink:
    """Streaming per-type OLS trend on mergeable daily partials — the
    first sink written AGAINST the extracted ``_epoch_fold_batch``
    contract (r12): the class is its arithmetic hooks and nothing else.
    Daily counts ADD across epochs, so the state store holds per-epoch
    deltas and the trend at any epoch is the batch operator's own
    ``ols_trend_from_daily`` over the summed deltas — the final table
    equals the batch ``agg_ols_trend`` over the concatenated stream for
    ANY split, out-of-order rows included (mode-equality test-pinned)."""

    spark: SparkSession
    store_path: str
    stats: dict = field(default_factory=lambda: {"batches": 0, "types": 0})

    STATE_SCHEMA = "event_type string, di int, y bigint"
    STORE_FOLDED = False  # daily counts ADD: store per-epoch deltas

    def _state_dir(self) -> str:
        return f"{self.store_path}/delta"

    def _derived_dir(self) -> str:
        return f"{self.store_path}/trend"

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

    def _stat(self, derived: DataFrame) -> None:
        self.stats["types"] = derived.count()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        _epoch_fold_batch(self, batch_df, epoch_id)


@dataclass
class SeasonalGateSink:
    """Streaming weekday-profile residual gate — the seasonal gate's
    streaming twin, on the same MERGEABLE DAILY PARTIALS discipline as
    ``CusumGateSink``: per-(type, day-index) clamped-cents sums ADD
    across epochs, so each micro-batch writes only its own daily DELTA
    to ``delta/epoch=e`` (idempotent overwrite, replay-safe) and the
    gate at any epoch recomputes over the SUM of deltas up to it with
    the batch operator's own ``seasonal_flags`` (one definition, no
    drift). Commutative partials ⇒ the final flag table EQUALS the
    batch ``anomaly_seasonal_residual`` over the concatenated stream
    for ANY split, out-of-order and late rows included (mode-equality
    test-pinned under a shuffled stride split).

    Note the semantics this recompute-from-partials form buys: the
    weekday PROFILE itself updates as data arrives (each epoch's flags
    are judged against the profile of everything seen so far), which is
    the batch operator's own definition — a frozen-profile variant is a
    different gate and would diverge from its batch twin.

    Per micro-batch: ``delta/epoch=e`` <= types x batch-days rows;
    ``flags/epoch=e`` the full recomputed gate (<= types x days rows).
    The only stream-sized op is the batch's map-side-combined rollup."""

    spark: SparkSession
    store_path: str
    stats: dict = field(default_factory=lambda: {"batches": 0, "anomalies": 0})

    STATE_SCHEMA = "event_type string, di int, daily_cents decimal(38,0)"
    STORE_FOLDED = False  # daily sums ADD: store per-epoch deltas

    def _state_dir(self) -> str:
        return f"{self.store_path}/delta"

    def _derived_dir(self) -> str:
        return f"{self.store_path}/flags"

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

    def _stat(self, derived: DataFrame) -> None:
        # full recompute — "anomalies" is the CURRENT gate's count
        self.stats["anomalies"] = derived.filter(F.col("is_anomaly")).count()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        _epoch_fold_batch(self, batch_df, epoch_id)


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


@dataclass
class CurationFunnelSink:
    """The curation funnel COMPOSED at ingest (VERDICT r15 #6): exact-dedup
    admission → C4 rules → Gopher rules → classifier gate in ONE
    foreachBatch pipeline, with first-match stage attribution — the
    streaming twin of the batch ladder's streaming-amenable prefix
    (``FUNNEL_LADDER_C4_STAGES`` ranks 1/5/6/7). At 100 TB the funnel
    runs at ingest, not as a batch pass; this sink is that path, built
    from the SAME rule definitions as the batch operators
    (``c4_keep_col`` / ``gopher_keep_col`` / ``qc_margin`` — each
    drift-pinned against its registered operator) so the streamed and
    batch decisions cannot diverge.

    Per micro-batch (epoch ``e``), one flag pass over the cached batch:

    1. exact_dup — within-batch min-id keeper (``dedup_exact_hash``'s
       keeper rule) OR a content-sha hit in the history dictionary from
       epochs STRICTLY before e (the HistoryDedupSink replay-safety
       bound). The dictionary records every FIRST-SEEN content whatever
       its quality outcome — ladder semantics: f_exact is
       quality-independent, a doc duplicating a rejected doc is still a
       duplicate (this is where the composition differs from chaining a
       bare HistoryDedupSink, which records only admitted rows);
    2. c4_fail / gopher_fail — the rule columns, evaluated only for
       batch-unique non-historical rows by CASE precedence;
    3. classifier_fail — absolute margin < threshold (the REGISTERED
       ``curate_quality_classifier`` keep and QualityGateSink semantics;
       the batch ladder's corpus-RELATIVE margin rate needs the final
       corpus totals, which an ingest stream by definition does not have
       — the absolute gate is the streaming-correct form).

    Writes, all idempotent epoch-partition overwrites (replay rewrites
    identically): survivors → ``out/epoch=e``; the full per-document
    attribution (doc_id, stage_ord) → ``attributed/epoch=e``; newly seen
    keeper shas → ``history/epoch=e``.

    Scale shape: the rule flags are zero-shuffle codegen'd projections
    (the batch plan pins); the only joins are the min-id keeper partial
    agg and the 64-hex sha membership join (bucketed history table at
    scale, epoch pruning for the strict bound); stats ride ONE aggregate
    on the cache."""

    spark: SparkSession
    out_path: str
    attributed_path: str
    history_path: str
    content_col: str = "text"
    id_col: str = "doc_id"
    clf_threshold: int = 0
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "removed": 0}
    )
    #: per-epoch (admitted, removed) — replays OVERWRITE their epoch's
    #: entry (ADVICE r16: plain += double-counted on epoch replay while
    #: the parquet stores stayed idempotent); totals derive from this
    _epoch_counts: dict = field(default_factory=dict, repr=False)

    def _history_before(self, epoch_id: int) -> DataFrame:
        return _epoch_history_scan(
            self.spark, self.history_path, "content_sha string", epoch_id
        ).distinct()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from projet_pipeline_bigdata_org_spark.operators.curation import qc_margin
        from projet_pipeline_bigdata_org_spark.operators.textops import (
            c4_keep_col,
            gopher_keep_col,
            ws_tokens,
        )

        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            return
        text = F.coalesce(F.col(self.content_col), F.lit(""))
        hashed = batch_df.withColumn("content_sha", F.sha2(text, 256))
        keeper = hashed.groupBy("content_sha").agg(
            F.min(self.id_col).alias("__keep_id")
        )
        stage = (
            F.when(F.col("__f_exact"), 1)
            .when(~c4_keep_col(F.col(self.content_col)), 2)
            .when(~gopher_keep_col(F.col(self.content_col)), 3)
            .when(F.col("__margin") < self.clf_threshold, 4)
            .otherwise(0)
            .cast("long")
        )
        flagged = (
            hashed.join(keeper, "content_sha")
            .join(
                self._history_before(epoch_id).withColumn("__in_hist", F.lit(1)),
                "content_sha",
                "left",
            )
            .withColumn(
                "__f_exact",
                (F.col(self.id_col) != F.col("__keep_id"))
                | F.col("__in_hist").isNotNull(),
            )
            .withColumn("__margin", qc_margin(ws_tokens(text)))
            .withColumn("stage_ord", stage)
            .persist()
        )
        try:
            n_total, n_adm = flagged.agg(
                F.count(F.lit(1)), F.count(F.when(F.col("stage_ord") == 0, 1))
            ).first()
            self._epoch_counts[epoch_id] = (int(n_adm), int(n_total - n_adm))
            self.stats["admitted"] = sum(a for a, _ in self._epoch_counts.values())
            self.stats["removed"] = sum(r for _, r in self._epoch_counts.values())
            drop = ["content_sha", "__keep_id", "__in_hist", "__f_exact", "__margin"]
            flagged.filter(F.col("stage_ord") == 0).drop(*drop, "stage_ord").write.mode(
                "overwrite"
            ).parquet(f"{self.out_path}/epoch={epoch_id}")
            flagged.select(self.id_col, "stage_ord").write.mode("overwrite").parquet(
                f"{self.attributed_path}/epoch={epoch_id}"
            )
            # first-seen keeper shas enter the dictionary regardless of
            # quality outcome (ladder semantics, see docstring point 1)
            flagged.filter(
                (F.col(self.id_col) == F.col("__keep_id"))
                & F.col("__in_hist").isNull()
            ).select("content_sha").distinct().write.mode("overwrite").parquet(
                f"{self.history_path}/epoch={epoch_id}"
            )
        finally:
            flagged.unpersist()


@dataclass
class DecontaminationGateSink:
    """Streaming benchmark-decontamination gate — the eval-hygiene ladder
    stage (FUNNEL_LADDER_STAGES rank 4) at ingest: each micro-batch's
    documents are checked for shingle overlap against a STATIC benchmark
    dictionary and split pass/contaminated. Unlike the dedup sinks there
    is NO epoch state: eval sets are fixed reference data, so the
    dictionary broadcasts once and every epoch is independently
    idempotent (a replay recomputes the same flags from the same static
    side) — the stream-static join discipline, applied to the
    ``lex_decontaminate`` arithmetic (same shingles / distinct /
    integer-lifted >= DECONTAM_PCT% rule, mode-equality test-pinned).

    Writes per epoch ``e``: passing rows → ``out/epoch=e``; the full
    per-document overlap audit (doc_id, n_shingles, n_overlap,
    contaminated) → ``flags/epoch=e``.

    Scale shape: the dictionary is KB-MB (eval sets) and broadcasts; the
    batch streams map-side through the broadcast hash join; the only
    exchange is the partial-agg'd per-doc overlap groupBy."""

    spark: SparkSession
    out_path: str
    flags_path: str
    bench_shingles: DataFrame  # one column `s`: the distinct dictionary
    content_col: str = "text"
    id_col: str = "doc_id"
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "passed": 0, "contaminated": 0}
    )
    #: per-epoch (passed, contaminated); replays overwrite (ADVICE r16)
    _epoch_counts: dict = field(default_factory=dict, repr=False)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from projet_pipeline_bigdata_org_spark.operators.textops import (
            DECONTAM_PCT,
            shingles,
            ws_tokens,
        )

        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            return
        text = F.coalesce(F.col(self.content_col), F.lit(""))
        sh = batch_df.select(
            F.col(self.id_col),
            F.array_distinct(shingles(ws_tokens(text))).alias("sh"),
        ).persist()
        try:
            hits = (
                sh.select(self.id_col, F.explode("sh").alias("s"))
                .join(F.broadcast(self.bench_shingles.select("s").distinct()), "s")
                .groupBy(self.id_col)
                .agg(F.count(F.lit(1)).alias("n_overlap"))
            )
            n_overlap = F.coalesce(F.col("n_overlap"), F.lit(0).cast("long"))
            flags = (
                sh.select(self.id_col, F.size("sh").cast("long").alias("n_shingles"))
                .join(hits, self.id_col, "left")
                .select(
                    self.id_col,
                    "n_shingles",
                    n_overlap.alias("n_overlap"),
                    (
                        (100 * n_overlap >= DECONTAM_PCT * F.col("n_shingles"))
                        & (F.col("n_shingles") > 0)
                    ).alias("contaminated"),
                )
                .persist()
            )
            try:
                n_total, n_bad = flags.agg(
                    F.count(F.lit(1)), F.count(F.when(F.col("contaminated"), 1))
                ).first()
                self._epoch_counts[epoch_id] = (int(n_total - n_bad), int(n_bad))
                self.stats["passed"] = sum(
                    p for p, _ in self._epoch_counts.values()
                )
                self.stats["contaminated"] = sum(
                    c for _, c in self._epoch_counts.values()
                )
                flags.write.mode("overwrite").parquet(
                    f"{self.flags_path}/epoch={epoch_id}"
                )
                batch_df.join(
                    flags.filter(~F.col("contaminated")).select(self.id_col),
                    self.id_col,
                ).write.mode("overwrite").parquet(f"{self.out_path}/epoch={epoch_id}")
            finally:
                flags.unpersist()
        finally:
            sh.unpersist()


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
class CurationFunnelIngestSink:
    """The FULL streaming-amenable curation funnel at ingest (VERDICT r16
    #3/#4): exact-dedup → MinHash near-dup admission → benchmark
    decontamination → C4 → Gopher → classifier in ONE foreachBatch
    pipeline with first-match stage attribution, using the C4-ladder's
    own stage ordinals (``CURATION_INGEST_STAGES``). Extends
    :class:`CurationFunnelSink` with the two stages it lacked — the
    band-table near-dup admission spliced between exact-dedup and C4
    exactly as :class:`MinHashHistoryDedupSink` runs it standalone
    (shared ``minhash_band_table`` / ``_lsh_candidate_jaccard`` code, so
    band keys and the verify division can never drift), and the
    stream-static benchmark gate of :class:`DecontaminationGateSink`.
    Certified batch twin: ``curate_funnel_stream_prefix6``
    (mode-equality test-pinned).

    Stage semantics per micro-batch (epoch ``e``):

    1. exact_dup (rank 1) — within-batch min-id keeper OR a content-sha
       hit in the strictly-before-e sha dictionary (CurationFunnelSink
       semantics: every FIRST-SEEN content enters whatever its outcome);
    2. near_dup (rank 3) — a first-seen keeper is removed when it has a
       verified near-duplicate (exact Jaccard >= threshold on band
       collisions) against the strictly-before-e band/shingle history OR
       against a SMALLER-id first-seen keeper in the same batch. Unlike
       the standalone MinHashHistoryDedupSink (which records only
       ADMITTED rows), the history here records EVERY first-seen
       keeper's bands/shingles whatever its own stage — the ladder's
       one-shot pair semantics (a doc near-duplicating a rejected doc is
       still a near-duplicate), which is exactly what makes the streamed
       attribution equal the one-shot twin's pair set;
    3. decontaminated (rank 4) — benchmark members (``is_benchmark``,
       default the corpus's doc_id % DECONTAM_BENCH_MOD == 0 stand-in)
       are removed outright (eval data never trains), and other docs at
       >= DECONTAM_PCT% shingle overlap with the STATIC broadcast
       benchmark dictionary (DecontaminationGateSink arithmetic);
    4. c4_fail / gopher_fail / classifier_fail (ranks 5/6/7) — the
       drift-pinned rule columns, absolute classifier margin.

    Writes, all idempotent epoch-partition overwrites: survivors →
    ``out/epoch=e``; attribution (doc_id, stage_ord) →
    ``attributed/epoch=e``; first-seen keeper shas →
    ``history/shas/epoch=e``; their bands/shingles →
    ``history/bands|shingles/epoch=e``. The strict prior-epoch bound on
    every history scan keeps replays byte-identical.

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
    content_col: str = "text"
    id_col: str = "doc_id"
    clf_threshold: int = 0
    portable: bool = False
    is_benchmark: object | None = None  # Column predicate; None = id-mod rule
    stats: dict = field(
        default_factory=lambda: {"batches": 0, "admitted": 0, "removed": 0}
    )
    #: per-epoch (admitted, removed); replays overwrite (ADVICE r16)
    _epoch_counts: dict = field(default_factory=dict, repr=False)

    def _shas_before(self, epoch_id: int) -> DataFrame:
        return _epoch_history_scan(
            self.spark, f"{self.history_path}/shas", "content_sha string", epoch_id
        ).distinct()

    def _bands_before(self, epoch_id: int) -> DataFrame:
        # portable (coin-fold) buckets are BIGINT; JVM murmur3 buckets INT
        bucket_t = "long" if self.portable else "int"
        return _epoch_history_scan(
            self.spark,
            f"{self.history_path}/bands",
            f"doc_id long, band int, bucket {bucket_t}",
            epoch_id,
        )

    def _shingles_before(self, epoch_id: int) -> DataFrame:
        return _epoch_history_scan(
            self.spark,
            f"{self.history_path}/shingles",
            "doc_id long, sh array<string>",
            epoch_id,
        )

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
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
            DECONTAM_PCT,
            c4_keep_col,
            gopher_keep_col,
            shingles,
            ws_tokens,
        )

        self.stats["batches"] += 1
        if batch_df.isEmpty():  # P9 empty-batch guard
            return
        text = F.coalesce(F.col(self.content_col), F.lit(""))
        did = F.col(self.id_col)
        hashed = batch_df.withColumn("content_sha", F.sha2(text, 256))
        keeper = hashed.groupBy("content_sha").agg(F.min(self.id_col).alias("__keep_id"))
        base = (
            hashed.join(keeper, "content_sha")
            .join(
                self._shas_before(epoch_id).withColumn("__in_hist", F.lit(1)),
                "content_sha",
                "left",
            )
            .withColumn(
                "__f_exact",
                (did != F.col("__keep_id")) | F.col("__in_hist").isNotNull(),
            )
            .persist()
        )
        # one shingle/hash stage over this epoch's FIRST-SEEN keepers:
        # feeds the within-batch pair join, the history verify, and the
        # history writes (the MinHashHistoryDedupSink staging discipline)
        hashes = portable_shingle_hashes if self.portable else shingle_hashes
        sh = (
            base.filter(~F.col("__f_exact"))
            .select(
                did.alias("doc_id"),
                F.array_distinct(shingles(ws_tokens(text))).alias("sh"),
            )
            .filter(F.size("sh") > 0)
            .select("doc_id", "sh", hashes(F.col("sh")).alias("hh"))
            .persist()
        )
        try:
            bands_b = minhash_band_table(sh, portable=self.portable)
            # within-batch verified pairs flag the LARGER id (first-seen
            # wins — the one-shot twin's a_id < b_id rule)
            near_batch = _lsh_candidate_jaccard(sh, bands_b).select(
                F.col("b_id").alias("doc_id")
            )
            # batch-vs-history: candidates from band collisions, exact
            # Jaccard on candidates only (MinHashHistoryDedupSink shape)
            cand = (
                bands_b.alias("b")
                .join(
                    self._bands_before(epoch_id).alias("h"),
                    (F.col("b.band") == F.col("h.band"))
                    & (F.col("b.bucket") == F.col("h.bucket")),
                )
                .select(
                    F.col("b.doc_id").alias("batch_id"),
                    F.col("h.doc_id").alias("history_id"),
                )
                .dropDuplicates(["batch_id", "history_id"])
            )
            sh_b = sh.select(F.col("doc_id").alias("batch_id"), F.col("sh").alias("sh_b"))
            sh_h = self._shingles_before(epoch_id).select(
                F.col("doc_id").alias("history_id"), F.col("sh").alias("sh_h")
            )
            inter = F.size(F.array_intersect("sh_b", "sh_h"))
            union = F.size("sh_b") + F.size("sh_h") - inter
            near_hist = (
                cand.join(sh_b, "batch_id")
                .join(sh_h, "history_id")
                .filter((inter.cast("double") / union) >= F.lit(JACCARD_THRESHOLD))
                .select(F.col("batch_id").alias("doc_id"))
            )
            near_ids = (
                near_batch.unionByName(near_hist)
                .distinct()
                .withColumnRenamed("doc_id", "__near_id")
            )
            # decontamination flags (DecontaminationGateSink arithmetic,
            # static broadcast dictionary)
            shc = base.select(
                did.alias("__did"),
                F.array_distinct(shingles(ws_tokens(text))).alias("__sh"),
            )
            hits = (
                shc.select("__did", F.explode("__sh").alias("s"))
                .join(F.broadcast(self.bench_shingles.select("s").distinct()), "s")
                .groupBy("__did")
                .agg(F.count(F.lit(1)).alias("__n_overlap"))
            )
            n_overlap = F.coalesce(F.col("__n_overlap"), F.lit(0).cast("long"))
            contam = shc.select(
                "__did", F.size("__sh").cast("long").alias("__n_sh")
            ).join(hits, "__did", "left").select(
                F.col("__did"),
                (
                    (100 * n_overlap >= DECONTAM_PCT * F.col("__n_sh"))
                    & (F.col("__n_sh") > 0)
                ).alias("__contam"),
            )
            is_bench = (
                did % DECONTAM_BENCH_MOD == 0
                if self.is_benchmark is None
                else self.is_benchmark
            )
            stage = (
                F.when(F.col("__f_exact"), 1)
                .when(F.col("__near_id").isNotNull(), 3)
                .when(is_bench | F.col("__contam"), 4)
                .when(~c4_keep_col(F.col(self.content_col)), 5)
                .when(~gopher_keep_col(F.col(self.content_col)), 6)
                .when(F.col("__margin") < self.clf_threshold, 7)
                .otherwise(0)
                .cast("long")
            )
            flagged = (
                base.join(near_ids, did == F.col("__near_id"), "left")
                .join(contam, did == F.col("__did"), "left")
                .withColumn("__margin", qc_margin(ws_tokens(text)))
                .withColumn("stage_ord", stage)
                .persist()
            )
            try:
                n_total, n_adm = flagged.agg(
                    F.count(F.lit(1)), F.count(F.when(F.col("stage_ord") == 0, 1))
                ).first()
                self._epoch_counts[epoch_id] = (int(n_adm), int(n_total - n_adm))
                self.stats["admitted"] = sum(
                    a for a, _ in self._epoch_counts.values()
                )
                self.stats["removed"] = sum(
                    r for _, r in self._epoch_counts.values()
                )
                drop = [
                    "content_sha", "__keep_id", "__in_hist", "__f_exact",
                    "__near_id", "__did", "__contam", "__margin",
                ]
                flagged.filter(F.col("stage_ord") == 0).drop(
                    *drop, "stage_ord"
                ).write.mode("overwrite").parquet(f"{self.out_path}/epoch={epoch_id}")
                flagged.select(self.id_col, "stage_ord").write.mode(
                    "overwrite"
                ).parquet(f"{self.attributed_path}/epoch={epoch_id}")
                # EVERY first-seen keeper enters all three dictionaries
                # whatever its stage (ladder pair semantics, docstring 1-2)
                flagged.filter(~F.col("__f_exact")).select(
                    "content_sha"
                ).distinct().write.mode("overwrite").parquet(
                    f"{self.history_path}/shas/epoch={epoch_id}"
                )
                minhash_band_table(sh, portable=self.portable).write.mode(
                    "overwrite"
                ).parquet(f"{self.history_path}/bands/epoch={epoch_id}")
                sh.select("doc_id", "sh").write.mode("overwrite").parquet(
                    f"{self.history_path}/shingles/epoch={epoch_id}"
                )
            finally:
                flagged.unpersist()
        finally:
            sh.unpersist()
            base.unpersist()
