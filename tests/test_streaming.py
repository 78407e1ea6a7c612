"""Structured Streaming runtime tests: file source → watermarked windows →
memory sink; late-data drop; dropDuplicatesWithinWatermark; foreachBatch
failover sink (primary ok / primary fails / both fail)."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark.streaming.runtime import (
    EVENTS_SCHEMA,
    FailoverBatchSink,
    dedup_within_watermark,
    file_stream,
    idempotent_parquet_batch_writer,
    json_batch_writer,
    parquet_batch_writer,
    start_foreach_batch,
    windowed_counts,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [
            (i, T0 + dt.timedelta(minutes=m), uid, et, float(v), "{}")
            for (i, m, uid, et, v) in rows
        ],
        schema=EVENTS_SCHEMA,
    )


def _memory_query(df, name, mode="append"):
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def _outcomes(sink):
    """A sink's outcome counts: its stats without the call count, which a
    replayed epoch must leave unchanged."""
    return {k: v for k, v in sink.stats.items() if k != "batches"}


def test_file_stream_windowed_counts(spark, tmp_path):
    src = str(tmp_path / "src")
    _mk_events(
        spark,
        [(1, 0, 1, "view", 1), (2, 3, 1, "view", 1), (3, 7, 2, "click", 2)],
    ).write.parquet(src)
    stream = file_stream(spark, src, EVENTS_SCHEMA)
    agg = windowed_counts(stream, watermark="10 minutes", window="5 minutes")
    name = f"wc_{uuid.uuid4().hex[:8]}"
    q = _memory_query(agg, name)
    q.processAllAvailable()
    q.stop()
    got = {
        (r.window_start.minute, r.event_type): r.n_events
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    # watermark holds back open windows in append mode until it passes them;
    # with availableNow the final watermark is max(ts)-10m = minute -3, so no
    # window is emitted yet — drive a second batch far in the future instead
    assert got == {} or got == {(0, "view"): 2, (5, "click"): 1}
    _mk_events(spark, [(9, 60, 9, "view", 1)]).write.mode("append").parquet(src)
    q2 = _memory_query(agg, name + "b")
    q2.processAllAvailable()
    q2.stop()
    got = {
        (r.window_start.minute, r.event_type): r.n_events
        for r in spark.sql(f"SELECT * FROM {name}b").collect()
    }
    assert got[(0, "view")] == 2
    assert got[(5, "click")] == 1


def _write_ordered_files(spark, src, batches):
    """Write each batch as ONE parquet part file with increasing mtime so the
    file stream processes them as ordered micro-batches (maxFilesPerTrigger=1)."""
    import time

    for rows in batches:
        _mk_events(spark, rows).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.1)


def test_late_data_dropped_beyond_watermark(spark, tmp_path):
    """Watermark drops a too-late row. Must use a processingTime trigger and
    feed batches while the query runs: with Trigger.AvailableNow (Spark
    4.1.2) every planned batch uses the query-start watermark for late-event
    filtering, so nothing is ever dropped within a single availableNow run
    (observed: numRowsDroppedByWatermark=0 despite an advancing watermark)."""
    src = str(tmp_path / "src")
    os_makedirs = __import__("os").makedirs
    os_makedirs(src, exist_ok=True)
    out_name = f"late_{uuid.uuid4().hex[:8]}"
    agg = windowed_counts(
        file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=1),
        watermark="10 minutes",
        window="5 minutes",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(out_name)
        .outputMode("append")
        .trigger(processingTime="1 seconds")
        .start()
    )
    for rows in [
        # batch 1: minute 60-61 → watermark advances to 00:51
        [(1, 60, 1, "view", 1), (2, 61, 1, "view", 1)],
        # batch 2: in-time (70) + too-late (5, window [5,10) < watermark)
        [(3, 70, 1, "view", 1), (4, 5, 1, "late", 1)],
        # batch 3: far future closes remaining windows
        [(5, 300, 1, "view", 1)],
    ]:
        _mk_events(spark, rows).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    q.processAllAvailable()
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    q.stop()
    rows = spark.sql(f"SELECT * FROM {out_name}").collect()
    types = {r.event_type for r in rows}
    assert "view" in types
    assert "late" not in types, f"late row leaked past watermark: {rows}"
    assert dropped == 1


def test_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    _mk_events(
        spark,
        [(1, 0, 1, "view", 1), (1, 1, 1, "view", 1), (2, 2, 1, "click", 1)],
    ).write.parquet(src)
    stream = file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=None)
    deduped = dedup_within_watermark(stream, keys=("event_id",), watermark="30 minutes")
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = _memory_query(deduped, name)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(f"SELECT event_id FROM {name}").collect()
    assert sorted(r.event_id for r in rows) == [1, 2]


def test_failover_sink_primary_ok(spark, tmp_path):
    src = str(tmp_path / "src")
    primary_dir = str(tmp_path / "primary")
    _mk_events(spark, [(1, 0, 1, "view", 1), (2, 1, 2, "click", 2)]).write.parquet(src)
    sink = FailoverBatchSink(
        primary=parquet_batch_writer(primary_dir),
        fallback=json_batch_writer(str(tmp_path / "fallback")),
    )
    q = start_foreach_batch(
        file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=None),
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(primary_dir).count() == 2
    assert sink.stats["failover"] == 0


def test_failover_sink_falls_back(spark, tmp_path):
    src = str(tmp_path / "src")
    fallback_dir = str(tmp_path / "fallback")
    _mk_events(spark, [(1, 0, 1, "view", 1)]).write.parquet(src)

    def exploding_primary(df, epoch):
        raise RuntimeError("cassandra down")

    sink = FailoverBatchSink(
        primary=exploding_primary,
        fallback=json_batch_writer(fallback_dir),
        transform=lambda df: df.withColumn("value", F.col("value") * 2),
    )
    q = start_foreach_batch(
        file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=None),
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.read.json(fallback_dir).collect()
    assert len(rows) == 1 and rows[0].value == 2.0  # transform ran pre-sink
    assert sink.stats["failover"] == 1 and sink.stats["dropped"] == 0


def test_failover_sink_drops_poison_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    _mk_events(spark, [(1, 0, 1, "view", 1)]).write.parquet(src)

    def boom(df, epoch):
        raise RuntimeError("down")

    sink = FailoverBatchSink(primary=boom, fallback=boom)
    q = start_foreach_batch(
        file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=None),
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()  # must NOT raise: poison batch is dropped
    q.stop()
    assert sink.stats["dropped"] == 1


def test_failover_sink_skips_empty_batch(spark, tmp_path):
    """The empty-batch guard: an empty micro-batch reaches neither writer,
    is counted as empty, and leaves no epoch partition behind."""
    out_dir = tmp_path / "primary"
    calls = []

    def recording(writer, name):
        def write(df, epoch_id):
            calls.append(name)
            writer(df, epoch_id)

        return write

    sink = FailoverBatchSink(
        primary=recording(idempotent_parquet_batch_writer(str(out_dir)), "primary"),
        fallback=recording(json_batch_writer(str(tmp_path / "fallback")), "fallback"),
    )
    sink(spark.createDataFrame([], EVENTS_SCHEMA), 0)
    assert calls == []
    assert sink.stats["batches"] == 1 and sink.stats["empty"] == 1
    assert sink.stats["failover"] == 0 and sink.stats["dropped"] == 0
    assert not list(tmp_path.glob("**/epoch=*"))



def test_failover_sink_replayed_epoch_counts_once(spark, tmp_path):
    """A checkpoint restart may replay an epoch: rows_written, failover and
    dropped are kept per epoch, so the replay replaces its own entry;
    batches counts calls."""
    batch = _mk_events(spark, [(1, 0, 1, "view", 1), (2, 1, 2, "click", 2)])
    sink = FailoverBatchSink(primary=idempotent_parquet_batch_writer(str(tmp_path / "out")))
    sink(batch, 7)
    sink(batch, 7)
    assert sink.stats == {
        "batches": 2, "empty": 0, "failover": 0, "dropped": 0, "rows_written": 2
    }
    assert spark.read.parquet(str(tmp_path / "out")).count() == 2

    def boom(df, epoch):
        raise RuntimeError("down")

    dropping = FailoverBatchSink(primary=boom)
    dropping(batch, 3)
    dropping(batch, 3)
    assert dropping.stats["failover"] == 1 and dropping.stats["dropped"] == 1

def test_session_window_streaming_matches_batch(spark, tmp_path):
    """The same session_window expression runs under readStream and merges
    sessions across micro-batches via the state store."""
    src = str(tmp_path / "src")
    _write_ordered_files(
        spark,
        src,
        [
            [(1, 0, 1, "view", 1), (2, 10, 1, "view", 1)],  # one session (gap<30)
            [(3, 120, 1, "view", 1)],  # second session for user 1
            [(4, 500, 9, "view", 1)],  # far future: closes user 1's sessions
        ],
    )
    stream = file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=1)
    sess = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("start"), "n")
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = _memory_query(sess, name)
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, r.start): r.n for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    # user 1: events at minutes 0+10 merged (gap<30), minute 120 separate;
    # user 9's session stays open past the final watermark → not emitted
    assert got == {
        (1, T0): 2,
        (1, T0 + dt.timedelta(minutes=120)): 1,
    }, f"unexpected sessions: {got}"


def test_applyInPandasWithState_running_stats(spark, tmp_path):
    """Custom stateful operator: per-user running (count, sum, max) carried
    across micro-batches via applyInPandasWithState."""
    from projet_pipeline_bigdata_org_spark.streaming.stateful import running_user_stats

    src = str(tmp_path / "src")
    _write_ordered_files(
        spark,
        src,
        [
            [(1, 0, 1, "view", 2), (2, 1, 2, "view", 5)],
            [(3, 2, 1, "click", 4)],  # user 1 again: state must carry over
        ],
    )
    stream = file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=1)
    out = running_user_stats(stream)
    name = f"st_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    # last snapshot per user wins
    final = {}
    for r in rows:
        final[r.user_id] = (r.n_events, r.total_value, r.max_value)
    assert final[1] == (2, 6.0, 4.0)  # 2 events across two micro-batches
    assert final[2] == (1, 5.0, 5.0)


def test_stream_static_dim_join(spark, tmp_path):
    """Stream-static join: streaming events enriched against a static dim
    (the reference's topic-label lookup as a real join, not a UDF closure)."""
    src = str(tmp_path / "src")
    _mk_events(spark, [(1, 0, 1, "view", 1), (2, 1, 2, "click", 2)]).write.parquet(src)
    dim = spark.createDataFrame(
        [("view", "passive"), ("click", "active")], ["event_type", "engagement"]
    )
    stream = file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=None)
    joined = stream.join(F.broadcast(dim), "event_type")
    name = f"ss_{uuid.uuid4().hex[:8]}"
    q = _memory_query(joined.select("event_id", "engagement"), name)
    q.processAllAvailable()
    q.stop()
    got = {r.event_id: r.engagement for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got == {1: "passive", 2: "active"}


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join with watermarks + event-time range bound:
    views joined to subsequent purchases by the same user within 30 min."""
    src_a = str(tmp_path / "views")
    src_b = str(tmp_path / "buys")
    _mk_events(spark, [(1, 0, 1, "view", 1), (2, 50, 2, "view", 1)]).write.parquet(src_a)
    _mk_events(spark, [(11, 10, 1, "purchase", 9), (12, 200, 2, "purchase", 9)]).write.parquet(src_b)
    views = (
        file_stream(spark, src_a, EVENTS_SCHEMA, max_files_per_trigger=None)
        .withWatermark("ts", "1 hour")
        .select(F.col("event_id").alias("view_id"), F.col("user_id").alias("vu"), F.col("ts").alias("vts"))
    )
    buys = (
        file_stream(spark, src_b, EVENTS_SCHEMA, max_files_per_trigger=None)
        .withWatermark("ts", "1 hour")
        .select(F.col("event_id").alias("buy_id"), F.col("user_id").alias("bu"), F.col("ts").alias("bts"))
    )
    joined = views.join(
        buys,
        (F.col("vu") == F.col("bu"))
        & (F.col("bts") >= F.col("vts"))
        & (F.col("bts") <= F.col("vts") + F.expr("INTERVAL 30 MINUTES")),
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = _memory_query(joined.select("view_id", "buy_id"), name)
    q.processAllAvailable()
    q.stop()
    got = {(r.view_id, r.buy_id) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    # user 1: purchase 10 min after the view → joins; user 2: 150 min later → no
    assert got == {(1, 11)}


def test_reference_inference_pipeline_end_to_end(spark, tmp_path):
    """The reference's flagship dataflow (SURVEY §3.1) as ONE streaming
    pipeline on engine building blocks: Python-DataSource record stream →
    clean → keyword relevance filter → time features → batched sentiment
    stub (pandas_udf) → virality bucket → viral_posts sink projection →
    foreachBatch failover sink. No Kafka, no driver collect — same
    micro-batch lifecycle."""
    from pyspark.sql import functions as F

    from projet_pipeline_bigdata_org_spark.functions.buckets import virality_bucket
    from projet_pipeline_bigdata_org_spark.functions.cleaning import clean_text
    from projet_pipeline_bigdata_org_spark.functions.extraction import keyword_filter
    from projet_pipeline_bigdata_org_spark.ml.enrich import LABELS, make_sentiment_udf
    from projet_pipeline_bigdata_org_spark.sources.reddit_source import register
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        FailoverBatchSink,
        parquet_batch_writer,
        start_foreach_batch,
    )

    register(spark)
    stream = (
        spark.readStream.format("reddit_fixture")
        .option("rows", 200)
        .option("batchRows", 80)
        .load()
    )

    def transform(df):
        pseudo_pred = (F.col("score") / 100.0).cast("double")
        return (
            df.withColumn("text_content", clean_text("text"))
            .filter(keyword_filter("text_content", ("btc", "eth", "coin", "market")))
            .withColumn("creation_date", F.to_timestamp(F.col("timestamp")))
            .withColumn("hour", F.hour("creation_date"))
            .withColumn("sentiment", make_sentiment_udf()(F.col("text_content")))
            .withColumn("score_predit", F.round(pseudo_pred, 2).cast("float"))
            .withColumn("viralite", virality_bucket(pseudo_pred))
            .select(
                "id", "author", "subreddit", "text_content", "sentiment",
                "score_predit", "viralite", "creation_date", "hour",
            )
        )

    out_dir = str(tmp_path / "viral_posts")
    sink = FailoverBatchSink(primary=parquet_batch_writer(out_dir), transform=transform)
    q = start_foreach_batch(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    rows = got.collect()
    assert 0 < len(rows) <= 200            # keyword filter dropped some
    # availableNow drains in one micro-batch; batchRows chunks it into
    # parallel read partitions rather than separate triggers
    assert sink.stats["batches"] >= 1
    assert sink.stats["dropped"] == 0
    assert {r.sentiment for r in rows} <= set(LABELS)
    assert {r.viralite for r in rows} <= {"HOT", "UP", "LOW"}
    assert all("btc" in r.text_content or "eth" in r.text_content
               or "coin" in r.text_content or "market" in r.text_content
               for r in rows)
    assert set(got.columns) == {
        "id", "author", "subreddit", "text_content", "sentiment",
        "score_predit", "viralite", "creation_date", "hour",
    }


def test_poll_rows_rate_limits_each_trigger(spark, tmp_path):
    """pollRows admission control: each latestOffset() poll advances the
    offset by at most pollRows, so a processingTime-triggered run takes
    multiple micro-batches (the reference's maxOffsetsPerTrigger), unlike
    the default drain-in-one-poll mode."""
    from projet_pipeline_bigdata_org_spark.sources.reddit_source import register

    register(spark)
    name = f"rl_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("reddit_fixture")
        .option("rows", 120)
        .option("pollRows", 40)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(f"SELECT id FROM {name}").collect()
    assert len(rows) == 120 and len({r.id for r in rows}) == 120
    batch_sizes = [
        p["numInputRows"] for p in (q.recentProgress or []) if p["numInputRows"] > 0
    ]
    assert batch_sizes and max(batch_sizes) <= 40  # no trigger exceeded pollRows
    assert len(batch_sizes) >= 3  # 120 rows at ≤40/trigger


def test_checkpoint_restart_recovers_exactly_once(spark, tmp_path):
    """T3/T5 across a RESTART: stop a rate-limited stream mid-run, restart
    from the same checkpoint, and the manifest-committed parquet output
    holds every record exactly once — no dupes (replay-safe ranges), no
    gaps (offset log), despite the fresh reader's cursor re-syncing."""
    import time

    from projet_pipeline_bigdata_org_spark.sources.reddit_source import register

    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def _start():
        return (
            spark.readStream.format("reddit_fixture")
            .option("rows", 600)
            .option("pollRows", 40)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q1 = _start()
    # stop mid-stream: wait until some batches committed but before the cap
    import ast

    deadline = time.time() + 120
    while time.time() < deadline:
        p = q1.lastProgress
        off = p["sources"][0]["endOffset"] if p else None
        if isinstance(off, str):  # Python-source offsets serialize as repr()
            off = ast.literal_eval(off)
        if off and off.get("offset", 0) >= 80:
            break
        time.sleep(0.2)
    q1.stop()
    partial = spark.read.parquet(out).count()
    assert partial < 600  # genuinely interrupted mid-stream

    q2 = _start()
    q2.processAllAvailable()
    q2.stop()
    ids = [r.id for r in spark.read.parquet(out).collect()]
    assert sorted(ids) == sorted(f"rf{i:08d}" for i in range(600))


def test_idempotent_batch_writer_dedupes_replayed_epoch(spark, tmp_path):
    """foreachBatch replay semantics: re-running an epoch (what a restart
    does to the last uncommitted batch) must not duplicate rows with the
    idempotent writer, while the plain append writer is at-least-once."""
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        idempotent_parquet_batch_writer,
        parquet_batch_writer,
    )

    df = _mk_events(spark, [(1, 0, 1, "view", 1), (2, 1, 2, "click", 2)])
    idem = idempotent_parquet_batch_writer(str(tmp_path / "idem"))
    idem(df, 7)
    idem(df, 7)  # replayed epoch
    idem(df, 8)
    out = spark.read.parquet(str(tmp_path / "idem"))
    assert out.filter("epoch = 7").count() == 2  # no dupes from the replay
    assert out.count() == 4

    app = parquet_batch_writer(str(tmp_path / "app"))
    app(df, 7)
    app(df, 7)
    assert spark.read.parquet(str(tmp_path / "app")).count() == 4  # at-least-once


def test_complete_mode_reemits_full_aggregate(spark, tmp_path):
    """outputMode("complete"): every micro-batch re-emits the FULL aggregate
    (no watermark needed), so late-arriving batches revise earlier groups —
    the dashboard-refresh mode the reference's BI layer implies. The memory
    sink holds exactly the final totals."""
    src = str(tmp_path / "src")
    _mk_events(spark, [(1, 0, 1, "view", 1), (2, 3, 1, "view", 1)]).write.parquet(src)
    stream = file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=None)
    agg = stream.groupBy("event_type").count()
    name = f"cm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.event_type: r["count"] for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got == {"view": 2}
    # a second batch arrives: complete mode REPLACES the table with revised totals
    _mk_events(spark, [(3, 5, 2, "view", 1), (4, 6, 2, "click", 2)]).write.mode(
        "append"
    ).parquet(src)
    q2 = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got = {r.event_type: r["count"] for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got == {"view": 3, "click": 1}


def test_history_dedup_sink_cross_batch_and_replay(spark, tmp_path):
    """Exactly-once dedup vs history under foreachBatch replay: within-batch
    dups collapse to the min-id keeper, cross-batch dups are rejected
    against strictly-earlier epochs, and replaying either epoch (what a
    checkpoint restart does) rewrites its partitions identically — zero
    duplicate admissions, zero lost rows."""
    from projet_pipeline_bigdata_org_spark.streaming.runtime import HistoryDedupSink

    out, hist = str(tmp_path / "out"), str(tmp_path / "hist")
    sink = HistoryDedupSink(spark, out, hist, content_col="text", id_col="doc_id")

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    b1 = mk([(1, "alpha"), (2, "beta"), (3, "alpha")])  # within-batch dup
    sink(b1, 0)
    assert sink.stats["admitted"] == 2 and sink.stats["rejected"] == 0
    b2 = mk([(4, "beta"), (5, "gamma")])  # beta duplicates history
    sink(b2, 1)
    assert sink.stats["admitted"] == 3 and sink.stats["rejected"] == 1

    want = {(1, "alpha"), (2, "beta"), (5, "gamma")}

    def admitted():
        return {
            (r.doc_id, r.text)
            for r in spark.read.parquet(out).select("doc_id", "text").collect()
        }

    assert admitted() == want
    before = _outcomes(sink)
    # replay both epochs, newest first (the worst case: epoch 0 replays
    # AFTER history already contains its shas under epoch=0) — the
    # strict `epoch < e` membership bound keeps both rewrites identical
    sink(b2, 1)
    sink(b1, 0)
    assert admitted() == want
    assert _outcomes(sink) == before
    hist_rows = spark.read.parquet(hist)
    assert hist_rows.count() == 3  # one sha per admitted content, no dupes


def test_streaming_history_dedup_zero_dup_admissions_across_restart(spark, tmp_path):
    """End-to-end T3/T5 + S8: a checkpointed foreachBatch stream admits each
    content exactly once even when a later run (fresh sink instance, same
    checkpoint — a restart) brings a duplicate of an earlier epoch's
    content."""
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        HistoryDedupSink,
        file_stream,
    )

    src = str(tmp_path / "src")
    out, hist, ckpt = (
        str(tmp_path / "out"),
        str(tmp_path / "hist"),
        str(tmp_path / "ckpt"),
    )
    schema = "doc_id long, text string"

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    def run(sink):
        q = (
            file_stream(spark, src, schema, max_files_per_trigger=1)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    mk([(1, "alpha"), (2, "beta")]).write.mode("append").parquet(src)
    run(HistoryDedupSink(spark, out, hist, content_col="text", id_col="doc_id"))

    # second drop: one duplicate of epoch-0 content, one novel document;
    # restart from the same checkpoint with a FRESH sink (process restart)
    mk([(3, "beta"), (4, "gamma")]).write.mode("append").parquet(src)
    sink2 = HistoryDedupSink(spark, out, hist, content_col="text", id_col="doc_id")
    run(sink2)

    texts = [r.text for r in spark.read.parquet(out).collect()]
    assert sorted(texts) == ["alpha", "beta", "gamma"]  # each admitted once
    assert sink2.stats["rejected"] == 1  # the replayed-content doc


def test_minhash_history_sink_rejects_near_dups_and_replays_identically(
    spark, tmp_path
):
    """Streaming near-dedup admission (the near x streaming cell of the
    dedup matrix): a shard document that near-duplicates a strictly-earlier
    epoch is rejected at ingest, a novel document is admitted, and replaying
    either epoch in the worst order rewrites out/bands/shingles partitions
    identically — zero near-dup admissions, zero lost rows."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        INCREMENTAL_NEARDUP_FIXTURE_ROWS,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        MinHashHistoryDedupSink,
    )

    base, near, novel = INCREMENTAL_NEARDUP_FIXTURE_ROWS
    out, hist = str(tmp_path / "out"), str(tmp_path / "hist")
    sink = MinHashHistoryDedupSink(spark, out, hist)

    def mk(rows):
        return spark.createDataFrame(
            [(i, t) for i, t, _ in rows], "doc_id long, text string"
        )

    sink(mk([base]), 0)
    assert sink.stats == {"batches": 1, "admitted": 1, "rejected": 0}
    sink(mk([near, novel]), 1)
    assert sink.stats == {"batches": 2, "admitted": 2, "rejected": 1}

    def admitted():
        return {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}

    want = {base[0], novel[0]}
    assert admitted() == want
    before = _outcomes(sink)
    # worst-order replay: epoch 0 replays AFTER history already holds its
    # own bands under epoch=0 — the strict `epoch < e` bound keeps the
    # rewrite identical (it cannot near-reject itself)
    sink(mk([near, novel]), 1)
    sink(mk([base]), 0)
    assert admitted() == want
    assert _outcomes(sink) == before
    hist_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{hist}/shingles").select("doc_id").collect()
    }
    assert hist_ids == want  # rejected near-dup never entered history


def test_minhash_history_sink_restart_zero_near_dup_admissions(spark, tmp_path):
    """End-to-end T3/T5: a checkpointed foreachBatch stream with a FRESH
    MinHashHistoryDedupSink instance on restart (process restart) still
    admits each content neighborhood exactly once."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        INCREMENTAL_NEARDUP_FIXTURE_ROWS,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        MinHashHistoryDedupSink,
        file_stream,
    )

    base, near, novel = INCREMENTAL_NEARDUP_FIXTURE_ROWS
    src = str(tmp_path / "src")
    out, hist, ckpt = (
        str(tmp_path / "out"),
        str(tmp_path / "hist"),
        str(tmp_path / "ckpt"),
    )
    schema = "doc_id long, text string"

    def run(sink):
        q = (
            file_stream(spark, src, schema, max_files_per_trigger=1)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame([base[:2]], schema).write.mode("append").parquet(src)
    run(MinHashHistoryDedupSink(spark, out, hist))
    spark.createDataFrame([near[:2], novel[:2]], schema).write.mode(
        "append"
    ).parquet(src)
    sink2 = MinHashHistoryDedupSink(spark, out, hist)
    run(sink2)

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == sorted([base[0], novel[0]])
    assert sink2.stats["rejected"] == 1  # the near-duplicate of epoch-0 content


def test_minhash_history_sink_matches_batch_incremental_restriction(
    spark, sf_dir, tmp_path
):
    """Admitted-set equality with the batch form: feeding the history split
    as epoch 0 and the batch split as epoch 1 through the streaming sink
    must reject exactly the distinct batch_ids that
    ``dedup_incremental_minhash`` flags on the same corpus + fixture —
    the two forms share every shingle/hash/band expression, so this pins
    that they can never drift."""
    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        _INCREMENTAL_BATCH_RESIDUE,
        INCREMENTAL_NEARDUP_FIXTURE_ROWS,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        MinHashHistoryDedupSink,
    )

    plans.load_all()
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                [(i, t) for i, t, _ in INCREMENTAL_NEARDUP_FIXTURE_ROWS],
                "doc_id long, text string",
            )
        )
    )
    is_batch = F.col("doc_id") % 10 >= _INCREMENTAL_BATCH_RESIDUE
    out, hist = str(tmp_path / "out"), str(tmp_path / "hist")
    sink = MinHashHistoryDedupSink(spark, out, hist)
    sink(d.filter(~is_batch), 0)
    sink(d.filter(is_batch), 1)

    expected_rejected = {
        r.batch_id
        for r in plans.get("dedup_incremental_minhash").fn(spark, sf_dir)
        .select("batch_id")
        .distinct()
        .collect()
    }
    assert expected_rejected  # non-vacuous: the crafted fixture guarantees hits
    batch_ids = {r.doc_id for r in d.filter(is_batch).select("doc_id").collect()}
    admitted_batch = {
        r.doc_id
        for r in spark.read.parquet(f"{out}/epoch=1").select("doc_id").collect()
    }
    assert admitted_batch == batch_ids - expected_rejected
    assert sink.stats["rejected"] == len(expected_rejected)


def test_url_frontier_via_history_sink_matches_batch_incremental(
    spark, sf_dir, tmp_path
):
    """The documented streaming URL frontier: HistoryDedupSink fed
    canonical_url as its content column must reject exactly the batch
    URLs dedup_incremental_url marks in_history (per-URL granularity:
    one row per distinct (doc_id, canonical_url) occurrence feeds the
    sink; the sink's min-id keeper collapses within-batch dups the same
    way the batch query counts them)."""
    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        INC_URL_FIXTURE_ROWS,
        canonical_urls,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        HistoryDedupSink,
    )

    plans.load_all()
    d = load(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(list(INC_URL_FIXTURE_ROWS), "doc_id long, text string")
    )
    canon = canonical_urls(d).withColumn(
        "row_id",
        F.monotonically_increasing_id(),
    )
    is_hist = (F.col("doc_id") % 10 < 8) | (F.col("doc_id") < 0)
    out, hist = str(tmp_path / "out"), str(tmp_path / "hist")
    sink = HistoryDedupSink(
        spark, out, hist, content_col="canonical_url", id_col="row_id",
        bloom_prefilter=False,
    )
    sink(canon.filter(is_hist), 0)
    sink(canon.filter(~is_hist), 1)

    batch_rows = {
        r.canonical_url: r.in_history
        for r in plans.get("dedup_incremental_url").fn(spark, sf_dir).collect()
    }
    admitted_urls = {
        r.canonical_url
        for r in spark.read.parquet(f"{out}/epoch=1").collect()
    }
    # every URL the batch query calls novel is admitted; every caught one
    # is absent (the sink dedups against the strictly-prior frontier)
    for url, in_history in batch_rows.items():
        assert (url in admitted_urls) == (not in_history), url


def test_semdedup_history_sink_matches_batch_incremental_restriction(
    spark, sf_dir, tmp_path
):
    """Admitted-set equality with the batch form (the semantic row of the
    dedup matrix, VERDICT r12 #3): feeding the history split as epoch 0
    and the batch split as epoch 1 through the streaming sink must reject
    exactly the vec_ids that ``embed_semdedup_incremental`` refuses on
    the same corpus — the two forms share the scaled-points, codebook-
    assignment, dot, and epsilon-ball code, so they cannot drift."""
    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        EMB_BATCH_RESIDUE,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        SemDeDupHistorySink,
    )

    plans.load_all()
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = F.col("vec_id") % 10 >= EMB_BATCH_RESIDUE
    out, hist = str(tmp_path / "out"), str(tmp_path / "hist")
    sink = SemDeDupHistorySink(spark, out, hist)
    sink(e.filter(~is_batch), 0)
    sink(e.filter(is_batch), 1)

    batch_rows = {
        r.vec_id: r.admitted
        for r in plans.get("embed_semdedup_incremental").fn(spark, sf_dir).collect()
    }
    expected_rejected = {v for v, adm in batch_rows.items() if not adm}
    assert expected_rejected  # non-vacuous: corpus has in-ball cross-split pairs
    admitted_batch = {
        r.vec_id
        for r in spark.read.parquet(f"{out}/epoch=1").select("vec_id").collect()
    }
    assert admitted_batch == set(batch_rows) - expected_rejected
    assert sink.stats["rejected"] == len(expected_rejected)


def test_semdedup_history_sink_first_epoch_admits_and_replays_identically(
    spark, sf_dir, tmp_path
):
    """Epoch 0 (no prior index) admits everything; worst-order replay of
    both epochs rewrites every partition identically (strictly-prior
    state scans + idempotent epoch-partition overwrites)."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        EMB_BATCH_RESIDUE,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        SemDeDupHistorySink,
    )

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = F.col("vec_id") % 10 >= EMB_BATCH_RESIDUE
    out, hist = str(tmp_path / "out"), str(tmp_path / "hist")
    sink = SemDeDupHistorySink(spark, out, hist)
    sink(e.filter(~is_batch), 0)
    assert sink.stats["rejected"] == 0  # no index yet: everything admits
    sink(e.filter(is_batch), 1)

    def admitted():
        return sorted(
            r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()
        )

    want = admitted()
    before = _outcomes(sink)
    # replay both epochs in the worst order: partitions rewrite identically
    sink(e.filter(is_batch), 1)
    sink(e.filter(~is_batch), 0)
    assert admitted() == want
    assert _outcomes(sink) == before
    # history points hold exactly the admitted ids
    hist_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{hist}/points").select("vec_id").collect()
    }
    assert sorted(hist_ids) == want


def test_simhash_history_sink_rejects_near_dups_and_replays_identically(
    spark, tmp_path
):
    """The SimHash streaming admission sink (fingerprint-family sibling of
    the MinHash one): the near-duplicate of a strictly-earlier epoch's
    document is rejected, the novel document admitted, and worst-order
    replay rewrites every epoch partition identically."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        INCREMENTAL_NEARDUP_FIXTURE_ROWS,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        SimHashHistoryDedupSink,
    )

    base, near, novel = INCREMENTAL_NEARDUP_FIXTURE_ROWS
    out, hist = str(tmp_path / "out"), str(tmp_path / "hist")
    sink = SimHashHistoryDedupSink(spark, out, hist)

    def mk(rows):
        return spark.createDataFrame(
            [(i, t) for i, t, _ in rows], "doc_id long, text string"
        )

    sink(mk([base]), 0)
    sink(mk([near, novel]), 1)
    assert sink.stats == {"batches": 2, "admitted": 2, "rejected": 1}

    def admitted():
        return {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}

    want = {base[0], novel[0]}
    assert admitted() == want
    before = _outcomes(sink)
    sink(mk([near, novel]), 1)
    sink(mk([base]), 0)
    assert admitted() == want
    assert _outcomes(sink) == before
    hist_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{hist}/fingerprints").select("doc_id").collect()
    }
    assert hist_ids == want


def test_simhash_history_sink_matches_batch_incremental_restriction(
    spark, sf_dir, tmp_path
):
    """Admitted-set equality with the batch form on the same corpus +
    fixture split (the two share the fingerprint kernel and chunk-pair
    band expressions; censuses agree in the no-hot-bucket regime this
    corpus is in)."""
    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        _INCREMENTAL_BATCH_RESIDUE,
        INCREMENTAL_NEARDUP_FIXTURE_ROWS,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        SimHashHistoryDedupSink,
    )

    plans.load_all()
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                [(i, t) for i, t, _ in INCREMENTAL_NEARDUP_FIXTURE_ROWS],
                "doc_id long, text string",
            )
        )
    )
    is_batch = F.col("doc_id") % 10 >= _INCREMENTAL_BATCH_RESIDUE
    out, hist = str(tmp_path / "out"), str(tmp_path / "hist")
    sink = SimHashHistoryDedupSink(spark, out, hist)
    sink(d.filter(~is_batch), 0)
    sink(d.filter(is_batch), 1)

    expected_rejected = {
        r.batch_id
        for r in plans.get("dedup_incremental_simhash").fn(spark, sf_dir)
        .select("batch_id")
        .distinct()
        .collect()
    }
    assert expected_rejected
    batch_ids = {r.doc_id for r in d.filter(is_batch).select("doc_id").collect()}
    admitted_batch = {
        r.doc_id
        for r in spark.read.parquet(f"{out}/epoch=1").select("doc_id").collect()
    }
    assert admitted_batch == batch_ids - expected_rejected
    assert sink.stats["rejected"] == len(expected_rejected)


def test_quality_gate_sink_matches_batch_classifier_and_replays(spark, sf_dir, tmp_path):
    """The streaming quality gate must admit exactly the doc_ids the batch
    curate_quality_classifier marks keep=true on the same rows (shared
    qc_margin arithmetic — cannot drift), quarantine the rest WITH their
    margins, and rewrite both epoch partitions identically on replay."""
    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.streaming.runtime import QualityGateSink

    plans.load_all()
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # NULL and empty text ride along: the batch twin coalesces NULL text
    # to '' (margin 0 -> keep at the default threshold), and the sink must
    # make the SAME call — before round 9 it sent NULL text to quarantine
    # with a NULL margin, an untested drift the r8 advice caught
    batch = docs.unionByName(
        spark.createDataFrame([(-1, None), (-2, "")], "doc_id long, text string")
    )
    out, quar = str(tmp_path / "out"), str(tmp_path / "quar")
    sink = QualityGateSink(spark, out, quar)
    sink(batch, 0)

    expected_keep = {
        r.doc_id
        for r in plans.get("curate_quality_classifier").fn(spark, sf_dir)
        .filter(F.col("keep"))
        .collect()
    } | {-1, -2}
    admitted = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert admitted == expected_keep
    quarantined = spark.read.parquet(quar)
    assert "margin" in quarantined.columns  # reviewable, not silently dropped
    assert {r.doc_id for r in quarantined.collect()} == (
        {r.doc_id for r in docs.select("doc_id").collect()} - expected_keep
    )
    assert all(r.margin < 0 for r in quarantined.collect())
    before = _outcomes(sink)
    # replay: identical rewrite of the data, and the stats stay as they were
    sink(batch, 0)
    assert {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()} == expected_keep
    assert _outcomes(sink) == before


def test_history_scan_tolerates_uncommitted_store(spark, tmp_path):
    """A crash mid-write can leave the history directory EXISTING with zero
    committed parquet files (only a _temporary dir). Schema inference on
    such a store throws, which would brick every later epoch and every
    replay — the scan must read it as empty instead (declared schema),
    and a sink pointed at it must process its batch normally."""
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        HistoryDedupSink,
        _epoch_history_scan,
    )

    hist = tmp_path / "hist"
    (hist / "_temporary" / "0").mkdir(parents=True)
    (hist / "_temporary" / "0" / "part-crashed.parquet").write_bytes(b"\x00garbage")

    scan = _epoch_history_scan(spark, str(hist), "content_sha string", 5)
    assert scan.columns == ["content_sha"]
    assert scan.count() == 0

    out = str(tmp_path / "out")
    sink = HistoryDedupSink(spark, out, str(hist))
    batch = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], "event_id long, text string"
    )
    sink(batch, 0)  # must not raise on the uncommitted store
    assert {
        r.event_id for r in spark.read.parquet(out).select("event_id").collect()
    } == {1, 3}
    # the store now has committed epochs alongside the _temporary debris;
    # the next epoch still reads history fine and rejects the known sha
    sink(spark.createDataFrame([(9, "beta")], "event_id long, text string"), 1)
    assert sink.stats["rejected"] == 1


def test_passage_history_sink_rejects_repeats_and_replays_identically(
    spark, tmp_path
):
    """Streaming substring-level admission (the passage x streaming cell,
    completing the dedup matrix): a shard document sharing ANY 15-token
    window with a strictly-earlier epoch is rejected at ingest, a novel
    document is admitted, and worst-order replay rewrites out/windows
    partitions identically; rejected docs never enter history; short
    (<15-token) docs are admitted and contribute no windows."""
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        PassageHistoryDedupSink,
    )

    p15 = " ".join(f"w{i}" for i in range(15))
    base = (1, f"intro words {p15} outro")
    rep = (2, f"entirely different frame {p15} rewrapped")   # shares the window
    novel = (3, " ".join(f"x{i}" for i in range(20)))
    short = (4, "too short for any window")
    out, hist = str(tmp_path / "out"), str(tmp_path / "hist")
    sink = PassageHistoryDedupSink(spark, out, hist)

    def mk(rows):
        return spark.createDataFrame(list(rows), "doc_id long, text string")

    sink(mk([base]), 0)
    sink(mk([rep, novel, short]), 1)
    assert sink.stats == {"batches": 2, "admitted": 3, "rejected": 1}

    def admitted():
        return {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}

    assert admitted() == {1, 3, 4}
    before = _outcomes(sink)
    # worst-order replay: the strict epoch < e bound keeps both rewrites
    # identical (epoch 0 cannot reject itself against its own windows)
    sink(mk([rep, novel, short]), 1)
    sink(mk([base]), 0)
    assert admitted() == {1, 3, 4}
    assert _outcomes(sink) == before
    # rejected doc's windows never entered history; short doc stored none
    hw = spark.read.parquet(f"{hist}/windows")
    assert hw.count() == hw.distinct().count()  # per-epoch stores are distinct
    # every stored window traces to an admitted doc: replaying changed nothing,
    # and epoch 1 stored only novel's windows (6 = 20-15+1)
    assert spark.read.parquet(f"{hist}/windows/epoch=1").count() == 6


def test_passage_history_sink_matches_batch_incremental_restriction(
    spark, sf_dir, tmp_path
):
    """Admitted-set equality with the batch form: history split as epoch 0,
    batch split as epoch 1 — the sink must reject exactly the doc_ids
    ``dedup_incremental_passages`` flags on the same corpus + fixture
    (shared window/hash expressions, so the two forms cannot drift)."""
    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        _INCREMENTAL_BATCH_RESIDUE,
        _passage_docs,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        PassageHistoryDedupSink,
    )

    plans.load_all()
    d = _passage_docs(spark, sf_dir)
    is_batch = F.col("doc_id") % 10 >= _INCREMENTAL_BATCH_RESIDUE
    out, hist = str(tmp_path / "out"), str(tmp_path / "hist")
    sink = PassageHistoryDedupSink(spark, out, hist)
    sink(d.filter(~is_batch), 0)
    sink(d.filter(is_batch), 1)

    expected_flagged = {
        r.doc_id
        for r in plans.get("dedup_incremental_passages").fn(spark, sf_dir)
        .filter(F.col("flagged"))
        .collect()
    }
    assert expected_flagged  # fixture guarantees the hit path
    batch_ids = {r.doc_id for r in d.filter(is_batch).select("doc_id").collect()}
    admitted_batch = {
        r.doc_id
        for r in spark.read.parquet(f"{out}/epoch=1").select("doc_id").collect()
    }
    assert admitted_batch == batch_ids - expected_flagged
    assert sink.stats["rejected"] == len(expected_flagged)


def test_passage_history_sink_restart_zero_repeat_admissions(spark, tmp_path):
    """End-to-end T3/T5 for the passage sink: a checkpointed foreachBatch
    stream with a FRESH PassageHistoryDedupSink on restart (process
    restart) still admits each passage neighborhood exactly once — the
    one-token rewrite of epoch-0 content shares untouched windows and is
    rejected across the restart boundary."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        INCREMENTAL_NEARDUP_FIXTURE_ROWS,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        PassageHistoryDedupSink,
        file_stream,
    )

    base, near, novel = INCREMENTAL_NEARDUP_FIXTURE_ROWS
    src = str(tmp_path / "src")
    out, hist, ckpt = (
        str(tmp_path / "out"),
        str(tmp_path / "hist"),
        str(tmp_path / "ckpt"),
    )
    schema = "doc_id long, text string"

    def run(sink):
        q = (
            file_stream(spark, src, schema, max_files_per_trigger=1)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame([base[:2]], schema).write.mode("append").parquet(src)
    run(PassageHistoryDedupSink(spark, out, hist))
    spark.createDataFrame([near[:2], novel[:2]], schema).write.mode(
        "append"
    ).parquet(src)
    sink2 = PassageHistoryDedupSink(spark, out, hist)
    run(sink2)

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == sorted([base[0], novel[0]])
    assert sink2.stats["rejected"] == 1


def test_boilerplate_history_sink_rejects_shared_footer_and_replays(
    spark, tmp_path
):
    """Streaming line-level admission (the boilerplate x streaming cell,
    completing the dedup matrix's boilerplate row): a shard document
    re-carrying ANY normalized line from a strictly-earlier epoch is
    rejected at ingest — including through case/padding variants (the
    shared normalization kernel) — a novel document is admitted,
    worst-order replay rewrites out/lines partitions identically, and
    rejected/empty docs never enter history."""
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        BoilerplateHistoryDedupSink,
    )

    base = (1, "unique body alpha\nAll Rights Reserved\nunique body beta")
    rep = (2, "totally new body\n  all rights reserved ")  # variant footer
    novel = (3, "fresh line one\nfresh line two")
    empty = (4, "")
    out, hist = str(tmp_path / "out"), str(tmp_path / "hist")
    sink = BoilerplateHistoryDedupSink(spark, out, hist)

    def mk(rows):
        return spark.createDataFrame(list(rows), "doc_id long, text string")

    sink(mk([base]), 0)
    sink(mk([rep, novel, empty]), 1)
    assert sink.stats == {"batches": 2, "admitted": 3, "rejected": 1}

    def admitted():
        return {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}

    assert admitted() == {1, 3, 4}
    before = _outcomes(sink)
    # worst-order replay: the strict epoch < e bound keeps both rewrites
    # identical (epoch 0 cannot reject itself against its own lines)
    sink(mk([rep, novel, empty]), 1)
    sink(mk([base]), 0)
    assert admitted() == {1, 3, 4}
    assert _outcomes(sink) == before
    hw = spark.read.parquet(f"{hist}/lines")
    assert hw.count() == hw.distinct().count()  # per-epoch stores distinct
    # epoch 1 stored only novel's 2 lines (rejected + empty stored none)
    assert spark.read.parquet(f"{hist}/lines/epoch=1").count() == 2


def test_boilerplate_history_sink_matches_batch_incremental_restriction(
    spark, sf_dir, tmp_path
):
    """Admitted-set equality with the batch form: history split as epoch
    0, batch split as epoch 1 — the sink must reject exactly the doc_ids
    ``dedup_incremental_boilerplate`` flags on the same corpus + fixture
    (shared line/hash kernels, so the two forms cannot drift)."""
    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        _INCREMENTAL_BATCH_RESIDUE,
        _boilerplate_inc_docs,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        BoilerplateHistoryDedupSink,
    )

    plans.load_all()
    d = _boilerplate_inc_docs(spark, sf_dir)
    is_batch = F.col("doc_id") % 10 >= _INCREMENTAL_BATCH_RESIDUE
    out, hist = str(tmp_path / "out"), str(tmp_path / "hist")
    sink = BoilerplateHistoryDedupSink(spark, out, hist)
    sink(d.filter(~is_batch), 0)
    sink(d.filter(is_batch), 1)

    expected_flagged = {
        r.doc_id
        for r in plans.get("dedup_incremental_boilerplate")
        .fn(spark, sf_dir)
        .filter(F.col("flagged"))
        .collect()
    }
    assert expected_flagged  # fixture guarantees the hit path
    batch_ids = {r.doc_id for r in d.filter(is_batch).select("doc_id").collect()}
    admitted_batch = {
        r.doc_id
        for r in spark.read.parquet(f"{out}/epoch=1").select("doc_id").collect()
    }
    assert admitted_batch == batch_ids - expected_flagged
    assert sink.stats["rejected"] == len(expected_flagged)


def test_history_dedup_sink_bloom_prefilter_mode_equality(spark, tmp_path):
    """The Bloom admission prefilter must not change ANY sink decision:
    the same 3-epoch input (within-batch dup, cross-batch dup, novel-only
    batch) through bloom-on and bloom-off sinks yields identical admitted
    rows, identical stats, and identical history stores."""
    from projet_pipeline_bigdata_org_spark.streaming.runtime import HistoryDedupSink

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    batches = [
        mk([(1, "alpha"), (2, "beta"), (3, "alpha")]),
        mk([(4, "beta"), (5, "gamma")]),
        mk([(6, "delta"), (7, "epsilon")]),
    ]
    results = {}
    for mode in (True, False):
        out = str(tmp_path / f"out_{mode}")
        hist = str(tmp_path / f"hist_{mode}")
        sink = HistoryDedupSink(
            spark, out, hist, content_col="text", id_col="doc_id",
            bloom_prefilter=mode,
        )
        for e, b in enumerate(batches):
            sink(b, e)
        results[mode] = (
            {(r.doc_id, r.text) for r in spark.read.parquet(out).collect()},
            dict(sink.stats),
            {r.content_sha for r in spark.read.parquet(hist).collect()},
        )
    assert results[True] == results[False]
    # epoch 0: alpha/beta admitted (the within-batch dup collapses to its
    # keeper BEFORE admission accounting); epoch 1: beta rejected vs
    # history, gamma admitted; epoch 2: both novel
    assert results[True][1] == {"batches": 3, "admitted": 5, "rejected": 1}


def test_anomaly_gate_sink_matches_batch_ewma_and_replays(spark, tmp_path):
    """The streaming EWMA gate fed an in-order stream in three arbitrary
    micro-batches must flag EXACTLY the rows the batch
    anomaly_ewma_residual flags on the whole stream — same evidence
    columns bit-for-bit (shared ewma_components arithmetic + the
    cross-epoch tail store standing in for the window's lag reach) —
    and a replayed epoch rewrites its partition identically."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import outliers
    from projet_pipeline_bigdata_org_spark.streaming.runtime import AnomalyGateSink

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    # two event types interleaved; a NULL reading; one spike per type at
    # different offsets so flags land in different micro-batches
    for i in range(30):
        rows.append((i, base + datetime.timedelta(seconds=i), 1, "click",
                     None if i == 4 else (500.0 if i == 17 else 5.0), "{}"))
    for i in range(30):
        rows.append((100 + i, base + datetime.timedelta(seconds=i), 2, "view",
                     900.0 if i == 26 else 40.0, "{}"))
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    full = spark.createDataFrame(rows, schema)
    with mock.patch.object(outliers, "load", lambda _s, _d, _t: full):
        want = {r.event_id: (r.cents, r.ewma_num, r.ewma_den, r.n_prior)
                for r in outliers.anomaly_ewma_residual(spark, "ignored").collect()}
    assert want, "fixture must flag at least one row"

    out, tail = str(tmp_path / "anom"), str(tmp_path / "tail")
    sink = AnomalyGateSink(spark, out, tail)
    # split the stream IN ORDER per key: epoch boundaries at seconds 0-9,
    # 10-19, 20-29 (both types advance together — the in-order contract)
    for e, lo, hi in [(0, 0, 10), (1, 10, 20), (2, 20, 30)]:
        epoch_rows = [r for r in rows if lo <= (r[1] - base).total_seconds() < hi]
        sink(spark.createDataFrame(epoch_rows, schema), e)

    got = {r.event_id: (r.cents, r.ewma_num, r.ewma_den, r.n_prior)
           for r in spark.read.parquet(out).collect()}
    assert got == want
    assert sink.stats["flagged"] == len(want) and sink.stats["scored"] == 60

    before = _outcomes(sink)
    # replay epoch 1: identical rewrite, no duplicate or drifted rows
    epoch_rows = [r for r in rows if 10 <= (r[1] - base).total_seconds() < 20]
    sink(spark.createDataFrame(epoch_rows, schema), 1)
    got2 = {r.event_id: (r.cents, r.ewma_num, r.ewma_den, r.n_prior)
            for r in spark.read.parquet(out).collect()}
    assert got2 == want
    assert _outcomes(sink) == before


def test_kmv_sketch_sink_merge_equals_batch_sketch_and_replays(spark, tmp_path):
    """The streaming KMV sink fed a stream in three arbitrary micro-batch
    splits must end with EXACTLY the batch sketch over the concatenated
    stream — same kept hash sets per scope, same kth thresholds, same
    milli estimates (the union-then-trim merge identity made
    operational) — and a replayed epoch changes nothing."""
    from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
        kmv_hash,
        kmv_summarize,
        kmv_trim,
    )
    from projet_pipeline_bigdata_org_spark.operators.textops import ws_tokens
    from projet_pipeline_bigdata_org_spark.streaming.runtime import KmvSketchSink

    rows = [
        (i, " ".join(f"w{(i * 13 + j) % 90}" for j in range(10)), f"l{i % 3}")
        for i in range(120)
    ]
    schema = "doc_id long, text string, lang string"
    full = spark.createDataFrame(rows, schema)

    def batch_sketch(df):
        toks = df.select("lang", F.explode(ws_tokens("text")).alias("tok"))
        scoped = toks.unionByName(
            toks.select(F.lit("__all__").alias("lang"), "tok")
        ).select("lang", kmv_hash("tok"))
        kept = kmv_trim(scoped)
        return (
            {(r.lang, r.h) for r in kept.collect()},
            {tuple(r) for r in kmv_summarize(kept).collect()},
        )

    want_kept, want_sum = batch_sketch(full)

    store = str(tmp_path / "kmv")
    sink = KmvSketchSink(spark, store)
    for e, lo, hi in [(0, 0, 40), (1, 40, 80), (2, 80, 120)]:
        sink(spark.createDataFrame(rows[lo:hi], schema), e)

    got_kept = {
        (r.lang, r.h)
        for r in spark.read.parquet(f"{store}/sketch/epoch=2").collect()
    }
    got_sum = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/estimates/epoch=2").collect()
    }
    assert got_kept == want_kept
    assert got_sum == want_sum

    # replay epoch 1: its partition rewrites identically and a re-run of
    # epoch 2 (reading strictly-prior epochs) still matches the batch
    sink(spark.createDataFrame(rows[40:80], schema), 1)
    sink(spark.createDataFrame(rows[80:120], schema), 2)
    got_kept2 = {
        (r.lang, r.h)
        for r in spark.read.parquet(f"{store}/sketch/epoch=2").collect()
    }
    assert got_kept2 == want_kept


def test_countmin_sink_delta_sum_equals_batch_sketch_and_replays(spark, tmp_path):
    """The streaming count-min sink fed a stream in three arbitrary
    micro-batch splits: the SUM of its per-epoch deltas must equal the
    batch counter table over the concatenated stream exactly (counter
    addition made operational), the final estimates partition must equal
    the batch operator's probe arithmetic on that sketch, and replaying
    an epoch rewrites its delta identically."""
    from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
        cm_probe_estimates,
        cm_sketch_counters,
    )
    from projet_pipeline_bigdata_org_spark.operators.textops import ws_tokens
    from projet_pipeline_bigdata_org_spark.streaming.runtime import CountMinSketchSink

    rows = [
        (i, "scan data " + " ".join(f"w{(i * 7 + j) % 40}" for j in range(8)))
        for i in range(90)
    ]
    schema = "doc_id long, text string"
    full = spark.createDataFrame(rows, schema)
    toks = full.select(F.explode(ws_tokens("text")).alias("tok"))
    want_counters = {
        (r.j, r.bucket): r.c for r in cm_sketch_counters(toks).collect()
    }
    want_est = {
        tuple(r)
        for r in cm_probe_estimates(spark, cm_sketch_counters(toks)).collect()
    }

    store = str(tmp_path / "cm")
    sink = CountMinSketchSink(spark, store)
    for e, lo, hi in [(0, 0, 30), (1, 30, 60), (2, 60, 90)]:
        sink(spark.createDataFrame(rows[lo:hi], schema), e)

    deltas = spark.read.parquet(f"{store}/delta")
    got_counters = {
        (r.j, r.bucket): r.c
        for r in deltas.groupBy("j", "bucket").agg(F.sum("c").alias("c")).collect()
    }
    assert got_counters == want_counters
    got_est = {
        tuple(r) for r in spark.read.parquet(f"{store}/estimates/epoch=2").collect()
    }
    assert got_est == want_est

    # replay epoch 1: its delta rewrites identically (no double count)
    before = {
        (r.j, r.bucket): r.c
        for r in spark.read.parquet(f"{store}/delta/epoch=1").collect()
    }
    sink(spark.createDataFrame(rows[30:60], schema), 1)
    after = {
        (r.j, r.bucket): r.c
        for r in spark.read.parquet(f"{store}/delta/epoch=1").collect()
    }
    assert after == before
    sink(spark.createDataFrame(rows[60:90], schema), 2)
    got_est2 = {
        tuple(r) for r in spark.read.parquet(f"{store}/estimates/epoch=2").collect()
    }
    assert got_est2 == want_est


def test_sketch_and_gate_sinks_soak_bounded_stores(spark, tmp_path):
    """SOAK (r11, VERDICT #7): each r10 sink driven for 52 epochs with
    adversarial micro-batch sizes (a deterministic 0..8-row cycle — many
    singleton batches, seven EMPTY batches) must (a) keep every
    cumulative store bounded — KMV <= scopes x KMV_K rows, count-min
    deltas <= d x w rows each, anomaly tails <= EWMA_LAGS rows per
    (event_type, day) in EVERY epoch partition and in the re-ranked
    cumulative read — and (b) still satisfy the mode-equality contract:
    after 52 arbitrary splits the folded state equals the batch operator
    over the concatenated stream."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import outliers
    from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
        CM_ROW_PARAMS,
        CM_WIDTH,
        KMV_K,
        cm_sketch_counters,
        kmv_hash,
        kmv_summarize,
        kmv_trim,
    )
    from projet_pipeline_bigdata_org_spark.operators.outliers import EWMA_LAGS
    from projet_pipeline_bigdata_org_spark.operators.textops import ws_tokens
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        AnomalyGateSink,
        CountMinSketchSink,
        KmvSketchSink,
    )

    n_epochs = 52
    sizes = [(i * 7) % 9 for i in range(n_epochs)]  # deterministic, 7 zeros
    assert sizes.count(0) >= 5 and len(sizes) >= 50
    bounds = [0]
    for s in sizes:
        bounds.append(bounds[-1] + s)
    n_rows = bounds[-1]

    def epoch_batches(rows, schema):
        """Micro-batch ``e`` = rows[bounds[e]:bounds[e+1]], as a filter of
        ONE cached single-partition frame tagged with its epoch (a small
        file-stream micro-batch is one partition too). A per-epoch
        createDataFrame is an 8-slice Python-worker parallelize that
        every job of the sink re-runs (the sinks scan their batch several
        times); the cached frame holds the same rows and is scanned in
        the JVM, which more than halves this 156-call soak's runtime."""
        staged = spark.createDataFrame(
            [r + (e,) for e in range(n_epochs) for r in rows[bounds[e] : bounds[e + 1]]],
            f"{schema}, _epoch int",
        ).coalesce(1).persist()
        return staged, lambda e: staged.filter(F.col("_epoch") == e).drop("_epoch")

    # --- documents stream (shared by the two sketch sinks) ---------------
    doc_rows = [
        (i, " ".join(f"w{(i * 13 + j) % 97}" for j in range(8)), f"l{i % 3}")
        for i in range(n_rows)
    ]
    doc_schema = "doc_id long, text string, lang string"
    full_docs = spark.createDataFrame(doc_rows, doc_schema)
    staged_docs, doc_batch = epoch_batches(doc_rows, doc_schema)

    # --- KMV sink ---------------------------------------------------------
    kmv_store = str(tmp_path / "kmv")
    kmv_sink = KmvSketchSink(spark, kmv_store)
    for e in range(n_epochs):
        kmv_sink(doc_batch(e), e)
    scopes = 4  # l0 l1 l2 + __all__
    last = max(
        e for e in range(n_epochs) if bounds[e + 1] > bounds[e]
    )
    final_sketch = spark.read.parquet(f"{kmv_store}/sketch/epoch={last}")
    per_scope = {
        r.lang: r.n
        for r in final_sketch.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert len(per_scope) <= scopes
    assert all(n <= KMV_K for n in per_scope.values()), per_scope
    toks = full_docs.select("lang", F.explode(ws_tokens("text")).alias("tok"))
    scoped = toks.unionByName(
        toks.select(F.lit("__all__").alias("lang"), "tok")
    ).select("lang", kmv_hash("tok"))
    want_kept = {(r.lang, r.h) for r in kmv_trim(scoped).collect()}
    assert {(r.lang, r.h) for r in final_sketch.collect()} == want_kept
    want_sum = {tuple(r) for r in kmv_summarize(kmv_trim(scoped)).collect()}
    got_sum = {
        tuple(r)
        for r in spark.read.parquet(f"{kmv_store}/estimates/epoch={last}").collect()
    }
    assert got_sum == want_sum

    # --- count-min sink -----------------------------------------------------
    cm_store = str(tmp_path / "cm")
    cm_sink = CountMinSketchSink(spark, cm_store)
    for e in range(n_epochs):
        cm_sink(doc_batch(e).select("doc_id", "text"), e)
    staged_docs.unpersist()
    deltas = spark.read.parquet(f"{cm_store}/delta")
    per_epoch = {
        r.epoch: r.n
        for r in deltas.groupBy("epoch").agg(F.count("*").alias("n")).collect()
    }
    cap = len(CM_ROW_PARAMS) * CM_WIDTH
    assert all(n <= cap for n in per_epoch.values()), per_epoch
    assert len(per_epoch) == sum(1 for s in sizes if s > 0)  # empties skipped
    want_counters = {
        (r.j, r.bucket): r.c
        for r in cm_sketch_counters(
            full_docs.select(F.explode(ws_tokens("text")).alias("tok"))
        ).collect()
    }
    got_counters = {
        (r.j, r.bucket): r.c
        for r in deltas.groupBy("j", "bucket").agg(F.sum("c").alias("c")).collect()
    }
    assert got_counters == want_counters

    # --- anomaly gate sink ---------------------------------------------------
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    ev_rows = []
    for i in range(n_rows):
        spike = i % 37 == 21
        ev_rows.append(
            (
                i,
                base + datetime.timedelta(seconds=i),
                1,
                f"t{i % 2}",
                None if i % 29 == 11 else (700.0 if spike else 6.0 + (i % 5)),
                "{}",
            )
        )
    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    full_ev = spark.createDataFrame(ev_rows, ev_schema)
    with mock.patch.object(outliers, "load", lambda _s, _d, _t: full_ev):
        want_flags = {
            r.event_id: (r.cents, r.ewma_num, r.ewma_den, r.n_prior)
            for r in outliers.anomaly_ewma_residual(spark, "ignored").collect()
        }
    assert want_flags, "soak fixture must flag at least one spike"
    out, tail = str(tmp_path / "anom"), str(tmp_path / "atail")
    gate = AnomalyGateSink(spark, out, tail)
    staged_ev, ev_batch = epoch_batches(ev_rows, ev_schema)
    for e in range(n_epochs):
        gate(ev_batch(e), e)
    staged_ev.unpersist()
    got_flags = {
        r.event_id: (r.cents, r.ewma_num, r.ewma_den, r.n_prior)
        for r in spark.read.parquet(out).collect()
    }
    assert got_flags == want_flags
    # every epoch tail partition respects the per-(type, day) cut
    tails = spark.read.parquet(tail)
    worst = (
        tails.groupBy("epoch", "event_type", "day")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("m"))
        .collect()[0]
        .m
    )
    assert worst <= EWMA_LAGS
    # the cumulative re-ranked read stays O(keys x EWMA_LAGS)
    cum_tail = gate._tail_before(n_epochs)
    n_keys = full_ev.select(
        "event_type", F.col("ts").cast("date").alias("day")
    ).distinct().count()
    assert cum_tail.count() <= n_keys * EWMA_LAGS


def test_ols_trend_sink_matches_batch_for_shuffled_splits(spark, tmp_path):
    """The streaming OLS-trend sink — the first sink written purely
    against the extracted _epoch_fold_batch contract — fed SHUFFLED
    micro-batches must end with exactly the batch agg_ols_trend table
    over the whole stream, and a replayed epoch rewrites its delta
    identically."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import timeseries
    from projet_pipeline_bigdata_org_spark.streaming.runtime import OlsTrendSink

    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    rows, eid = [], 0
    for d in range(21):
        # rising volume for one type, flat for the other; two readings a
        # day so days straddle micro-batches
        for k in range(2 + d // 3):
            rows.append(
                (eid, base + datetime.timedelta(days=d, hours=3 + k), 1,
                 "rising", 1.0, "{}")
            )
            eid += 1
        rows.append(
            (eid, base + datetime.timedelta(days=d, hours=12), 1,
             "flat", 1.0, "{}")
        )
        eid += 1
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    full = spark.createDataFrame(rows, schema)
    with mock.patch.object(timeseries, "load", lambda _s, _d, _t: full):
        want = {
            tuple(r)
            for r in timeseries.agg_ols_trend(spark, "ignored").collect()
        }
    slopes = {r[0]: r[4] for r in want}
    assert slopes["rising"] > 0 and abs(slopes["flat"]) < 1e-9

    splits = [rows[i::4] for i in range(4)]  # shuffled stride: days scatter
    store = str(tmp_path / "ols")
    sink = OlsTrendSink(spark, store)
    for e, chunk in enumerate(splits):
        sink(spark.createDataFrame(chunk, schema), e)
    got = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/trend/epoch=3").collect()
    }
    assert got == want
    assert sink.stats["types"] == len(want)

    # replay epoch 1: delta rewrites identically; re-run of the final
    # epoch still reproduces the batch table
    before = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/delta/epoch=1").collect()
    }
    sink(spark.createDataFrame(splits[1], schema), 1)
    after = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/delta/epoch=1").collect()
    }
    assert after == before
    sink(spark.createDataFrame(splits[3], schema), 3)
    got2 = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/trend/epoch=3").collect()
    }
    assert got2 == want


def test_cusum_sink_matches_batch_chart_for_shuffled_splits(spark, tmp_path):
    """The streaming CUSUM sink fed the stream in SHUFFLED micro-batches
    (rows deliberately out of time order — the mergeable-partials
    guarantee the tail sinks don't make) must end with exactly the batch
    anomaly_cusum_gate chart over the whole stream; a replayed epoch
    rewrites its delta identically and the re-run final chart still
    matches."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import outliers
    from projet_pipeline_bigdata_org_spark.streaming.runtime import CusumGateSink

    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    rows, eid = [], 0
    for d in range(30):
        # two readings per day so days straddle micro-batches
        for h in (3, 15):
            val = 100.0 if d < 7 else 121.0  # drift after baseline
            rows.append(
                (eid, base + datetime.timedelta(days=d, hours=h), 1,
                 "drift", val / 2, "{}")
            )
            eid += 1
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    full = spark.createDataFrame(rows, schema)
    with mock.patch.object(outliers, "load", lambda _s, _d, _t: full):
        want = {
            tuple(r)
            for r in outliers.anomaly_cusum_gate(spark, "ignored").collect()
        }
    assert any(r[-1] for r in want), "fixture must trip the chart"

    # shuffled split: stride the rows so each epoch carries a scatter of
    # days, late rows included
    splits = [rows[i::4] for i in range(4)]
    store = str(tmp_path / "cusum")
    sink = CusumGateSink(spark, store)
    for e, chunk in enumerate(splits):
        sink(spark.createDataFrame(chunk, schema), e)
    got = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/chart/epoch=3").collect()
    }
    assert got == want
    assert sink.stats["shifts"] == sum(1 for r in want if r[-1])

    # replay epoch 2: delta rewrites identically; re-run of the final
    # epoch still reproduces the batch chart
    before = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/delta/epoch=2").collect()
    }
    sink(spark.createDataFrame(splits[2], schema), 2)
    after = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/delta/epoch=2").collect()
    }
    assert after == before
    sink(spark.createDataFrame(splits[3], schema), 3)
    got2 = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/chart/epoch=3").collect()
    }
    assert got2 == want


def test_seasonal_sink_matches_batch_gate_for_shuffled_splits(spark, tmp_path):
    """The streaming seasonal gate fed SHUFFLED micro-batches must end
    with exactly the batch anomaly_seasonal_residual table over the
    whole stream (mergeable daily partials — out-of-order safe), and a
    replayed epoch rewrites its delta identically."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import outliers
    from projet_pipeline_bigdata_org_spark.streaming.runtime import SeasonalGateSink

    base = datetime.datetime(2024, 3, 4, 6, 0, 0)
    base_di = (base.date() - datetime.date(1970, 1, 1)).days
    rows, eid = [], 0
    for d in range(28):
        di = base_di + d
        busy = di % 7 == 0
        val = 800.0 if busy else 100.0
        if busy and d >= 21:
            val = 100.0          # broken final busy day -> must flag
        for h in (2, 14):        # two readings so days straddle epochs
            rows.append(
                (eid, base + datetime.timedelta(days=d, hours=h), 1,
                 "weekly", val / 2, "{}")
            )
            eid += 1
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    full = spark.createDataFrame(rows, schema)
    with mock.patch.object(outliers, "load", lambda _s, _d, _t: full):
        want = {
            tuple(r)
            for r in outliers.anomaly_seasonal_residual(spark, "ignored").collect()
        }
    assert any(r[-1] for r in want), "fixture must flag the broken day"

    splits = [rows[i::4] for i in range(4)]  # strided: every epoch scatters days
    store = str(tmp_path / "seasonal")
    sink = SeasonalGateSink(spark, store)
    for e, chunk in enumerate(splits):
        sink(spark.createDataFrame(chunk, schema), e)
    got = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/flags/epoch=3").collect()
    }
    assert got == want
    assert sink.stats["anomalies"] == sum(1 for r in want if r[-1])

    before = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/delta/epoch=1").collect()
    }
    sink(spark.createDataFrame(splits[1], schema), 1)
    after = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/delta/epoch=1").collect()
    }
    assert after == before
    sink(spark.createDataFrame(splits[3], schema), 3)
    got2 = {
        tuple(r)
        for r in spark.read.parquet(f"{store}/flags/epoch=3").collect()
    }
    assert got2 == want


def test_ann_postings_sink_matches_batch_and_replays_identically(
    spark, sf_dir, tmp_path
):
    """The streamed postings snapshot equals the batch maintained index
    (history epoch 0 + shard epoch 1 == ann_incremental_postings'
    union), shard postings appear only from epoch 1, and worst-order
    replay rewrites every partition identically (strictly-prior state
    scans + idempotent epoch-partition overwrites — the
    _epoch_fold_batch contract)."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        EMB_BATCH_RESIDUE,
        ann_incremental_postings,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        AnnPostingsSink,
    )

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = F.col("vec_id") % 10 >= EMB_BATCH_RESIDUE
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    sink = AnnPostingsSink(spark, out, state)
    sink(e.filter(~is_batch), 0)
    epoch0 = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(f"{out}/epoch=0").collect()
    }
    assert epoch0 and all(v % 10 < EMB_BATCH_RESIDUE for v, _ in epoch0)
    sink(e.filter(is_batch), 1)

    _pts, _cents, postings = ann_incremental_postings(spark, sf_dir)
    want = {(r.vec_id, r.cell) for r in postings.collect()}
    got = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(f"{out}/epoch=1").collect()
    }
    assert got == want  # streamed snapshot == batch maintained index
    assert any(v % 10 >= EMB_BATCH_RESIDUE for v, _ in got)  # shard indexed
    assert sink.stats["postings"] == len(want)

    # worst-order replay: both epochs rewrite identically
    sink(e.filter(is_batch), 1)
    sink(e.filter(~is_batch), 0)
    assert {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(f"{out}/epoch=1").collect()
    } == want
    assert {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(f"{out}/epoch=0").collect()
    } == epoch0


def test_rule_keep_columns_match_registered_operators(spark, sf_dir):
    """Drift pins for the composed funnel sink's rule columns: the
    reusable gopher_keep_col / c4_keep_col expressions equal the
    registered operators' own keep on the full corpus (+ the C4 fixture
    riders), and qc_margin >= 0 equals curate_quality_classifier.keep."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.curation import qc_margin
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        C4_FIXTURE_ROWS,
        c4_keep_col,
        gopher_keep_col,
        text_c4_rules,
        text_gopher_rules,
        ws_tokens,
    )
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        curate_quality_classifier,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    gop_op = {r.doc_id: r.keep for r in text_gopher_rules(spark, sf_dir).collect()}
    gop_col = {
        r.doc_id: r.k
        for r in docs.select("doc_id", gopher_keep_col("text").alias("k")).collect()
    }
    assert gop_col == gop_op and len(gop_col) > 0
    # NULL-text edge (ADVICE r16): both forms must score keep=FALSE, not
    # NULL — the corpus has no NULL texts, so pin it with a rider
    null_rider = spark.createDataFrame(
        [(96_000_001, None)], "doc_id long, text string"
    )
    assert null_rider.select(gopher_keep_col("text").alias("k")).first().k is False

    c4_src = docs.unionByName(
        spark.createDataFrame(list(C4_FIXTURE_ROWS), "doc_id long, text string")
    )
    c4_op = {r.doc_id: r.keep for r in text_c4_rules(spark, sf_dir).collect()}
    c4_col = {
        r.doc_id: r.k
        for r in c4_src.select("doc_id", c4_keep_col("text").alias("k")).collect()
    }
    assert c4_col == c4_op and False in c4_col.values() and True in c4_col.values()

    clf_op = {
        r.doc_id: r.keep for r in curate_quality_classifier(spark, sf_dir).collect()
    }
    clf_col = {
        r.doc_id: r.k
        for r in docs.select(
            "doc_id",
            (qc_margin(ws_tokens(F.coalesce(F.col("text"), F.lit("")))) >= 0).alias(
                "k"
            ),
        ).collect()
    }
    assert clf_col == clf_op


def test_curation_funnel_sink_matches_batch_and_replays(spark, sf_dir, tmp_path):
    """The composed ingest funnel (VERDICT r15 #6): streaming the corpus
    (+ riders exercising every stage) through CurationFunnelSink in
    doc_id-ordered epochs yields EXACTLY the batch first-match
    attribution of the same stages over the same rows; survivors are the
    stage-0 set; worst-order replay (newest epoch first) rewrites every
    store identically."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.curation import qc_margin
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        c4_keep_col,
        gopher_keep_col,
        ws_tokens,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        CurationFunnelSink,
    )
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    first_text = docs.orderBy("doc_id").first().text
    riders = spark.createDataFrame(
        [
            (95_000_001, "a lorem ipsum page that the c4 rule must drop"),
            (95_000_002, "function f() { return 1; } and padding words here"),
            (95_000_003, first_text),  # cross-epoch exact duplicate
        ],
        "doc_id long, text string",
    )
    stream = docs.unionByName(riders)

    # batch first-match attribution over the full streamed frame
    text = F.coalesce(F.col("text"), F.lit(""))
    w = W.partitionBy(F.sha2(text, 256))
    expected = {
        r.doc_id: r.stage_ord
        for r in stream.select(
            "doc_id",
            F.when(F.col("doc_id") != F.min("doc_id").over(w), 1)
            .when(~c4_keep_col("text"), 2)
            .when(~gopher_keep_col("text"), 3)
            .when(qc_margin(ws_tokens(text)) < 0, 4)
            .otherwise(0)
            .cast("long")
            .alias("stage_ord"),
        ).collect()
    }
    assert {1, 2, 3} <= set(expected.values())  # stage variety on the input

    out = str(tmp_path / "out")
    att = str(tmp_path / "att")
    hist = str(tmp_path / "hist")
    sink = CurationFunnelSink(spark, out, att, hist)
    # doc_id-ordered range epochs: streaming first-seen == batch min-id
    ids = sorted(expected)
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    epochs = [
        stream.filter(F.col("doc_id") < cuts[0]),
        stream.filter((F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])),
        stream.filter(F.col("doc_id") >= cuts[1]),
    ]
    for e, b in enumerate(epochs):
        sink(b, e)

    def attributed():
        return {
            r.doc_id: r.stage_ord for r in spark.read.parquet(att).collect()
        }

    def survivors():
        return {r.doc_id for r in spark.read.parquet(out).collect()}

    got = attributed()
    assert got == expected
    assert survivors() == {i for i, s in expected.items() if s == 0}
    assert sink.stats["admitted"] == len(survivors())
    # the planted riders hit their stages
    assert got[95_000_001] == 2 and got[95_000_002] == 2 and got[95_000_003] == 1

    # worst-order replay: newest epoch first, then the rest — the strict
    # prior-epoch history bound keeps every rewrite identical
    for e in (2, 1, 0):
        sink(epochs[e], e)
    assert attributed() == expected
    assert survivors() == {i for i, s in expected.items() if s == 0}
    # history holds one sha per distinct first-seen content
    n_sha = spark.read.parquet(hist).distinct().count()
    n_content = stream.select(F.sha2(text, 256)).distinct().count()
    assert n_sha == n_content


def test_curation_funnel_ingest_sink_matches_twin_and_replays(spark, sf_dir, tmp_path):
    """The FULL streaming-amenable funnel at ingest (VERDICT r16 #3/#4):
    streaming the corpus (+ riders exercising the new stages) through
    CurationFunnelIngestSink in doc_id-ordered epochs yields EXACTLY the
    certified batch twin's attribution on the corpus (mode equality with
    ``curate_funnel_stream_prefix6``, portable hashes both sides);
    planted riders hit exact-dup (1), cross-epoch near-dup (3),
    WITHIN-batch near-dup (3), and Gopher (6); worst-order replay
    rewrites every store identically (strict prior-epoch history
    bound)."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        curate_funnel_stream_prefix6,
    )
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        DECONTAM_BENCH_MOD,
        shingles,
        ws_tokens,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        CurationFunnelIngestSink,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    twin = {
        r.doc_id: r.stage_ord
        for r in curate_funnel_stream_prefix6(spark, sf_dir).collect()
    }
    assert {3, 4, 6, 7} <= set(twin.values())  # stage variety on the corpus
    first_text = docs.orderBy("doc_id").first().text
    # invented tokens: near each other, in no benchmark, no stopwords
    base_txt = (
        "alphaq bravoq charlieq deltaq echoq foxtrotq golfq hotelq"
        " indiaq julietq kiloq limaq"
    )
    riders = spark.createDataFrame(
        [
            (95_100_001, first_text),             # cross-epoch exact dup -> 1
            (95_100_002, first_text + " zzzqx"),  # cross-epoch near dup -> 3
            (95_100_003, base_txt),               # fresh; no stopwords -> 6
            (95_100_004, base_txt + " mikeq"),    # within-batch near -> 3
        ],
        "doc_id long, text string",
    )
    rid = {r.doc_id for r in riders.select("doc_id").collect()}
    assert all(i % DECONTAM_BENCH_MOD != 0 for i in rid)
    stream = docs.unionByName(riders)

    bench = (
        docs.filter(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
        .select(F.explode(F.array_distinct(shingles(ws_tokens("text")))).alias("s"))
        .distinct()
    )
    out, att, hist = (
        str(tmp_path / "out"), str(tmp_path / "att"), str(tmp_path / "hist")
    )
    sink = CurationFunnelIngestSink(spark, out, att, hist, bench, portable=True)
    ids = sorted(r.doc_id for r in stream.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    epochs = [
        stream.filter(F.col("doc_id") < cuts[0]),
        stream.filter((F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])),
        stream.filter(F.col("doc_id") >= cuts[1]),  # all 4 riders land here
    ]
    for e, b in enumerate(epochs):
        sink(b, e)

    def attributed():
        return {r.doc_id: r.stage_ord for r in spark.read.parquet(att).collect()}

    def survivors():
        return {r.doc_id for r in spark.read.parquet(out).collect()}

    got = attributed()
    # corpus docs: exact mode equality with the certified twin
    assert {k: v for k, v in got.items() if k not in rid} == twin
    # riders hit their stages
    assert got[95_100_001] == 1 and got[95_100_002] == 3
    assert got[95_100_004] == 3 and got[95_100_003] == 6
    assert survivors() == {i for i, s in got.items() if s == 0}
    assert sink.stats["admitted"] == len(survivors())

    # worst-order replay: newest epoch first — strict prior-epoch bound
    # keeps every rewrite identical, stats stay epoch-keyed
    for e in (2, 1, 0):
        sink(epochs[e], e)
    assert attributed() == got
    assert survivors() == {i for i, s in got.items() if s == 0}
    assert sink.stats["admitted"] == len(survivors())
    # history: one sha per first-seen content; bands/shingles for every
    # first-seen keeper with >= 1 shingle REGARDLESS of its stage
    n_sha = spark.read.parquet(f"{hist}/shas").distinct().count()
    text = F.coalesce(F.col("text"), F.lit(""))
    assert n_sha == stream.select(F.sha2(text, 256)).distinct().count()
    hist_ids = {
        r.doc_id for r in spark.read.parquet(f"{hist}/shingles").collect()
    }
    rejected_with_sh = {
        i for i, s in got.items()
        if s != 0 and i in hist_ids
    }
    assert rejected_with_sh, "history must record rejected first-seen keepers too"


def test_stream_prefix6_agrees_with_ladder_on_shared_ranks(spark, sf_dir):
    """Mode equality vs the batch ladder restricted to the shared stages
    (VERDICT r16 #3): every document the C4-ladder attributes to a rank
    the streaming prefix also runs (1 exact, 3 near, 4 decon, 5 c4,
    6 gopher) gets the SAME rank from ``curate_funnel_stream_prefix6``.
    Rank 2 (normalized dup) has no streaming form and rank 7 classifier
    is corpus-relative in the ladder vs absolute at ingest — both
    documented divergences, excluded."""
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        curate_funnel_stream_prefix6,
        funnel_ladder_staged,
    )
    from projet_pipeline_bigdata_org_spark.operators.textops import text_c4_rules

    staged9 = funnel_ladder_staged(spark, sf_dir)
    c4 = text_c4_rules(spark, sf_dir).select("doc_id", "keep")
    ord9 = F.col("stage_ord")
    lc4 = {
        r.doc_id: r.s
        for r in staged9.join(c4, "doc_id")
        .select(
            "doc_id",
            F.when(ord9.between(1, 4), ord9)
            .when(~F.col("keep"), F.lit(5))
            .when(ord9 == 0, F.lit(0))
            .otherwise(ord9 + 1)
            .cast("long")
            .alias("s"),
        )
        .collect()
    }
    twin = {
        r.doc_id: r.stage_ord
        for r in curate_funnel_stream_prefix6(spark, sf_dir).collect()
    }
    shared = {d for d, s in lc4.items() if s in (1, 3, 4, 5, 6)}
    assert shared, "corpus must exercise at least one shared rank"
    diverged = {d: (lc4[d], twin[d]) for d in shared if twin[d] != lc4[d]}
    assert not diverged, f"ladder/stream rank disagreement: {diverged}"


def test_decontamination_gate_sink_matches_batch_and_replays(spark, sf_dir, tmp_path):
    """Streaming eval-hygiene gate: streaming the corpus (non-benchmark
    docs) through DecontaminationGateSink against the static benchmark
    dictionary yields EXACTLY the registered lex_decontaminate flag table
    (same shingle arithmetic, mode equality), and replaying any epoch
    rewrites identically (static reference side, no state)."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        DECONTAM_BENCH_MOD,
        shingles,
        text_decontaminate,
        ws_tokens,
    )
    from projet_pipeline_bigdata_org_spark.streaming.runtime import (
        DecontaminationGateSink,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_bench = F.col("doc_id") % DECONTAM_BENCH_MOD == 0
    bench = (
        docs.filter(is_bench)
        .select(F.explode(F.array_distinct(shingles(ws_tokens("text")))).alias("s"))
        .distinct()
    )
    corpus = docs.filter(~is_bench)
    expected = {
        r.doc_id: (r.n_shingles, r.n_overlap, r.contaminated)
        for r in text_decontaminate(spark, sf_dir).collect()
    }

    out, fl = str(tmp_path / "out"), str(tmp_path / "flags")
    sink = DecontaminationGateSink(spark, out, fl, bench)
    epochs = [corpus.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    for e, b in enumerate(epochs):
        sink(b, e)

    def flags():
        return {
            r.doc_id: (r.n_shingles, r.n_overlap, r.contaminated)
            for r in spark.read.parquet(fl).collect()
        }

    got = flags()
    assert got == expected
    assert True in {v[2] for v in got.values()} and False in {
        v[2] for v in got.values()
    }
    passed = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert passed == {k for k, v in expected.items() if not v[2]}
    # replay (any order — stateless wrt epochs): stores rewrite identically
    for e in (1, 0, 2):
        sink(epochs[e], e)
    assert flags() == expected
