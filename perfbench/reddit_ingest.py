"""``reddit_ingest``: the paper's own path, streamed.

Open loop. One generator thread writes pre-rendered JSON files of
Reddit-shaped ``RECORD_SCHEMA`` records into the watched directory on a
fixed schedule, ``RATE`` events/s in one file per trigger interval,
whether or not the pipeline keeps up. Each record's ``timestamp`` is its
due time: the moment its file is renamed into the watched directory. The
query is ``file_stream`` -> reference transform (``clean_text``,
stub-backend sentiment ``pandas_udf``, ``virality_bucket``, sink
projection) -> ``FailoverBatchSink`` over
``idempotent_parquet_batch_writer`` on a processing-time trigger.
Latency runs from an event's due time to the commit of its micro-batch:
a fixed ``LEAD_S`` wait for the trigger plus the micro-batch time; only
the micro-batch time is scaled to the reference host speed
(``perfbench.hostspeed``), which is probed in the idle time between live
micro-batches. A second phase drains a pre-staged backlog with
``maxFilesPerTrigger`` to measure capacity in events/s: the median over its micro-batches of each
one's events over the time to the next trigger's start, scaled by the host
probes taken right before and after the drain.

The sinks are read back and compared row by row with DuckDB recomputing
the projection from the generated files through the engine's SQL twins.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time

import numpy as np

from perfbench import datagen
from perfbench.harness import (
    JobCounter,
    batch_commit_time,
    batch_rates,
    event_latencies,
    host_scaled,
    make_progress_listener,
    median,
    parse_progress_timestamp,
    tail_percentile,
)
from perfbench.probes import CountingBackend, TimedWriter, read_backend_log

#: events/s offered in the open-loop phase. The backlog drain capacity
#: (``raw_throughput_per_s``) measured 2800-6500/s on a 4-core host whose speed
#: drifted 2x (5700-6300/s once scaled to the reference speed), so this is
#: 0.23-0.54 of capacity: a third of the fast-period figure (2000/s) would
#: reach 0.7 in slow periods
RATE = 1500
#: processing-time trigger interval. A micro-batch has a fixed cost of
#: several hundred ms, so a 1 s trigger saturates on a slow host (the
#: batches then grow and latency turns bimodal); 2 s leaves headroom.
TRIGGER_S = 2
#: each file lands this long before a trigger fires (processing-time
#: triggers fire on wall-clock multiples of the interval), so the wait for
#: the trigger is the same small constant in every batch of every run
LEAD_S = 0.25
WARM_FILES = 4
WARM_FILE_ROWS = 500
#: warm-up files per micro-batch: one task per core, so every Python worker
#: the measured phases use has imported its libraries before timing starts
WARM_FILES_PER_TRIGGER = 4
#: then files shaped like the live ones, one per micro-batch: after a cold
#: start, live micro-batch times keep falling for about eight batches while
#: the JVM compiles their code paths. The last one primes the measured query
#: itself: a query's first micro-batch is its slowest, and it would
#: otherwise set the latency tail.
WARM_LIVE_FILES = 6
BACKLOG_FILES = 32
BACKLOG_FILE_ROWS = 1000
BACKLOG_FILES_PER_TRIGGER = 4
#: a host probe between live micro-batches starts only this long or more
#: before the next file is due
PROBE_ROOM_S = 0.4
#: host probes right before and right after the drain, which scale its rate
DRAIN_PROBES = 3
#: a generator later than this voids the run (the load was not offered)
LATE_LIMIT_S = 1.0
N_TEXTS = 2000

PROJECTION = (
    "id", "author", "subreddit", "text_content", "sentiment",
    "score_predit", "viralite", "creation_date", "due_ts",
)


def per_file() -> int:
    return RATE * TRIGGER_S


def render(records: list[dict]) -> list[str]:
    """JSON lines without the due time, which is prepended at write time."""
    return [json.dumps(r)[1:] for r in records]


def write_file(path: str, staging: str, lines: list[str], due: float, at: float | None = None) -> None:
    """Write a complete file beside the watched directory with every record
    due at ``due``, then rename it in (not before wall-clock time ``at``, if
    given), so the stream never lists a half-written file."""
    tmp = os.path.join(staging, os.path.basename(path))
    stamp = f'{{"timestamp": {due:.6f}, '
    with open(tmp, "w") as fh:
        fh.writelines(f"{stamp}{ln}\n" for ln in lines)
    if at is not None and at > time.time():
        time.sleep(at - time.time())
    os.rename(tmp, path)


class Generator(threading.Thread):
    """Renames file k in at ``t0 + k * TRIGGER_S`` (open loop); its records
    are due at that moment. Between renames it calls ``idle(k, until)``
    with the time the next file is due."""

    def __init__(self, files: list[list[str]], in_dir: str, staging: str, t0: float, idle=None):
        super().__init__(daemon=True)
        self.files, self.in_dir, self.staging, self.t0 = files, in_dir, staging, t0
        self.idle = idle
        self.late: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for k, lines in enumerate(self.files):
                flush_at = self.t0 + k * TRIGGER_S
                path = os.path.join(self.in_dir, f"f{k:05d}.json")
                write_file(path, self.staging, lines, flush_at, at=flush_at)
                self.late.append(time.time() - flush_at)
                if self.idle is not None:
                    self.idle(k, flush_at + TRIGGER_S)
        except BaseException as err:  # surfaced by the caller after join
            self.error = err


def make_transform(sentiment_udf):
    from pyspark.sql import functions as F

    from projet_pipeline_bigdata_org_spark.functions.buckets import virality_bucket
    from projet_pipeline_bigdata_org_spark.functions.cleaning import clean_text

    def transform(df):
        pred = F.col("score").cast("double") / 100.0
        return (
            df.withColumn("text_content", clean_text("text"))
            .withColumn("sentiment", sentiment_udf(F.col("text_content")))
            .withColumn("score_predit", F.round(pred, 2).cast("float"))
            .withColumn("viralite", virality_bucket(pred))
            .withColumn(
                "creation_date",
                F.date_format(F.timestamp_seconds(F.floor("timestamp")), "yyyy-MM-dd HH:mm:ss"),
            )
            .withColumn("due_ts", F.col("timestamp"))
            .select(*PROJECTION)
        )

    return transform


def expected_sql(in_dir: str) -> str:
    """The sink projection recomputed by DuckDB from the generated files."""
    from projet_pipeline_bigdata_org_spark.functions.buckets import sql_virality_bucket
    from projet_pipeline_bigdata_org_spark.functions.cleaning import SQL_CLEAN
    from projet_pipeline_bigdata_org_spark.ml.enrich import SQL_STUB_SENTIMENT

    clean = SQL_CLEAN.format(c="text")
    pred = "(CAST(score AS DOUBLE) / 100.0)"
    return f"""
    SELECT id, author, subreddit, {clean} AS text_content,
           {SQL_STUB_SENTIMENT.format(c=clean)} AS sentiment,
           CAST(ROUND({pred}, 2) AS FLOAT) AS score_predit,
           {sql_virality_bucket(pred)} AS viralite,
           STRFTIME(epoch_ms(CAST(FLOOR(timestamp) AS BIGINT) * 1000), '%Y-%m-%d %H:%M:%S')
             AS creation_date,
           timestamp AS due_ts
    FROM read_json('{in_dir}/*.json', format = 'newline_delimited',
         columns = {{'id': 'VARCHAR', 'author': 'VARCHAR', 'subreddit': 'VARCHAR',
                    'text': 'VARCHAR', 'timestamp': 'DOUBLE', 'score': 'INTEGER'}})
    """


def compare_sink(con, in_dir: str, sink_dir: str) -> tuple[int, list[tuple]]:
    """(rows lost + rows duplicated or wrong, ``(due_ts, epoch)`` of every
    sink row). The multiset difference runs both ways inside DuckDB."""
    cols = ", ".join(PROJECTION)
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {expected_sql(in_dir)}")
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE got AS SELECT {cols}, CAST(epoch AS BIGINT) AS epoch "
        f"FROM read_parquet('{sink_dir}/*/*.parquet', hive_partitioning = true)"
    )
    (bad,) = con.execute(
        f"""SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT {cols} FROM got))
                 + (SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT * FROM want))"""
    ).fetchone()
    return int(bad), con.execute("SELECT due_ts, epoch FROM got").fetchall()


class Pipeline:
    """One streaming query of the reference pipeline into its own sink."""

    def __init__(self, ctx, sentiment_udf, name: str):
        from projet_pipeline_bigdata_org_spark.streaming.runtime import (
            FailoverBatchSink,
            idempotent_parquet_batch_writer,
        )

        self.ctx = ctx
        self.in_dir = ctx.run.sub(name, "in")
        self.staging = ctx.run.sub(name, "staging")
        self.sink_dir = ctx.run.sub(name, "sink")
        self.ckpt = os.path.join(ctx.run.path, name, "ckpt")
        writer = idempotent_parquet_batch_writer(self.sink_dir)
        self.timed = TimedWriter(writer) if ctx.trace else None
        self.sink = FailoverBatchSink(
            primary=self.timed or writer, transform=make_transform(sentiment_udf)
        )

    def start(self, max_files: int | None, trigger_s: int | None):
        from projet_pipeline_bigdata_org_spark.streaming.runtime import (
            RECORD_SCHEMA,
            file_stream,
            start_foreach_batch,
        )

        spark = self.ctx.engine.spark
        tracer = self.ctx.tracer
        sink = self.sink
        if tracer.enabled:
            inner = self.sink

            def sink(df, epoch_id):
                with tracer.span("streaming.foreach_batch", epoch=int(epoch_id)):
                    inner(df, epoch_id)

        with tracer.span("streaming.start_foreach_batch"):
            stream = file_stream(
                spark, self.in_dir, RECORD_SCHEMA, fmt="json", max_files_per_trigger=max_files
            )
            return start_foreach_batch(stream, sink, self.ckpt, trigger_seconds=trigger_s)


def wait_first_batch(listener, run_id: str, query, timeout_s: float = 120.0) -> int:
    """Block until the query has committed a micro-batch with input rows;
    return its id."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        done = [b["batch"] for b in listener.batches(run_id) if b["rows"] > 0]
        if done:
            return done[0]
        if query.exception() is not None:
            raise RuntimeError(f"the live query failed: {query.exception()}")
        time.sleep(0.05)
    raise RuntimeError("the live query committed no micro-batch in time")


def run(ctx) -> dict:
    rng = np.random.default_rng(ctx.seed)
    texts = datagen.document_texts(rng, N_TEXTS)
    n_meas_files = max(1, int(round(ctx.seconds / TRIGGER_S)))
    sizes = (
        [WARM_FILE_ROWS] * WARM_FILES
        + [per_file()] * WARM_LIVE_FILES
        + [per_file()] * n_meas_files
        + [BACKLOG_FILE_ROWS] * BACKLOG_FILES
    )
    lines = render(datagen.reddit_records(ctx.seed, sum(sizes), texts))
    ends = np.cumsum(sizes)
    files = [lines[e - n : e] for n, e in zip(sizes, ends)]
    warm_files, files = files[:WARM_FILES], files[WARM_FILES:]
    warm_live_files, files = files[:WARM_LIVE_FILES], files[WARM_LIVE_FILES:]
    meas_files, backlog_files = files[:n_meas_files], files[n_meas_files:]

    engine, tracer = ctx.engine, ctx.tracer
    ctx.host.probe()
    t_setup = time.perf_counter()
    engine.start("perfbench-reddit_ingest")
    spark = engine.spark
    listener = make_progress_listener()
    spark.streams.addListener(listener)
    from projet_pipeline_bigdata_org_spark.ml.enrich import make_sentiment_udf, stub_backend

    def sentiment(phase: str):
        if not ctx.trace:
            return make_sentiment_udf(backend=stub_backend)
        return make_sentiment_udf(backend=CountingBackend(ctx.run.sub("enrich_log", phase)))

    # warm-up: its own inputs, sinks and checkpoints
    with tracer.span("warmup"):
        warm_udf = sentiment("warm")
        for name, warm_in, per_trigger in (
            ("warm", warm_files, WARM_FILES_PER_TRIGGER),
            ("warm_live", warm_live_files[:-1], 1),
        ):
            warm = Pipeline(ctx, warm_udf, name)
            for k, f in enumerate(warm_in):
                write_file(os.path.join(warm.in_dir, f"w{k:05d}.json"), warm.staging, f, time.time())
            warm.start(max_files=per_trigger, trigger_s=None).awaitTermination()
        udf = sentiment("measured")
        live = Pipeline(ctx, udf, "live")
        backlog = Pipeline(ctx, udf, "backlog")
        for k, f in enumerate(backlog_files):
            write_file(os.path.join(backlog.in_dir, f"b{k:05d}.json"), backlog.staging, f, time.time())
        write_file(
            os.path.join(live.in_dir, "p00000.json"), live.staging, warm_live_files[-1], time.time()
        )
        q = live.start(max_files=None, trigger_s=TRIGGER_S)
        live_run = str(q.runId)
        primer = wait_first_batch(listener, live_run, q)
    setup_s = time.perf_counter() - t_setup

    def idle(k: int, until: float) -> None:
        # probe the host once file k's micro-batch has committed, if the
        # probe can end well before the next file is due
        while time.time() < until - PROBE_ROOM_S:
            done = [b for b in listener.batches(live_run) if b["rows"] > 0 and b["batch"] != primer]
            if len(done) > k:
                ctx.host.probe()
                return
            time.sleep(0.02)

    live_probes = len(ctx.host.samples)
    ctx.host.probe()
    ctx.rss_start(engine.jvm_pid)
    # phase 1: open loop at RATE events/s
    t0 = math.ceil((time.time() + LEAD_S + 0.25) / TRIGGER_S) * TRIGGER_S - LEAD_S
    gen = Generator(meas_files, live.in_dir, live.staging, t0, idle)
    with tracer.span("streaming.open_loop"):
        gen.start()
        gen.join()
        if gen.error is not None:
            raise gen.error
        q.processAllAvailable()
        q.stop()
    # phase 2: drain the pre-staged backlog as fast as the engine can
    drain_probes = len(ctx.host.samples)
    for _ in range(DRAIN_PROBES):
        ctx.host.probe()
    with tracer.span("streaming.backlog_drain"):
        qb = backlog.start(max_files=BACKLOG_FILES_PER_TRIGGER, trigger_s=None)
        qb.awaitTermination()
    for _ in range(DRAIN_PROBES):
        ctx.host.probe()
    backlog_run = str(qb.runId)
    peak_mb = ctx.rss_stop()

    # wait for the listener to see every committed batch of both queries
    deadline = time.time() + 30
    while not {live_run, backlog_run} <= listener.terminated and time.time() < deadline:
        time.sleep(0.05)
    prog = [b for b in listener.batches(live_run) if b["rows"] > 0 and b["batch"] != primer]
    drained = [b for b in listener.batches(backlog_run) if b["rows"] > 0]
    if not prog or not drained:
        raise RuntimeError("the progress listener saw no micro-batch with input rows")
    # capacity: the median over the drain's micro-batches of each one's
    # events/s, from its trigger's start to the next one's, so the query's
    # start-up is not counted and one stalled batch does not set the figure
    per_batch = BACKLOG_FILES_PER_TRIGGER * BACKLOG_FILE_ROWS
    if len(drained) != BACKLOG_FILES // BACKLOG_FILES_PER_TRIGGER:
        raise RuntimeError(f"the backlog drained in {len(drained)} micro-batches")
    capacity = median(
        batch_rates([parse_progress_timestamp(b["timestamp"]) for b in drained], per_batch)
    )
    drain_s = batch_commit_time(
        drained[-1]["timestamp"], drained[-1]["duration_ms"]["triggerExecution"]
    ) - parse_progress_timestamp(drained[0]["timestamp"])

    import duckdb

    with tracer.span("checks.duckdb"):
        con = duckdb.connect()
        try:
            bad_live, live_rows = compare_sink(con, live.in_dir, live.sink_dir)
            live_rows = [r for r in live_rows if r[1] != primer]
            bad_back, _ = compare_sink(con, backlog.in_dir, backlog.sink_dir)
        finally:
            con.close()
    n_live = sum(len(f) for f in meas_files)
    n_primer = len(warm_live_files[-1])
    n_back = sum(len(f) for f in backlog_files)
    sink_faults = sum(
        p.sink.stats["failover"] + p.sink.stats["dropped"] for p in (live, backlog)
    )
    count_faults = abs(live.sink.stats.get("rows_written", 0) - n_live - n_primer) + abs(
        backlog.sink.stats.get("rows_written", 0) - n_back
    )
    failed = bad_live + bad_back + sink_faults + count_faults
    commit_at = {
        b["batch"]: batch_commit_time(b["timestamp"], b["duration_ms"].get("triggerExecution", 0.0))
        for b in prog
    }
    lat = event_latencies([r[0] for r in live_rows], [r[1] for r in live_rows], commit_at)
    late_max = max(gen.late) if gen.late else 0.0
    # latency = wait for the trigger (a schedule constant, about LEAD_S) +
    # micro-batch time (the program's share), printed apart. Only the
    # program's share scales with host speed.
    batch_s = [b["duration_ms"]["triggerExecution"] / 1000.0 for b in prog]
    start_at = {b["batch"]: parse_progress_timestamp(b["timestamp"]) for b in prog}
    wait_s = [start_at[r[1]] - r[0] for r in live_rows]
    live_factor = ctx.host.factor(live_probes, drain_probes)
    drain_factor = ctx.host.factor(drain_probes)
    lat_ref = [host_scaled(t, w, live_factor) for t, w in zip(lat, wait_s)]
    pct, tail, beyond = tail_percentile(lat_ref)
    notes = [
        f"events: live {n_live} at {RATE}/s in {len(prog)} micro-batches, backlog {n_back} "
        f"in {len(drained)}; latency samples {len(lat_ref)}",
        f"latency_tail_s is p{pct:.2f} ({beyond} samples beyond it)",
        f"micro-batch time p50 {median(batch_s):.3f} s, max {max(batch_s):.3f} s; "
        f"trigger wait p50 {median(wait_s):.3f} s (schedule constant, LEAD_S = {LEAD_S} s)",
        f"backlog drain {drain_s:.3f} s; failed or wrong {failed} "
        f"(rows {bad_live + bad_back}, sink failover/dropped {sink_faults}, "
        f"row-count {count_faults}); generator late max {late_max:.3f} s",
    ]
    valid = late_max <= LATE_LIMIT_S
    if not valid:
        notes.append(f"generator ran {late_max:.3f} s late (> {LATE_LIMIT_S} s): run void")
    result = {
        "attempted": n_live + n_back,
        "failed": failed,
        "valid": valid,
        "notes": notes,
        "e2e": {
            "setup_s": setup_s * ctx.host.factor(),
            "latency_p50_s": median(lat_ref),
            "latency_tail_s": tail,
            "throughput_per_s": capacity / drain_factor,
            "peak_rss_mb": peak_mb,
        },
        "raw": {
            "setup_s": setup_s,
            "latency_p50_s": median(lat),
            "latency_tail_s": tail_percentile(lat)[1],
            "throughput_per_s": capacity,
        },
        "extra": {
            "events_per_s": (capacity / drain_factor, "1/s"),
            "drain_events_per_s": (n_back / drain_s, "1/s"),
            "failed_ratio": (failed / (n_live + n_back), "ratio"),
            "latency_tail_pct": (pct, "%"),
            "batch_s_p50": (median(batch_s), "s"),
            "trigger_wait_s_p50": (median(wait_s), "s"),
        },
    }
    if ctx.trace:
        result["layers"] = layer_metrics(ctx, engine, prog, live, backlog, live_run, drain_s, gen)
    spark.streams.removeListener(listener)
    return result


def layer_metrics(ctx, engine, prog, live, backlog, live_run, drain_s, gen) -> dict:
    def p50(key):
        vals = [b["duration_ms"].get(key, 0.0) for b in prog]
        return median(vals) if vals else 0.0

    trig = [b["duration_ms"].get("triggerExecution", 0.0) for b in prog] or [0.0]
    jobs = JobCounter(engine.spark.sparkContext).counts(live_run)
    nb = max(1, len(prog))
    enrich = read_backend_log(os.path.join(ctx.run.path, "enrich_log", "measured"))
    writes = live.timed.seconds + backlog.timed.seconds
    stats = [live.sink.stats, backlog.sink.stats]
    return {
        "streaming.batches": len(prog),
        "streaming.trigger_ms_p50": median(trig),
        "streaming.trigger_ms_tail": tail_percentile(trig)[1],
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.jobs_per_batch": jobs["jobs"] / nb,
        "streaming.tasks_per_batch": jobs["tasks"] / nb,
        "streaming.backlog_drain_s": drain_s,
        "sources.latest_offset_ms_p50": p50("latestOffset"),
        "sources.get_batch_ms_p50": p50("getBatch"),
        "sources.rows_per_batch_p50": median([b["rows"] for b in prog]) if prog else 0.0,
        "sink.write_s_p50": median(writes) if writes else 0.0,
        "sink.rows_written": sum(s.get("rows_written", 0) for s in stats),
        "sink.failover": sum(s["failover"] for s in stats),
        "sink.dropped": sum(s["dropped"] for s in stats),
        "sink.empty": sum(s["empty"] for s in stats),
        "enrich.calls": enrich["calls"],
        "enrich.texts": enrich["texts"],
        "enrich.backend_s": enrich["seconds"],
        "enrich.texts_per_call": enrich["texts"] / max(1, enrich["calls"]),
        "enrich.fill_ratio": enrich["failed_texts"] / max(1, enrich["texts"]),
        "gen.late_max_s": max(gen.late) if gen.late else 0.0,
        "gen.events": sum(len(f) for f in gen.files),
    }
