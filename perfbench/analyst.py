"""``analyst``: read-only query work, closed loop, one client.

Each pass runs a fixed mix of registered queries in a seed-shuffled order
and collects each result with ``toArrow()``: TPC-H queries (scans,
shuffles, AQE, broadcast joins), vector-search queries over the
embeddings (``operators.similarity``), and text-quality / dedup queries
over the documents (``operators.textops`` / ``operators.dedup``). The
next query starts only when the previous one has returned. A run measures
a fixed number of whole passes, set by ``--seconds`` at ``PASS_REF_S`` per
pass, so every run measures the same mix and the same number of samples
whatever the host's speed (the tail percentile depends on the sample
count: with passes counted by wall time, a slow host measured p50-p60 and
a fast one p80, from the same queries). The host speed is
probed before each pass (``perfbench.hostspeed``), and the timings are
reported scaled to the reference speed.

Every result is compared with the query's oracle SQL run by DuckDB on the
same generated files, canonicalised by the repository's parity helper.
The expected results are computed once per run, outside every timed region.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

from perfbench import datagen
from perfbench.harness import JobCounter, median, tail_percentile

#: generated table size: scale factor (lineitem 60k rows) and corpus sizes
SF = 0.01
N_DOCS = 500
N_VECS = 1000

#: a pass takes 3-5.5 s on 4 cores once warm; its queries keep getting
#: faster for several passes after a cold start while the JVM compiles
#: their code paths (with two warm-up passes, the measured passes still fell
#: 10-25% over a 15 s run), so four passes run before timing starts. The
#: mix has an odd number of queries: with an even number and each query in
#: its own speed band, the median latency falls in the gap between the two
#: middle queries and swings with their extremes.
TPCH = ("agg_pricing_summary", "sql_surface_q3")
VECTOR = ("embed_cosine_topk",)
TEXT = ("lex_gopher_rules", "dedup_exact_hash")
WARM_PASSES = 4
MIN_PASSES = 2
#: a pass's time at the reference host speed (``perfbench.hostspeed``)
PASS_REF_S = 2.5
MIX = {**{q: "tpch" for q in TPCH}, **{q: "vector" for q in VECTOR}, **{q: "text" for q in TEXT}}


def load_parity(root: str):
    """The repository's oracle comparison helper (tests/parity.py)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(root, "tests", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run(ctx) -> dict:
    data_dir = ctx.run.sub("data")
    datagen.write_tables(data_dir, SF, ctx.seed, N_DOCS, N_VECS)
    parity = load_parity(ctx.root)
    engine, tracer = ctx.engine, ctx.tracer

    ctx.host.probe()
    t_setup = time.perf_counter()
    engine.start("perfbench-analyst")
    specs = engine.resolve(list(MIX))
    spark = engine.spark
    sc = spark.sparkContext
    jobs = JobCounter(sc) if ctx.trace else None

    # expected results: oracle SQL on DuckDB over the same files (untimed)
    t_oracle = time.perf_counter()
    con = parity.duckdb_connect(data_dir)
    try:
        expected = {
            name: parity._table_to_rows(con.execute(oracle).fetch_arrow_table())
            for name, (_, oracle) in specs.items()
        }
    finally:
        con.close()
    oracle_s = time.perf_counter() - t_oracle

    samples: list[dict] = []
    failures: list[str] = []

    def one(name: str, phase: str, op: int) -> None:
        fn = specs[name][0]
        group = f"perfbench-{phase}-{op}"
        if jobs is not None:
            sc.setJobGroup(group, name)
        err_msg = None
        t0 = time.perf_counter()
        try:
            with tracer.span("plans.build", trace_id=group, query=name):
                df = fn(spark, data_dir)
            t1 = time.perf_counter()
            with tracer.span("query.exec", trace_id=group, query=name):
                tbl = df.toArrow()
            t2 = time.perf_counter()
            ok = parity._table_to_rows(tbl) == expected[name]
        except Exception as err:  # a failing query is counted, the run goes on
            t1 = t2 = time.perf_counter()
            ok = False
            err_msg = f"{name}: {type(err).__name__}: {str(err)[:200]}"
        if not ok:
            failures.append(err_msg or f"{name}: result differs from the oracle")
        rec = {"name": name, "phase": phase, "build_s": t1 - t0, "exec_s": t2 - t1, "ok": ok}
        if jobs is not None:
            rec.update(jobs.counts(group))
        samples.append(rec)

    order = list(MIX)
    with tracer.span("warmup"):
        for i in range(WARM_PASSES * len(order)):
            one(order[i % len(order)], "warm", i)
    setup_s = time.perf_counter() - t_setup - oracle_s

    ctx.rss_start(engine.jvm_pid)
    n_passes = 0
    want = max(MIN_PASSES, round(ctx.seconds / PASS_REF_S))
    rng = random.Random(ctx.seed)
    op = 0
    while n_passes < want:
        rng.shuffle(order)
        ctx.host.probe()
        with tracer.span("pass", n=n_passes):
            for name in order:
                one(name, "run", op)
                op += 1
        n_passes += 1
    ctx.host.probe()
    peak_mb = ctx.rss_stop()

    meas = [s for s in samples if s["phase"] == "run"]
    warm_bad = sum(1 for s in samples if s["phase"] == "warm" and not s["ok"])
    lat = [s["build_s"] + s["exec_s"] for s in meas]
    # a pass's time is the sum of its query latencies: the result checks
    # and job accounting between queries are the benchmark's, not the engine's
    passes = [sum(lat[i : i + len(order)]) for i in range(0, len(lat), len(order))]
    failed = sum(1 for s in meas if not s["ok"]) + warm_bad
    pct, tail, beyond = tail_percentile(lat)
    factor = ctx.host.factor()
    notes = [
        f"{len(passes)} passes of {len(order)} queries; median pass {median(passes):.3f} s raw",
        f"latency_tail_s is p{pct:.2f} ({beyond} samples beyond it)",
        f"failed or wrong {failed} of {len(meas)} measured (+{warm_bad} in warm-up)",
        *failures[:10],
    ]
    result = {
        "attempted": len(meas),
        "failed": failed,
        "valid": True,
        "notes": notes,
        "e2e": {
            "setup_s": setup_s * factor,
            "latency_p50_s": median(lat) * factor,
            "latency_tail_s": tail * factor,
            # queries/s of the median pass
            "throughput_per_s": len(order) / median(passes) / factor,
            "peak_rss_mb": peak_mb,
        },
        "raw": {
            "setup_s": setup_s,
            "latency_p50_s": median(lat),
            "latency_tail_s": tail,
            "throughput_per_s": len(order) / median(passes),
        },
        "extra": {
            "suite_s": (median(passes) * factor, "s"),
            "failed_ratio": (failed / len(meas), "ratio"),
            "latency_tail_pct": (pct, "%"),
        },
    }
    if ctx.trace:
        result["layers"] = layer_metrics(meas, n_passes)
    return result


def layer_metrics(meas: list[dict], n_passes: int) -> dict:
    out = {
        "query.build_s_p50": median([s["build_s"] for s in meas]),
        "query.exec_s_p50": median([s["exec_s"] for s in meas]),
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"query.{key}"] = sum(s[key] for s in meas) / n_passes
    for name, kind in MIX.items():
        out[f"{kind}.{name}.exec_s"] = median(
            [s["build_s"] + s["exec_s"] for s in meas if s["name"] == name]
        )
    return out
