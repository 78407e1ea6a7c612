"""Unit tests for the benchmark's statistics and bookkeeping (no JVM).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import datagen  # noqa: E402
from perfbench.harness import (  # noqa: E402
    batch_commit_time,
    batch_rates,
    event_latencies,
    host_scaled,
    median,
    parse_progress_timestamp,
    tail_percentile,
)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    vals = [float(i) for i in range(1, 31)]  # 30 samples
    pct, value, beyond = tail_percentile(vals)
    assert beyond == 10
    assert pct == pytest.approx(100.0 * 20 / 30)
    assert value == 20.0
    assert sum(v > value for v in vals) == beyond


def test_tail_is_capped_at_p99():
    vals = [float(i) for i in range(1, 10_001)]
    pct, value, beyond = tail_percentile(vals)
    assert pct == 99.0
    assert value == 9900.0
    assert beyond == 100


def test_tail_falls_back_to_median_for_small_samples():
    vals = [5.0, 1.0, 3.0, 2.0, 4.0, 6.0]
    pct, value, beyond = tail_percentile(vals)
    assert pct == 50.0
    assert value == median(vals) == 3.5
    assert beyond == 3


def test_tail_of_one_sample_and_of_none():
    assert tail_percentile([2.5]) == (50.0, 2.5, 0)
    with pytest.raises(ValueError):
        tail_percentile([])


def test_tail_ignores_input_order():
    vals = [float((i * 37) % 101) for i in range(101)]
    assert tail_percentile(vals) == tail_percentile(sorted(vals))


def test_progress_timestamp_is_utc_epoch_seconds():
    assert parse_progress_timestamp("1970-01-01T00:00:01.500Z") == pytest.approx(1.5)
    assert parse_progress_timestamp("2026-10-17T00:00:00.000Z") == pytest.approx(1792195200.0)


def test_commit_time_adds_trigger_execution():
    assert batch_commit_time("1970-01-01T00:00:10.250Z", 1750.0) == pytest.approx(12.0)


def test_batch_rate_runs_from_trigger_start_to_the_next():
    starts = [10.0, 11.0, 13.0, 13.5]
    assert batch_rates(list(reversed(starts)), 1000) == pytest.approx([1000.0, 500.0, 2000.0])
    assert batch_rates([5.0], 1000) == []


def test_latency_runs_from_due_time_to_batch_commit():
    commit = {0: 12.0, 1: 13.5}
    due = [10.0, 11.75, 12.5, 13.0]
    lat = event_latencies(due, [0, 0, 1, 1], commit)
    assert lat == pytest.approx([2.0, 0.25, 1.0, 0.5])


def test_latency_counts_a_stall_against_later_events():
    # events due every 0.5 s; one slow batch commits everything late
    due = [100.0 + 0.5 * i for i in range(4)]
    lat = event_latencies(due, [7, 7, 7, 7], {7: 104.0})
    assert lat == pytest.approx([4.0, 3.5, 3.0, 2.5])


def test_host_scaling_keeps_the_schedule_wait():
    # 0.25 s waiting for the trigger, 0.75 s of micro-batch on a host at
    # half the reference speed
    assert host_scaled(1.0, 0.25, 0.5) == pytest.approx(0.25 + 0.375)
    assert host_scaled(1.0, 0.25, 1.0) == pytest.approx(1.0)


def test_latency_rejects_uncommitted_batches_and_ragged_input():
    with pytest.raises(KeyError):
        event_latencies([1.0], [3], {2: 5.0})
    with pytest.raises(ValueError):
        event_latencies([1.0, 2.0], [2], {2: 5.0})


def test_generated_tables_depend_only_on_the_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.write_tables(str(a), 0.0005, 7, 50, 20)
    datagen.write_tables(str(b), 0.0005, 7, 50, 20)
    datagen.write_tables(str(c), 0.0005, 8, 50, 20)
    same = [(a / f.name).read_bytes() == f.read_bytes() for f in b.iterdir()]
    assert same and all(same)
    assert (a / "lineitem.parquet").read_bytes() != (c / "lineitem.parquet").read_bytes()


def test_reddit_records_are_seeded_and_replay_ids():
    texts = ["alpha beta", "gamma delta"]
    one = datagen.reddit_records(3, 2000, texts)
    assert one == datagen.reddit_records(3, 2000, texts)
    ids = [r["id"] for r in one]
    assert len(set(ids)) < len(ids)  # a few replayed ids


def test_benchmark_json_matches_the_reported_metrics():
    from perfbench.run import E2E_UNITS, layer_units

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layer_units()
    assert {w["name"] for w in spec["workloads"]} == {"reddit_ingest", "analyst"}


def test_registry_names_resolve_across_the_rotation_prefix():
    pytest.importorskip("pyspark")
    from perfbench.analyst import MIX
    from perfbench.engine import Engine
    from perfbench.harness import Tracer
    from projet_pipeline_bigdata_org_spark import plans

    plans.load_all()
    engine = Engine(None, Tracer(False))
    specs = engine.resolve(list(MIX))
    assert set(specs) == set(MIX)
    assert all(callable(fn) and oracle for fn, oracle in specs.values())
    with pytest.raises(KeyError, match="not in the registry"):
        engine.resolve(["no_such_query"])


def test_a_file_is_renamed_in_at_its_due_time(tmp_path):
    from perfbench.reddit_ingest import render, write_file

    in_dir, staging = tmp_path / "in", tmp_path / "staging"
    in_dir.mkdir()
    staging.mkdir()
    lines = render([{"id": "a", "score": 1}, {"id": "b", "score": 2}])
    at = time.time() + 0.2
    write_file(str(in_dir / "f.json"), str(staging), lines, due=at, at=at)
    assert time.time() >= at
    rows = [json.loads(ln) for ln in (in_dir / "f.json").read_text().splitlines()]
    assert [r["id"] for r in rows] == ["a", "b"]
    assert all(r["timestamp"] == pytest.approx(at, abs=1e-6) for r in rows)
    assert not list(staging.iterdir())
