"""Benchmark entry point.

    python3 perfbench/run.py --workload reddit_ingest --seed 1 --seconds 15 --trace 0

Runs one workload against the engine's public entry points on
``local[<cpus>]`` with inputs generated from ``--seed``, checks every
output against an independent computation, prints each metric by name
with its unit, and prints as its last line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records spans
around each call into a layer, writes them to
``.perfbench_out/trace-<workload>-seed<seed>.json`` and reports the
per-layer metrics. The exit code is 0 only for a correct, valid run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.harness import RssSampler, RunDir, Tracer  # noqa: E402
from perfbench.hostspeed import REF_S, HostProbe  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_tail": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "streaming.backlog_drain_s": "s",
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "sources.rows_per_batch_p50": "count",
    "sink.write_s_p50": "s",
    "sink.rows_written": "count",
    "sink.failover": "count",
    "sink.dropped": "count",
    "sink.empty": "count",
    "enrich.calls": "count",
    "enrich.texts": "count",
    "enrich.backend_s": "s",
    "enrich.texts_per_call": "count",
    "enrich.fill_ratio": "ratio",
    "query.build_s_p50": "s",
    "query.exec_s_p50": "s",
    "query.jobs": "count",
    "query.stages": "count",
    "query.tasks": "count",
    "query.failed_tasks": "count",
    "gen.late_max_s": "s",
    "gen.events": "count",
}


def _query_layer_units() -> dict[str, str]:
    from perfbench.analyst import MIX

    return {f"{kind}.{name}.exec_s": "s" for name, kind in MIX.items()}


def layer_units() -> dict[str, str]:
    return {**LAYER_UNITS, **_query_layer_units()}


@dataclass
class Context:
    root: str
    run: RunDir
    seed: int
    seconds: int
    trace: bool
    tracer: Tracer
    engine: object = None
    host: HostProbe = field(default_factory=HostProbe, repr=False)
    rss: RssSampler | None = field(default=None, repr=False)

    def rss_start(self, pid: int) -> None:
        self.rss = RssSampler(pid)
        self.rss.start()

    def rss_stop(self) -> float:
        self.rss.stop()
        return self.rss.peak_mb


def workloads() -> dict:
    from perfbench import analyst, reddit_ingest

    return {"reddit_ingest": reddit_ingest.run, "analyst": analyst.run}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["reddit_ingest", "analyst"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    from perfbench.engine import PACKAGE, Engine, configure_env

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    run = RunDir(ROOT, f"{args.workload}-{args.seed}")
    configure_env(ROOT, run)
    tracer = Tracer(bool(args.trace))
    ctx = Context(ROOT, run, args.seed, args.seconds, bool(args.trace), tracer)
    ctx.engine = Engine(run, tracer)
    try:
        result = workloads()[args.workload](ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if ctx.rss is not None:
            ctx.rss.stop()
        ctx.engine.stop()
        run.remove()

    correct = result["failed"] == 0 and result["valid"]
    result["notes"].append(
        f"host probe median {1000 * REF_S / ctx.host.factor():.3f} ms over {len(ctx.host.samples)} "
        f"probes (reference {1000 * REF_S:.3f} ms): host-dependent times are scaled by the "
        f"reference over the probes of their phase, rates divided; raw_* are unscaled"
    )
    result["extra"].update({f"raw_{k}": (v, E2E_UNITS[k]) for k, v in result["raw"].items()})
    if ctx.rss is not None:
        result["notes"].append(
            f"peak RSS {ctx.rss.peak_mb:.0f} MB: driver JVM {ctx.rss.peak_root_kb / 1024:.0f} MB, "
            f"at most {ctx.rss.peak_workers} Python worker processes"
        )
    for line in result["notes"]:
        print(f"# {line}")
    if args.trace:
        layers = {k: 0.0 for k in layer_units()}
        layers.update(result["layers"])
        layers["session.start_s"] = ctx.engine.session_s
        layers["registry.load_s"] = ctx.engine.registry_s
        units = layer_units()
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
        tracer.write(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json"))
        for k, v in result["e2e"].items():  # traced end-to-end, for the overhead
            print(f"# traced {k} = {v:.6g} {E2E_UNITS[k]}")
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in result["e2e"].items()}
    shown = {k: (v, E2E_UNITS[k]) for k, v in result["e2e"].items()}
    for k, (v, unit) in {**shown, **result["extra"]}.items():
        print(f"{args.workload} {k} = {v:.6g} {unit}")
    if not all(math.isfinite(m["value"]) for m in metrics.values()):
        correct = False
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
