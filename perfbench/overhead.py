"""Tracing overhead: run one workload untraced and traced on the same seed
and print each end-to-end metric of both runs and their difference.

    python3 perfbench/overhead.py --workload reddit_ingest --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import re
import subprocess
import sys
from pathlib import Path

RUN = str(Path(__file__).resolve().parent / "run.py")
TRACED = re.compile(r"^# traced (\S+) = (\S+) ")


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True, timeout=600,
    ).stdout.splitlines()
    traced = {m[1]: float(m[2]) for m in map(TRACED.match, out) if m}
    return json.loads(out[-1]), traced


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    plain, _ = run(args.workload, args.seed, args.seconds, 0)
    _, traced = run(args.workload, args.seed, args.seconds, 1)
    for name, m in plain["metrics"].items():
        t = traced[name]
        diff = t - m["value"]
        print(f"{name}: untraced {m['value']:.6g} traced {t:.6g} {m['unit']} "
              f"overhead {diff:+.6g} ({diff / m['value']:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
