"""Host speed reference.

The benchmark runs on shared virtual machines whose speed drifts by up to
2x within minutes while nothing else runs inside the machine: on one
4-vCPU host, identical reddit_ingest runs a minute apart had median
micro-batch times of 0.52 s and 0.95 s, while the spread of the batches
inside each run stayed near 10%. No statistic taken inside one run can
remove such a drift, so each run also times a fixed reference kernel,
only while the engine is idle, and reports its time metrics scaled to
the reference speed: ``raw * REF_S / probe``. The raw figures are printed
beside them.

The kernel mixes what the engine's own work is made of: interpreted Python
(the driver and the UDF workers), a streaming pass over memory and random
reads that miss the caches (the JVM's scans and hash tables). A probe is
the geometric mean of the three kernels' median times.
"""

from __future__ import annotations

import math
import time

import numpy as np

from perfbench.harness import median

LOOP_N = 100_000
STREAM_N = 2_000_000
GATHER_N = 500_000
REPS = 8
#: a probe's time at the reference speed (a quiet period of a 4-vCPU
#: 2 GHz Xeon host), so scaled timings read close to raw ones there
REF_S = 0.005


def _loop(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


class HostProbe:
    """Times the reference kernel on the calling thread; ``factor`` turns a
    run's timings into reference-speed timings."""

    def __init__(self):
        rng = np.random.default_rng(0)
        self.buf = np.ones(STREAM_N)
        self.idx = rng.integers(0, STREAM_N, GATHER_N)
        self.samples: list[float] = []

    def probe(self) -> float:
        kernels = (
            lambda: _loop(LOOP_N),
            lambda: (self.buf * 1.0001).sum(),
            lambda: self.buf[self.idx].sum(),
        )
        times: list[list[float]] = [[] for _ in kernels]
        for _ in range(REPS):
            for k, fn in enumerate(kernels):
                t0 = time.perf_counter()
                fn()
                times[k].append(time.perf_counter() - t0)
        value = math.exp(sum(math.log(median(t)) for t in times) / len(times))
        self.samples.append(value)
        return value

    def factor(self, first: int = 0, last: int | None = None) -> float:
        """``REF_S`` over the median of probes ``first:last`` (default: every
        probe of the run)."""
        return REF_S / median(self.samples[first:last])
