"""Counting wrappers the traced run passes into the engine in place of the
plain objects: a sentiment backend (runs inside Spark's Python workers,
so it appends its counts to a file the driver reads afterwards) and a
timed batch writer (runs on the driver)."""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Sequence


class CountingBackend:
    """Delegates to the stub sentiment backend and appends one
    ``texts<TAB>seconds<TAB>ok`` line per call to ``<log_dir>/<pid>.tsv``.
    Picklable by reference, so workers import it from this module."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir

    def __call__(self, texts: Sequence[str]) -> list[str]:
        from projet_pipeline_bigdata_org_spark.ml.enrich import stub_backend

        t0 = time.perf_counter()
        ok = 0
        try:
            labels = stub_backend(texts)
            ok = 1
            return labels
        finally:
            with open(os.path.join(self.log_dir, f"{os.getpid()}.tsv"), "a") as fh:
                fh.write(f"{len(texts)}\t{time.perf_counter() - t0:.9f}\t{ok}\n")


def read_backend_log(log_dir: str) -> dict[str, float]:
    calls = texts = failed_texts = 0
    seconds = 0.0
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                n, s, ok = line.split("\t")
                calls += 1
                texts += int(n)
                seconds += float(s)
                failed_texts += 0 if int(ok) else int(n)
    return {"calls": calls, "texts": texts, "seconds": seconds, "failed_texts": failed_texts}


class TimedWriter:
    """Wraps a foreachBatch writer and records each write's duration."""

    def __init__(self, inner: Callable):
        self.inner = inner
        self.seconds: list[float] = []

    def __call__(self, df, epoch_id: int) -> None:
        t0 = time.perf_counter()
        try:
            self.inner(df, epoch_id)
        finally:
            self.seconds.append(time.perf_counter() - t0)
