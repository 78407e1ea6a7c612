"""Batched enrichment UDF harness (reference U1: the sentiment pandas_udf
that POSTs Arrow batches to a FastAPI DistilRoBERTa service —
spark/preprocessor.py:43-56 infer, spark/model_training.py:95-137 train).

The operator is kept: an Arrow-vectorized ``pandas_udf`` that calls a
pluggable *backend* in mini-batches with a neutral-fill fallback on any
error. Backends:

- ``stub_backend``     — deterministic (len(text) % 3 → label); used by tests
                         and the oracle gate (SQL-expressible, no network)
- ``make_http_backend``— the reference's HTTP POST contract
                         ``{"texts": [...]} -> {"labels": [...]}``; never
                         touched by the oracle path

At 100 TB the pattern is scale-safe: Arrow batches stream through executor
Python workers; no driver collect; per-chunk failure isolation means one bad
batch degrades to neutral instead of failing the job.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

LABELS = ("neutral", "positive", "negative")
NEUTRAL_FILL = "neutral"
DEFAULT_BATCH_SIZE = 50  # reference spark/model_training.py:96

Backend = Callable[[Sequence[str]], list[str]]


def stub_backend(texts: Sequence[str]) -> list[str]:
    """Deterministic sentiment stub: label index = len(text) % 3, with a
    NULL text counted as empty (so labelled ``neutral``).

    SQL twin (oracle):
        CASE (LENGTH(COALESCE(text, '')) % 3) WHEN 0 THEN 'neutral'
                                              WHEN 1 THEN 'positive'
                                              ELSE 'negative' END
    """
    return [LABELS[len(t or "") % 3] for t in texts]


SQL_STUB_SENTIMENT = (
    "CASE (LENGTH(COALESCE({c}, '')) % 3) WHEN 0 THEN 'neutral' "
    "WHEN 1 THEN 'positive' ELSE 'negative' END"
)


def make_http_backend(url: str, timeout: float = 5.0) -> Backend:
    """The reference's HTTP enrichment contract (distilbert_fin/app.py:18-25).
    Import-guarded; failures surface to the UDF's neutral-fill."""

    def backend(texts: Sequence[str]) -> list[str]:
        import requests  # local import: not needed on the oracle/test path

        resp = requests.post(url, json={"texts": list(texts)}, timeout=timeout)
        resp.raise_for_status()
        return list(resp.json()["labels"])

    return backend


def make_sentiment_udf(backend: Backend = stub_backend):
    """Arrow-vectorized sentiment UDF with DEFAULT_BATCH_SIZE-text chunking
    and per-chunk neutral-fill fallback (reference semantics:
    preprocessor.py:53-56)."""

    @F.pandas_udf(T.StringType())
    def sentiment(s: pd.Series) -> pd.Series:
        vals = s.tolist()
        out: list[str] = []
        for i in range(0, len(vals), DEFAULT_BATCH_SIZE):
            chunk = vals[i : i + DEFAULT_BATCH_SIZE]
            try:
                labels = backend(chunk)
                if len(labels) != len(chunk):
                    raise ValueError("backend returned wrong-length labels")
            except Exception:
                labels = [NEUTRAL_FILL] * len(chunk)
            out.extend(labels)
        return pd.Series(out, index=s.index)

    return sentiment
