"""Seeded input generation for the benchmark.

Every table the engine's catalog knows (``catalog.TABLES``) is written as
one single-row-group parquet file with the same schema and value domains
as the driver-provided testdata, so the registered queries and their
DuckDB oracles run unchanged on it. The same seed always yields the same
bytes; the engine only ever sees the generated files.

Reddit-shaped records for the streaming workload reuse the document
texts (plus URL / punctuation / case decorations that exercise the
cleaning chain), draw authors from a Zipf law, and replay a few earlier
ids, as a real comment stream does.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
DOC_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
SUBREDDITS = (
    "CryptoCurrency", "Bitcoin", "ethereum", "wallstreetbets", "stocks",
    "investing", "CryptoMarkets", "btc", "solana", "dogecoin",
)

#: rows per table at scale factor 1.0 (the testdata's sf0.1 row counts x10)
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}

_EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals (cents drawn as integers)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    d = _EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Bag-of-words documents (10-100 words) with 5% near-duplicates (an
    earlier text plus ``dup``) and a few exact copies, like the testdata
    corpus."""
    words = np.array(DOC_WORDS)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return texts


def write_tables(out_dir: str, sf: float, seed: int, n_docs: int, n_vecs: int) -> dict[str, int]:
    """Write every catalog table under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(1, int(v * sf)) for k, v in BASE_ROWS.items()}
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, 0, 2405, no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, 1, 2500, nl),
    })
    ne = n["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(
            np.sort(ts0 + rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]")),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng, 0.0, 560.0, ne),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    texts = document_texts(rng, n_docs)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    for name, tbl in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), tbl)
    return {name: tbl.num_rows for name, tbl in tables.items()}


def _decorate(rng: np.random.Generator, text: str) -> str:
    r = rng.random()
    if r < 0.2:
        return f"{text} https://reddit.com/r/x/{int(rng.integers(0, 10**6))}"
    if r < 0.3:
        return f"{text.upper()}!!! www.example.com/p?q={int(rng.integers(0, 999))}"
    if r < 0.45:
        return f"  {text},  #moon   @{int(rng.integers(0, 99))} :) "
    return text


def reddit_records(seed: int, n: int, texts: list[str]) -> list[dict]:
    """``n`` Reddit-shaped records without timestamps (the caller stamps
    each with its due time). About 1% replay an earlier record's id and
    content, as a producer retry would."""
    rng = np.random.default_rng(seed + 1)
    authors = rng.zipf(1.3, n)
    out: list[dict] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.01:
            out.append(dict(out[int(rng.integers(0, i))]))
            continue
        out.append({
            "id": f"t1_{seed % 1000:03d}{i:07d}",
            "author": "None" if authors[i] > 5000 else f"u{int(authors[i])}",
            "subreddit": SUBREDDITS[int(rng.integers(0, len(SUBREDDITS)))],
            "text": _decorate(rng, texts[int(rng.integers(0, len(texts)))]),
            "score": int(np.clip(rng.zipf(1.6) - 20, -50, 500)),
        })
    return out
