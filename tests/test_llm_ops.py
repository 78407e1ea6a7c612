"""Invariant tests for operators without a SQL oracle: MinHash-LSH soundness
+ recall, SimHash determinism, ANN-LSH recall vs brute force, enrichment UDF
fallback semantics."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark import plans

plans.load_all()
_Q = plans.registry.all_specs()


@pytest.fixture(scope="module")
def exact_jaccard_pairs(spark, sf_dir):
    df = _Q["dedup_ngram_jaccard"].fn(spark, sf_dir)
    return {(r.a_id, r.b_id): r.jaccard for r in df.collect()}


def test_minhash_pairs_sound_and_recall(spark, sf_dir, exact_jaccard_pairs):
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in _Q["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    # soundness: every reported pair is a true >=threshold pair (same verify
    # formula), so it must appear in the exact inverted-index result
    assert set(got) <= set(exact_jaccard_pairs)
    for k, v in got.items():
        assert abs(v - exact_jaccard_pairs[k]) < 1e-12
    # recall: banded MinHash should recover most true pairs
    if exact_jaccard_pairs:
        recall = len(got) / len(exact_jaccard_pairs)
        assert recall >= 0.5, f"minhash recall too low: {recall:.2f}"


def test_minhash_certified_matches_production_pairs(
    spark, sf_dir, exact_jaccard_pairs
):
    """The certified (sha-hash) and production (xxhash64) MinHash variants
    share the signature/banding/verify CODE and differ only in hash
    source; both are sound (subset of exact Jaccard pairs, same values),
    and at test scale their verified pair sets agree — a drift in the
    shared machinery would desynchronize them before it reached the
    driver gate."""
    cert = {
        (r.a_id, r.b_id): r.jaccard
        for r in _Q["dedup_minhash_certified"].fn(spark, sf_dir).collect()
    }
    prod = {
        (r.a_id, r.b_id): r.jaccard
        for r in _Q["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    assert set(cert) <= set(exact_jaccard_pairs)
    for k, v in cert.items():
        assert abs(v - exact_jaccard_pairs[k]) < 1e-12
    assert set(cert) == set(prod)


def test_simhash_certified_sound_and_aligned(spark, sf_dir):
    """Certified SimHash invariants: ordered pairs, Hamming within the
    published bound, and (since both variants share simhash_pairs) the
    certified pair set stays deterministic across invocations."""
    df = _Q["dedup_simhash_certified"].fn(spark, sf_dir)
    r1 = sorted((r.a_id, r.b_id, r.hamming) for r in df.collect())
    r2 = sorted((r.a_id, r.b_id, r.hamming) for r in df.collect())
    assert r1 == r2
    for a, b, h in r1:
        assert a < b
        assert 0 <= h <= 12


def test_semdedup_certified_drop_semantics(spark):
    """The integer epsilon-ball test (den²·dot² >= num²·|a|²·|b|² with
    dot > 0) must reproduce float-cosine thresholding on crafted
    vectors: an exact duplicate drops against its lower-id twin, an
    anti-parallel copy (cos = -1) survives the dot>0 guard, and
    orthogonal vectors never pair."""
    from unittest import mock

    import numpy as np

    from projet_pipeline_bigdata_org_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 64)).astype("float32")
    base[10] = base[2]        # exact duplicate -> must drop, keeper 2
    base[11] = -base[2]       # anti-parallel -> cos -1, must be kept
    rows = [(i, [float(x) for x in base[i]], 0) for i in range(20)]
    edf = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with mock.patch.object(sim, "load", lambda _s, _d, _t: edf):
        got = {r.vec_id: r for r in sim.embed_semdedup_certified(
            spark, "ignored").collect()}
    assert len(got) == 20
    assert not got[10].kept and got[10].dup_with == 2
    assert got[2].kept          # keep-first: the lower id survives
    assert got[11].kept         # dot < 0 never drops
    # float replay within the same cells: every certified drop must have
    # a true lower-id same-cell partner with cos >= tau (and vice versa)
    tn, td = sim.SEMC_TAU
    cells = {v: got[v].cell for v in got}
    xq = np.round(base.astype(np.float64) * sim.PW_XS)
    for b in range(20):
        dup = False
        for a in range(b):
            if cells[a] != cells[b]:
                continue
            dot = float(np.dot(xq[a], xq[b]))
            if dot > 0 and td * td * dot * dot >= tn * tn * float(
                np.dot(xq[a], xq[a])
            ) * float(np.dot(xq[b], xq[b])):
                dup = True
        assert got[b].kept == (not dup), b


def test_ivf_certified_recall_vs_bruteforce(spark, sf_dir):
    """The certified IVF's probed search must be sound (its reported L2
    equals the exact integer L2 — verified per pair against a numpy
    replay) and recover a reasonable share of the true top-5 under
    4-of-16 cell probing."""
    import numpy as np

    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        N_QUERIES,
        PW_XS,
        TOPK,
    )

    got = {
        (r.q_id, r.n_id): r.l2s
        for r in _Q["sim_ann_ivf_certified"].fn(spark, sf_dir).collect()
    }
    e = {
        r.vec_id: np.round(np.array(r.embedding, dtype=np.float64) * PW_XS)
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    ids = sorted(e)
    hits = 0
    for q in range(N_QUERIES):
        d = {
            n: int(((e[q] - e[n]) ** 2).sum()) for n in ids if n != q
        }
        true_top = set(sorted(d, key=lambda n: (d[n], n))[:TOPK])
        found = {n for (qq, n) in got if qq == q}
        for n in found:
            assert got[(q, n)] == d[n], (q, n)
        hits += len(found & true_top)
    recall = hits / (N_QUERIES * TOPK)
    assert recall >= 0.4, f"ivf recall too low: {recall:.2f}"


def test_ivfpq_certified_rerank_exact_and_recall(spark, sf_dir):
    """The certified IVF-PQ twin: reported l2 values equal the exact
    integer L2 (re-rank soundness, per pair against a numpy replay), and
    the cells->codes->shortlist cascade recovers a reasonable share of
    the true top-5 (both approximation tiers stacked, so the bound sits
    below the single-tier pins)."""
    import numpy as np

    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        N_QUERIES,
        PW_XS,
        TOPK,
    )

    got = {
        (r.q_id, r.n_id): r.l2
        for r in _Q["sim_ann_ivfpq_certified"].fn(spark, sf_dir).collect()
    }
    e = {
        r.vec_id: np.round(np.array(r.embedding, dtype=np.float64) * PW_XS)
        for r in load(spark, sf_dir, "embeddings").collect()
    }
    ids = sorted(e)
    hits = 0
    for q in range(N_QUERIES):
        d = {n: int(((e[q] - e[n]) ** 2).sum()) for n in ids if n != q}
        true_top = set(sorted(d, key=lambda n: (d[n], n))[:TOPK])
        found = {n for (qq, n) in got if qq == q}
        for n in found:
            assert got[(q, n)] == d[n], (q, n)
        hits += len(found & true_top)
    recall = hits / (N_QUERIES * TOPK)
    assert recall >= 0.3, f"ivfpq recall too low: {recall:.2f}"


def test_unigram_viterbi_matches_bruteforce_dp(spark):
    """The packed-BIGINT Viterbi DP (_uni_viterbi) must choose exactly
    the segmentation a plain-Python lexicographic-(cost, n_pieces, mask)
    brute force chooses, for crafted words under a crafted cost table —
    including a tie the mask field must break deterministically."""
    from itertools import combinations

    from projet_pipeline_bigdata_org_spark.operators.textops import (
        UNI_MAX_PIECE,
        _uni_viterbi,
    )

    costs = {
        "a": 5000, "b": 5000, "c": 5000, "d": 5000,
        "ab": 6000, "bc": 6000, "cd": 6000, "abc": 8000, "abcd": 30000,
    }
    words = ["abcd", "abc", "dcba", "aaaa"]
    wdf = spark.createDataFrame(
        [(w, 1, len(w)) for w in words], "word string, freq long, len int"
    )
    cdf = spark.createDataFrame(
        [(p, c) for p, c in costs.items()], "piece string, c long"
    )
    got = {
        r.word: (r.cost, r.n, r.mask)
        for r in _uni_viterbi(wdf, cdf).collect()
    }

    def brute(word):
        best = None
        L = len(word)
        for nb in range(L):
            for cuts in combinations(range(1, L), nb):
                bounds = list(cuts) + [L]
                prev, tot, ok, mask = 0, 0, True, 0
                for b in bounds:
                    piece = word[prev:b]
                    if len(piece) > UNI_MAX_PIECE or piece not in costs:
                        ok = False
                        break
                    tot += costs[piece]
                    mask |= 1 << (b - 1)
                    prev = b
                if ok:
                    cand = (tot, len(bounds), mask)
                    best = cand if best is None or cand < best else best
        return best

    for w in words:
        assert got[w] == brute(w), (w, got[w], brute(w))


def test_unigram_em_prunes_and_certifies(spark, sf_dir):
    """Structural EM contract on the corpus: every capped [a-z]+ word is
    segmented in both passes; pass-2 vocabulary is exactly the pieces
    pass 1 used (hard-EM pruning); per word the mask's top bit is the
    word end and n equals the mask popcount (the packing invariants the
    oracle's checksum relies on)."""
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        unigram_learned,
    )

    words, fin2, iters = unigram_learned(spark, sf_dir)
    n_words = words.count()
    (_, fin1, vocab1), (_, fin2b, vocab2) = iters
    r1 = fin1.collect()
    r2 = fin2b.collect()
    assert len(r1) == n_words and len(r2) == n_words
    for rows in (r1, r2):
        for r in rows:
            assert r.mask & (1 << (r.len - 1)), r
            assert r.n == bin(r.mask).count("1"), r
    # pruning: vocab2 pieces = exactly the segments pass 1 chose
    used = set()
    for r in r1:
        prev = 0
        for b in range(1, r.len + 1):
            if (r.mask >> (b - 1)) & 1:
                used.add(r.word[prev:b])
                prev = b
    v2 = {r.piece for r in vocab2.collect()}
    assert v2 == used
    assert v2 <= {r.piece for r in vocab1.collect()}


def test_simhash_deterministic_and_bounded(spark, sf_dir):
    df = _Q["dedup_simhash"].fn(spark, sf_dir)
    r1 = sorted((r.a_id, r.b_id, r.hamming) for r in df.collect())
    r2 = sorted((r.a_id, r.b_id, r.hamming) for r in df.collect())
    assert r1 == r2
    for a, b, h in r1:
        assert a < b
        assert 0 <= h <= 12


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        NEAR_DUP_COSINE,
        dot,
        norm,
    )

    e = load(spark, sf_dir, "embeddings")
    lhs = e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    cos = dot(F.col("a_emb"), F.col("embedding")) / (
        norm(F.col("a_emb")) * norm(F.col("embedding"))
    )
    exact = {
        (r.a_id, r.b_id)
        for r in e.join(F.broadcast(lhs), F.col("vec_id") > F.col("a_id"))
        .select("a_id", F.col("vec_id").alias("b_id"), cos.alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_COSINE)
        .collect()
    }
    got = {
        (r.a_id, r.b_id) for r in _Q["sim_ann_lsh"].fn(spark, sf_dir).collect()
    }
    assert got <= exact  # verify step guarantees soundness
    if exact:
        recall = len(got) / len(exact)
        assert recall >= 0.5, f"ann-lsh recall too low: {recall:.2f}"


def test_ann_lsh_certified_sound_and_recall_vs_integer_ball(spark, sf_dir):
    """The certified LSH twin must be SOUND against an independent numpy
    rebuild of the exact integer epsilon ball (every emitted pair is a
    true in-ball pair with the identical integer dot), and its OR-
    amplified banding must recover a fixed, deterministic fraction of
    the ball (the planes are coin-derived constants, so recall cannot
    drift run to run: 26/66 at sf0.001)."""
    import numpy as np
    import pyarrow.parquet as pq

    from projet_pipeline_bigdata_org_spark.operators.similarity import SEMC_TAU

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    xs = np.round(emb * 1_000_000).astype(np.int64)
    dots = xs @ xs.T
    n2 = np.diag(dots)
    tn, td = SEMC_TAU
    # object dtype: the squared products overflow int64 by design — the
    # Spark/DuckDB twins route them through DECIMAL(38,0)/HUGEINT
    ball = (dots > 0) & (
        (td * td) * dots.astype(object) ** 2
        >= (tn * tn) * np.multiply.outer(n2.astype(object), n2.astype(object))
    )
    want = {}
    for i, j in zip(*np.where(np.triu(ball, 1))):
        a, b = int(ids[i]), int(ids[j])
        want[(min(a, b), max(a, b))] = int(dots[i, j])
    got = {
        (r.a_id, r.b_id): r.dot
        for r in _Q["sim_ann_lsh_certified"].fn(spark, sf_dir).collect()
    }
    assert set(got) <= set(want)  # soundness: verify-on-candidates
    for k, v in got.items():
        assert v == want[k], k  # identical exact integer dot
    assert want, "vacuous: corpus has no in-ball pairs"
    recall = len(got) / len(want)
    assert recall >= 0.2, f"certified-lsh recall too low: {recall:.2f}"


def test_maxsim_multivector_matches_numpy(spark, sf_dir):
    """MaxSim late-interaction scores must equal an independent numpy
    rebuild: slice the integer-millionth vectors into MAXSIM_SLICES
    sub-vectors, max-dot each query slice against all document slices,
    sum, take top-k (desc, ties on id)."""
    import numpy as np
    import pyarrow.parquet as pq

    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        MAXSIM_SLICES,
        N_QUERIES,
        TOPK,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    xs = np.round(emb * 1_000_000).astype(np.int64)
    w = xs.shape[1] // MAXSIM_SLICES
    sl = xs.reshape(len(ids), MAXSIM_SLICES, w)
    qm, dm = ids < N_QUERIES, ids >= N_QUERIES
    # (q, s, d, t) dot tensor -> max over t -> sum over s
    dots = np.einsum("qsw,dtw->qsdt", sl[qm], sl[dm])
    scores = dots.max(axis=3).sum(axis=1)
    want = {}
    for qi, q in enumerate(ids[qm]):
        order = sorted(
            zip(-scores[qi], ids[dm]),
        )[:TOPK]
        want[int(q)] = [(int(n), int(-s)) for s, n in order]
    got: dict[int, list] = {}
    rows = sorted(
        _Q["sim_maxsim_multivector"].fn(spark, sf_dir).collect(),
        key=lambda r: (r.q_id, r.rnk),
    )
    for r in rows:
        got.setdefault(r.q_id, []).append((r.n_id, r.maxsim))
    assert got == want


def test_char_entropy_bounds_and_known_values(spark, sf_dir):
    """Entropy invariants: 0 <= H <= lg(n_distinct) (uniform bound) up to
    the milli-lg interpolation slack, single-char docs score exactly 0,
    and natural text sits in the plausible 2-6 bit band."""
    rows = _Q["text_char_entropy"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_chars >= r.n_distinct_chars >= 1
        # uniform distribution maximizes H; allow the documented ~86
        # milli-bit interpolation slack per lg
        assert -200 <= r.entropy_milli <= 1000 * (
            r.n_distinct_chars
        ).bit_length() + 200
        assert r.low_entropy == (r.entropy_milli < 2000)
    med = sorted(r.entropy_milli for r in rows)[len(rows) // 2]
    assert 2000 <= med <= 6000, f"median entropy {med} outside natural band"


def test_url_canonicalizer_every_rule_load_bearing(spark, sf_dir):
    """Each canonicalization rule must fire: the fixture's two Shop
    surface forms (port + www + trailing slash + tracking params + param
    position) collapse CROSS-document; the two /a forms (port+slash vs
    tracking-only query) collapse INTRA-document; the two param orders
    collapse to the sorted form. A dropped rule splits a group."""
    rows = {
        r.canonical_url: r
        for r in _Q["dedup_url_canonical"].fn(spark, sf_dir).collect()
    }
    shop = rows["https://example.com/Shop?id=42"]
    assert (shop.n_occurrences, shop.n_docs, shop.keeper_doc_id) == (2, 2, -12)
    a = rows["http://example.com/a"]
    assert (a.n_occurrences, a.n_docs, a.keeper_doc_id) == (2, 1, -13)
    xy = rows["https://example.com/a?x=2&y=1"]
    assert (xy.n_occurrences, xy.n_docs, xy.keeper_doc_id) == (2, 1, -14)
    # no un-canonicalized surface form leaks through
    assert not any(
        "utm_" in k or "fbclid" in k or "www." in k or ":80" in k or ":443" in k
        for k in rows
    )


def test_incremental_url_frontier_catches_cross_split_surface_forms(spark, sf_dir):
    """The incremental URL check must flag the batch document whose URL
    canonicalizes to a history form through EVERY rule at once (www +
    default port + tracking param), admit the novel URL, and agree with
    the one-shot canonicalizer by construction (shared canonical_urls)."""
    rows = {
        r.canonical_url: r
        for r in _Q["dedup_incremental_url"].fn(spark, sf_dir).collect()
    }
    caught = rows["https://example.org/Page?k=1"]
    assert caught.in_history and caught.n_batch_docs == 1
    novel = rows["http://example.org/other"]
    assert not novel.in_history and novel.n_batch_docs == 1


def test_funnel_report_ledger_invariants(spark, sf_dir):
    """The funnel ledger must account for every document exactly once:
    row 0 carries the corpus size, removals are first-match-attributed
    (sum of removals + final survivors = corpus), remaining is monotone
    nonincreasing, and the near-dup stage agrees with the certified
    MinHash pair set restricted to docs not already dropped upstream."""
    rows = sorted(
        _Q["curate_funnel_report"].fn(spark, sf_dir).collect(),
        key=lambda r: r.stage_ord,
    )
    assert [r.stage for r in rows] == [
        "input", "exact_dup", "normalized_dup", "near_dup",
        "gopher_fail", "low_entropy",
    ]
    from projet_pipeline_bigdata_org_spark.catalog import load

    n_docs = load(spark, sf_dir, "documents").count()
    assert rows[0].n_removed == 0 and rows[0].n_remaining == n_docs
    total_removed = sum(r.n_removed for r in rows)
    assert total_removed + rows[-1].n_remaining == n_docs
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_remaining == prev.n_remaining - cur.n_removed
    # near-dup attribution: higher ids of certified pairs, minus any doc
    # an earlier (exact/normalized) stage already claimed — on this
    # duplicate-free corpus that is exactly the b_id set
    near_b = {
        r.b_id for r in _Q["dedup_minhash_certified"].fn(spark, sf_dir).collect()
    }
    assert rows[3].n_removed <= len(near_b)


def test_chunk_windows_boundaries_match_reference(spark):
    """text_chunk_windows vs plain-Python chunking on every boundary
    shape: empty (no chunks), shorter than one window, exactly one
    window, one token over (second chunk appears), exactly on a stride
    multiple, and a long doc; every chunk's sha must hash the exact
    token slice (content certification, not just counts)."""
    import hashlib
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import textops

    C, S = textops.CHUNK_TOKENS, textops.CHUNK_STRIDE
    lengths = {0: 0, 1: 1, 2: C - 1, 3: C, 4: C + 1, 5: C + S, 6: C + S + 1, 7: 200}
    docs = [(i, " ".join(f"t{i}x{j}" for j in range(n))) for i, n in lengths.items()]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    with mock.patch.object(textops, "load", lambda _s, _d, _t: sdf):
        got = {}
        for r in textops.text_chunk_windows(spark, "ignored_chunks").collect():
            got.setdefault(r.doc_id, {})[r.chunk_id] = r

    for i, n in lengths.items():
        toks = [f"t{i}x{j}" for j in range(n)]
        if n == 0:
            assert i not in got
            continue
        want_chunks = 1 + max(0, -(-(n - C) // S)) if n > C else 1
        assert set(got[i]) == set(range(want_chunks)), (i, n)
        for cid in range(want_chunks):
            r = got[i][cid]
            start = cid * S
            want_len = min(C, n - start)
            assert (r.tok_start, r.tok_len) == (start, want_len), (i, cid)
            want_sha = hashlib.sha256(
                " ".join(toks[start : start + want_len]).encode()
            ).hexdigest()
            assert r.chunk_sha == want_sha, (i, cid)
        # overlap contract: consecutive chunks share C - S tokens
        if want_chunks > 1:
            assert got[i][1].tok_start - got[i][0].tok_start == S


def test_agg_approximate_within_published_error_envelopes(spark, sf_dir):
    """agg_approximate is the registry's one oracle-less name by nature
    (engine-specific sketches); this replaces 'no oracle' with
    MACHINE-CHECKED tolerance evidence (VERDICT r13 #6), the same
    discipline the certified HLL-register and histogram-quantile gates
    pin for their sketches: per group, approx_count_distinct must sit
    within 3x its configured relative standard deviation (default rsd =
    0.05 -> ±15%) of the exact distinct count, and percentile_approx
    (accuracy=1000, rank error <= n/1000) must return a value whose
    exact rank band covers the median — bounded by the exact percentiles
    at 0.5 ± 5/1000 (5x the published rank tolerance). Runs at whatever
    SF the suite targets (sf0.001 locally, sf0.01 at driver scale,
    sf0.1 via SPARK_GRAFT_TEST_SF)."""
    from projet_pipeline_bigdata_org_spark.catalog import load

    got = {r.l_returnflag: r for r in _Q["agg_approximate"].fn(spark, sf_dir).collect()}
    li = load(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_distinct"),
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "percentile(l_extendedprice, array(0.495, 0.505))"
            ).alias("median_band"),
        )
        .collect()
    }
    assert set(got) == set(exact) and got
    for flag, g in got.items():
        e = exact[flag]
        assert g.n == e.n, flag  # the exact column rides untouched
        rel_err = abs(g.approx_parts - e.exact_distinct) / e.exact_distinct
        assert rel_err <= 3 * 0.05, (flag, g.approx_parts, e.exact_distinct)
        lo, hi = e.median_band
        assert lo <= g.approx_median_price <= hi, (
            flag, g.approx_median_price, lo, hi,
        )


def test_funnel_ladder_ledger_invariants(spark, sf_dir):
    """The FULL-ladder ledger must account for every document exactly
    once across its nine removal stages: row 0 carries the corpus size,
    removals are first-match-attributed (sum of removals + final
    survivors = corpus), remaining is monotone nonincreasing, the stage
    list is the registered precedence order, and the survivor set agrees
    with the per-document staged frame the export manifest consumes
    (shared funnel_ladder_staged)."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        FUNNEL_LADDER_STAGES,
        funnel_ladder_staged,
    )

    rows = sorted(
        _Q["curate_funnel_ladder"].fn(spark, sf_dir).collect(),
        key=lambda r: r.stage_ord,
    )
    assert [(r.stage_ord, r.stage) for r in rows] == list(FUNNEL_LADDER_STAGES)
    n_docs = load(spark, sf_dir, "documents").count()
    assert rows[0].n_removed == 0 and rows[0].n_remaining == n_docs
    assert sum(r.n_removed for r in rows) + rows[-1].n_remaining == n_docs
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_remaining == prev.n_remaining - cur.n_removed
        assert cur.n_remaining <= prev.n_remaining
    # the ledger's survivor count IS the staged frame's stage-0 count —
    # the export manifest and the ledger cannot disagree
    staged = funnel_ladder_staged(spark, sf_dir)
    assert rows[-1].n_remaining == staged.filter(F.col("stage_ord") == 0).count()
    # per-doc attribution is exactly-once by construction: one stage each
    assert staged.count() == n_docs
    # the ladder extends the r13 5-stage report, not replaces it: the
    # shared prefix stages (exact/normalized/near-dup) agree
    report = {
        r.stage: r.n_removed
        for r in _Q["curate_funnel_report"].fn(spark, sf_dir).collect()
    }
    ladder = {r.stage: r.n_removed for r in rows}
    for s in ("exact_dup", "normalized_dup", "near_dup"):
        assert ladder[s] == report[s], s


def test_enrichment_udf_fallback_and_chunking(spark):
    from projet_pipeline_bigdata_org_spark.ml.enrich import (
        make_sentiment_udf,
        stub_backend,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["a" * n for n in range(120)]})
    )
    # stub backend: deterministic labels
    got = df.select(make_sentiment_udf()(F.col("text")).alias("s")).collect()
    expected = stub_backend(["a" * n for n in range(120)])
    # row order preserved within partitions; compare as multiset per label
    assert sorted(r.s for r in got) == sorted(expected)

    # failing backend: neutral fill for every row (reference preprocessor.py:53-56)
    def boom(texts):
        raise RuntimeError("service down")

    got = df.select(make_sentiment_udf(backend=boom)(F.col("text")).alias("s")).collect()
    assert {r.s for r in got} == {"neutral"}


def test_multimodal_real_decoder_parses_headers_and_stubs_the_rest():
    """decode_media_real is a real header parser for PNG/JPEG/GIF (fixed
    published offsets, no codec libs) and an explicit NotImplementedError
    integration point for everything else (full decode needs PIL/ffmpeg)."""
    from projet_pipeline_bigdata_org_spark.operators.multimodal import (
        MM_MEDIA_FIXTURE_ROWS,
        decode_media,
        decode_media_real,
        decode_media_stub,
    )

    png, jpeg, gif, _wav, _bmp = (
        decode_media_real(p) for _, p in MM_MEDIA_FIXTURE_ROWS
    )
    assert (png["width"], png["height"], png["mime"]) == (640, 360, "image/png")
    assert (jpeg["width"], jpeg["height"], jpeg["mime"]) == (1024, 768, "image/jpeg")
    assert (gif["width"], gif["height"], gif["n_frames"], gif["mime"]) == (
        320, 200, 3, "image/gif",
    )
    # non-media bytes and truncated JPEG stay explicit integration points
    with pytest.raises(NotImplementedError):
        decode_media_real(b"xx")
    with pytest.raises(NotImplementedError):
        decode_media_real(b"\xff\xd8\xff\xe0\x00\x04\x00\x00")  # no SOF
    # the kernel dispatch falls back to the stub for those
    m = decode_media(b"abcd")
    assert m == decode_media_stub(b"abcd")
    assert m["n_bytes"] == 4 and m["width"] == 5 and m["n_frames"] == 5
    # JPEG fill bytes: the spec allows any number of 0xFF padding bytes
    # before a marker — the walk must skip them, not misread lengths
    padded = b"\xff\xd8" + b"\xff\xff\xff" + MM_MEDIA_FIXTURE_ROWS[1][1][2:]
    j2 = decode_media_real(padded)
    assert (j2["width"], j2["height"]) == (1024, 768)
    # truncated PNG header must raise (stub fallback), never return 0x0
    with pytest.raises(NotImplementedError):
        decode_media_real(b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0d" + b"IHDR")
    # GCE signature inside image DATA must not inflate the frame count:
    # a single-frame GIF whose 3-byte sub-block carries 21 F9 04
    from projet_pipeline_bigdata_org_spark.operators.multimodal import _gif_fixture

    single = bytearray(_gif_fixture(10, 10, 1))
    tail = bytes(single).rfind(bytes([1, 0, 0]))  # the 1-byte data sub-block
    crafted = (
        bytes(single[:tail]) + bytes([3]) + b"\x21\xf9\x04" + bytes([0]) + b"\x3b"
    )
    g2 = decode_media_real(crafted)
    assert g2["n_frames"] == 1
    # a block-aligned GIF that ends WITHOUT the 0x3B trailer is malformed
    # and must stub out like every other truncation (uniform strictness)
    assert bytes(single)[-1] == 0x3B
    with pytest.raises(NotImplementedError):
        decode_media_real(bytes(single[:-1]))


def test_ann_ivf_recall_and_soundness(spark, sf_dir):
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        N_QUERIES,
        TOPK,
        dot,
        norm,
    )

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cos = dot(F.col("q_emb"), F.col("embedding")) / (
        norm(F.col("q_emb")) * norm(F.col("embedding"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), "n_id")
    exact = {
        (r.q_id, r.n_id)
        for r in e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("n_id"), cos.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .collect()
    }
    got = {
        (r.q_id, r.n_id) for r in _Q["sim_ann_ivf"].fn(spark, sf_dir).collect()
    }
    # every IVF hit is a real vector pair; recall of the true top-k:
    recall = len(got & exact) / len(exact)
    assert recall >= 0.3, f"ivf recall too low: {recall:.2f}"
    assert len(got) <= N_QUERIES * TOPK


def test_simhash_numpy_and_jvm_fingerprints_agree(spark, sf_dir):
    """The vectorized fingerprint kernel (query path) and the 48-fold JVM
    expression must produce identical 48-bit fingerprints on the fixture
    corpus."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        shingles,
        simhash_fingerprint_jvm,
        simhash_fingerprint_np,
        ws_tokens,
    )

    d = load(spark, sf_dir, "documents")
    hashed = (
        d.select("doc_id", F.array_distinct(shingles(ws_tokens("text"))).alias("feats"))
        .filter(F.size("feats") > 0)
        .select("doc_id", F.transform("feats", lambda t: F.xxhash64(t)).alias("hh"))
    )
    jvm = dict(hashed.select("doc_id", simhash_fingerprint_jvm().alias("s")).collect())
    np_ = dict(
        hashed.select("doc_id", simhash_fingerprint_np()(F.col("hh")).alias("s")).collect()
    )
    assert jvm == np_ and len(jvm) > 0


def test_lsh_numpy_and_jvm_bucketing_agree(spark, sf_dir):
    """The matmul pandas-UDF bucketing (query path) and the pure-JVM fold
    expression must assign identical (table, bucket) ids on the fixture
    corpus — same planes, same sign rule, locked against drift."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        lsh_buckets_np,
        lsh_table_buckets,
    )

    e = load(spark, sf_dir, "embeddings")
    jvm = {
        (r.vec_id, r.tb.tbl, r.tb.bucket)
        for r in e.select(
            "vec_id", F.explode(lsh_table_buckets(F.col("embedding"))).alias("tb")
        ).collect()
    }
    # the np kernel returns the bucket array indexed by table (r18);
    # posexplode's position IS the table id the JVM struct form carries
    np_ = {
        (r.vec_id, r.tbl, r.bucket)
        for r in e.select(
            "vec_id",
            F.posexplode(lsh_buckets_np()(F.col("embedding"))).alias(
                "tbl", "bucket"
            ),
        ).collect()
    }
    assert jvm == np_


def test_ivf_fit_input_is_bounded(spark, sf_dir):
    """The KMeans centroid fit must never iterate over the full corpus: its
    input is capped at IVF_FIT_MAX_ROWS regardless of corpus size (the
    round-2 verdict's last LLM-operator scale-killer)."""
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        IVF_FIT_MAX_ROWS,
        _ivf_fit_sample,
    )

    # corpus far above the cap → sample + limit binds
    big = spark.range(3 * IVF_FIT_MAX_ROWS).withColumnRenamed("id", "features")
    n_big = _ivf_fit_sample(big).count()
    assert n_big <= IVF_FIT_MAX_ROWS
    assert n_big >= IVF_FIT_MAX_ROWS // 2  # sample actually reaches the target
    # corpus below the cap → passes through whole (KMeans needs >= k rows)
    small = spark.range(500).withColumnRenamed("id", "features")
    assert _ivf_fit_sample(small).count() == 500


def test_simhash_bucket_cap_drops_template_clusters(spark):
    """A template shared by every document piles identical fingerprints into
    one bucket per band → B² join pairs regardless of band-key width. The
    bucket-population cap must drop that cluster (exact dedup's job anyway)
    while keeping genuinely-distinct near-dup pairs."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import simhash_pairs

    n = 120
    template = [(i, "all work and no play makes jack a dull boy") for i in range(n)]
    uniq = [
        (1000, "the quick brown fox jumps over the lazy dog at midnight"),
        (1001, "the quick brown fox jumps over the lazy dog at noon"),
    ]
    docs = spark.createDataFrame(template + uniq, ["doc_id", "text"])
    unc = {(r.a_id, r.b_id) for r in simhash_pairs(docs, max_bucket_pop=10**9).collect()}
    cap = {(r.a_id, r.b_id) for r in simhash_pairs(docs, max_bucket_pop=n - 1).collect()}
    assert len(unc) >= n * (n - 1) // 2  # the quadratic blowup the cap prevents
    assert (1000, 1001) in cap  # distinct near-dups survive the cap
    assert all(a >= 1000 for a, _ in cap)  # template cluster fully dropped


def test_fuzzy_length_banding_lossless_and_subquadratic(spark):
    """The composite (nation, length-band) blocking key must (a) drop NO true
    ≤FUZZY_MAX_DIST pair vs the plain nation-blocked join, and (b) keep the
    candidate product well below the single-nation quadratic blowup on a
    length-diverse corpus (the round-2 verdict's hot-block finding)."""
    from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
        FUZZY_MAX_DIST,
        fuzzy_blocked_candidates,
    )

    # one nation (worst case for nation-only blocking), lengths spread 1..120
    c = spark.createDataFrame(
        [(i, 0, "c" * (1 + i % 120)) for i in range(240)],
        ["c_custkey", "c_nationkey", "c_name"],
    )
    s = spark.createDataFrame(
        [(i, 0, "s" * (1 + (i * 7) % 120)) for i in range(240)],
        ["s_suppkey", "s_nationkey", "s_name"],
    )
    n_candidates = fuzzy_blocked_candidates(c, s).count()
    assert n_candidates < 240 * 240 // 3  # banding prunes the nation block

    dist = F.levenshtein(F.col("c_name"), F.col("s_name"))
    blocked = {
        (r.c_custkey, r.s_suppkey)
        for r in fuzzy_blocked_candidates(c, s)
        .select("c_custkey", "s_suppkey", dist.alias("d"))
        .filter(F.col("d") <= FUZZY_MAX_DIST)
        .collect()
    }
    exact = {
        (r.c_custkey, r.s_suppkey)
        for r in c.join(s, c["c_nationkey"] == s["s_nationkey"])
        .select("c_custkey", "s_suppkey", dist.alias("d"))
        .filter(F.col("d") <= FUZZY_MAX_DIST)
        .collect()
    }
    assert blocked == exact  # lossless: banding drops no true pair


def test_shingle_df_cap_keeps_hot_corpus_subquadratic(spark):
    """A boilerplate shingle shared by every document must not produce a
    quadratic pair blowup once its document frequency exceeds the cap.

    Corpus: N docs = identical 3-token boilerplate (one hot shingle) + one
    unique token each (one unique shingle). Uncapped, every pair shares the
    hot shingle with jaccard 1/3 → C(N,2) output pairs; with the cap below N
    the hot posting is dropped and the output collapses to zero."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import ngram_jaccard_pairs

    n = 120
    docs = spark.createDataFrame(
        [(i, f"terms of service apply u{i}") for i in range(n)],
        ["doc_id", "text"],
    )
    uncapped = ngram_jaccard_pairs(docs, max_shingle_df=10**9).count()
    capped = ngram_jaccard_pairs(docs, max_shingle_df=n - 1).count()
    assert uncapped == n * (n - 1) // 2  # the quadratic blowup the cap prevents
    assert capped == 0


def test_textops_zero_token_documents_yield_null_ratios(spark):
    """Empty/whitespace-only documents: ratios are NULL (DuckDB x/0), never
    NaN, and the quality gate is False (ADVICE r1)."""
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        text_quality_score,
        text_token_stats,
    )
    from projet_pipeline_bigdata_org_spark.catalog import load as _load
    from unittest import mock

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real words here")],
        ["doc_id", "text"],
    )
    with mock.patch(
        "projet_pipeline_bigdata_org_spark.operators.textops.load",
        lambda _s, _d, _t: docs,
    ):
        stats = {r.doc_id: r for r in text_token_stats(spark, "ignored").collect()}
        quality = {r.doc_id: r for r in text_quality_score(spark, "ignored").collect()}
    for empty_id in (1, 2):
        assert stats[empty_id].n_tokens == 0
        assert stats[empty_id].avg_token_len is None
        assert quality[empty_id].stopword_ratio is None
        assert quality[empty_id].distinct_ratio is None
        assert quality[empty_id].quality_ok is False
    assert quality[1].punct_ratio is None  # zero-length text
    assert stats[3].avg_token_len is not None


def test_star_cc_equals_minlabel_cc_on_adversarial_graphs(spark):
    """large/small-star CC must agree with min-label CC on shapes that
    stress it: a long chain (worst diameter), stars, a clique, disjoint
    pairs, and a seeded random graph."""
    import random

    from projet_pipeline_bigdata_org_spark.operators.grouped import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    chain = [(i, i + 1) for i in range(100, 140)]          # diameter 40
    star_lo = [(0, i) for i in range(1, 8)]                # center is min
    star_hi = [(20, i) for i in range(10, 18)]             # center is max
    clique = [(a, b) for a in range(50, 55) for b in range(50, 55) if a < b]
    pairs = [(200 + 2 * i, 201 + 2 * i) for i in range(10)]
    rand = [(rng.randrange(300, 360), rng.randrange(300, 360)) for _ in range(80)]
    edges = [
        (a, b) for a, b in chain + star_lo + star_hi + clique + pairs + rand if a != b
    ]
    df = spark.createDataFrame(edges, ["a_id", "b_id"])
    base = {
        (r.node, r.cluster_id) for r in connected_components(df, max_iter=60).collect()
    }
    star = {
        (r.node, r.cluster_id) for r in connected_components_star(df).collect()
    }
    assert star == base
    # labels must be the component minimum (a property, not just agreement)
    by_cluster = {}
    for node, cid in star:
        by_cluster.setdefault(cid, []).append(node)
    for cid, nodes in by_cluster.items():
        assert cid == min(min(nodes), cid)


def test_mm_decode_byte_length_agrees_on_non_ascii(spark):
    """The synthetic corpus is ASCII, so the mm_* oracles' byte-length
    expression (OCTET_LENGTH(ENCODE(text))) is locked against the Spark
    pipeline here on crafted multi-byte strings (é=2B, 中=3B, 🚀=4B)."""
    import duckdb
    import pandas as pd

    from projet_pipeline_bigdata_org_spark.operators.multimodal import (
        decode_batches,
    )

    cases = ["plain ascii", "café crème", "中文文本测试", "🚀🚀🚀", "mixé 中 🚀", ""]
    pdf = pd.DataFrame({"doc_id": range(len(cases)), "text": cases})
    got = {
        r.doc_id: (r.n_bytes, r.width, r.n_frames)
        for r in spark.createDataFrame(pdf)
        .select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
        .mapInPandas(
            decode_batches,
            schema="doc_id long, n_bytes long, width long, height long, "
            "n_frames long, mime string",
        )
        .collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    want = {
        d: (n, w, f)
        for d, n, w, f in con.execute(
            """SELECT doc_id, OCTET_LENGTH(ENCODE(text)),
                      OCTET_LENGTH(ENCODE(text)) % 640 + 1,
                      OCTET_LENGTH(ENCODE(text)) % 30 + 1 FROM t"""
        ).fetchall()
    }
    assert got == want
    assert got[3][0] == 12  # 3 rockets × 4 bytes: genuinely multi-byte


def test_cc_long_chain_falls_back_to_star(spark):
    """A component whose diameter exceeds max_iter must still resolve through
    the public min-label entry point (auto-fallback to large/small-star)
    instead of failing the pipeline; the opt-out still raises."""
    import pytest as _pytest

    from projet_pipeline_bigdata_org_spark.operators.grouped import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(100, 160)]  # diameter 60 >> max_iter
    df = spark.createDataFrame(chain, ["a_id", "b_id"])
    got = {
        (r.node, r.cluster_id)
        for r in connected_components(df, max_iter=5).collect()
    }
    assert got == {(i, 100) for i in range(100, 161)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=5, fallback_to_star=False)


def test_redact_pii_on_crafted_strings(spark):
    """The synthetic corpus has no PII, so the redaction behavior is locked
    here on crafted strings (and its DuckDB twin agrees on them too)."""
    import duckdb
    import pandas as pd

    from projet_pipeline_bigdata_org_spark.operators.textops import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
        redact_pii,
    )
    from pyspark.sql import functions as F

    cases = [
        "contact me at jane.doe+spam@example.co.uk today",
        "server at 192.168.1.254 rebooted",
        "call +1 (555) 123-4567 or 0044 20 7946 0958 now",
        "mixed: a@b.io on 10.0.0.1 tel 555-867-5309!",
        "no pii here at all",
        "",
    ]
    pdf = pd.DataFrame({"i": range(len(cases)), "text": cases})
    got = {
        r.i: r.red
        for r in spark.createDataFrame(pdf)
        .select("i", redact_pii("text").alias("red"))
        .collect()
    }
    assert "<EMAIL>" in got[0] and "jane" not in got[0]
    assert got[1] == "server at <IP> rebooted"
    assert got[2].count("<PHONE>") == 2
    assert "<EMAIL>" in got[3] and "<IP>" in got[3] and "<PHONE>" in got[3]
    assert got[4] == "no pii here at all"
    assert got[5] == ""
    # twin agreement on the crafted strings
    con = duckdb.connect()
    con.register("t", pdf)
    want = dict(
        con.execute(
            f"""SELECT i, REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
                '{PII_EMAIL}', '<EMAIL>', 'g'),
                '{PII_IPV4}', '<IP>', 'g'),
                '{PII_PHONE}', '<PHONE>', 'g') FROM t"""
        ).fetchall()
    )
    assert got == want


def test_cc_reliable_checkpoint_path(spark, tmp_path):
    """connected_components with a configured checkpoint dir takes the
    reliable df.checkpoint() branch (durable materialization per round —
    the executor-loss recovery path on a real cluster); labels must match
    the localCheckpoint branch exactly."""
    from projet_pipeline_bigdata_org_spark.operators.grouped import (
        connected_components,
    )

    edges = [(i, i + 1) for i in range(10, 18)] + [(30, 31), (31, 32), (40, 41)]
    df = spark.createDataFrame(edges, ["a_id", "b_id"])
    local = {(r.node, r.cluster_id) for r in connected_components(df).collect()}
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        reliable = {
            (r.node, r.cluster_id)
            for r in connected_components(df, reliable_checkpoint=True).collect()
        }
    finally:
        sc.setCheckpointDir(None) if hasattr(sc, "setCheckpointDir") else None
    assert reliable == local
    assert any((tmp_path / "ckpt").iterdir())  # durable round files were written


def test_nextfit_bins_respect_budget_and_order(spark):
    """Next-fit invariants on crafted data: a bin's token sum never exceeds
    the budget unless it holds exactly one oversized document; bin ids are
    contiguous and non-decreasing in doc order; zero-token docs never open
    a bin."""
    from projet_pipeline_bigdata_org_spark.operators.packing import nextfit_bins

    rows = [
        # (doc_id, shard, n_tokens) — one shard, adversarial mix
        (0, 0, 100), (8, 0, 100), (16, 0, 100),   # 100+100 fits, third spills
        (24, 0, 0),                                # empty doc rides along
        (32, 0, 999),                              # oversized: bin alone
        (40, 0, 1), (48, 0, 256),                  # exact-budget doc
        (56, 0, 255), (64, 0, 1), (72, 0, 1),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "shard", "n_tokens"])
    out = nextfit_bins(df, budget=256).toPandas().sort_values("doc_id")
    per_bin = out.groupby(["shard", "bin_id"]).agg(
        total=("n_tokens", "sum"), n=("doc_id", "count")
    )
    for (_, _), r in per_bin.iterrows():
        assert r["total"] <= 256 or r["n"] == 1
    bins = out["bin_id"].to_numpy()
    assert (bins[1:] >= bins[:-1]).all()
    assert set(bins) == set(range(bins.max() + 1))
    # the oversized doc sits alone in its bin
    over_bin = int(out.loc[out["doc_id"] == 32, "bin_id"].iloc[0])
    assert (out["bin_id"] == over_bin).sum() == 1


def test_semdedup_decisions_keep_first_and_soundness(spark):
    """SemDeDup kernel on crafted clusters: exact/near duplicates drop in
    favor of the lowest id; orthogonal members survive; pairs in different
    cells never interact."""
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        semdedup_decisions,
    )

    dim = 8
    e0 = [1.0] + [0.0] * (dim - 1)
    near = [0.99] + [0.141] + [0.0] * (dim - 2)  # cosine ≈ 0.99 to e0
    orth = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)
    rows = [
        (0, e0, 0),
        (1, list(e0), 0),      # exact duplicate of 0
        (2, near, 0),          # near duplicate of 0
        (3, orth, 0),          # orthogonal: keep
        (4, list(e0), 1),      # duplicate of 0 but in another cell: keep
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "cell"])
    out = {r.vec_id: r.is_dropped for r in semdedup_decisions(df, tau=0.9).collect()}
    assert out == {0: False, 1: True, 2: True, 3: False, 4: False}


def test_semdedup_random_corpus_drops_nothing(spark, sf_dir):
    """On the pure-random test embeddings (max pairwise cosine ≈ 0.48) a
    tau=0.9 SemDeDup must be a no-op, and deterministic across runs."""
    q = plans.get("embed_semdedup").fn
    a = q(spark, sf_dir).toPandas().sort_values("vec_id", ignore_index=True)
    assert not a["is_dropped"].any()
    b = q(spark, sf_dir).toPandas().sort_values("vec_id", ignore_index=True)
    pd.testing.assert_frame_equal(a, b)


def test_semdedup_mega_cluster_is_subsplit(spark):
    """A cluster above SEMDEDUP_MAX_CLUSTER is re-split by id residue so the
    self-join stays sub-quadratic; splits separate pairs but never invent
    drops (soundness preserved)."""
    from projet_pipeline_bigdata_org_spark.operators import similarity as S

    n = 3 * S.SEMDEDUP_MAX_CLUSTER
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % 97).cast("float") + F.lit(float(i)) for i in range(4)]).alias(
            "embedding"
        ),
        F.lit(0).alias("cell"),
    )
    out = S.semdedup_decisions(base, tau=1.1)  # tau > 1: nothing can drop
    assert out.filter(F.col("is_dropped")).count() == 0
    assert out.count() == n


def test_quantize_int8_error_bound(spark, sf_dir):
    """Int8 absmax quantization: codes stay in [-127, 127] and the
    reconstruction MSE respects the half-step bound (scale/2)^2."""
    out = plans.get("embed_quantize_int8").fn(spark, sf_dir).toPandas()
    assert len(out) > 0
    for _, r in out.iterrows():
        codes = [int(c) for c in r["codes_csv"].split(",")]
        assert max(abs(c) for c in codes) <= 127
        half_step_sq = (r["absmax"] / 127.0 / 2.0) ** 2
        assert r["mse"] <= half_step_sq + 1e-18


def test_hll_sketch_estimates_within_tolerance(spark, sf_dir):
    """HLL estimates land within 5% of exact distinct counts, and the
    unioned sketch estimates the cross-language union (not the sum)."""
    import duckdb

    out = plans.get("sketch_hll_distinct").fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    exact = dict(
        con.execute(
            """
        SELECT lang, COUNT(DISTINCT tok) FROM (
          SELECT lang, UNNEST(LIST_FILTER(STRING_SPLIT(text,' '), x -> x <> '')) AS tok
          FROM documents) GROUP BY lang
        """
        ).fetchall()
    )
    exact["__all__"] = con.execute(
        """
        SELECT COUNT(DISTINCT tok) FROM (
          SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text,' '), x -> x <> '')) AS tok
          FROM documents)
        """
    ).fetchone()[0]
    for _, r in out.iterrows():
        want = exact[r["lang"]]
        assert abs(r["est_distinct_tokens"] - want) <= max(2, 0.05 * want), (
            r["lang"], r["est_distinct_tokens"], want,
        )


def test_observe_quality_metrics_ride_the_action(spark, sf_dir):
    """with_quality_metrics accumulates row/null/byte metrics during the
    caller's own action — values must match an independent aggregation."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.pipeline import with_quality_metrics

    d = load(spark, sf_dir, "documents")
    observed, obs = with_quality_metrics(d)
    n_written = observed.filter(F.col("doc_id") >= 0).count()  # the one action
    m = obs.get
    want = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("text")).alias("b"),
    ).first()
    assert m["n_rows"] == want["n"] == n_written
    assert m["n_null_or_empty"] == 0
    assert m["text_bytes"] == want["b"]


def test_extract_urls_on_crafted_strings(spark):
    """The synthetic corpus has no URLs, so the extraction/normalization
    twins are locked here on crafted documents run through BOTH engines'
    full query plans (Spark query vs DuckDB oracle on the same rows)."""
    import tempfile

    import duckdb

    cases = [
        (0, "see https://Example.COM/a/b?utm_source=x&id=7 and http://example.com/a/b#frag"),
        (1, "dup https://example.com/a/b?other=1 plus https://sub.other.org/p"),
        (2, "no urls at all"),
        (3, "bare http://EXAMPLE.com trailing text"),
        (4, ""),
    ]
    pdf = pd.DataFrame(cases, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "crafted"
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(f"{tmp}/documents.parquet")
        got = (
            plans.get("text_extract_urls")
            .fn(spark, tmp)
            .toPandas()
            .sort_values("domain", ignore_index=True)
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp}/documents.parquet')"
        )
        want = (
            con.execute(plans.get("text_extract_urls").oracle)
            .df()
            .sort_values("domain", ignore_index=True)
        )
    assert list(got["domain"]) == list(want["domain"])
    for c in ["n_urls", "n_distinct_urls", "n_docs"]:
        assert list(got[c]) == list(want[c]), c
    # normalization semantics: example.com collapses case + tracking params.
    # Both plans also union URL_FIXTURE_ROWS (4 urls / 2 canonical / 3 docs
    # for example.com) on top of this test's corpus (4 / 3 / 3).
    ex = got.set_index("domain").loc["example.com"]
    assert ex["n_urls"] == 8 and ex["n_distinct_urls"] == 5 and ex["n_docs"] == 6


def test_bare_url_rollup_reports_only_corpus_urls(spark, sf_dir):
    """The bare operator (url_domain_rollup) must not inject fixture rows:
    production callers see only their corpus' URLs. The fixture union lives
    solely in the registered certification query."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.textops import url_domain_rollup

    corpus = load(spark, sf_dir, "documents").select("doc_id", "text")
    domains = {r.domain for r in url_domain_rollup(corpus).collect()}
    assert "example.com" not in domains and "cdn.example.net" not in domains
    # synthetic corpus is URL-free → the bare rollup is empty on it
    assert domains == set()


def test_triangle_count_on_crafted_graph(spark):
    """Absolute truth check: one 4-part order forms K4 (C(4,3)=4 triangles);
    two chain orders add edges but no triangles."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import grouped

    rows = [(1, p) for p in (1, 2, 3, 4)] + [(2, 4), (2, 5), (3, 5), (3, 6)]
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    with mock.patch.object(grouped, "load", lambda _s, _d, _t: li):
        out = plans.get("graph_triangle_count").fn(spark, "ignored").first()
    assert (out.n_vertices, out.n_edges, out.n_triangles) == (6, 8, 4)


def test_degree_ordering_caps_hub_wedges_on_crafted_hub_graph(spark):
    """Adversarial skew proof for the wedge join (the invariant
    graph_degree_histogram exists to monitor): one hub part sits in EVERY
    order (degree 2N); with degree-ordered orientation the hub's out-degree
    is 0 — it enumerates NO wedges — and total wedge count stays linear in
    N. A naive orient-by-id (hub = smallest id) would give the hub
    C(2N, 2) ≈ 2N² wedges; that quadratic blowup is exactly what the
    (deg, id) redirect prevents at 100 TB."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import grouped
    from projet_pipeline_bigdata_org_spark.operators.grouped import (
        copurchase_pairs,
        oriented_edges,
    )

    HUB, N = 0, 40
    # order i = {hub, leaf 2i+1, leaf 2i+2}: hub in 100% of orders (>50%),
    # hub degree 2N, every leaf degree 2, one triangle per order
    rows = []
    for i in range(N):
        rows += [(i, HUB), (i, 2 * i + 1), (i, 2 * i + 2)]
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])

    pairs = copurchase_pairs(li)
    e = oriented_edges(pairs)
    out_deg = {r.lo: r.n for r in e.groupBy("lo").agg(F.count("*").alias("n")).collect()}
    assert out_deg.get(HUB, 0) == 0, "hub enumerates wedges — degree ordering broken"
    # total wedges = sum over vertices of C(outdeg, 2): linear in N, not ~2N^2
    n_wedges = sum(d * (d - 1) // 2 for d in out_deg.values())
    assert n_wedges == N  # exactly one wedge per order's leaf pair
    # and the full operator still counts the truth on this graph
    with mock.patch.object(grouped, "load", lambda _s, _d, _t: li):
        out = plans.get("graph_triangle_count").fn(spark, "ignored").first()
    assert (out.n_vertices, out.n_edges, out.n_triangles) == (2 * N + 1, 3 * N, N)


def test_decontaminate_flags_fire_at_test_scale(spark, sf_dir):
    """The contamination flag path must be exercised end-to-end, not
    vacuously green: the synthetic corpus's benchmark split (doc_id % 89)
    shares enough shingles with the train split that >=1 document crosses
    the 10% overlap threshold at every test SF (6 at sf0.001, 5 at
    sf0.01 — rechecked here so corpus regeneration can't silently turn
    the driver's row into an all-False rollup)."""
    d = plans.get("lex_decontaminate").fn(spark, sf_dir)
    flagged = d.filter(F.col("contaminated")).count()
    assert flagged >= 1, "no contaminated docs at test scale — flag path vacuous"
    assert flagged < d.count(), "every doc contaminated — threshold degenerate"


def test_incremental_dedup_fixture_and_consistency(spark, sf_dir):
    """Incremental dedup must exercise its dup-vs-history path (the corpus
    itself is duplicate-free at small SFs — the fixture guarantees one
    cross-split duplicate), and per-source counts must reconcile."""
    from projet_pipeline_bigdata_org_spark.catalog import load

    out = {r.source: r for r in plans.get("dedup_incremental_exact").fn(spark, sf_dir).collect()}
    fx = out["fixture"]
    assert (fx.n_incoming, fx.n_novel, fx.n_dup_vs_history) == (2, 1, 1)
    # the batch partition is exactly the residue-split corpus + 2 fixture
    # batch rows — nothing dropped or double-counted by the join/rollup
    want_batch = (
        load(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 >= 8).count() + 2
    )
    assert sum(r.n_incoming for r in out.values()) == want_batch
    # corpus is duplicate-free at test SFs: every non-fixture batch doc is novel
    for src, r in out.items():
        if src != "fixture":
            assert r.n_dup_vs_history == 0 and r.n_novel == r.n_incoming


def test_bloom_incremental_admissions_equal_plain_incremental(spark, sf_dir):
    """The Bloom prefilter must not change ANY admission decision: per-source
    (n_incoming, n_novel, n_dup_vs_history) equal dedup_incremental_exact's
    exactly (no false negatives by the filter's construction; false
    positives die in the confirm join), and the candidate count bounds the
    confirmed-dup count from above."""
    bl = {
        r.source: r
        for r in plans.get("dedup_bloom_incremental").fn(spark, sf_dir).collect()
    }
    ex = {
        r.source: r
        for r in plans.get("dedup_incremental_exact").fn(spark, sf_dir).collect()
    }
    assert set(bl) == set(ex)
    for src, r in bl.items():
        e = ex[src]
        assert (r.n_incoming, r.n_novel, r.n_dup_vs_history) == (
            e.n_incoming,
            e.n_novel,
            e.n_dup_vs_history,
        ), src
        assert r.n_bloom_candidates >= r.n_dup_vs_history, src
    # the fixture guarantees the dup path is live: its duplicate must have
    # been caught BY the bloom (candidate), not just by the confirm join
    assert bl["fixture"].n_bloom_candidates >= 1


def test_incremental_minhash_equals_oneshot_cross_split(spark, sf_dir, exact_jaccard_pairs):
    """The incremental LSH result must be exactly the one-shot LSH result
    restricted to cross-split pairs: same shingles, same signatures, same
    band keys (shared minhash_band_table), same verify — a batch-vs-history
    collision happens iff the unioned corpus collides in that band. Also
    soundness: every non-fixture pair is a true exact-Jaccard pair with the
    identical value."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        _INCREMENTAL_BATCH_RESIDUE,
    )

    inc = {
        (r.batch_id, r.history_id): r.jaccard
        for r in plans.get("dedup_incremental_minhash").fn(spark, sf_dir).collect()
    }
    inc_corpus = {k: v for k, v in inc.items() if max(k) < 2_000_000_000}
    one_shot = {
        (r.a_id, r.b_id): r.jaccard
        for r in plans.get("dedup_minhash_lsh").fn(spark, sf_dir).collect()
    }

    def is_batch(i: int) -> bool:
        return i % 10 >= _INCREMENTAL_BATCH_RESIDUE

    want = {}
    for (a, b), v in one_shot.items():
        if is_batch(a) != is_batch(b):  # pair straddles the split
            batch_id, hist_id = (a, b) if is_batch(a) else (b, a)
            want[(batch_id, hist_id)] = v
    assert inc_corpus == want
    # soundness vs the exact inverted-index ground truth
    for k, v in inc_corpus.items():
        a, b = min(k), max(k)
        assert abs(v - exact_jaccard_pairs[(a, b)]) < 1e-12


def test_incremental_minhash_fixture_flagged(spark, sf_dir):
    """The crafted cross-split near-duplicate must be flagged (hit path
    non-vacuous) and the novel fixture document must not pair with
    anything."""
    rows = plans.get("dedup_incremental_minhash").fn(spark, sf_dir).collect()
    got = {(r.batch_id, r.history_id): r.jaccard for r in rows}
    assert (2_000_000_008, 2_000_000_000) in got
    j = got[(2_000_000_008, 2_000_000_000)]
    assert 0.5 < j < 1.0, j  # near-dup, not an exact copy
    assert not any(r.batch_id == 2_000_000_018 for r in rows)
    # batch ids are batch-residue, history ids history-residue — no
    # within-split pair can leak through the two-sided join
    for r in rows:
        assert r.batch_id % 10 >= 8 and r.history_id % 10 < 8


def test_incremental_simhash_equals_oneshot_cross_split(spark, sf_dir):
    """Same restriction invariant as the MinHash sibling: identical
    features, fingerprints, band keys (shared simhash_chunk_table) and
    hot-bucket census mean a batch-vs-history collision happens iff the
    one-shot self-join collides cross-split — so the incremental result
    must be exactly the one-shot result restricted to cross-split pairs."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        _INCREMENTAL_BATCH_RESIDUE,
    )

    inc = {
        (r.batch_id, r.history_id): r.hamming
        for r in plans.get("dedup_incremental_simhash").fn(spark, sf_dir).collect()
    }
    inc_corpus = {k: v for k, v in inc.items() if max(k) < 2_000_000_000}
    one_shot = {
        (r.a_id, r.b_id): r.hamming
        for r in plans.get("dedup_simhash").fn(spark, sf_dir).collect()
    }

    def is_batch(i: int) -> bool:
        return i % 10 >= _INCREMENTAL_BATCH_RESIDUE

    want = {}
    for (a, b), v in one_shot.items():
        if is_batch(a) != is_batch(b):
            batch_id, hist_id = (a, b) if is_batch(a) else (b, a)
            want[(batch_id, hist_id)] = v
    assert inc_corpus == want
    # the shared near-dup fixture pair is flagged (hamming ≤ 12, > 0)
    assert 0 < inc[(2_000_000_008, 2_000_000_000)] <= 12
    for batch_id, hist_id in inc:
        assert batch_id % 10 >= 8 and hist_id % 10 < 8


def _cross_split_restriction(one_shot: dict) -> dict:
    """One-shot pair set restricted to (batch, history) cross-split pairs —
    the expected incremental result, shared by the restriction-equality
    pins below."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        _INCREMENTAL_BATCH_RESIDUE,
    )

    want = {}
    for (a, b), v in one_shot.items():
        a_batch = a % 10 >= _INCREMENTAL_BATCH_RESIDUE
        b_batch = b % 10 >= _INCREMENTAL_BATCH_RESIDUE
        if a_batch != b_batch:
            batch_id, hist_id = (a, b) if a_batch else (b, a)
            want[(batch_id, hist_id)] = v
    return want


def test_incremental_minhash_certified_equals_certified_oneshot_cross_split(
    spark, sf_dir
):
    """The r13 certified-admission invariant (VERDICT r12 #1): the
    certified incremental twin must equal the certified ONE-SHOT twin
    restricted to cross-split pairs — same portable shingle hashes, same
    coin-fold band buckets (shared `minhash_band_table(portable=True)`),
    same verify — so the two driver-certified variants cannot drift from
    each other any more than the production pair can."""
    inc = {
        (r.batch_id, r.history_id): r.jaccard
        for r in plans.get("dedup_incremental_minhash_certified")
        .fn(spark, sf_dir)
        .collect()
    }
    inc_corpus = {k: v for k, v in inc.items() if max(k) < 2_000_000_000}
    one_shot = {
        (r.a_id, r.b_id): r.jaccard
        for r in plans.get("dedup_minhash_certified").fn(spark, sf_dir).collect()
    }
    assert inc_corpus == _cross_split_restriction(one_shot)
    # the crafted cross-split near-dup fires on the certified arithmetic
    assert 0.5 < inc[(2_000_000_008, 2_000_000_000)] < 1.0
    assert not any(b == 2_000_000_018 for b, _ in inc)


def test_incremental_simhash_certified_equals_certified_oneshot_cross_split(
    spark, sf_dir
):
    """SimHash sibling of the certified restriction invariant: identical
    portable features, fingerprints, band keys, and (corpus-only) census
    mean the certified incremental result is exactly the certified
    one-shot result restricted to cross-split pairs."""
    inc = {
        (r.batch_id, r.history_id): r.hamming
        for r in plans.get("dedup_incremental_simhash_certified")
        .fn(spark, sf_dir)
        .collect()
    }
    inc_corpus = {k: v for k, v in inc.items() if max(k) < 2_000_000_000}
    one_shot = {
        (r.a_id, r.b_id): r.hamming
        for r in plans.get("dedup_simhash_certified").fn(spark, sf_dir).collect()
    }
    assert inc_corpus == _cross_split_restriction(one_shot)
    # the crafted fixture pair is NOT asserted here: under the portable
    # sha features its hamming draw is 8 spread across >4 chunks, so the
    # d<=4 pigeonhole band guarantee doesn't apply (banding is best-effort
    # in [5, 12] — same contract as production, different hash draw). The
    # hit path stays non-vacuous through real cross-split corpus pairs:
    assert inc_corpus, "no cross-split corpus pair fired — vacuous gate"
    for batch_id, hist_id in inc:
        assert batch_id % 10 >= 8 and hist_id % 10 < 8


def test_holdout_split_fraction_and_determinism(spark, sf_dir):
    """The hash-coin holdout lands near 10% and is identical across runs
    (no rand() anywhere — membership is recomputable by any engine)."""
    fn = plans.get("curate_split_holdout").fn
    rows = fn(spark, sf_dir).collect()
    n = {s: 0 for s in ("train", "holdout")}
    for r in rows:
        n[r.split] += r.n_docs
    total = n["train"] + n["holdout"]
    assert 0.04 <= n["holdout"] / total <= 0.16, n  # ~10% at 500+ docs
    assert sorted(map(tuple, rows)) == sorted(map(tuple, fn(spark, sf_dir).collect()))


def test_pagerank_fixed_point_mass_conservation(spark, sf_dir):
    """Integer PageRank must conserve scaled mass up to truncation loss:
    each iteration only loses the integer-division remainders (< 1 per
    edge contribution plus < 2 per node), so the total over ALL nodes
    stays within a 1e-6 relative band of PR_SCALE — and a rerun is
    bit-identical (pure integer arithmetic, no FP drift)."""
    from projet_pipeline_bigdata_org_spark.operators.grouped import (
        PR_SCALE,
        pagerank_ranks,
    )

    ranks = pagerank_ranks(spark, sf_dir)
    rows = {r.node: r.rank_scaled for r in ranks.collect()}
    total = sum(rows.values())
    assert PR_SCALE * (1 - 1e-6) <= total <= PR_SCALE, total
    assert all(v > 0 for v in rows.values())
    again = {r.node: r.rank_scaled for r in pagerank_ranks(spark, sf_dir).collect()}
    assert rows == again


def test_funnel_counts_only_strictly_ordered_stages(spark):
    """The funnel is order-sensitive: a click BEFORE the user's first view
    must not count stage 2, and a purchase before the qualifying click
    must not count stage 3 — the cases a naive per-type MIN() gets wrong."""
    import datetime as dt

    from projet_pipeline_bigdata_org_spark.operators.timeseries import funnel_steps

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, typ, minute):
        return (uid, typ, t0 + dt.timedelta(minutes=minute))

    rows = [
        # user 1: view -> click -> purchase, fully ordered: all 3 stages
        ev(1, "view", 0), ev(1, "click", 1), ev(1, "purchase", 2),
        # user 2: click BEFORE first view, no later click: stage 1 only
        ev(2, "click", 0), ev(2, "view", 1),
        # user 3: view -> click, but purchase PRECEDES the click: stage 2
        ev(3, "view", 0), ev(3, "purchase", 1), ev(3, "click", 2),
        # user 4: never views -> no stages (not even stage 1)
        ev(4, "purchase", 0),
    ]
    e = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = funnel_steps(e).collect()[0]
    assert (got.n_users, got.n_stage1, got.n_stage2, got.n_stage3) == (4, 3, 2, 1)


def test_readability_guards_empty_documents_and_counts(spark):
    """Zero-word documents must score NULL (guarded division); counts and
    the Flesch formula are pinned on crafted texts (the corpus has no
    empty/punctuated docs at small SFs, so the guard is crafted here)."""
    from projet_pipeline_bigdata_org_spark.operators.textops import readability

    d = spark.createDataFrame(
        [
            (1, "s", ""),                        # empty: NULL score
            (2, "s", "   "),                     # whitespace only: NULL
            (3, "s", "the cat sat. it ran!"),    # 2 sentences, 5 words
            (4, "s", "zzz"),                     # 0 syllables, finite score
        ],
        "doc_id long, source string, text string",
    )
    rows = {r.doc_id: r for r in readability(d).collect()}
    assert rows[1].n_words == 0 and rows[1].flesch is None
    assert rows[2].n_words == 0 and rows[2].flesch is None
    r3 = rows[3]
    assert (r3.n_words, r3.n_sentences, r3.n_syllables) == (5, 2, 5)
    assert abs(r3.flesch - (206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5))) < 1e-12
    assert rows[4].n_syllables == 0 and rows[4].flesch is not None


def test_power_iteration_recovers_planted_direction(spark):
    """On a spectrum WITH a real gap (planted dominant direction + small
    orthogonal noise), two fixed-point iterations must align with the
    planted direction (|cos| > 0.99) — and a rerun is bit-identical
    (pure integer arithmetic). The corpus itself is near-isotropic
    (eigengap ≈ 1.01), which is exactly why this invariant uses a
    crafted fixture; the oracle parity gate covers the corpus run."""
    import math
    import random

    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        power_iteration_direction,
    )

    rng = random.Random(7)
    dim = 16
    d = [rng.gauss(0, 1) for _ in range(dim)]
    nd = math.sqrt(sum(t * t for t in d))
    d = [t / nd for t in d]
    rows = []
    for i in range(200):
        alpha = rng.gauss(0, 1.0)
        vec = [alpha * d[k] + rng.gauss(0, 0.05) for k in range(dim)]
        rows.append((i, [float(t) for t in vec]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.dim: r.v for r in power_iteration_direction(e).collect()}
    v = [out[k] for k in range(dim)]
    nv = math.sqrt(sum(t * t for t in v))
    cos = abs(sum(v[k] * d[k] for k in range(dim))) / nv
    assert cos > 0.99, cos
    again = {r.dim: r.v for r in power_iteration_direction(e).collect()}
    assert out == again


def test_dq_expectations_sheet_shape_and_clean_corpus(spark, sf_dir):
    """The audit emits exactly the six declared expectations with
    consistent counts; the synthetic corpus is contract-clean, so every
    expectation passes with violation_rate 0.0 (a non-zero rate here
    would mean the generator or the audit broke)."""
    rows = {r.expectation: r for r in plans.get("dq_expectations_audit").fn(spark, sf_dir).collect()}
    want = {
        "orders.custkey_in_customer",
        "orders.totalprice_positive",
        "orders.orderdate_in_range",
        "orders.orderkey_unique",
        "orders.priority_not_null",
        "lineitem.quantity_in_domain",
    }
    assert set(rows) == want
    for r in rows.values():
        assert r.n_checked > 0
        assert r.n_violations == 0 and r.passed and r.violation_rate == 0.0


def test_epoch_schedule_ceiling_arithmetic(spark, sf_dir):
    """epochs must equal ceil(target/available) exactly, and the uniform
    target share must divide the budget by the live source count."""
    from projet_pipeline_bigdata_org_spark.operators.curation import EPOCH_BUDGET

    rows = plans.get("curate_epoch_schedule").fn(spark, sf_dir).collect()
    n_sources = len(rows)
    for r in rows:
        assert r.target_tokens == EPOCH_BUDGET // n_sources
        assert r.epochs == -(-r.target_tokens // r.n_tokens)  # ceil
        assert r.epochs >= 1


def test_scd2_intervals_tile_each_users_timeline(spark, sf_dir):
    """Per user: versions are dense from 1, exactly one current row,
    valid_from strictly increases, and each valid_to equals the next
    version's valid_from (half-open interval chain with no gaps)."""
    from collections import defaultdict

    rows = plans.get("dim_scd2_intervals").fn(spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    assert by_user, "no purchase events at this SF"
    for chain in by_user.values():
        chain.sort(key=lambda r: r.version)
        assert [r.version for r in chain] == list(range(1, len(chain) + 1))
        assert sum(r.is_current for r in chain) == 1 and chain[-1].is_current
        for a, b in zip(chain, chain[1:]):
            assert a.valid_to == b.valid_from
            assert a.valid_from < b.valid_from
        assert chain[-1].valid_to is None


def test_retention_cohort_week_zero_is_complete(spark, sf_dir):
    """Offset-0 retention is 1.0 by construction (every user is active in
    their own first-seen week), offsets are non-negative, and no offset
    cell exceeds its cohort size."""
    rows = plans.get("event_retention_cohorts").fn(spark, sf_dir).collect()
    assert rows, "no cohorts"
    for r in rows:
        assert r.week_offset >= 0
        assert 0 < r.n_active <= r.n_cohort
        if r.week_offset == 0:
            assert r.n_active == r.n_cohort and r.retention == 1.0


def test_remove_top_direction_energy_bounds(spark, sf_dir):
    """Projection energy cannot exceed total energy (0 ≤ top_dir_energy ≤ 1,
    residual ≥ 0 up to the double rounding of the last step), and on the
    planted-direction fixture from the power-iteration test the extracted
    direction must explain nearly all of a strongly-aligned vector's
    energy."""
    rows = plans.get("embed_remove_top_direction").fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.norm2_scaled >= 0
        assert -1e-9 <= r.top_dir_energy <= 1.0 + 1e-9
        assert r.residual_norm2_scaled >= -1e6  # double tail of an exact int


def test_kmeans_fixed_point_partitions_and_determinism(spark, sf_dir):
    """Assignments form a partition (sizes sum to n, every cluster id is
    one of the K initials' lineage 0..K-1), distances are non-negative,
    and a rerun is bit-identical (pure integer arithmetic, deterministic
    (dist, cid) tie-break — no RNG anywhere)."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.clustering import KM_K

    fn = plans.get("cluster_kmeans_fixed_point").fn
    rows = fn(spark, sf_dir).collect()
    n = load(spark, sf_dir, "embeddings").count()
    assert len(rows) == n
    sizes = {}
    for r in rows:
        assert 0 <= r.cluster < KM_K and r.dist >= 0
        sizes[r.cluster] = sizes.get(r.cluster, 0) + 1
    for r in rows:
        assert r.cluster_size == sizes[r.cluster]
    assert sum(sizes.values()) == n
    again = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert sorted(map(tuple, rows)) == again


def test_chi_square_nonnegative_and_cell_bounded(spark, sf_dir):
    """Chi² ≥ 0, the cell count is bounded by |types| × CHI_BUCKETS, and a
    rerun is bit-identical (fixed-order windowed accumulation)."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.outliers import CHI_BUCKETS

    fn = plans.get("dist_chi_square_independence").fn
    row = fn(spark, sf_dir).collect()[0]
    n_types = load(spark, sf_dir, "events").select("event_type").distinct().count()
    assert row.chi2 >= 0.0
    assert 0 < row.n_cells <= n_types * CHI_BUCKETS
    assert fn(spark, sf_dir).collect()[0].chi2 == row.chi2


def test_markov_rows_are_distributions_and_mass_balances(spark, sf_dir):
    """Each from_type's outgoing probabilities sum to 1, and total
    transition mass equals |events| − |users| (every user contributes
    exactly n_events − 1 consecutive pairs)."""
    from collections import defaultdict

    from projet_pipeline_bigdata_org_spark.catalog import load

    rows = plans.get("event_markov_transitions").fn(spark, sf_dir).collect()
    by_from = defaultdict(float)
    total = 0
    for r in rows:
        assert 0 < r.prob <= 1.0
        by_from[r.from_type] += r.prob
        total += r.n
    for s in by_from.values():
        assert abs(s - 1.0) < 1e-9
    e = load(spark, sf_dir, "events")
    assert total == e.count() - e.select("user_id").distinct().count()


def test_fixed_point_operators_invariant_to_shuffle_partitioning(spark, sf_dir):
    """The round-7 exactness claim, falsified or proven: the fixed-point /
    fixed-order operators must return BIT-IDENTICAL results when the
    shuffle fan-out changes (7 vs the session's 32 partitions reshapes
    every aggregation's combine order — a double-summed implementation
    drifts here; integer arithmetic and fixed-order windows cannot)."""
    names = (
        "algo_pagerank",
        "cluster_kmeans_fixed_point",
        "embed_power_iteration",
        "dist_chi_square_independence",
        "bm25_rank_documents",
    )
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    baseline = {}
    for n in names:
        baseline[n] = sorted(map(tuple, plans.get(n).fn(spark, sf_dir).collect()))
    try:
        spark.conf.set(key, "7")
        for n in names:
            got = sorted(map(tuple, plans.get(n).fn(spark, sf_dir).collect()))
            assert got == baseline[n], f"{n} drifted under repartitioning"
    finally:
        spark.conf.set(key, prev)


def test_dsir_fixture_branches_and_prior(spark, sf_dir):
    """curate_dsir_select's crafted fixtures pin both selection branches:
    the raw verbatim copy of a target document scores the maximal ratio
    DSIR_SCALE and selects; the repeated corpus-unseen bigram scores
    DSIR_SCALE DIV 61 and does not; the prior sits strictly between."""
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        DSIR_SCALE,
        curate_dsir_select,
    )

    rows = {
        r.doc_id: r
        for r in curate_dsir_select(spark, sf_dir).filter(F.col("doc_id") < 0).collect()
    }
    copy, junk = rows[-102], rows[-103]
    assert copy.dsir_avg == DSIR_SCALE and copy.selected
    assert junk.dsir_avg == DSIR_SCALE // 61 and not junk.selected
    assert junk.dsir_avg < copy.prior < DSIR_SCALE
    assert copy.prior == junk.prior  # one corpus-wide scalar
    # and the corpus itself exercises both branches (not fixture-only)
    split = {
        r.selected: r.n
        for r in curate_dsir_select(spark, sf_dir)
        .filter(F.col("doc_id") >= 0)
        .groupBy("selected")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert split.get(True, 0) > 0 and split.get(False, 0) > 0


def test_quality_classifier_margin_matches_python_model(spark):
    """The fixed-point linear-classifier margin is pinned against an
    independent pure-Python reimplementation of the hash family and the
    LCG weight vector on crafted tokens (single char, long token,
    punctuation, repeated tokens, empty doc)."""
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        QC_A,
        QC_BUCKETS,
        QC_C,
        QC_M,
        qc_margin,
    )
    from projet_pipeline_bigdata_org_spark.operators.textops import ws_tokens

    def pyw(tok: str) -> int:
        h = (ord(tok[0]) * 31 + len(tok) * 7 + ord(tok[-1]) * 13) % QC_BUCKETS
        return (h * QC_A + QC_C) % QC_M - QC_M // 2

    texts = [
        "a",
        "the quick brown fox! jumps?? over)( the LAZY dog",
        "supercalifragilisticexpialidocious x x x",
        "",
        "  spaced   out  tokens ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {
        r.i: r.m
        for r in df.select("i", qc_margin(ws_tokens("text")).alias("m")).collect()
    }
    for i, t in enumerate(texts):
        want = sum(pyw(tok) for tok in t.split(" ") if tok)
        assert got[i] == want, (i, t, got[i], want)


def test_hard_negatives_labels_differ_and_are_true_topk(spark, sf_dir):
    """Every mined hard negative must carry a label different from its
    query's, and per query the rows must be exactly the TOPK
    highest-cosine different-label vectors (checked against an
    independent brute-force recomputation)."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        N_QUERIES,
        TOPK,
        dot,
        norm,
    )

    got = _Q["embed_hard_negatives"].fn(spark, sf_dir).collect()
    assert all(r.q_label != r.n_label for r in got)
    per_q = {}
    for r in got:
        per_q.setdefault(r.q_id, []).append(r)
    assert set(per_q) == set(range(N_QUERIES))
    assert all(len(v) == TOPK for v in per_q.values())

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    cos = dot(F.col("q_emb"), F.col("embedding")) / (
        norm(F.col("q_emb")) * norm(F.col("embedding"))
    )
    brute = (
        e.join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .select("q_id", F.col("vec_id").alias("n_id"), cos.alias("cosine"))
        .collect()
    )
    best = {}
    for r in brute:
        best.setdefault(r.q_id, []).append((-r.cosine, r.n_id))
    for q_id, rows in per_q.items():
        want = [nid for _, nid in sorted(best[q_id])[:TOPK]]
        assert [r.n_id for r in sorted(rows, key=lambda r: r.rnk)] == want


def test_leakage_safe_split_keeps_clusters_whole(spark, sf_dir):
    """curate_leakage_safe_split's invariant: every near-dup pair lands in
    the SAME split (zero leakage edges), every document is assigned, and
    both splits are non-empty."""
    split_rows = _Q["curate_leakage_safe_split"].fn(spark, sf_dir).collect()
    split_of = {r.doc_id: r.split for r in split_rows}
    from projet_pipeline_bigdata_org_spark.catalog import load

    assert len(split_of) == load(spark, sf_dir, "documents").count()
    assert {r.split for r in split_rows} == {"train", "holdout"}
    pairs = _Q["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    assert pairs  # non-vacuous: the corpus has near-dup pairs
    leaks = [
        (p.a_id, p.b_id)
        for p in pairs
        if split_of[p.a_id] != split_of[p.b_id]
    ]
    assert leaks == []
    # the per-document coin WOULD leak on this corpus — i.e. the cluster
    # grouping is load-bearing, not vacuously aligned
    from projet_pipeline_bigdata_org_spark.functions.hashing import hash_coin
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        HOLDOUT_THRESHOLD,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(hash_coin("doc_id") < HOLDOUT_THRESHOLD, "holdout")
        .otherwise("train")
        .alias("split"),
    )
    naive = {r.doc_id: r.split for r in d.collect()}
    naive_leaks = [p for p in pairs if naive[p.a_id] != naive[p.b_id]]
    assert naive_leaks, "corpus cannot distinguish cluster-aware from naive split"


def test_multimodal_wav_bmp_headers_and_uniform_strictness():
    """WAV RIFF chunk walk and BMP BITMAPINFOHEADER parse, plus the
    malformed-input paths that must uniformly stub out: truncated chunks,
    OS/2-style short DIB headers, degenerate dimensions, a text payload
    that happens to start with 'BM'."""
    from projet_pipeline_bigdata_org_spark.operators.multimodal import (
        _bmp_fixture,
        _wav_fixture,
        decode_media,
        decode_media_real,
        decode_media_stub,
    )

    wav = decode_media_real(_wav_fixture(16_000, 1, 320))
    assert (wav["width"], wav["height"], wav["n_frames"], wav["mime"]) == (
        16_000, 1, 320, "audio/wav",
    )
    bmp = decode_media_real(_bmp_fixture(33, 21))
    assert (bmp["width"], bmp["height"], bmp["n_frames"], bmp["mime"]) == (
        33, 21, 1, "image/bmp",
    )
    # negative height = published top-down flag, not a negative dimension
    td = bytearray(_bmp_fixture(33, 21))
    td[22:26] = (-21).to_bytes(4, "little", signed=True)
    assert decode_media_real(bytes(td))["height"] == 21
    for bad in (
        _wav_fixture(16_000, 1, 320)[:-1],   # truncated data chunk
        _wav_fixture(16_000, 1, 320)[:20],   # truncated fmt chunk
        b"RIFF\x04\x00\x00\x00WAVE",         # no fmt/data chunks at all
        _bmp_fixture(33, 21)[:40],           # truncated DIB
        _bmp_fixture(0, 21),                 # degenerate width
    ):
        with pytest.raises(NotImplementedError):
            decode_media_real(bad)
        assert decode_media(bad) == decode_media_stub(bad)
    # a TEXT payload starting with 'BM' has no reserved NUL bytes — it
    # must take the stub path, never a bogus BMP parse
    txt = b"BM25 ranks documents by saturating term frequency" + bytes(20)[:0]
    assert decode_media(txt) == decode_media_stub(txt)


def test_rolling_zscore_flags_spike_and_respects_prior_only_window(spark):
    """Crafted stream: 60 constant-value events then one 100x spike — the
    spike must flag (prior window has zero variance) and the constant run
    must not; the first ZS_MIN_N events of a (type, day) can never flag
    (insufficient history); the spike must NOT damp its own threshold
    (prior-only frame)."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import outliers

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (i, base + datetime.timedelta(seconds=i), 1, "click", 5.0, "{}")
        for i in range(60)
    ]
    rows.append((60, base + datetime.timedelta(seconds=60), 1, "click", 500.0, "{}"))
    rows.extend(
        (61 + i, base + datetime.timedelta(seconds=61 + i), 1, "click", 5.0, "{}")
        for i in range(5)
    )
    sdf = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    with mock.patch.object(outliers, "load", lambda _s, _d, _t: sdf):
        got = outliers.anomaly_rolling_zscore(spark, "ignored").collect()
    assert [r.event_id for r in got] == [60]
    spike = got[0]
    assert spike.cents == 50_000
    # zero-variance prior window: threshold is 0, deviation strictly above
    assert spike.thr2_scaled == 0 and spike.dev2_scaled > 0


def test_countmin_overestimates_on_colliding_vocab_and_never_undercounts(spark):
    """Count-min structural invariants on a crafted corpus: every probe's
    estimate >= its true count, and tokens sharing the probe's full
    feature projection (first/second/last codepoint + length — the
    portable hash's entire view of a token) collide in EVERY row, so the
    probe's overcount equals their count exactly. That full-projection
    collision is feature hashing's documented behavior, and the 4-row MIN
    cannot correct it — precisely the overestimate the sketch contract
    permits."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import analytics_ext

    # 'scbn'/'sccn'/'scdn' share scan's (s, c, 4, n) projection
    vocab = ["scan", "data", "scbn", "sccn", "scdn"] + [
        f"tok{i}meta" for i in range(100)
    ]
    docs = [
        (i, " ".join(vocab[i * 15 : (i + 1) * 15]))
        for i in range((len(vocab) + 14) // 15)
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    with mock.patch.object(analytics_ext, "load", lambda _s, _d, _t: sdf):
        got = analytics_ext.agg_countmin_terms(spark, "ignored").collect()
    by_term = {r.term: r for r in got}
    assert all(r.overcount >= 0 for r in got)  # count-min NEVER undercounts
    assert by_term["scan"].true_count == 1 and by_term["data"].true_count == 1
    assert by_term["scan"].overcount >= 3  # the three full-projection twins
    assert by_term["zzznotaword"].true_count == 0


def test_label_propagation_separates_disconnected_cliques(spark):
    """LPA structural invariant on a crafted graph: two disconnected
    co-purchase cliques must end in two distinct communities (labels can
    never cross components), each clique internally uniform after the
    unrolled synchronous rounds."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import grouped

    rows = [(1, p) for p in range(1, 6)] + [(2, p) for p in range(101, 106)]
    sdf = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    with mock.patch.object(grouped, "load", lambda _s, _d, _t: sdf):
        got = {r.node: r.community for r in grouped.algo_label_propagation(
            spark, "ignored").collect()}
    a = {got[p] for p in range(1, 6)}
    b = {got[p] for p in range(101, 106)}
    assert len(a) == 1 and len(b) == 1  # each clique converged to one label
    assert a != b  # disconnected components never share a community


def test_repeated_passages_finds_fixture_overlap_and_respects_distinctness(spark, sf_dir):
    """The near-dup fixture pair (one token rewritten out of 26) must share
    passages; every reported passage spans >= 2 DISTINCT docs; a doc
    repeating a passage internally must not count twice."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import dedup

    got = _Q["dedup_repeated_passages"].fn(spark, sf_dir).collect()
    assert all(r.n_docs >= 2 for r in got)
    fixture_hits = [r for r in got if r.keeper_doc_id == 2_000_000_000]
    # base doc (26 tokens) vs near-copy: windows not covering the rewritten
    # token survive — at least one 15-token window qualifies
    assert fixture_hits, "fixture near-dup pair shares no passage?"
    # internal repetition must not fake cross-doc spread: one doc that
    # repeats a passage 3 times + one other doc -> n_docs == 2
    p15 = " ".join(f"w{i}" for i in range(15))
    crafted = spark.createDataFrame(
        [(1, f"{p15} {p15} {p15}"), (2, p15)], "doc_id long, text string"
    )
    with mock.patch.object(dedup, "load", lambda _s, _d, _t: crafted):
        rows = {r.passage: r for r in dedup.dedup_repeated_passages(
            spark, "ignored").collect()}
    assert rows[p15].n_docs == 2 and rows[p15].keeper_doc_id == 1


def test_binary_sign_topk_bounds_and_self_exclusion(spark, sf_dir):
    """Hamming distances stay within [0, 64], the query vector never ranks
    itself, and each query returns exactly TOPK neighbors."""
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        N_QUERIES,
        TOPK,
    )

    got = _Q["embed_binary_sign_topk"].fn(spark, sf_dir).collect()
    assert all(0 <= r.hamming <= 64 for r in got)
    assert all(r.q_id != r.n_id for r in got)
    per_q = {}
    for r in got:
        per_q.setdefault(r.q_id, 0)
        per_q[r.q_id] += 1
    assert per_q == {q: TOPK for q in range(N_QUERIES)}


def test_curriculum_order_stages_and_contiguous_ranks(spark, sf_dir):
    """Curriculum invariants: stage = n_tokens DIV 50 exactly (easy-to-hard
    monotone), every (stage, shard) carries contiguous ranks 1..n, and the
    assignment covers every document exactly once."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        CURRICULUM_STAGE_TOKENS,
    )

    got = _Q["curate_curriculum_order"].fn(spark, sf_dir).collect()
    assert len(got) == load(spark, sf_dir, "documents").count()
    shard_ranks = {}
    for r in got:
        assert r.stage == r.n_tokens // CURRICULUM_STAGE_TOKENS
        shard_ranks.setdefault((r.stage, r.shard), []).append(r.rank_in_shard)
    for ranks in shard_ranks.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_bloom_no_false_negatives_and_deterministic_false_positive(spark, sf_dir):
    """Bloom structural contract: corpus probe terms MUST report member
    (no false negatives — the defining guarantee), the absent term must
    not, and the crafted full-projection twin 'sczn' (shares every
    feature the portable hash sees with 'scan') must report member with
    true_count 0 — the deterministic false-positive class."""
    rows = {r.term: r for r in _Q["agg_bloom_membership"].fn(spark, sf_dir).collect()}
    for present in ("scan", "data"):
        assert rows[present].maybe_member and rows[present].true_count > 0
    assert not rows["zzznotaword"].maybe_member
    assert rows["zzznotaword"].true_count == 0
    fp = rows["sczn"]
    assert fp.maybe_member and fp.true_count == 0  # false positive, by design
    # member iff ALL positions set
    for r in rows.values():
        assert r.maybe_member == (r.n_set == r.n_positions)


def test_rolling_zscore_null_and_extreme_readings_are_inert_or_clamped(spark):
    """NULL readings must be inert (no -CAP pollution of the window
    statistics, never flagged, not counted in n_prior) and beyond-cap
    readings saturate instead of overflowing the BIGINT arithmetic."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import outliers

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (i, base + datetime.timedelta(seconds=i), 1, "click",
         None if i % 3 == 2 else 5.0, "{}")
        for i in range(45)
    ]
    rows.append((45, base + datetime.timedelta(seconds=45), 1, "click", 1e12, "{}"))
    sdf = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    with mock.patch.object(outliers, "load", lambda _s, _d, _t: sdf):
        got = outliers.anomaly_rolling_zscore(spark, "ignored").collect()
    # only the extreme reading flags; its cents saturate at the cap and its
    # prior window holds the 30 non-null constants (NULLs not counted)
    assert [r.event_id for r in got] == [45]
    assert got[0].cents == outliers.ZS_CENT_CAP
    assert got[0].n_prior == 30


def test_passage_prune_keeper_retains_and_nonkeeper_excises(spark, sf_dir):
    """ExactSubstr applier on the near-dup fixture: the min-id base doc is
    the keeper of every shared passage (retains verbatim), the one-token
    rewrite loses its shared spans, the novel doc is untouched."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        INCREMENTAL_NEARDUP_FIXTURE_ROWS,
    )

    texts = {i: t for i, t, _ in INCREMENTAL_NEARDUP_FIXTURE_ROWS}
    got = {r.doc_id: r for r in _Q["dedup_passage_prune"].fn(spark, sf_dir).collect()}
    base, near, novel = got[2_000_000_000], got[2_000_000_008], got[2_000_000_018]
    assert base.pruned_text == texts[2_000_000_000] and base.n_tokens_removed == 0
    assert near.n_tokens_removed > 0
    assert near.pruned_text != texts[2_000_000_008]
    # the rewritten token itself sits in windows the base doc does NOT
    # share, so it must SURVIVE the excision (prose preservation)
    assert "rescraped" in near.pruned_text.split()
    assert novel.pruned_text == texts[2_000_000_018] and novel.n_tokens_removed == 0


def test_passage_prune_span_union_and_full_excision(spark):
    """Crafted-corpus exact semantics: covered positions are the UNION of
    qualifying windows (a doc made of two back-to-back repeated passages
    prunes to empty — seam windows are unique to it and do not protect
    it), surrounding prose survives, keeper retains, NULL text passes
    through NULL."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import dedup

    p15 = " ".join(f"w{i}" for i in range(15))
    crafted = spark.createDataFrame(
        [
            (1, p15),                      # keeper: retains
            (2, f"pre eamble {p15} post"),  # excises the span, keeps prose
            (3, f"{p15} {p15}"),            # both copies covered -> empty
            (4, None),                      # NULL text passes through
        ],
        "doc_id long, text string",
    )
    with mock.patch.object(dedup, "load", lambda _s, _d, _t: crafted):
        got = {
            r.doc_id: r
            for r in dedup.dedup_passage_prune(spark, "ignored").collect()
        }
    assert got[1].pruned_text == p15 and got[1].n_tokens_removed == 0
    assert got[2].pruned_text == "pre eamble post"
    assert got[2].n_tokens_removed == 15
    assert got[3].pruned_text == "" and got[3].n_tokens_removed == 30
    assert got[4].pruned_text is None and got[4].n_tokens_removed == 0


def test_hashed_passage_audit_matches_string_audit(spark, sf_dir):
    """The production (16-byte hash-pair) audit and the oracle-checkable
    string audit must select IDENTICAL (n_docs, keeper) sets — the
    invariant that lets dedup_passage_prune shuffle fixed-width keys
    while its DuckDB twin rebuilds from strings."""
    from projet_pipeline_bigdata_org_spark.operators import dedup

    docs = dedup._passage_docs(spark, sf_dir)
    hashed = sorted(
        map(tuple, dedup.repeated_passage_audit_hashed(docs).collect())
    )
    mapped = sorted(
        map(
            tuple,
            _Q["dedup_repeated_passages"]
            .fn(spark, sf_dir)
            .select(
                *dedup.passage_hash_pair(F.col("passage")),
                "n_docs",
                "keeper_doc_id",
            )
            .collect(),
        )
    )
    assert hashed == mapped and len(hashed) > 0


def test_perplexity_filter_hand_checked_micro_corpus(spark):
    """Exact surprisal arithmetic on a 2-doc corpus, checked by hand:
    corpus = {"a b c a b c a b c", "x y z"}; V=6; c3(abc)=3, c3(bca)=
    c3(cab)=2, c3(xyz)=1; contexts 3/2/2/1. surp = bits(c2+V)-bits(c3+1):
    abc -> bits(9)-bits(4)=1, bca/cab -> bits(8)-bits(3)=2, xyz ->
    bits(7)-bits(2)=1. doc1: mass=11, n=7; doc2: mass=1, n=1; corpus
    totals 12/8 -> doc1 is tail (88>84), doc2 is not (8<12)."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import curation

    crafted = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "x y z")], "doc_id long, text string"
    )
    with mock.patch.object(curation, "load", lambda _s, _d, _t: crafted), \
         mock.patch.object(curation, "PPL_FIXTURE_ROWS", ()):
        got = {
            r.doc_id: r
            for r in curation.curate_perplexity_filter(spark, "ignored").collect()
        }
    assert (got[1].n_trigrams, got[1].surprisal_bits) == (7, 11)
    assert (got[2].n_trigrams, got[2].surprisal_bits) == (1, 1)
    assert got[1].mean_surprisal_bits == 11 / 7
    assert got[1].ppl_tail is True and got[2].ppl_tail is False


def test_perplexity_fixture_pins_both_branches(spark, sf_dir):
    """Against the real corpus: the 50x-repeated-trigram fixture doc sits
    below the corpus mean (not tail); the frequent-context/unpredictable-
    continuation doc sits far above it (tail); both branches non-empty
    corpus-wide."""
    rows = _Q["curate_perplexity_filter"].fn(spark, sf_dir).collect()
    got = {r.doc_id: r for r in rows}
    assert got[-101].ppl_tail is False
    assert got[-102].ppl_tail is True
    assert got[-101].mean_surprisal_bits < got[-102].mean_surprisal_bits
    assert any(r.ppl_tail for r in rows) and any(not r.ppl_tail for r in rows)


def test_cascade_recall_vs_exact_topk(spark, sf_dir):
    """Recall@k of the two-stage cascade against the exact brute-force
    cosine top-k, pinned on the testdata: >= 0.75 at the calibrated 16x
    shortlist (measured 0.92 at sf0.001, 0.80 at sf0.01 — near-random
    synthetic vectors are the worst case for sign bits). Also pins the
    contract: exactly TOPK rows per query, candidates only from the
    Hamming shortlist (hamming rides through), cosines EXACT (bit-equal
    to the brute-force score for every overlapping pair)."""
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        N_QUERIES,
        TOPK,
    )

    exact = {
        (r.q_id, r.n_id): r.cosine
        for r in _Q["embed_cosine_topk"].fn(spark, sf_dir).collect()
    }
    casc = {
        (r.q_id, r.n_id): r.cosine
        for r in _Q["embed_cascade_topk"].fn(spark, sf_dir).collect()
    }
    per_q = {}
    for q, _ in casc:
        per_q[q] = per_q.get(q, 0) + 1
    assert per_q == {q: TOPK for q in range(N_QUERIES)}
    overlap = set(exact) & set(casc)
    assert len(overlap) / len(exact) >= 0.75
    assert all(exact[k] == casc[k] for k in overlap)  # scores never approximate


def test_embed_decontaminate_flags_planted_paraphrase_only(spark, sf_dir):
    """The planted paraphrase (-26: cosine 0.998 to benchmark -25 but, by
    construction, zero shingle overlap — the leak the lexical pass cannot
    see) must be the ONLY contaminated row on the synthetic corpus
    (natural corpus-vs-bench cosine tops out at 0.459 < 0.6); the
    antipode (-27, Hamming 64) must not flag; benchmark rows themselves
    never appear in the output."""
    rows = _Q["embed_decontaminate"].fn(spark, sf_dir).collect()
    got = {r.vec_id: r for r in rows}
    assert got[-26].contaminated is True and got[-26].n_bench_near == 1
    assert got[-27].contaminated is False and got[-27].n_bench_near == 0
    assert [r.vec_id for r in rows if r.contaminated] == [-26]
    assert -25 not in got  # bench split excluded from the audited corpus
    assert all(r.vec_id % 25 != 0 for r in rows)


def test_incremental_passages_fixture_straddles_split(spark, sf_dir):
    """The near-dup fixture's base doc (residue 0) sits in history; its
    one-token rewrite (residue 8) must flag with >=1 repeated window and
    n_hist_repeated < n_passages (the rewritten token's windows are
    novel); the novel doc must not flag."""
    got = {
        r.doc_id: r
        for r in _Q["dedup_incremental_passages"].fn(spark, sf_dir).collect()
    }
    assert 2_000_000_000 not in got  # history split is not reported
    near, novel = got[2_000_000_008], got[2_000_000_018]
    assert near.flagged is True and 0 < near.n_hist_repeated < near.n_passages
    assert novel.flagged is False and novel.n_hist_repeated == 0


def test_incremental_passages_null_text_reports_zero_in_both_twins(spark):
    """NULL text in the batch split must report (n_passages=0, flagged
    false) — and the DuckDB twin must agree (the r8 size(NULL) pitfall:
    without COALESCE, LEN of a NULL shingle list is NULL, not 0)."""
    import duckdb
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import dedup

    p15 = " ".join(f"w{i}" for i in range(15))
    crafted = spark.createDataFrame(
        [(10, p15), (18, None), (28, f"pre {p15} post")],
        "doc_id long, text string",
    )
    with mock.patch.object(dedup, "load", lambda _s, _d, _t: crafted):
        got = {
            tuple(r)
            for r in dedup.dedup_incremental_passages(spark, "ignored").collect()
        }
    con = duckdb.connect()
    con.register(
        "documents",
        __import__("pandas").DataFrame(
            {"doc_id": [10, 18, 28], "text": [p15, None, f"pre {p15} post"]}
        ),
    )
    from projet_pipeline_bigdata_org_spark import plans

    want = {
        tuple(r)
        for r in con.execute(
            plans.registry.all_specs()["dedup_incremental_passages"].oracle
        ).fetchall()
    }
    assert got == want
    by_id = {r[0]: r for r in got}
    assert by_id[18] == (18, 0, 0, False)     # NULL text: zero, unflagged
    assert by_id[28][3] is True               # shares the history window


def test_triangle_count_empty_graph_reports_zero_not_null(spark):
    """SUM over an empty edge set is NULL in Spark — the compact-forward
    rewrite must coalesce it back to the 0 the oracle's COUNT(*) (and the
    pre-r9 COUNT form) reports. Single-part orders produce no co-purchase
    edges at all."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import grouped

    li = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], ["l_orderkey", "l_partkey"]
    )
    with mock.patch.object(grouped, "load", lambda _s, _d, _t: li):
        out = plans.get("graph_triangle_count").fn(spark, "ignored").first()
    assert (out.n_vertices, out.n_edges, out.n_triangles) == (0, 0, 0)


def test_pq_encode_seeds_self_code_and_codes_in_range(spark, sf_dir):
    """PQ invariants: the PQ_K codebook-seed vectors must encode to
    themselves exactly (err_q == 0 — each subvector's nearest centroid is
    itself), every code lies in [0, PQ_K), and every 64-dim vector carries
    ceil(64/PQ_SUB_DIMS) codes."""
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        PQ_K,
        PQ_SUB_DIMS,
    )

    rows = plans.get("compress_pq_encode").fn(spark, sf_dir).collect()
    assert rows
    dim = 64
    for r in rows:
        codes = [int(c) for c in r.codes_csv.split(",")]
        assert len(codes) == -(-dim // PQ_SUB_DIMS) == r.n_subs, r.vec_id
        assert all(0 <= c < PQ_K for c in codes), r.vec_id
        assert r.err_q >= 0, r.vec_id
        if r.vec_id < PQ_K:
            # own subvector is a centroid at distance 0 (a tie can pick a
            # smaller cid with an identical subvector, but never err > 0)
            assert r.err_q == 0, r.vec_id
    # the encoder must actually discriminate: non-seed vectors use more
    # than one distinct code overall (a degenerate all-zero coder would not)
    non_seed = [r for r in rows if r.vec_id >= PQ_K]
    assert len({r.codes_csv for r in non_seed}) > 1


def test_pq_cascade_recall_vs_exact_integer_l2(spark, sf_dir):
    """The PQ cascade's recall@TOPK against the EXACT integer-L2 ranking
    (recomputed independently in numpy under the identical PW_XS
    quantization) must clear the pinned floor — measured 0.94/0.82 at
    sf0.001/sf0.01; pinned >= 0.7 (the near-random synthetic vectors are
    PQ's worst case; real corpora cluster and do better)."""
    from collections import defaultdict

    import numpy as np
    import pyarrow.parquet as pq

    from projet_pipeline_bigdata_org_spark.catalog import table_path
    from projet_pipeline_bigdata_org_spark.operators.similarity import TOPK

    got = defaultdict(set)
    for r in plans.get("compress_pq_topk").fn(spark, sf_dir).collect():
        got[r.q_id].add(r.n_id)
    tbl = pq.read_table(table_path(sf_dir, "embeddings"), columns=["vec_id", "embedding"])
    ids = np.array(tbl.column("vec_id").to_pylist())
    X = np.round(np.array(tbl.column("embedding").to_pylist(), dtype=np.float64) * 1e6)
    recalls = []
    for q in sorted(got):
        assert len(got[q]) == TOPK
        qi = int(np.where(ids == q)[0][0])
        d = ((X - X[qi]) ** 2).sum(axis=1)
        d[qi] = np.inf
        true_k = set(ids[np.lexsort((ids, d))[:TOPK]].tolist())
        recalls.append(len(got[q] & true_k) / TOPK)
    assert sum(recalls) / len(recalls) >= 0.7, recalls


def test_ivfpq_recall_floor(spark, sf_dir):
    """IVF-PQ: recall@TOPK vs the exact integer-L2 ranking must clear the
    pinned floor (measured 0.52/0.60 at sf0.001/sf0.01 — the compounded
    IVF-prune x PQ-shortlist tradeoff on near-random worst-case vectors;
    pinned >= 0.4, above sim_ann_ivf's 0.3 cosine floor). The sub-linear
    candidate bound is pinned separately in
    test_ivfpq_scan_is_sublinear."""
    from collections import defaultdict

    import numpy as np
    import pyarrow.parquet as pq

    from projet_pipeline_bigdata_org_spark.catalog import table_path
    from projet_pipeline_bigdata_org_spark.operators.similarity import TOPK

    got = defaultdict(set)
    for r in plans.get("sim_ann_ivfpq").fn(spark, sf_dir).collect():
        got[r.q_id].add(r.n_id)
    tbl = pq.read_table(table_path(sf_dir, "embeddings"), columns=["vec_id", "embedding"])
    ids = np.array(tbl.column("vec_id").to_pylist())
    X = np.round(np.array(tbl.column("embedding").to_pylist(), dtype=np.float64) * 1e6)
    recalls = []
    for q in sorted(got):
        assert len(got[q]) == TOPK
        qi = int(np.where(ids == q)[0][0])
        d = ((X - X[qi]) ** 2).sum(axis=1)
        d[qi] = np.inf
        true_k = set(ids[np.lexsort((ids, d))[:TOPK]].tolist())
        recalls.append(len(got[q] & true_k) / TOPK)
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_ivfpq_scan_is_sublinear(spark, sf_dir):
    """The IVF stage must prune the PQ code scan: the candidate set is
    rebuilt through the SAME shared helpers the query composes
    (_ivf_fit_assign / _ivf_query_cells — single source of truth, so the
    query cannot drift from this bound), and every query must score
    strictly (and substantially) fewer candidates than the corpus — the
    sub-linearity that distinguishes IVF-PQ from compress_pq_topk's full
    code scan."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        _ivf_fit_assign,
        _ivf_query_cells,
    )

    n = load(spark, sf_dir, "embeddings").count()
    model, assigned = _ivf_fit_assign(spark, sf_dir)
    q_cells = _ivf_query_cells(spark, model, assigned).select("q_id", "cell")
    per_q = (
        q_cells.join(assigned.select("vec_id", "cell"), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id")
        .count()
        .collect()
    )
    assert per_q
    worst = max(r["count"] for r in per_q)
    assert worst < n, (worst, n)
    # nprobe/cells = 1/4 of the corpus on average; allow cell-size skew
    assert worst <= 0.8 * n, (worst, n)


def test_ewma_residual_flags_spike_then_decays_and_nulls_are_weightless(spark):
    """Crafted stream: constant 5.00 (one NULL reading mid-run), a 100x
    spike at id 10, then recovery. The spike must flag; the NEXT event
    must also flag (alpha=1/2 smoothing still carries half the spike in
    the level); the second post-spike event must NOT (level has decayed
    inside the band) — the exact geometric-decay signature. The NULL
    reading occupies its lag slot with ZERO weight (weightless, not
    -CAP-poisoning) and is itself never flagged; a short day (< EWMA_MIN_N
    priors) never flags regardless of jump size."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import outliers

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (i, base + datetime.timedelta(seconds=i), 1, "click",
         None if i == 5 else 5.0, "{}")
        for i in range(10)
    ]
    rows.append((10, base + datetime.timedelta(seconds=10), 1, "click", 500.0, "{}"))
    rows.extend(
        (11 + i, base + datetime.timedelta(seconds=11 + i), 1, "click", 5.0, "{}")
        for i in range(5)
    )
    # a different day with 3 wild events: insufficient history, never flags
    other = datetime.datetime(2024, 3, 2, 12, 0, 0)
    rows.extend(
        (100 + i, other + datetime.timedelta(seconds=i), 1, "click", v, "{}")
        for i, v in enumerate([1.0, 900.0, 1.0])
    )
    sdf = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with mock.patch.object(outliers, "load", lambda _s, _d, _t: sdf):
        got = {r.event_id: r for r in
               outliers.anomaly_ewma_residual(spark, "ignored").collect()}
    assert sorted(got) == [10, 11]
    # spike row: all 8 lag slots filled except the NULL at lag 5 (weight
    # 2^(8-5) = 8), so den = 255 - 8 and num = 500 * (255 - 8)
    assert got[10].ewma_den == 247 and got[10].ewma_num == 500 * 247
    # first recovery row: level still carries the spike at weight 128
    assert got[11].cents == 500 and got[11].ewma_num > 500 * got[11].ewma_den


def test_hll_registers_match_hashlib_and_estimate_tracks_exact(spark):
    """The certified HLL against a pure-Python rebuild: every register's
    max_rho recomputed with hashlib over the same corpus must match, and
    the milli-scaled raw estimate must sit inside HLL's published error
    envelope for m=16 (sigma = 1.04/4 = 26%; assert within 3 sigma of
    the exact distinct count carried alongside)."""
    import hashlib
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import analytics_ext
    from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
        HLL_M,
        HLL_RHO_CAP,
        HLL_RHO_SLICE_HEX,
    )

    texts = [f"tok{i} alpha beta gamma{i % 7}" for i in range(120)]
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    with mock.patch.object(analytics_ext, "load", lambda _s, _d, _t: sdf):
        rows = analytics_ext.agg_hll_registers(spark, "ignored").collect()
    assert len(rows) == HLL_M

    vocab = {tok for t in texts for tok in t.split() if tok}
    regs = {r: 0 for r in range(HLL_M)}
    for tok in vocab:
        sha = hashlib.sha256(tok.encode()).hexdigest()
        reg = int(sha[0], 16)
        sl = sha[1 : 1 + HLL_RHO_SLICE_HEX]
        bits = bin(int(sl, 16))[2:].zfill(4 * HLL_RHO_SLICE_HEX)
        lz = len(bits) - len(bits.lstrip("0"))
        rho = HLL_RHO_CAP if lz == 4 * HLL_RHO_SLICE_HEX else lz + 1
        regs[reg] = max(regs[reg], rho)
    assert {r.register: r.max_rho for r in rows} == regs

    est = rows[0].hll_estimate_milli / 1000.0
    exact = rows[0].exact_distinct
    assert exact == len(vocab)
    assert 0.22 * exact <= est <= 1.78 * exact


def test_kmv_merge_of_group_sketches_equals_global(spark):
    """KMV mergeability, the property HLL lacks exact form for: the union
    of per-lang bottom-K hash sets, re-trimmed to K, must equal the
    global '__all__' sketch — same kth threshold, same estimate — and
    every estimate matches a pure-Python hashlib rebuild (small-set
    scopes exactly, estimator scopes inside 3 sigma ~ 78%)."""
    import hashlib
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import analytics_ext
    from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
        KMV_EST_NUMERATOR,
        KMV_FIXTURE_ROWS,
        KMV_HASH_HEX,
        KMV_K,
    )

    texts = [
        (i, " ".join(f"w{(i * 7 + j) % 60}" for j in range(12)), f"l{i % 3}")
        for i in range(90)
    ]
    sdf = spark.createDataFrame(texts, "doc_id long, text string, lang string")
    with mock.patch.object(analytics_ext, "load", lambda _s, _d, _t: sdf):
        rows = {r.lang: r for r in
                analytics_ext.agg_kmv_distinct(spark, "ignored").collect()}

    def h(tok):
        return int(hashlib.sha256(tok.encode()).hexdigest()[:KMV_HASH_HEX], 16)

    per_lang, universe = {}, set()
    for _i, t, lang in list(texts) + [(i, t, g) for i, t, g in KMV_FIXTURE_ROWS]:
        toks = {w for w in t.split() if w}
        per_lang.setdefault(lang, set()).update(toks)
        universe.update(toks)
    for lang, vocab in list(per_lang.items()) + [("__all__", universe)]:
        hashes = sorted({h(t) for t in vocab})
        kept = hashes[:KMV_K]
        r = rows[lang]
        assert r.n_kept == len(kept)
        if len(hashes) < KMV_K:
            assert r.kth_min_h is None
            assert r.kmv_estimate_milli == len(hashes) * 1000
        else:
            assert r.kth_min_h == kept[-1]
            assert r.kmv_estimate_milli == KMV_EST_NUMERATOR // kept[-1]
            assert 0.22 * len(hashes) <= r.kmv_estimate_milli / 1000 <= 1.78 * len(hashes)
        assert r.exact_distinct == len(vocab)
    # the merge identity itself: union of per-lang kept sets, re-trimmed
    merged = sorted(set().union(*[
        set(sorted({h(t) for t in v})[:KMV_K]) for v in per_lang.values()
    ]))[:KMV_K]
    assert merged == sorted({h(t) for t in universe})[:KMV_K]


def test_boilerplate_lines_fold_case_and_keep_unique_bodies(spark):
    """With the corpus mocked to two quote-sharing docs, the fixture
    rider (unioned INSIDE the operator) drives the result: the footer
    shared by all four rider docs (one in different case/padding — the
    normalization must fold it) flags with n_docs=4 and the min-id
    keeper; the newsletter line flags with exactly BOILERPLATE_MIN_DOCS;
    every unique body line and the 2-document quote near-miss stay out;
    empty lines never flag."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import dedup

    extra = [
        (1, "legit quote line\nunique tail one"),
        (2, "legit quote line\nunique tail two\n\n  \n"),
    ]
    sdf = spark.createDataFrame(extra, "doc_id long, text string")
    with mock.patch.object(dedup, "load", lambda _s, _d, _t: sdf):
        got = {r.line: r for r in
               dedup.dedup_boilerplate_lines(spark, "ignored").collect()}
    assert set(got) == {"all rights reserved", "subscribe to our newsletter"}
    assert got["all rights reserved"].n_docs == 4
    assert got["all rights reserved"].keeper_doc_id == 91_000_001
    assert got["subscribe to our newsletter"].n_docs == 3


def test_kcore_cascade_peels_chain_and_keeps_clique(spark):
    """k-core peel on ONLY the fixture subgraph (lineitem mocked empty):
    the 5-clique survives all rounds with induced degree amplified by its
    chain attachments collapsing back to the bare clique degree; X2 dies
    in round 1 (degree 3), X1 in round 2 (lost X2), X0 in round 3 (lost
    X1) — the multi-round cascade the frontier-incremental decrements
    must reproduce exactly."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import grouped
    from projet_pipeline_bigdata_org_spark.operators.grouped import _KC

    empty = spark.createDataFrame([], "l_orderkey long, l_partkey long")
    with mock.patch.object(grouped, "load", lambda _s, _d, _t: empty):
        got = {r.node: r.degree for r in
               grouped.algo_kcore_peel(spark, "ignored").collect()}
    # survivors: exactly the clique, each at its induced (clique-only) degree
    assert got == {_KC + i: 4 for i in range(5)}


def test_profile_columns_counts_nulls_and_typed_minmax(spark):
    """Profiler on a crafted orders table: NULLs counted per column and
    excluded from distinct/min/max; numeric slots carry DOUBLE min/max,
    string slots binary-collation min/max, the timestamp column formats
    at second grain; every column row reports the same n_rows."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import dataquality

    rows = [
        (1, 10, "F", 5.5, datetime.datetime(2024, 1, 2, 3, 4, 5), "1-URGENT"),
        (2, None, "O", None, datetime.datetime(2023, 12, 31, 23, 59, 59), "5-LOW"),
        (3, 10, None, -1.25, None, "1-URGENT"),
    ]
    sdf = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with mock.patch.object(dataquality, "load", lambda _s, _d, _t: sdf):
        got = {r.col_name: r for r in
               dataquality.agg_profile_columns(spark, "ignored").collect()}
    assert set(got) == {c for c, _ in dataquality.PROFILE_COLS}
    assert all(r.n_rows == 3 for r in got.values())
    assert got["o_custkey"].n_nulls == 1 and got["o_custkey"].n_distinct == 1
    assert got["o_totalprice"].min_num == -1.25 and got["o_totalprice"].max_num == 5.5
    assert got["o_orderstatus"].min_str == "F" and got["o_orderstatus"].n_nulls == 1
    assert got["o_orderdate"].min_str == "2023-12-31 23:59:59"
    assert got["o_orderdate"].max_str == "2024-01-02 03:04:05"
    assert got["o_orderkey"].n_nulls == 0 and got["o_orderkey"].n_distinct == 3


def test_weighted_sample_biases_toward_heavy_docs_and_is_deterministic(spark):
    """On a corpus of 200 light (weight 1) and 200 heavy (weight 1000)
    docs in one source, the K-doc priority sample must be dominated by
    heavy docs (priority = coin/w scales down 1000x) yet not be a
    degenerate all-heavy cut (the coin still matters); re-running yields
    the identical sample; weight clamps NULL/zero n_chars to 1 so no row
    can vanish on a NULL priority."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import curation
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        WEIGHTED_SAMPLE_K,
    )

    rows = [(i, "s", 1 if i < 200 else 1000) for i in range(400)]
    rows.append((400, "s", None))  # NULL n_chars -> weight 1, still eligible
    sdf = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    with mock.patch.object(curation, "load", lambda _s, _d, _t: sdf):
        got1 = sorted(
            (r.doc_id, r.weight, r.rn)
            for r in curation.curate_weighted_sample(spark, "ignored").collect()
        )
        got2 = sorted(
            (r.doc_id, r.weight, r.rn)
            for r in curation.curate_weighted_sample(spark, "ignored").collect()
        )
    assert got1 == got2 and len(got1) == WEIGHTED_SAMPLE_K
    n_heavy = sum(1 for _i, w, _r in got1 if w == 1000)
    # heavy docs are half the corpus but must take the large majority of
    # the sample under a 1000x priority advantage
    assert n_heavy >= int(0.8 * WEIGHTED_SAMPLE_K)


def test_mrl_recall_vs_exact_topk(spark, sf_dir):
    """Recall@k of the Matryoshka-truncation cascade against the exact
    brute-force cosine top-k, pinned on the testdata: >= 0.5 at the 16x
    shortlist (measured 0.64 at sf0.001 / 0.60 at sf0.01 — random
    synthetic vectors spread variance evenly, so a 16/64 prefix is the
    WORST case; MRL-trained embeddings concentrate mass up front).
    Contract pins: exactly TOPK rows per query, final cosines bit-equal
    to the brute-force score for every overlapping pair (approximation
    lives only in stage-1 candidate choice)."""
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        N_QUERIES,
        TOPK,
    )

    exact = {
        (r.q_id, r.n_id): r.cosine
        for r in _Q["embed_cosine_topk"].fn(spark, sf_dir).collect()
    }
    mrl = {
        (r.q_id, r.n_id): r.cosine
        for r in _Q["compress_mrl_topk"].fn(spark, sf_dir).collect()
    }
    per_q = {}
    for q, _ in mrl:
        per_q[q] = per_q.get(q, 0) + 1
    assert per_q == {q: TOPK for q in range(N_QUERIES)}
    overlap = set(exact) & set(mrl)
    assert len(overlap) / len(exact) >= 0.5
    assert all(exact[k] == mrl[k] for k in overlap)


def test_bfs_distances_on_crafted_path_graph(spark):
    """BFS on a crafted path + branch graph (lineitem mocked to orders
    forming a known edge set): seed at node 3 (the BFS_SEED_RESIDUE),
    exact hop distances out to BFS_ITERS, nodes beyond the horizon
    absent, and a node reachable two ways gets the SHORTER distance."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import grouped

    # orders as edges: each order links exactly two parts -> the graph is
    # the path 3-10-20-30-40 plus shortcut 3-30
    edge_list = [(3, 10), (10, 20), (20, 30), (30, 40), (3, 30)]
    rows = [(oid, p) for oid, (a, b) in enumerate(edge_list) for p in (a, b)]
    sdf = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    with mock.patch.object(grouped, "load", lambda _s, _d, _t: sdf):
        got = {r.node: r.dist for r in
               grouped.algo_bfs_distance(spark, "ignored").collect()}
    # 3 is the only seed (others are not ≡ 3 mod 97); 30 via the shortcut
    # is 1 hop, NOT 3 via the path; 40 is 2 via 30
    assert got == {3: 0, 10: 1, 30: 1, 20: 2, 40: 2}


def test_hilbert_key_matches_reference_and_curve_properties(spark):
    """The engine Hilbert key must equal the pure-Python xy2d reference on
    edge and random coordinates (including clamp saturation); NULL in
    either dimension yields a NULL key, never an alias to cell 0; and the
    reference itself satisfies the DEFINING curve properties on a full
    small grid — bijection and unit adjacency of consecutive keys (the
    locality guarantee Z-order lacks)."""
    import random

    from pyspark.sql import functions as F

    from projet_pipeline_bigdata_org_spark.functions.hilbert import (
        HILBERT_MAX,
        HILBERT_N,
        with_hilbert_key,
        xy2d_ref,
    )

    # defining properties on the 64x64 grid (generic-n reference)
    n = 64
    pos = {}
    for x in range(n):
        for y in range(n):
            pos[xy2d_ref(n, x, y)] = (x, y)
    assert len(pos) == n * n  # bijection
    assert all(
        abs(pos[d][0] - pos[d + 1][0]) + abs(pos[d][1] - pos[d + 1][1]) == 1
        for d in range(n * n - 1)
    )  # unit adjacency

    rng = random.Random(42)
    coords = [(0, 0), (HILBERT_MAX, HILBERT_MAX), (HILBERT_MAX, 0),
              (0, HILBERT_MAX), (12345, 54321), (HILBERT_MAX + 999, 7),
              (-3, 12)]  # saturating / negative clamp cases
    coords += [(rng.randrange(HILBERT_N), rng.randrange(HILBERT_N))
               for _ in range(60)]
    rows = [(i, x, y) for i, (x, y) in enumerate(coords)]
    rows.append((9999, None, 77))
    rows.append((9998, 77, None))
    sdf = spark.createDataFrame(rows, "i long, x long, y long")
    got = {
        r.i: r.h
        for r in with_hilbert_key(sdf, F.col("x"), F.col("y"), "h").collect()
    }

    def clamp(v):
        return min(max(v, 0), HILBERT_MAX)

    for i, (x, y) in enumerate(coords):
        assert got[i] == xy2d_ref(HILBERT_N, clamp(x), clamp(y)), (i, x, y)
    assert got[9999] is None and got[9998] is None


def test_kcore_final_round_survivor_with_degree_zero_is_kept(spark):
    """Review-caught oracle divergence, pinned: a node that passes every
    round's degree check but loses ALL remaining neighbors in the final
    round must surface with degree 0 (the incremental decrements leave it
    at 0; an inner-join output formulation silently dropped it). Crafted
    3-level star: leaves die round 1, mid nodes round 2, arms round 3 —
    the center survives all three checks and ends bare."""
    from unittest import mock

    import duckdb

    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators import grouped

    plans.load_all()
    C = 1
    edges = []
    nid = 10
    for _arm in range(4):
        a = nid; nid += 1
        edges.append((C, a))
        for _mid in range(3):
            b = nid; nid += 1
            edges.append((a, b))
            for _leaf in range(3):
                leaf = nid; nid += 1
                edges.append((b, leaf))
    rows = [(oid, p) for oid, e in enumerate(edges) for p in e]
    sdf = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    with mock.patch.object(grouped, "load", lambda _s, _d, _t: sdf):
        got = {r.node: r.degree for r in
               grouped.algo_kcore_peel(spark, "ignored").collect()}
    # center alone survives the peel, at degree 0; the clique fixture
    # rides along as always
    assert got[C] == 0
    assert all(d == 4 for n, d in got.items() if n != C)
    # and the oracle agrees on the same crafted graph
    import pandas as pd

    con = duckdb.connect()
    con.register(
        "lineitem", pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"])
    )
    want = dict(con.execute(
        plans.registry.get("algo_kcore_peel").oracle).fetchall())
    assert got == want


def test_phash_neardup_pins_fixture_pairs_and_band_recall_boundary(spark):
    """aHash near-dup on ONLY the rider payloads (corpus mocked empty):
    the beyond-grid twin pairs at hamming 0, the two-space-edit variant
    at a small positive distance, the unrelated payload pairs with
    nothing; and a crafted pair differing in ALL four bands — beyond the
    banded join's pigeonhole recall — must NOT surface even though its
    total hamming is under the threshold, pinning the documented LSH
    recall boundary rather than leaving it prose."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import multimodal
    from projet_pipeline_bigdata_org_spark.operators.multimodal import (
        PHASH_BAND_CELLS,
        PHASH_BANDS,
        PHASH_MAX_HAMMING,
    )

    # alternating 'z'/' ' grid keeps every bit decisively far from the
    # mean under small edits; the variant flips exactly ONE 'z' cell to
    # ' ' in EVERY band: total hamming 4 < PHASH_MAX_HAMMING, yet no
    # band agrees -> the banded join cannot see the pair
    base = ["z" if i % 2 == 0 else " " for i in range(64)]
    var = base.copy()
    for b in range(PHASH_BANDS):
        var[b * PHASH_BAND_CELLS] = " "  # position b*16 is even -> a 'z'
    extra = [(1, "".join(base) + "pad"), (2, "".join(var) + "pad")]
    sdf = spark.createDataFrame(extra, "doc_id long, text string")
    with mock.patch.object(multimodal, "load", lambda _s, _d, _t: sdf):
        got = {(r.a_id, r.b_id): r.hamming for r in
               multimodal.decode_phash_neardup(spark, "ignored").collect()}
    fixture_pairs = {k: v for k, v in got.items() if k[0] >= 92_000_000}
    assert fixture_pairs[(92_000_001, 92_000_002)] == 0
    assert 1 <= fixture_pairs[(92_000_001, 92_000_003)] <= PHASH_MAX_HAMMING
    assert not any(92_000_004 in k for k in got)
    # the all-bands-differ pair is invisible to the banded join
    assert (1, 2) not in got


def test_partition_splits_are_contiguous_and_balanced(spark, sf_dir):
    """The range-partition planner's boundaries must tile the key space:
    buckets ordered by id have non-overlapping, contiguous [lo, hi]
    ranges covering min..max, row counts differing by at most 1, and
    RANGE_SPLIT_PARTS buckets exactly."""
    from projet_pipeline_bigdata_org_spark.operators.relational import (
        RANGE_SPLIT_PARTS,
        arrange_partition_splits,
    )

    rows = sorted(
        arrange_partition_splits(spark, sf_dir).collect(),
        key=lambda r: r.partition_id,
    )
    assert len(rows) == RANGE_SPLIT_PARTS
    assert [r.partition_id for r in rows] == list(range(1, RANGE_SPLIT_PARTS + 1))
    counts = [r.n_rows for r in rows]
    assert max(counts) - min(counts) <= 1
    for prev, nxt in zip(rows, rows[1:]):
        assert prev.key_hi < nxt.key_lo  # unique key: strictly increasing tiles


def test_cdc_snapshot_diff_classifies_all_change_classes(spark):
    """Crafted orders exercising every CDC class: a customer active only
    before the new window (delete), only after the old window (insert),
    only in the overlap with identical state (unchanged — EXCLUDED), a
    changed customer (update), and one entirely outside both snapshot
    windows (invisible)."""
    from datetime import datetime

    from projet_pipeline_bigdata_org_spark.operators.timeseries import (
        cdc_snapshot_diff_frame,
    )

    rows = [
        # (orderkey, custkey, totalprice, orderdate)
        (10, 1, 100.0, datetime(1995, 6, 1)),   # cust 1: old-only -> delete
        (20, 2, 250.5, datetime(1998, 6, 1)),   # cust 2: new-only -> insert
        (30, 3, 40.25, datetime(1997, 1, 5)),   # cust 3: overlap-only,
        (31, 3, 9.75, datetime(1997, 8, 2)),    #   identical state -> excluded
        (40, 4, 70.0, datetime(1995, 3, 3)),    # cust 4: one old-only order
        (41, 4, 30.0, datetime(1996, 7, 7)),    #   + one overlap -> update
        (50, 5, 999.0, datetime(1994, 1, 1)),   # cust 5: outside both windows
        (51, 5, 999.0, datetime(2000, 1, 1)),   #   -> invisible
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate timestamp",
    )
    got = {r.o_custkey: r for r in cdc_snapshot_diff_frame(orders).collect()}
    assert set(got) == {1, 2, 4}
    d = got[1]
    assert (d.change_op, d.old_n_orders, d.new_n_orders) == ("delete", 1, 0)
    assert d.old_total == 100.0 and d.new_total is None
    assert d.old_max_orderkey == 10 and d.new_max_orderkey is None
    i = got[2]
    assert (i.change_op, i.old_n_orders, i.new_n_orders) == ("insert", 0, 1)
    assert i.old_total is None and i.new_total == 250.5
    u = got[4]
    assert (u.change_op, u.old_n_orders, u.new_n_orders) == ("update", 2, 1)
    assert u.old_total == 100.0 and u.new_total == 30.0
    assert u.old_max_orderkey == 41 and u.new_max_orderkey == 41


def test_rollup_merge_of_disjoint_epoch_partials_equals_direct(spark):
    """The incremental-rollup identity made operational: partials computed
    on DISJOINT epoch slices, unioned and merged, must equal both the
    one-shot operator and a direct Spark aggregation over the raw stream —
    including an all-NULL-value epoch group (sum/min/max stay NULL-inert,
    count doesn't)."""
    from datetime import datetime

    from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
        rollup_epoch_partials,
        rollup_merge,
    )

    rows = [
        (datetime(2024, 1, 1, 5), "click", 2.5),
        (datetime(2024, 1, 2, 6), "click", 1.5),
        (datetime(2024, 1, 9, 7), "click", 4.0),   # second week
        (datetime(2024, 1, 16, 8), "click", None),  # third week, NULL value
        (datetime(2024, 1, 1, 9), "view", 10.0),
        (datetime(2024, 1, 16, 1), "view", None),   # all-NULL epoch group
    ]
    e = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    cut = datetime(2024, 1, 8)
    merged_split = rollup_merge(
        rollup_epoch_partials(e.filter(F.col("ts") < F.lit(cut))).unionByName(
            rollup_epoch_partials(e.filter(F.col("ts") >= F.lit(cut)))
        )
    )
    one_shot = rollup_merge(rollup_epoch_partials(e))
    a = {r.event_type: r.asDict() for r in merged_split.collect()}
    b = {r.event_type: r.asDict() for r in one_shot.collect()}
    assert a == b
    c = a["click"]
    assert c["n_events"] == 4 and c["n_epochs"] == 3
    assert c["total_value"] == 8.0 and c["min_value"] == 1.5
    assert c["max_value"] == 4.0 and c["avg_value"] == 2.0
    v = a["view"]
    assert v["n_events"] == 2 and v["n_epochs"] == 2
    assert v["total_value"] == 10.0 and v["avg_value"] == 5.0


def test_common_neighbor_recs_on_crafted_graph(spark):
    """Crafted 6-node graph with a known answer: source selection by
    (degree desc, id), existing neighbors excluded from candidates,
    common-neighbor counts exact, and score ties broken by candidate id.

    Graph: triangle 1-2-3, plus 2-4, 3-4, 4-5, 1-6. Degrees: 1,2,3,4 -> 3;
    5,6 -> 1. Top-2 sources by (d desc, id) = {1, 2}. Source 1
    (N={2,3,6}): candidate 4 seen via both 2 and 3 -> count 2. Source 2
    (N={1,3,4}): candidates 5 (via 4) and 6 (via 1), both count 1 ->
    tie broken by id: 5 before 6."""
    from projet_pipeline_bigdata_org_spark.operators.grouped import (
        common_neighbor_recs,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5), (1, 6)],
        "u long, v long",
    )
    got = [
        (r.source, r.candidate, r.n_common, r.cn_rank)
        for r in common_neighbor_recs(pairs, n_sources=2, k=5)
        .orderBy("source", "cn_rank")
        .collect()
    ]
    assert got == [(1, 4, 2, 1), (2, 5, 1, 1), (2, 6, 1, 2)]


def test_theta_setops_exact_branch_and_sub_theta_discipline(spark, sf_dir):
    """The theta-sketch fixture pairs behave per construction: the
    both-unsaturated pair (xc, xd) is EXACT — theta is the full hash
    space, the intersection estimate is exactly 1000x the true
    intersection, and Jaccard is the true 2/6 — while the saturated pair
    (xa, xb) obeys the sub-theta discipline (n_common and n_union_below
    never exceed what fits under theta; estimates are nonnegative and
    Jaccard <= 1000) and carries the true exact_intersection yardstick
    of 10 shared tokens."""
    from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
        KMV_K,
        THETA_FULL,
        agg_theta_setops,
    )

    rows = {
        (r.lang_a, r.lang_b): r
        for r in agg_theta_setops(spark, sf_dir)
        .filter("lang_a LIKE 'x%' AND lang_b LIKE 'x%'")
        .collect()
    }
    fixture_pairs = {
        (a, b)
        for a in ("xa", "xb", "xc", "xd")
        for b in ("xa", "xb", "xc", "xd")
        if a < b
    }
    assert fixture_pairs <= set(rows)  # no pair silently dropped (left joins)
    ac = rows[("xa", "xc")]  # mixed saturated/unsaturated branch
    assert ac.exact_intersection == 2 and 0 <= ac.n_common <= 2
    cd = rows[("xc", "xd")]
    assert cd.theta == THETA_FULL
    assert cd.n_common == 2 and cd.exact_intersection == 2
    assert cd.inter_estimate_milli == 2000  # exact branch: estimate == truth
    assert cd.n_union_below == 6 and cd.jaccard_milli == 333
    ab = rows[("xa", "xb")]
    assert ab.theta < THETA_FULL  # both saturated: theta is a kth threshold
    assert ab.exact_intersection == 10
    assert 0 <= ab.n_common <= KMV_K
    assert ab.n_common <= ab.n_union_below <= 2 * KMV_K
    assert 0 <= ab.jaccard_milli <= 1000
    assert ab.inter_estimate_milli >= ab.n_common * 1000


def test_metric_drift_fixture_flags_fire_correctly(spark, sf_dir):
    """The drift riders behave per construction: 'zzdrift' week 2 flags
    mean_drift only (volume flat, mean 10x), 'zzcount' week 2 flags
    count_drift only (mean flat, volume 5x down), and NO first week of
    any type ever flags (no baseline)."""
    from projet_pipeline_bigdata_org_spark.operators.dataquality import (
        audit_metric_drift,
    )

    rows = audit_metric_drift(spark, sf_dir).collect()
    by_key = {(r.event_type, r.week): r for r in rows}
    d2 = by_key[("zzdrift", "2024-01-08")]
    assert d2.mean_drift and not d2.count_drift
    assert (d2.n, d2.prev_n) == (4, 4)
    assert (d2.mean_milli, d2.prev_mean_milli) == (100_000, 10_000)
    c2 = by_key[("zzcount", "2024-01-08")]
    assert c2.count_drift and not c2.mean_drift
    assert (c2.n, c2.prev_n) == (2, 10)
    for r in rows:
        if r.prev_n is None:
            assert not r.count_drift and not r.mean_drift


def test_heavy_hitters_no_false_negatives_and_deterministic_fp_band(spark):
    """sketch_heavy_hitters structural contract on a crafted corpus:
    (a) every true heavy hitter (count * HH_K >= total) appears with
    is_heavy=true — the sketch never undercounts, so the admission filter
    cannot drop one; (b) a low-frequency full-projection twin of the
    heavy term ('sczn' shares scan's first/second/last codepoint and
    length) inherits the heavy counts in EVERY hash row, so it is
    admitted as a candidate but the exact confirm marks is_heavy=false —
    the overcount band demonstrated deterministically; (c) rare terms
    with unique projections never reach the exact aggregation at all."""
    import string
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import analytics_ext

    fillers = [
        a + b + "z"
        for a in string.ascii_lowercase
        for b in string.ascii_lowercase
    ][:59]
    vocab = ["scan"] * 40 + ["sczn"] + fillers  # total = 100 tokens
    docs = [
        (i, " ".join(vocab[i * 15 : (i + 1) * 15]))
        for i in range((len(vocab) + 14) // 15)
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    with mock.patch.object(analytics_ext, "load", lambda _s, _d, _t: sdf):
        got = {
            r.term: r
            for r in analytics_ext.sketch_heavy_hitters(spark, "ignored").collect()
        }
    assert set(got) == {"scan", "sczn"}  # fillers filtered map-side
    assert got["scan"].is_heavy and got["scan"].true_count == 40
    # estimate >= truth on every emitted row (count-min never undercounts)
    assert all(r.cm_estimate >= r.true_count for r in got.values())
    # the deterministic false-positive band: candidate via collision,
    # rejected by the exact confirm
    assert not got["sczn"].is_heavy and got["sczn"].true_count == 1
    assert got["sczn"].cm_estimate == 41  # scan's 40 + its own occurrence


def test_histogram_quantile_sketch_merges_and_bounds_error(spark, sf_dir):
    """stat_histogram_quantiles' two structural contracts: (a) histograms
    are MERGEABLE — counters from any disjoint split of the corpus add to
    exactly the whole-corpus sketch (the property a cluster's
    per-shard/per-epoch maintenance rests on); (b) the estimate's rank
    guarantee — est and exact live in the same bucket — bounds
    |err_cents| by one bucket width on every emitted percentile."""
    from pyspark.sql import functions as F

    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.analytics_ext import (
        HQ_WIDTH,
        hq_histogram,
        stat_histogram_quantiles,
    )

    o = load(spark, sf_dir, "orders")
    cents = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderkey",
    )
    whole = {
        r.bucket: r.cnt
        for r in hq_histogram(cents.select("cents")).collect()
    }
    parts = [
        hq_histogram(cents.filter(F.col("o_orderkey") % 2 == i).select("cents"))
        for i in (0, 1)
    ]
    merged = {}
    for p in parts:
        for r in p.collect():
            merged[r.bucket] = merged.get(r.bucket, 0) + r.cnt
    assert merged == whole  # counters add exactly across any disjoint split

    rows = stat_histogram_quantiles(spark, sf_dir).collect()
    assert len(rows) == 7
    assert all(abs(r.err_cents) <= HQ_WIDTH for r in rows)
    # sanity: estimates are monotone in q (cumulative ranks are)
    by_q = sorted(rows, key=lambda r: r.q)
    est = [r.est_price for r in by_q]
    assert est == sorted(est)


def test_groups_frame_semantics_match_first_principles(spark):
    """window_groups_frame pins the ANSI GROUPS definition itself (not
    just cross-engine agreement): on a crafted series with uneven peer
    groups and a calendar gap, every row's frame must cover the current
    day plus exactly the two PRECEDING DISTINCT DAYS present in the data
    — peer groups, not row counts (ROWS would split a day) and not date
    intervals (RANGE over dates would let the gap shrink the frame)."""
    import datetime as dt
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import relational

    days = {  # day offset -> values (uneven group sizes, day 3 missing)
        1: [1.0, 2.0],
        2: [4.0],
        4: [8.0, 16.0, 32.0],
        5: [64.0],
    }
    rows, eid = [], 0
    for d, vals in days.items():
        for v in vals:
            rows.append(
                (eid, dt.datetime(2024, 1, d, 12, 0), 7, "x", v, "{}")
            )
            eid += 1
    sdf = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with mock.patch.object(relational, "load", lambda _s, _d, _t: sdf):
        got = {
            r.event_id: r
            for r in relational.window_groups_frame(spark, "ignored").collect()
        }
    ordered_days = sorted(days)
    for gi, d in enumerate(ordered_days):
        frame_days = ordered_days[max(0, gi - 2) : gi + 1]
        want_sum = sum(sum(days[fd]) for fd in frame_days)
        want_rows = sum(len(days[fd]) for fd in frame_days)
        for r in (x for x in got.values() if x.day == f"2024-01-0{d}"):
            assert r.grp_sum == want_sum, (d, r)
            assert r.grp_rows == want_rows, (d, r)
    # the gap check made explicit: day 5's frame spans days {2, 4, 5}
    day5 = next(x for x in got.values() if x.day == "2024-01-05")
    assert day5.grp_sum == 4.0 + 8.0 + 16.0 + 32.0 + 64.0 and day5.grp_rows == 5


def test_autocorrelation_alternating_and_constant_series(spark):
    """ts_autocorrelation on crafted series: a perfectly alternating
    daily-count series has ACF exactly -1 at lag 1 and exactly +1 at
    lag 2 (the integer covariance collapses to -d²/+d², whose IEEE
    normalization is exact); a constant series has zero variance, which
    the exact integer guard must map to NULL, never a division error."""
    import datetime as dt
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import timeseries

    rows, eid = [], 0
    for d in range(1, 11):
        n_alt = 1 if d % 2 else 2
        for _ in range(n_alt):
            rows.append((eid, dt.datetime(2024, 3, d), 1, "alt", 1.0, "{}"))
            eid += 1
        for _ in range(3):
            rows.append((eid, dt.datetime(2024, 3, d), 1, "const", 1.0, "{}"))
            eid += 1
    sdf = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with mock.patch.object(timeseries, "load", lambda _s, _d, _t: sdf):
        got = {
            (r.event_type, r.lag): r
            for r in timeseries.ts_autocorrelation(spark, "ignored").collect()
        }
    assert got[("alt", 1)].acf == -1.0
    assert got[("alt", 2)].acf == 1.0
    assert got[("alt", 1)].n_pairs == 9 and got[("alt", 2)].n_pairs == 8
    for k in range(1, 8):
        assert got[("const", k)].acf is None  # zero variance -> NULL
        assert got[("const", k)].cov_num == 0


def _bpe_reference(word_freqs, rounds):
    """First-principles BPE (Sennrich et al. 2016): greedy leftmost
    non-overlapping merging, argmax by (count DESC, lexicographic), the
    plain-Python definition the relational form must reproduce."""
    vocab = {w: [*w, "</w>"] for w in word_freqs}
    out = []
    for rnd in range(1, rounds + 1):
        counts = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_freqs[w]
        best = min(counts, key=lambda p: (-counts[p], p))
        for w, syms in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    merged.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            vocab[w] = merged
        out.append(
            (rnd, best[0], best[1], counts[best],
             sum(len(s) for s in vocab.values()))
        )
    return out


def test_bpe_learner_matches_reference_including_overlap_runs(spark):
    """text_bpe_learn vs the plain-Python BPE on a crafted vocabulary that
    forces the hard case: 'aaaa' under best pair (a, a) must merge to
    ['aa', 'aa', '</w>'] (greedy leftmost non-overlap — the run-parity
    rule), never 3 overlapping merges; every round's argmax, weighted
    count, and post-merge symbol total must agree."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import textops

    word_freqs = {"aaaa": 10, "aab": 6, "banana": 4, "low": 3, "lower": 2}
    # build a corpus whose whitespace word counts are exactly word_freqs
    text_tokens = [w for w, n in word_freqs.items() for _ in range(n)]
    docs = [(0, " ".join(text_tokens), "en", "fx", 0)]
    sdf = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with mock.patch.object(textops, "load", lambda _s, _d, _t: sdf):
        got = sorted(
            textops.text_bpe_learn(spark, "ignored").collect(),
            key=lambda r: r.round,
        )
    want = _bpe_reference(word_freqs, len(got))
    assert [
        (r.round, r.left_sym, r.right_sym, r.pair_freq, r.vocab_symbols_after)
        for r in got
    ] == want
    # the overlap case is actually live: (a, a) is round 1's argmax
    assert (got[0].left_sym, got[0].right_sym) == ("a", "a")


def test_exclude_frame_matches_native_on_empty_remainder_edge(spark):
    """window_exclude_frame's NULL edge: when exclusion empties the
    remaining frame — an isolated single-row day for EXCLUDE CURRENT ROW,
    an isolated peer group for EXCLUDE GROUP — ANSI yields NULL (empty
    aggregate), which plain frame-minus-excluded subtraction would render
    as 0. Crafted days: an isolated singleton (day 1, next day 10), an
    isolated multi-row day (day 20), and a dense run. Verified against
    DuckDB's NATIVE EXCLUDE implementation on the same rows."""
    import datetime as dt
    from unittest import mock

    import duckdb

    from projet_pipeline_bigdata_org_spark.operators import relational

    plan = {1: [5.0], 10: [1.0], 11: [2.0], 12: [4.0], 20: [8.0, 16.0]}
    rows, eid = [], 0
    for d, vals in plan.items():
        for v in vals:
            rows.append((eid, dt.datetime(2024, 5, d), 1, "x", v, "{}"))
            eid += 1
    sdf = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with mock.patch.object(relational, "load", lambda _s, _d, _t: sdf):
        got = {
            r.event_id: r
            for r in relational.window_exclude_frame(spark, "ignored").collect()
        }
    # isolated singleton: both CURRENT ROW and GROUP remainders are empty
    assert got[0].loo_row_sum is None and got[0].loo_group_sum is None
    assert got[0].loo_ties_sum == 5.0  # TIES keeps self
    # isolated PAIR day: CURRENT ROW leaves the peer; GROUP empties
    assert got[4].loo_row_sum == 16.0 and got[4].loo_group_sum is None
    # the native cross-check, row for row
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev (event_id BIGINT, di BIGINT, value DOUBLE)"
    )
    for eid_, r in got.items():
        con.execute("INSERT INTO ev VALUES (?, ?, ?)", [eid_, r.di, r.value])
    native = {
        rec[0]: rec[1:]
        for rec in con.execute(
            """
            SELECT event_id,
                   SUM(CAST(value AS DECIMAL(18,6))) OVER
                     (ORDER BY di RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
                      EXCLUDE CURRENT ROW),
                   SUM(CAST(value AS DECIMAL(18,6))) OVER
                     (ORDER BY di RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
                      EXCLUDE GROUP),
                   SUM(CAST(value AS DECIMAL(18,6))) OVER
                     (ORDER BY di RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
                      EXCLUDE TIES)
            FROM ev
            """
        ).fetchall()
    }
    for eid_, r in got.items():
        nr, ng, nt = native[eid_]
        assert r.loo_row_sum == (None if nr is None else float(nr)), eid_
        assert r.loo_group_sum == (None if ng is None else float(ng)), eid_
        assert r.loo_ties_sum == (None if nt is None else float(nt)), eid_


def test_bpe_tokenize_rollup_matches_reference_vocab(spark):
    """text_bpe_tokenize's per-document counts must equal tokenizing with
    the plain-Python reference's post-merge vocabulary: n_bpe_tokens is
    the weighted sum of each word's final symbol count, n_char_tokens the
    pre-merge chars+marker count, and the compression ratio the exact
    truncating-div of the two."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import textops

    word_freqs = {"aaaa": 10, "aab": 6, "banana": 4, "low": 3, "lower": 2}
    # reference vocabulary after BPE_ROUNDS merges
    vocab = {w: [*w, "</w>"] for w in word_freqs}
    for _ in range(textops.BPE_ROUNDS):
        counts = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_freqs[w]
        best = min(counts, key=lambda p: (-counts[p], p))
        for w, syms in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    merged.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            vocab[w] = merged

    # two docs with different word mixes
    doc_words = {
        0: ["aaaa"] * 10 + ["low"] * 3,
        1: ["aab"] * 6 + ["banana"] * 4 + ["lower"] * 2,
    }
    docs = [
        (i, " ".join(ws), "en", "fx", 0) for i, ws in doc_words.items()
    ]
    sdf = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with mock.patch.object(textops, "load", lambda _s, _d, _t: sdf):
        got = {
            r.doc_id: r
            for r in textops.text_bpe_tokenize(spark, "ignored").collect()
        }
    for i, ws in doc_words.items():
        want_bpe = sum(len(vocab[w]) for w in ws)
        want_char = sum(len(w) + 1 for w in ws)
        assert got[i].n_words == len(ws)
        assert got[i].n_bpe_tokens == want_bpe, i
        assert got[i].n_char_tokens == want_char, i
        assert got[i].compression_milli == want_bpe * 1000 // want_char


def _bbpe_reference(word_freqs, rounds):
    """First-principles BYTE-level BPE (Radford et al. 2019 §2.2): the
    seed alphabet is each word's UTF-8 bytes as uppercase hex pairs, no
    end-of-word marker; merges are the same greedy leftmost
    non-overlapping argmax-by-(count DESC, lexicographic) as char BPE."""

    def hexpairs(w):
        h = w.encode("utf-8").hex().upper()
        return [h[i : i + 2] for i in range(0, len(h), 2)]

    vocab = {w: hexpairs(w) for w in word_freqs}
    out = []
    for rnd in range(1, rounds + 1):
        counts = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_freqs[w]
        best = min(counts, key=lambda p: (-counts[p], p))
        for w, syms in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    merged.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            vocab[w] = merged
        out.append(
            (rnd, best[0], best[1], counts[best],
             sum(len(s) for s in vocab.values()))
        )
    return out, vocab


def _bbpe_mock_word_freqs(corpus_word_freqs):
    """The trainer unions BBPE_FIXTURE_ROWS into any corpus, so the
    reference counts must include the fixture words (byte-bounded)."""
    from projet_pipeline_bigdata_org_spark.operators import textops

    freqs = dict(corpus_word_freqs)
    for _i, text in textops.BBPE_FIXTURE_ROWS:
        for w in text.split(" "):
            if w and len(w.encode("utf-8")) <= textops.BBPE_MAX_WORD_BYTES:
                freqs[w] = freqs.get(w, 0) + 1
    return freqs


def test_bbpe_learner_matches_reference_on_multibyte_corpus(spark):
    """text_bpe_bytes_learn vs the plain-Python byte-level BPE on a
    corpus where the round-1 argmax is a MULTI-BYTE pair (C3,A9 — the
    two bytes of é), proving merges operate below the codepoint level;
    the overlap run case rides along ('éé' = C3 A9 C3 A9 under best
    (A9,C3) would overlap — run-parity must pick leftmost-non-overlap).
    Words longer than BBPE_MAX_WORD_BYTES bytes must be excluded from
    training in both engines."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import textops

    corpus_freqs = {
        "ééé": 30,          # C3 A9 x3 — forces (C3,A9) as round-1 argmax
        "née": 12,          # 6E C3 A9 C3 A9
        "aaaa": 6,
        "over-sixteen-bytes-word": 5,  # 23 bytes -> excluded
    }
    text_tokens = [w for w, n in corpus_freqs.items() for _ in range(n)]
    sdf = spark.createDataFrame(
        [(0, " ".join(text_tokens))], "doc_id long, text string"
    )
    trained = {
        w: f for w, f in corpus_freqs.items()
        if len(w.encode("utf-8")) <= textops.BBPE_MAX_WORD_BYTES
    }
    with mock.patch.object(textops, "load", lambda _s, _d, _t: sdf):
        got = sorted(
            textops.text_bpe_bytes_learn(spark, "ignored_bbpe_learn").collect(),
            key=lambda r: r.round,
        )
    want, _vocab = _bbpe_reference(
        _bbpe_mock_word_freqs(trained), len(got)
    )
    assert [
        (r.round, r.left_sym, r.right_sym, r.pair_freq, r.vocab_symbols_after)
        for r in got
    ] == want
    # the multi-byte path is actually live: round 1 merges é's two bytes
    assert (got[0].left_sym, got[0].right_sym) == ("C3", "A9")
    # symbols stay fixed-width-hex strings (even length, hex alphabet)
    for r in got:
        for s in (r.left_sym, r.right_sym):
            assert len(s) % 2 == 0 and set(s) <= set("0123456789ABCDEF")


def test_bbpe_tokenize_counts_utf8_bytes_not_chars(spark):
    """text_bpe_bytes_tokenize's pre-merge count is UTF-8 BYTES: a doc of
    repeated 'éé' (2 chars, 4 bytes) must report n_byte_tokens = 4/word,
    and every doc's post-merge count must equal tokenizing with the
    plain-Python reference's final vocabulary; >16-byte words are outside
    the vocabulary and excluded from the accounting."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import textops

    doc_words = {
        0: ["éé"] * 8 + ["aaaa"] * 3,
        1: ["née"] * 5 + ["over-sixteen-bytes-word"] * 2,  # long word excluded
    }
    corpus_freqs = {}
    for ws in doc_words.values():
        for w in ws:
            corpus_freqs[w] = corpus_freqs.get(w, 0) + 1
    trained = {
        w: f for w, f in corpus_freqs.items()
        if len(w.encode("utf-8")) <= textops.BBPE_MAX_WORD_BYTES
    }
    sdf = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in doc_words.items()],
        "doc_id long, text string",
    )
    with mock.patch.object(textops, "load", lambda _s, _d, _t: sdf):
        got = {
            r.doc_id: r
            for r in textops.text_bpe_bytes_tokenize(
                spark, "ignored_bbpe_tok"
            ).collect()
        }
    _want, vocab = _bbpe_reference(
        _bbpe_mock_word_freqs(trained), textops.BPE_ROUNDS
    )
    for i, ws in doc_words.items():
        counted = [
            w for w in ws
            if len(w.encode("utf-8")) <= textops.BBPE_MAX_WORD_BYTES
        ]
        want_bytes = sum(len(w.encode("utf-8")) for w in counted)
        want_bbpe = sum(len(vocab[w]) for w in counted)
        assert got[i].n_words == len(counted), i
        assert got[i].n_byte_tokens == want_bytes, i
        assert got[i].n_bbpe_tokens == want_bbpe, i
        assert got[i].compression_milli == want_bbpe * 1000 // want_bytes, i
    # byte-vs-char divergence is live: doc 0's 'éé' words count 4 bytes each
    assert got[0].n_byte_tokens == 8 * 4 + 3 * 4


def test_mmr_matches_python_greedy_and_diversifies(spark):
    """embed_mmr_topk on a crafted embedding set must equal a pure-Python
    greedy MMR reference row-for-row (same left-fold dot, same division
    order, same (score desc, n_id) tie-break), and the fixture makes the
    diversity term BITE: vector 5 is an exact duplicate of vector 4, so
    after round 1 picks 4, pure relevance would pick 5 next but MMR's
    max-sim penalty (cos = 1.0) demotes it below the less-relevant,
    less-redundant 6."""
    import math
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import similarity
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        MMR_K,
        MMR_LAMBDA,
        MMR_QUERIES,
        MMR_SHORTLIST,
    )

    vecs = {
        0: [1.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0],
        2: [0.0, 0.0, 1.0],
        3: [1.0, 1.0, 0.0],
        4: [4.0, 1.0, 0.0],
        5: [4.0, 1.0, 0.0],  # exact duplicate of 4 — the paraphrase
        6: [4.0, -3.0, 0.0],  # relevant to q0 yet far from 4
        7: [1.0, 2.0, 2.0],
        8: [0.5, 3.0, 1.0],
        9: [3.0, 3.0, 3.0],
    }
    sdf = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )

    def pdot(a, b):
        acc = 0.0
        for p, r in zip(a, b):
            acc += p * r
        return acc

    nrm = {i: math.sqrt(pdot(v, v)) for i, v in vecs.items()}

    def cos(a, b):
        return pdot(vecs[a], vecs[b]) / (nrm[a] * nrm[b])

    want = set()
    rel_second = {}
    mmr_second = {}
    for qid in range(MMR_QUERIES):
        rel = {n: cos(qid, n) for n in vecs if n != qid}
        shortlist = sorted(rel, key=lambda n: (-rel[n], n))[:MMR_SHORTLIST]
        rel_second[qid] = shortlist[1]
        selected = []
        for t in range(1, MMR_K + 1):
            remaining = [n for n in shortlist if n not in selected]
            if t == 1:
                scores = {n: rel[n] for n in remaining}
            else:
                scores = {
                    n: rel[n] - MMR_LAMBDA * max(cos(n, s) for s in selected)
                    for n in remaining
                }
            pick = min(remaining, key=lambda n: (-scores[n], n))
            if t == 2:
                mmr_second[qid] = pick
            selected.append(pick)
            want.add((qid, t, pick, rel[pick], scores[pick]))

    # the fixture exercises the trade-off, not just the arithmetic
    assert mmr_second[0] == 6 and rel_second[0] == 5

    with mock.patch.object(similarity, "load", lambda _s, _d, _t: sdf):
        got = {
            (r.q_id, r.sel_rank, r.n_id, r.relevance, r.mmr_score)
            for r in similarity.embed_mmr_topk(spark, "ignored").collect()
        }
    assert got == want


# ---------------------------------------------------------------------------
# r11: REAL pixel seam — pure-Python BMP/PPM decode driving the aHash grid
# and the resize kernel end-to-end on true pixels (VERDICT r10 #6)
# ---------------------------------------------------------------------------


def _cell_image(bright_cells: set[int], side_px: int = 64):
    """64x64 RGB image built directly on the 8x8 aHash grid: cell p
    (row-major) is a solid 255 block iff p in bright_cells, else 0 — so
    the expected signature is readable off the construction."""
    import numpy as np

    img = np.zeros((side_px, side_px, 3), dtype=np.uint8)
    cell = side_px // 8
    for p in bright_cells:
        i, j = divmod(p, 8)
        img[i * cell : (i + 1) * cell, j * cell : (j + 1) * cell, :] = 255
    return img


def test_pixel_decoders_roundtrip_and_reject():
    """decode_bmp_pixels / decode_ppm_pixels are REAL decoders: byte-exact
    round-trips of known pixel arrays, and every unreadable variant
    (truncated pixel data, unsupported depth, top-down BMP, wide-maxval
    PPM) raises NotImplementedError — never a wrong pixel."""
    import numpy as np
    import pytest

    from projet_pipeline_bigdata_org_spark.operators.multimodal import (
        _bmp_fixture,
        bmp_fixture_pixels,
        decode_bmp_pixels,
        decode_pixels_real,
        decode_ppm_pixels,
    )

    for w, h in ((800, 600), (5, 3), (33, 21)):
        px = decode_bmp_pixels(_bmp_fixture(w, h))
        assert px.shape == (h, w, 3)
        assert np.array_equal(px, bmp_fixture_pixels(w, h))
    rgb = bmp_fixture_pixels(6, 4)
    ppm = b"P6\n# a comment\n6 4\n255\n" + rgb.tobytes()
    assert np.array_equal(decode_ppm_pixels(ppm), rgb)
    assert np.array_equal(decode_pixels_real(ppm), rgb)

    bmp = _bmp_fixture(33, 21)
    topdown = bytearray(bmp)
    topdown[22:26] = (-21).to_bytes(4, "little", signed=True)
    bad_bpp = bytearray(bmp)
    bad_bpp[28:30] = (8).to_bytes(2, "little")
    for bad in (
        bmp[:-1],                       # truncated pixel array
        bytes(topdown),                 # top-down rows unsupported
        bytes(bad_bpp),                 # paletted depth needs a palette
        ppm[:-1],                       # truncated PPM data
        b"P6\n6 4\n65535\n" + rgb.tobytes() * 2,  # 16-bit maxval
        b"P5\n6 4\n255\n",              # grayscale PGM is not P6
    ):
        with pytest.raises(NotImplementedError):
            decode_pixels_real(bytes(bad))


def test_ahash_real_pixels_signature_and_hamming_relations():
    """aHash over TRUE pixels: the constructed left-half-bright image's
    signature is pinned from first principles (independent re-derivation
    in this test, not a call into the implementation), a two-cell edit
    moves exactly those two bits, and the complement shares no band."""
    from projet_pipeline_bigdata_org_spark.operators.multimodal import (
        PHASH_BAND_CELLS,
        PHASH_BANDS,
        PHASH_CELLS,
        ahash_words_from_pixels,
    )

    left_half = {p for p in range(PHASH_CELLS) if p % 8 < 4}
    base = ahash_words_from_pixels(_cell_image(left_half))
    # independent expectation: 32 cells at 255, mean = 32*255//64 = 127,
    # bit set iff cell > mean -> per-band word 0b0000111100001111
    expected_word = sum(
        1 << j for j in range(PHASH_BAND_CELLS) if (j % 8) < 4
    )
    assert base == tuple(expected_word for _ in range(PHASH_BANDS))

    edited = ahash_words_from_pixels(_cell_image((left_half - {10}) | {20}))
    diff_bits = [
        bin(a ^ b).count("1") for a, b in zip(base, edited)
    ]
    assert sum(diff_bits) == 2  # exactly the two edited cells
    assert diff_bits[10 // PHASH_BAND_CELLS] >= 1
    assert diff_bits[20 // PHASH_BAND_CELLS] >= 1

    complement = ahash_words_from_pixels(
        _cell_image(set(range(PHASH_CELLS)) - left_half)
    )
    assert all(a != b for a, b in zip(base, complement))  # no shared band


def test_resize_kernel_runs_real_pixel_path_for_bmp(monkeypatch):
    """The mapInPandas resize kernel takes the REAL pixel branch for a
    pixel-bearing BMP (canary-proven via monkeypatched resize_pixels),
    the stub branch for codec formats and truncated pixel arrays, and
    both branches agree on resized_n_bytes for the same plan."""
    import numpy as np
    import pandas as pd

    from projet_pipeline_bigdata_org_spark.operators import multimodal as mm

    bmp = mm._bmp_fixture(800, 600)        # real pixels, caps to 512-edge
    png = mm._png_fixture(640, 360)        # real pixels since r12 (zlib)
    jpeg = mm._jpeg_fixture(1024, 768)     # codec format -> stub branch
    trunc = mm._bmp_fixture(800, 600)[:-7]  # pixels truncated -> stub

    def run(payloads):
        pdf = pd.DataFrame(
            {"doc_id": range(len(payloads)), "payload": payloads}
        )
        out = pd.concat(list(mm.resize_batches(iter([pdf]))))
        return out.set_index("doc_id")

    out = run([bmp, png, jpeg, trunc])
    # plan agrees for both 800x600 variants; all report the raw-RGB size
    # of the SAME plan (real nbytes == tw*th*3 by construction)
    assert (out.loc[0, ["target_w", "target_h"]] == (512, 384)).all()
    assert out.loc[0, "resized_n_bytes"] == 512 * 384 * 3
    assert out.loc[3, "resized_n_bytes"] == 512 * 384 * 3
    assert out.loc[1, "resized_n_bytes"] == 512 * 288 * 3
    assert out.loc[2, "resized_n_bytes"] == 512 * 384 * 3

    # canary: the pixel-bearing BMP and PNG reach resize_pixels; the
    # codec-bound JPEG and the truncated BMP stay on the stub
    calls = []

    def canary(px, tw, th):
        calls.append(px.shape)
        return np.zeros((1, 1, 3), dtype=np.uint8)

    monkeypatch.setattr(mm, "resize_pixels", canary)
    out2 = run([bmp, png, jpeg, trunc])
    assert calls == [(600, 800, 3), (360, 640, 3)]
    assert out2.loc[0, "resized_n_bytes"] == 3          # canary nbytes
    assert out2.loc[1, "resized_n_bytes"] == 3          # canary nbytes
    assert out2.loc[2, "resized_n_bytes"] == 512 * 384 * 3  # stub untouched
    assert out2.loc[3, "resized_n_bytes"] == 512 * 384 * 3  # stub untouched


def test_png_zlib_decode_roundtrip_all_filters():
    """The stdlib-zlib PNG decoder reconstructs the exact fixture pixels
    across shapes (the fixture encoder cycles all five PNG filter types
    per row, so None/Sub/Up/Average/Paeth defilters are all exercised);
    RGBA drops alpha after defilter; truncation, filter-byte corruption,
    and a pixel-buffer/IHDR disagreement raise NotImplementedError
    (stub fallback, never a wrong pixel)."""
    import zlib

    import numpy as np

    from projet_pipeline_bigdata_org_spark.operators import multimodal as mm

    for w, h in [(640, 360), (17, 9), (1, 1), (3, 7)]:
        px = mm.decode_png_pixels(mm._png_fixture(w, h))
        assert px.shape == (h, w, 3)
        assert (px == mm.bmp_fixture_pixels(w, h)).all(), (w, h)

    # RGBA (color type 6): alpha plane dropped, RGB planes exact
    rgb = mm.bmp_fixture_pixels(5, 4)
    raw = bytearray()
    for y in range(4):
        raw.append(0)
        raw.extend(
            np.concatenate(
                [rgb[y], np.full((5, 1), 200, np.uint8)], axis=1
            ).tobytes()
        )
    ihdr = (5).to_bytes(4, "big") + (4).to_bytes(4, "big") + bytes([8, 6, 0, 0, 0])
    rgba = (
        b"\x89PNG\r\n\x1a\n"
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + mm._png_chunk(b"IEND", b"")
    )
    assert (mm.decode_png_pixels(rgba) == rgb).all()

    import pytest

    with pytest.raises(NotImplementedError):
        mm.decode_png_pixels(mm._png_fixture(10, 10)[:-20])
    # inflated buffer length disagreeing with IHDR must refuse
    short = (
        b"\x89PNG\r\n\x1a\n"
        + mm._png_chunk(
            b"IHDR",
            (9).to_bytes(4, "big") + (9).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0]),
        )
        + mm._png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        mm.decode_png_pixels(short)


def test_phash_band_pairs_on_real_bmp_pixels(spark):
    """End-to-end image near-dup on TRUE pixels: three constructed BMPs
    (base / two-cell edit / complement) round-trip through the real BMP
    decoder, the real-pixel aHash projection, and the SAME banded
    candidate + XOR/POPCNT pipeline the registered query uses — the
    near-dup pair surfaces at its exact Hamming distance, the complement
    never pairs."""
    from projet_pipeline_bigdata_org_spark.operators.multimodal import (
        PHASH_BANDS,
        ahash_words_from_pixels,
        decode_pixels_real,
        phash_band_pairs,
    )

    def bmp_of(img):
        import numpy as np

        h, w, _ = img.shape
        stride = (w * 3 + 3) // 4 * 4
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
        dib = (
            (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little")
            + (24).to_bytes(2, "little")
            + bytes(4)
            + (stride * h).to_bytes(4, "little")
            + bytes(16)
        )
        return (
            b"BM" + (54 + stride * h).to_bytes(4, "little") + bytes(4)
            + (54).to_bytes(4, "little") + dib + rows.tobytes()
        )

    left_half = {p for p in range(64) if p % 8 < 4}
    payloads = {
        1: bmp_of(_cell_image(left_half)),
        2: bmp_of(_cell_image((left_half - {10}) | {20})),
        3: bmp_of(_cell_image(set(range(64)) - left_half)),
    }
    rows = [
        (doc_id, *ahash_words_from_pixels(decode_pixels_real(p)))
        for doc_id, p in sorted(payloads.items())
    ]
    h = spark.createDataFrame(
        rows,
        "doc_id long, " + ", ".join(f"w{b} long" for b in range(PHASH_BANDS)),
    )
    got = {(r.a_id, r.b_id): r.hamming for r in phash_band_pairs(h).collect()}
    assert got == {(1, 2): 2}


def test_registered_bmp_fixture_feeds_real_pixels():
    """The BMP the registered binaryFile queries ingest now carries a
    decodable pixel array (not just headers), so the driver-gated
    mm_resize_plan row exercises the real-pixel branch."""
    import numpy as np

    from projet_pipeline_bigdata_org_spark.operators.multimodal import (
        MM_MEDIA_FIXTURE_ROWS,
        bmp_fixture_pixels,
        decode_pixels_real,
    )

    bmp_payload = dict(MM_MEDIA_FIXTURE_ROWS)[3_000_000_005]
    assert np.array_equal(
        decode_pixels_real(bmp_payload), bmp_fixture_pixels(800, 600)
    )


def test_cusum_gate_matches_textbook_recursion_and_catches_slow_drift(spark):
    """Crafted daily series per type: (a) the relational
    running-sum/running-min rewrite must equal the textbook recursion
    S_i = max(0, S_{i-1} + y_i) computed in plain Python, row for row;
    (b) a persistent small drift (+19.00/day over baseline, under the
    EWMA band and under any single-day threshold) must trip is_shift
    once accumulated past H, while a flat series and a single transient
    spike that decays must NOT flag — the property that distinguishes
    CUSUM from the per-day gates."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import outliers

    base_day = datetime.datetime(2024, 3, 1, 0, 0, 0)
    rows, eid = [], 0

    def add_day(day_idx, etype, total_value):
        nonlocal eid
        rows.append(
            (eid, base_day + datetime.timedelta(days=day_idx, hours=1), 1,
             etype, float(total_value), "{}")
        )
        eid += 1

    # 'drift': 7 baseline days at 100.00, then +9.00/day persistent drift
    for d in range(7):
        add_day(d, "drift", 100.0)
    for d in range(7, 40):
        add_day(d, "drift", 119.0)
    # 'flat': constant forever
    for d in range(40):
        add_day(d, "flat", 100.0)
    # 'transient': one +150.00 spike on day 10, flat otherwise — the
    # spike exceeds slack once but decays back under H
    for d in range(40):
        add_day(d, "transient", 250.0 if d == 10 else 100.0)

    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    full = spark.createDataFrame(rows, schema)
    with mock.patch.object(outliers, "load", lambda _s, _d, _t: full):
        got = sorted(
            (
                (r.event_type, r.day_rank, r.daily_cents, r.cusum_scaled,
                 r.base_den, r.is_shift)
                for r in outliers.anomaly_cusum_gate(spark, "ignored").collect()
            )
        )

    # (a) textbook recursion replay, scaled by base_den, per type
    series = {
        "drift": [10_000] * 7 + [11_900] * 33,
        "flat": [10_000] * 40,
        "transient": [10_000] * 10 + [25_000] + [10_000] * 29,
    }
    want = []
    for etype, xs in series.items():
        den = min(len(xs), outliers.CUSUM_BASELINE_DAYS)
        num = sum(xs[:den])
        s = 0
        for i, x in enumerate(xs, start=1):
            y = x * den - num - outliers.CUSUM_SLACK_CENTS * den
            s = max(0, s + y)
            want.append(
                (etype, i, x, s, den,
                 i > outliers.CUSUM_BASELINE_DAYS
                 and s > outliers.CUSUM_THRESHOLD_CENTS * den)
            )
    assert got == sorted(want)

    flagged = {(t, r) for t, r, _x, _s, _d, f in got if f}
    assert any(t == "drift" for t, _ in flagged)
    assert all(t != "flat" for t, _ in flagged)
    assert all(t != "transient" for t, _ in flagged)
    # drift flags PERSIST once tripped (monotone accumulation)
    drift_flag_ranks = sorted(r for t, r in flagged if t == "drift")
    assert drift_flag_ranks == list(
        range(drift_flag_ranks[0], 41)
    )


def test_ols_trend_recovers_exact_line_and_guards_degenerate_group(spark):
    """Crafted daily counts lying EXACTLY on y = 3x + 7 must recover
    slope 3.0 / intercept 7.0 bit-exactly (closed-form normal equations
    on exact integers; a calendar gap must not bend the fit since x is
    the day index, not the row number), and a type observed on a single
    day (zero x-variance) must yield NULL slope/intercept via the
    integer guard, never a divide-by-zero."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import timeseries

    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    rows, eid = [], 0
    # 'line': days 0,1,2,4 (gap at 3) with 7,10,13,19 events — y = 3x+7
    for d, n in [(0, 7), (1, 10), (2, 13), (4, 19)]:
        for _ in range(n):
            rows.append(
                (eid, base + datetime.timedelta(days=d, hours=2), 1, "line",
                 1.0, "{}")
            )
            eid += 1
    # 'single': one day only
    for _ in range(5):
        rows.append((eid, base, 1, "single", 1.0, "{}"))
        eid += 1
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    full = spark.createDataFrame(rows, schema)
    with mock.patch.object(timeseries, "load", lambda _s, _d, _t: full):
        got = {
            r.event_type: (r.n_days, r.slope_num, r.slope_den, r.slope,
                           r.intercept)
            for r in timeseries.agg_ols_trend(spark, "ignored").collect()
        }
    # exact normal equations on x=(0,1,2,4), y=(7,10,13,19):
    # n=4 sx=7 sy=49 sxy=112 sx2=21 -> num=4*112-7*49=105, den=4*21-49=35
    assert got["line"] == (4, 105, 35, 3.0, 7.0)
    assert got["single"] == (1, 0, 0, None, None)


def test_delta_postings_varint_boundaries_and_crafted_lists(spark):
    """varint_bytes pinned at every 7-bit boundary (0..2^63-1), and a
    crafted corpus whose posting gaps straddle the 1/2/3-byte widths
    yields the exactly-predicted encoded sizes — including the
    first-id-absolute convention and the min-df cut."""
    from unittest import mock

    from pyspark.sql import functions as F

    from projet_pipeline_bigdata_org_spark.operators import textops

    vals = spark.range(1).select(
        *[
            textops.varint_bytes(F.lit(v)).alias(f"b{i}")
            for i, v in enumerate(
                [0, 1, 127, 128, 16_383, 16_384, (1 << 21) - 1, 1 << 21,
                 (1 << 56) - 1, 1 << 56, (1 << 63) - 1]
            )
        ]
    ).collect()[0]
    assert list(vals) == [1, 1, 1, 2, 2, 3, 3, 4, 8, 9, 9]

    # crafted postings: token 'alpha' in docs 0,127,255,16639,16889 ->
    # gaps 0,127,128,16384,250 -> varint widths 1,1,2,3,2 = 9 bytes
    # (raw 5*8 = 40 -> ratio 225 milli); 'rare' df=2 < min-df drops out
    docs = (
        [(i, "alpha filler") for i in (0, 127, 255, 16_639, 16_889)]
        + [(9_000 + i, "rare x9") for i in range(2)]
        + [(50 + i, "filler") for i in range(5)]
    )
    full = spark.createDataFrame(docs, "doc_id long, text string")
    with mock.patch.object(textops, "load", lambda _s, _d, _t: full):
        got = {
            r.tok: (r.n_docs, r.delta_bytes, r.raw_bytes, r.ratio_milli)
            for r in textops.compress_delta_postings(spark, "ignored").collect()
        }
    assert got["alpha"] == (5, 9, 40, 225)
    assert "rare" not in got and "x9" not in got  # df cut; non-[a-z]+ cut
    assert "filler" in got and got["filler"][0] == 10


def test_rle_audit_bucket_stitch_merges_border_runs(spark):
    """The per-bucket runs + boundary-stitch formulation pinned from
    first principles on a crafted table: a value run SPANNING a bucket
    border must count once (naive per-bucket sums would count it twice),
    a border where values differ must not merge, and the milli ratio is
    the truncating div of the stitched totals."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import relational

    # 2 buckets of 4096 orderkeys; l_returnflag run 'A' spans the border,
    # l_linestatus changes exactly at the border, suppkey/shipdate const
    rows = []
    for k in range(4090, 4102):
        rows.append(
            (k, 1, "A" if k < 4100 else "B",
             "O" if k < 4096 else "F", 7, "1995-01-01")
        )
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_returnflag string, "
        "l_linestatus string, l_suppkey long, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("date"))
    with mock.patch.object(relational, "load", lambda _s, _d, _t: df):
        got = {
            (r.ordering, r.col_name): (r.n_rows, r.n_runs, r.runs_milli)
            for r in relational.arrange_rle_audit(spark, "ignored").collect()
        }
    # natural order = key order: returnflag runs A(10)B(2) -> 2 runs even
    # though A spans the 4095/4096 bucket border; linestatus O(6)F(6) -> 2
    # (border-aligned change, no merge); constants -> 1 run each
    assert got[("natural", "l_returnflag")] == (12, 2, 166)
    assert got[("natural", "l_linestatus")] == (12, 2, 166)
    assert got[("natural", "l_suppkey")] == (12, 1, 83)
    assert got[("natural", "l_shipdate")] == (12, 1, 83)
    # layout order sorts by (returnflag, linestatus, ...): A-F, A-O, B-F
    # -> returnflag 2 runs, linestatus 3 runs (F under A, O under A, F
    # under B), constants 1
    assert got[("layout", "l_returnflag")] == (12, 2, 166)
    assert got[("layout", "l_linestatus")] == (12, 3, 250)
    assert got[("layout", "l_suppkey")] == (12, 1, 83)


def test_seasonal_residual_ignores_weekly_pattern_and_flags_break(spark):
    """A strong weekly profile (busy 'Mondays' at 800.00, quiet other
    days at 100.00) must produce ZERO flags by itself — the property
    level-based gates lack — while one broken Monday (at the quiet
    level) and one spiked quiet day both flag against their own weekday
    class. Classes are di % 7, so the test derives each row's class from
    the epoch day exactly as the operator does."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import outliers

    base = datetime.datetime(2024, 3, 4, 6, 0, 0)  # arbitrary anchor
    base_di = (base.date() - datetime.date(1970, 1, 1)).days
    rows = []
    for d in range(28):  # four full weeks
        di = base_di + d
        busy = di % 7 == 0
        val = 800.0 if busy else 100.0
        rows.append(
            (d, base + datetime.timedelta(days=d), 1, "weekly", val, "{}")
        )
    # break week 4: the LAST busy day collapses to 100, one quiet day spikes
    breaks = {}
    for i, (eid, ts, u, t, v, p) in enumerate(rows):
        di = base_di + eid
        if di % 7 == 0 and eid >= 21:
            breaks[i] = (eid, ts, u, t, 100.0, p)     # broken Monday
        if di % 7 == 3 and eid >= 24:
            breaks[i] = (eid, ts, u, t, 700.0, p)     # spiked quiet day
    for i, r in breaks.items():
        rows[i] = r
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    full = spark.createDataFrame(rows, schema)
    with mock.patch.object(outliers, "load", lambda _s, _d, _t: full):
        got = {
            r.di: (r.dow, r.daily_cents, r.s_den, r.is_anomaly)
            for r in outliers.anomaly_seasonal_residual(
                spark, "ignored"
            ).collect()
        }
    assert len(got) == 28
    flagged = {di for di, (_w, _c, _n, f) in got.items() if f}
    broken_monday = {base_di + e for e in range(21, 28) if (base_di + e) % 7 == 0}
    spiked_quiet = {base_di + e for e in range(24, 28) if (base_di + e) % 7 == 3}
    assert flagged == broken_monday | spiked_quiet
    # every unbroken busy day sits in a 4-obs class and does NOT flag
    for di, (dow, cents, s_den, f) in got.items():
        if di not in flagged:
            assert not f
            assert s_den == 4


def test_walk_sampling_replays_coin_argmin_in_python(spark):
    """The walk's neighbor choice pinned from first principles: on a
    crafted graph (hub with three spokes, plus a chain) the next hop at
    every step must be the argmin of the portable hash_coin over
    (walk, step, candidate), replayed here in plain Python with the
    published constants — and the walk length/step structure must be
    exactly WALK_LEN + 1 rows per walk."""
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.functions.hashing import KNUTH, PRIME32
    from projet_pipeline_bigdata_org_spark.operators import grouped

    def coin(key):
        return (key % PRIME32) * KNUTH % PRIME32

    # orders: basket {1,2,3,4} makes a clique; baskets chain 4-5, 5-6
    rows = []
    for o, parts in [(10, [1, 2, 3, 4]), (11, [4, 5]), (12, [5, 6])]:
        for pkey in parts:
            rows.append((o, pkey))
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    with mock.patch.object(grouped, "load", lambda _s, _d, _t: li):
        got = sorted(
            (r.walk_id, r.step, r.node)
            for r in grouped.algo_walk_sampling(spark, "ignored").collect()
        )

    # rebuild adjacency + replay in python
    import itertools

    edges = set()
    for o, parts in [(10, [1, 2, 3, 4]), (11, [4, 5]), (12, [5, 6])]:
        for u, v in itertools.combinations(sorted(parts), 2):
            edges.add((u, v))
            edges.add((v, u))
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
    deg = {u: len(vs) for u, vs in adj.items()}
    seeds = sorted(deg, key=lambda n: (-deg[n], n))[: grouped.WALK_SEEDS]
    want = []
    for s0 in seeds:
        cur = s0
        want.append((s0, 0, s0))
        for step in range(1, grouped.WALK_LEN + 1):
            cur = min(
                adj[cur],
                key=lambda d: (
                    coin(coin(s0) + step * grouped._WALK_STEP_MIX + d),
                    d,
                ),
            )
            want.append((s0, step, cur))
    assert got == sorted(want)


def test_calibration_bins_cover_margin_extremes(spark):
    """The all-nonnegative bin formula pinned at its edges: a document of
    maximally-negative per-token margin lands in bin 0, maximally
    positive in bin CALIB_BINS-1, and the n_tokens=0 document is
    excluded. Uses synthetic margin/keep tables through the same bin
    arithmetic the operator applies."""
    from pyspark.sql import functions as F

    from projet_pipeline_bigdata_org_spark.operators.curation import (
        CALIB_BINS,
        QC_M,
    )

    half = QC_M // 2
    rows = [
        (1, 10, -half * 10),   # all tokens at the minimum weight
        (2, 10, half * 10),    # all tokens at the maximum weight
        (3, 7, 0),             # dead-center
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long, margin long")
    got = {
        r.doc_id: r.bin
        for r in df.select(
            "doc_id",
            F.expr(
                f"CAST((margin + {half} * n_tokens) * {CALIB_BINS}"
                f" div ({QC_M} * n_tokens) AS BIGINT)"
            ).alias("bin"),
        ).collect()
    }
    assert got[1] == 0
    assert got[2] == CALIB_BINS - 1
    assert got[3] == CALIB_BINS // 2 - (1 if CALIB_BINS % 2 == 0 else 0)


def test_bootstrap_ci_replays_poisson_weights_in_python(spark):
    """The Poisson-bootstrap machinery pinned from first principles on a
    crafted stream: plain-Python replay of the coin → threshold-table
    weight draw reproduces every resampled mean, the emitted interval is
    exactly the (2nd, B-1th) order statistics of those means, and weight
    frequencies look Poisson(1)-ish (more 0/1 than >=3)."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.functions.hashing import KNUTH, PRIME32
    from projet_pipeline_bigdata_org_spark.operators import analytics_ext as ax
    from projet_pipeline_bigdata_org_spark.operators import outliers

    def coin(key):
        return (key % PRIME32) * KNUTH % PRIME32

    def weight(c):
        for k, t in enumerate(ax._BOOT_THRESH):
            if c < t:
                return k
        return 6

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (i, base + datetime.timedelta(seconds=i), 1, "t", float(10 + i % 7), "{}")
        for i in range(200)
    ]
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    full = spark.createDataFrame(rows, schema)
    with mock.patch.object(ax, "load", lambda _s, _d, _t: full):
        got = ax.agg_bootstrap_ci(spark, "ignored").collect()[0]

    cents = [int(round((10 + i % 7) * 100)) for i in range(200)]
    means = []
    weight_counts = {}
    for b in range(ax.BOOT_B):
        s_b = n_b = 0
        for i, c in enumerate(cents):
            w = weight(coin(coin(i) + b * ax._BOOT_MIX))
            weight_counts[w] = weight_counts.get(w, 0) + 1
            s_b += w * c
            n_b += w
        means.append((s_b / n_b, b))
    means.sort()
    assert got.n_events == 200
    assert got.mean_cents == sum(cents) / 200
    assert got.ci_lo == means[1][0]
    assert got.ci_hi == means[ax.BOOT_B - 2][0]
    assert got.ci_lo <= got.mean_cents <= got.ci_hi
    assert weight_counts.get(0, 0) + weight_counts.get(1, 0) > sum(
        v for k, v in weight_counts.items() if k >= 3
    )


def test_wav_pcm_decoder_roundtrip_and_reject():
    """decode_wav_pcm reads back the exact int16 waveform the fixture
    embeds (byte-level round-trip through a real RIFF walk), and every
    unreadable variant — truncated data, 8-bit depth, non-PCM codec,
    misaligned data chunk — raises NotImplementedError."""
    import numpy as np
    import pytest

    from projet_pipeline_bigdata_org_spark.operators.multimodal import (
        _wav_fixture,
        decode_wav_pcm,
        wav_fixture_samples,
    )

    for ch, fr in ((2, 480), (1, 7), (3, 64)):
        payload = _wav_fixture(44_100, ch, fr)
        s = decode_wav_pcm(payload)
        assert s.shape == (fr, ch)
        assert np.array_equal(s, wav_fixture_samples(ch, fr))

    good = _wav_fixture(44_100, 2, 480)
    eight_bit = bytearray(good)
    eight_bit[34:36] = (8).to_bytes(2, "little")   # bits-per-sample field
    adpcm = bytearray(good)
    adpcm[20:22] = (2).to_bytes(2, "little")       # codec field
    for bad in (good[:-3], bytes(eight_bit), bytes(adpcm), b"RIFFxxxxWAVE"):
        with pytest.raises(NotImplementedError):
            decode_wav_pcm(bytes(bad))


def test_wav_levels_kernel_true_samples_and_mime_dispatch():
    """The level kernel computes peak/sum-of-squares from TRUE samples
    (checked against a plain-Python fold over the construction formula)
    and drops non-audio payloads on their decoded mime."""
    import pandas as pd

    from projet_pipeline_bigdata_org_spark.operators import multimodal as mm

    wav = mm._wav_fixture(44_100, 2, 480)
    png = mm._png_fixture(640, 360)
    pdf = pd.DataFrame({"doc_id": [1, 2], "payload": [wav, png]})
    out = pd.concat(list(mm.wav_levels_batches(iter([pdf]))))
    assert list(out["doc_id"]) == [1]
    row = out.iloc[0]
    peak = sum_sq = 0
    for i in range(480):
        for c in range(2):
            v = ((i * (251 + 17 * c)) % 2048) - 1024
            peak = max(peak, abs(v))
            sum_sq += v * v
    assert (row.sample_rate, row.n_channels, row.n_frames) == (44_100, 2, 480)
    assert row.peak_abs == peak and row.sum_sq == sum_sq


def test_match_recognize_finds_vshape_and_reports_overlaps(spark):
    """Crafted daily series: a clean V (5 rows down-down-up-up) matches
    with exact measures; a W-shape reports BOTH overlapping Vs (AFTER
    MATCH SKIP TO NEXT ROW semantics); a monotone series and a flat
    bottom (plateau breaks strictness) never match; a calendar gap
    inside the V does not break ROW adjacency."""
    import datetime
    from unittest import mock

    from projet_pipeline_bigdata_org_spark.operators import outliers

    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    rows, eid = [], 0

    def day(etype, d, total):
        nonlocal eid
        rows.append(
            (eid, base + datetime.timedelta(days=d, hours=1), 1, etype,
             float(total), "{}")
        )
        eid += 1

    # clean V with a calendar gap (day 3 missing): 50,40,30,45,60
    for d, v in [(0, 50), (1, 40), (2, 30), (4, 45), (5, 60)]:
        day("vee", d, v)
    # W: 50,40,30,40,50,40,30,40,50 — Vs start at rows 0 and 4;
    # rows 1..3 and 5..7 fail strictness somewhere
    for d, v in enumerate([50, 40, 30, 40, 50, 40, 30, 40, 50]):
        day("dubya", d, v)
    # monotone rise and a flat-bottom U (plateau) must not match
    for d, v in enumerate([10, 20, 30, 40, 50]):
        day("mono", d, v)
    for d, v in enumerate([50, 40, 30, 30, 40, 50]):
        day("flat", d, v)

    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    full = spark.createDataFrame(rows, schema)
    with mock.patch.object(outliers, "load", lambda _s, _d, _t: full):
        got = {
            (r.event_type, r.start_day): (
                r.trough_cents, r.depth_cents, r.recovery_cents
            )
            for r in outliers.agg_match_recognize(spark, "ignored").collect()
        }
    d0 = base.date()
    iso = lambda d: (d0 + datetime.timedelta(days=d)).isoformat()  # noqa: E731
    assert got == {
        ("vee", iso(0)): (3000, 2000, 3000),
        ("dubya", iso(0)): (3000, 2000, 2000),
        ("dubya", iso(4)): (3000, 2000, 2000),
    }


def test_duplicate_spans_matches_bruteforce(spark, sf_dir):
    """Independent third check of dedup_duplicate_spans (next to the
    DuckDB twin): a pure-Python replay — count every K-token window
    corpus-wide over documents ∪ the near-dup fixture, merge duplicated
    starts into maximal islands (gap > K breaks), hash the exact token
    slice — must reproduce the operator's span set EXACTLY. Also pins
    the string-keyed semantics of the hash-pair production shuffle (a
    16-byte pair collision would surface here as a phantom span)."""
    import hashlib
    from collections import Counter, defaultdict

    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        INCREMENTAL_NEARDUP_FIXTURE_ROWS,
        SPAN_SEED_TOKENS as K,
    )

    docs = {
        r.doc_id: (r.text or "")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    for i, t, _ in INCREMENTAL_NEARDUP_FIXTURE_ROWS:
        docs[i] = t
    toks = {i: [w for w in t.split(" ") if w] for i, t in docs.items()}
    counts = Counter(
        tuple(ts[p : p + K])
        for ts in toks.values()
        for p in range(len(ts) - K + 1)
    )
    starts = defaultdict(list)
    for i, ts in toks.items():
        for p in range(len(ts) - K + 1):
            if counts[tuple(ts[p : p + K])] > 1:
                starts[i].append(p)
    expected = set()
    for i, ps in starts.items():
        run = [ps[0]]
        for p in ps[1:] + [None]:
            if p is not None and p - run[-1] <= K:
                run.append(p)
                continue
            s, e = run[0], run[-1] + K
            sha = hashlib.sha256(" ".join(toks[i][s:e]).encode()).hexdigest()
            expected.add((i, s, e - s, len(run), sha))
            if p is not None:
                run = [p]
    got = {
        (r.doc_id, r.span_start, r.span_len, r.n_grams, r.span_sha)
        for r in _Q["dedup_duplicate_spans"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "fixture must make the audit non-vacuous"


def test_jaccard_prefix_complete_vs_bruteforce(spark, sf_dir):
    """The prefix-filter theorem in practice: dedup_jaccard_prefix must
    be EXACTLY the set of pairs with distinct-3-shingle Jaccard >= 7/10
    over documents ∪ the near-dup fixture — sound (no phantom pairs)
    AND complete (prefix candidate generation loses nothing), per an
    independent pure-Python inverted-index replay with no prefixes and
    no caps."""
    from collections import defaultdict
    from fractions import Fraction

    from projet_pipeline_bigdata_org_spark.operators.dedup import (
        INCREMENTAL_NEARDUP_FIXTURE_ROWS,
        PREFIX_T_DEN,
        PREFIX_T_NUM,
    )

    docs = {
        r.doc_id: (r.text or "")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    for i, t, _ in INCREMENTAL_NEARDUP_FIXTURE_ROWS:
        docs[i] = t
    sets = {}
    for i, t in docs.items():
        toks = [w for w in t.split(" ") if w]
        sh = {" ".join(toks[p : p + 3]) for p in range(len(toks) - 2)}
        if sh:
            sets[i] = sh
    post = defaultdict(list)
    for i, sh in sets.items():
        for s in sh:
            post[s].append(i)
    common = defaultdict(int)
    for ids in post.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                common[(ids[x], ids[y])] += 1
    thr = Fraction(PREFIX_T_NUM, PREFIX_T_DEN)
    expected = {
        (a, b, c)
        for (a, b), c in common.items()
        if Fraction(c, len(sets[a]) + len(sets[b]) - c) >= thr
    }
    got = {
        (r.a_id, r.b_id, r.n_common)
        for r in _Q["dedup_jaccard_prefix"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "fixture must make the join non-vacuous"


def test_wordpiece_merge_never_selects_bare_continuation_marker(spark):
    """A bare '##' right symbol would merge to its left symbol unchanged
    and let the fold chain-merge; both twins must skip it even when its
    likelihood score ranks first. Crafted vocabulary: (q, ##) scores
    c/(lc*rc) = 1/1 and outranks (b, ##c) at 2/(2*2)."""
    import duckdb

    from projet_pipeline_bigdata_org_spark.operators.textops import (
        _bpe_round_ctes,
        bpe_merge_round,
    )

    vocab = spark.createDataFrame(
        [("qx", 1, ["q", "##"]), ("bc", 2, ["b", "##c"])],
        "word string, freq long, syms array<string>",
    )
    rebuilt, summary = bpe_merge_round(vocab, 1, wordpiece=True)
    (row,) = summary.collect()
    assert (row.left_sym, row.right_sym, row.pair_freq) == ("b", "##c", 2)
    assert {r.word: list(r.syms) for r in rebuilt.collect()} == {
        "qx": ["q", "##"],
        "bc": ["bc"],
    }
    sql = (
        "WITH tv0 AS (SELECT * FROM (VALUES ('qx', 1, 'q ##'), ('bc', 2, 'b ##c'))"
        " t(word, freq, seq)), "
        + ", ".join(_bpe_round_ctes(1, p="t", wordpiece=True))
        + " SELECT left_sym, right_sym, pair_freq, vocab_symbols_after FROM tm1"
    )
    assert duckdb.connect().execute(sql).fetchall() == [("b", "##c", 2, 3)]


def test_wordpiece_training_and_maxmatch_match_python_replay(spark, sf_dir):
    """Independent third check of the WordPiece pair: replay the whole
    trainer (likelihood-score argmax with the exact quantized-integer
    ranking, '##'-stripped merges, run-parity application) AND the
    greedy longest-match-first tokenizer in pure Python, and require
    the registered queries to reproduce both exactly."""
    from collections import Counter

    from projet_pipeline_bigdata_org_spark.operators.textops import (
        WP_MAX_WORD_CHARS,
        WP_ROUNDS,
        WP_SCORE_SCALE,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    )
    words = Counter()
    for r in rows:
        for w in (r.text or "").split(" "):
            if w and w.isascii() and w.isalpha() and w.islower() and len(w) <= WP_MAX_WORD_CHARS:
                words[w] += 1
    vocab = {
        w: [w[0]] + ["##" + c for c in w[1:]] for w in words
    }
    expected_rounds = []
    pieces = {s for syms in vocab.values() for s in syms}
    for rnd in range(1, WP_ROUNDS + 1):
        pc, sc = Counter(), Counter()
        for w, syms in vocab.items():
            f = words[w]
            for s in syms:
                sc[s] += f
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        best = min(
            pc,
            key=lambda k: (
                -(pc[k] * WP_SCORE_SCALE // (sc[k[0]] * sc[k[1]])),
                k[0],
                k[1],
            ),
        )
        bl, br = best
        merged = bl + br[2:]
        pieces.add(merged)
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == bl and syms[i + 1] == br:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
        after = sum(len(s) for s in vocab.values())
        score_q = pc[best] * WP_SCORE_SCALE // (sc[bl] * sc[br])
        expected_rounds.append((rnd, bl, br, pc[best], score_q, after))
    got_rounds = sorted(
        (r.round, r.left_sym, r.right_sym, r.pair_freq, r.score_q, r.vocab_symbols_after)
        for r in _Q["text_wordpiece_learn"].fn(spark, sf_dir).collect()
    )
    assert got_rounds == sorted(expected_rounds)
    # greedy longest-match-first over the final piece set
    def maxmatch(w: str) -> int:
        i, n = 0, 0
        while i < len(w):
            for ln in range(len(w) - i, 0, -1):
                cand = w[i : i + ln] if i == 0 else "##" + w[i : i + ln]
                if cand in pieces:
                    i += ln
                    n += 1
                    break
            else:
                raise AssertionError("unreachable: single chars are in V")
        return n
    wp = {w: maxmatch(w) for w in words}
    expected_docs = {}
    for did, text in (
        (r.doc_id, r.text or "")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ):
        ws = [
            w
            for w in text.split(" ")
            if w and w.isascii() and w.isalpha() and w.islower() and len(w) <= WP_MAX_WORD_CHARS
        ]
        if not ws:
            continue
        nw = len(ws)
        nc = sum(len(w) for w in ws)
        nt = sum(wp[w] for w in ws)
        expected_docs[did] = (nw, nc, nt, nt * 1000 // nw)
    got_docs = {
        r.doc_id: (r.n_words, r.n_char_tokens, r.n_wp_tokens, r.fertility_milli)
        for r in _Q["text_wordpiece_tokenize"].fn(spark, sf_dir).collect()
    }
    assert got_docs == expected_docs


def test_epoch_permutation_bijective_and_replays(spark, sf_dir):
    """The Feistel epoch shuffle must be (a) a true bijection per epoch
    (distinct doc_ids -> distinct positions — the property ORDER BY
    rand() cannot give deterministically), (b) exactly reproduced by an
    independent pure-Python replay of the network, (c) a DIFFERENT
    order per epoch, and (d) invertible (decrypting the position with
    the reversed round schedule recovers the doc_id)."""
    from projet_pipeline_bigdata_org_spark.functions.hashing import (
        KNUTH,
        PRIME32,
    )
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        FEISTEL_HALF as H,
        FEISTEL_ROUNDS,
        PERM_EPOCHS,
        PERM_SHARD_DIV,
    )

    def coin(key: int) -> int:
        return (key % PRIME32) * KNUTH % PRIME32

    def f(epoch: int, rnd: int, r: int) -> int:
        return coin((epoch * FEISTEL_ROUNDS + rnd) * H + r) % H

    def perm(epoch: int, doc: int) -> int:
        l, r = doc // H, doc % H
        for i in range(FEISTEL_ROUNDS):
            l, r = r, (l + f(epoch, i, r)) % H
        return l * H + r

    def unperm(epoch: int, pos: int) -> int:
        l, r = pos // H, pos % H
        for i in reversed(range(FEISTEL_ROUNDS)):
            l, r = (r - f(epoch, i, l)) % H, l
        return l * H + r

    rows = _Q["curate_epoch_permutation"].fn(spark, sf_dir).collect()
    by_epoch = {}
    for row in rows:
        assert row.perm_pos == perm(row.epoch, row.doc_id)
        assert row.shard == row.perm_pos // PERM_SHARD_DIV
        assert unperm(row.epoch, row.perm_pos) == row.doc_id
        by_epoch.setdefault(row.epoch, {})[row.doc_id] = row.perm_pos
    assert set(by_epoch) == set(range(PERM_EPOCHS))
    docs = sorted(by_epoch[0])
    for e, m in by_epoch.items():
        assert len(set(m.values())) == len(m), f"epoch {e}: not injective"
    # different epochs visit the corpus in different orders
    order0 = sorted(docs, key=by_epoch[0].get)
    order1 = sorted(docs, key=by_epoch[1].get)
    assert order0 != order1


def test_jl_projection_replays_in_numpy_and_preserves_distances(spark, sf_dir):
    """Independent replay of embed_jl_project (quantize → coin-sign sum →
    normalize) in numpy, plus the JL property it exists for: pairwise
    distances in the 16-dim projection approximate the original
    distances (sanity band, not a proof — the bit-level pin is the
    replay)."""
    import numpy as np

    from projet_pipeline_bigdata_org_spark.functions.hashing import KNUTH, PRIME32
    from projet_pipeline_bigdata_org_spark.operators.similarity import JL_K, PW_XS

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    d = len(next(iter(vecs.values())))
    sign = np.array(
        [
            [1 if (i * JL_K + j) % PRIME32 * KNUTH % PRIME32 % 2 == 0 else -1
             for j in range(JL_K)]
            for i in range(d)
        ],
        dtype=np.int64,
    )
    expected = {}
    for vid, v in vecs.items():
        # half-AWAY-from-zero, matching Spark/DuckDB ROUND semantics —
        # np.round is banker's half-to-even and would disagree with a
        # correct operator on any coordinate landing exactly on x.5
        s = v * PW_XS
        q = (np.floor(np.abs(s) + 0.5) * np.sign(s)).astype(np.int64)
        expected[vid] = q @ sign  # exact integer signed sums
    got = {}
    for r in _Q["embed_jl_project"].fn(spark, sf_dir).collect():
        got.setdefault(r.vec_id, {})[r.out_dim] = (r.proj_scaled, r.proj)
    assert set(got) == set(vecs)
    for vid, m in got.items():
        assert len(m) == JL_K
        for j in range(JL_K):
            assert m[j][0] == expected[vid][j]
            assert m[j][1] == m[j][0] / (4 * PW_XS)
    # JL sanity: correlation between original and projected pairwise
    # squared distances over a sample of pairs is strongly positive
    ids = sorted(vecs)[:40]
    orig, proj = [], []
    pm = {vid: np.array([got[vid][j][1] for j in range(JL_K)]) for vid in ids}
    for a in range(0, len(ids), 3):
        for b in range(a + 1, len(ids), 7):
            va, vb = ids[a], ids[b]
            orig.append(float(np.sum((vecs[va] - vecs[vb]) ** 2)))
            proj.append(float(np.sum((pm[va] - pm[vb]) ** 2)))
    corr = np.corrcoef(orig, proj)[0, 1]
    # the synthetic corpus is near-isotropic (pairwise distances cluster
    # tightly), so at k=16 the JL relative error (~1/sqrt(k)) eats most
    # of the between-pair variance — the correlation is noise-limited
    # (measured ~0.38 here); the positive band pins the direction, the
    # bit-level replay above is the actual correctness gate
    assert corr > 0.2, f"JL distance correlation too low: {corr:.2f}"


def test_jl_sums_fallback_handles_null_and_long_vectors(spark):
    """The batch kernel of _jl_sums_np on batches its matmul fast path
    cannot take: a NULL embedding gives NULL, and a vector longer than
    EMBEDDING_DIM extends the sign rows by the same coin rule. Every row
    must equal its exact per-row integer dot."""
    import numpy as np

    from projet_pipeline_bigdata_org_spark.functions.hashing import KNUTH, PRIME32
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        EMBEDDING_DIM,
        JL_K,
        _jl_sums_np,
    )

    def dot(v):
        return [
            sum(
                x * (1 if (i * JL_K + j) % PRIME32 * KNUTH % PRIME32 % 2 == 0 else -1)
                for i, x in enumerate(v)
            )
            for j in range(JL_K)
        ]

    rng = np.random.default_rng(7)
    full = rng.integers(-10**6, 10**6, EMBEDDING_DIM)
    longer = rng.integers(-10**6, 10**6, EMBEDDING_DIM + 9)
    kernel = _jl_sums_np().func  # the function the pandas UDF runs per batch
    for batch in ([full, None, longer], [None, None], [longer, longer], [longer, None]):
        got = kernel(pd.Series(batch, dtype=object))
        assert [None if g is None else [int(x) for x in g] for g in got] == [
            None if v is None else dot(v.tolist()) for v in batch
        ]


def test_jl_project_null_elements_match_oracle(spark, tmp_path):
    """embed_jl_project against its DuckDB oracle on embeddings with a NULL
    element, all NULL elements, no elements, and a NULL embedding. Arrow
    hands such a batch to the kernel as float64 with NaN; the oracle's
    LIST_SUM skips NULL terms and sums nothing to NULL, and a NULL
    embedding still gives JL_K rows. Run once as one ragged batch (per-row
    path) and once with equal lengths (matmul path)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from projet_pipeline_bigdata_org_spark.operators.similarity import EMBEDDING_DIM, JL_K
    from tests.parity import _table_to_rows

    full = [float(i % 7 - 3) / 4 for i in range(EMBEDDING_DIM)]
    cases = {
        "ragged": [[1.0] * 63 + [None], [None] * EMBEDDING_DIM, [], full, None],
        "equal": [[1.0] * 63 + [None], [None] * EMBEDDING_DIM, full, None],
    }
    spec = _Q["embed_jl_project"]
    for case, vecs in cases.items():
        sf = tmp_path / case
        sf.mkdir()
        path = sf / "embeddings.parquet"
        pq.write_table(
            pa.table({
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }),
            path,
        )
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
        want = _table_to_rows(con.execute(spec.oracle).fetch_arrow_table())
        con.close()
        got = _table_to_rows(spec.fn(spark, str(sf)).toArrow())
        assert got == want, case
        # the cases pin NULL sums, not just rows that happen to agree
        null_sums = sum(r[2] == "␀" for r in want[1])  # columns sort to proj_scaled
        assert null_sums == JL_K * (3 if case == "ragged" else 2), case


def test_ann_ivf_incremental_equals_one_shot(spark, sf_dir):
    """Index-maintenance equality (VERDICT r14 #4): the maintained index
    (history assignment + assign-only shard admission into the frozen
    codebook, postings union) must equal the ONE-SHOT index built over
    the full corpus under the same history-seeded codebook — both
    restricted to the shard (the maintained rows) and over the whole
    postings table. Assignment is per-vector against a frozen codebook,
    so incremental == one-shot is the invariant that makes assign-only
    maintenance sound; a drift here means the incremental path indexes
    differently than a rebuild would."""
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        EMB_BATCH_RESIDUE,
        IVFC_INC_SEED_MAX,
        _ivfc_points_and_assign,
        ann_incremental_postings,
    )

    _pts, _cents, postings = ann_incremental_postings(spark, sf_dir)
    inc = {(r.vec_id, r.cell) for r in postings.collect()}

    _p, _c, one_shot = _ivfc_points_and_assign(
        spark,
        sf_dir,
        cents_filter=(F.col("vec_id") < IVFC_INC_SEED_MAX)
        & (F.col("vec_id") % 10 < EMB_BATCH_RESIDUE),
        scope="annic_oneshot",
    )
    full = {(r.vec_id, r.cell) for r in one_shot.collect()}
    assert inc == full  # whole postings table identical
    shard_inc = {(v, c) for v, c in inc if v % 10 >= EMB_BATCH_RESIDUE}
    shard_full = {(v, c) for v, c in full if v % 10 >= EMB_BATCH_RESIDUE}
    assert shard_inc and shard_inc == shard_full  # the maintained rows


def test_c4_rules_fixture_replay(spark, sf_dir):
    """Independent pure-Python replay of every C4 rule on the fixture
    riders (the docs that exercise each rule both ways — the synthetic
    corpus is single-line and punctuation-free) plus spot real-corpus
    invariants (single line, >=3 words => keep)."""
    import re as _re

    from projet_pipeline_bigdata_org_spark.operators.textops import (
        C4_FIXTURE_ROWS,
        C4_MIN_LINE_WORDS,
        C4_MIN_SENTENCES,
        text_c4_rules,
    )

    got = {r.doc_id: r for r in text_c4_rules(spark, sf_dir).collect()}
    for doc_id, text in C4_FIXTURE_ROWS:
        lines = [x.strip() for x in text.split("\n") if x.strip()]
        kept = [
            l
            for l in lines
            if len(l.split()) >= C4_MIN_LINE_WORDS
            and not _re.search(r"\bjavascript\b", l.lower())
        ]
        punct = [l for l in lines if l[-1] in '.!?"']
        n_sent = sum(text.count(c) for c in ".!?")
        r = got[doc_id]
        assert r.n_lines == len(lines)
        assert r.n_kept_lines == len(kept)
        assert r.n_punct_lines == len(punct)
        assert r.n_sentences == n_sent
        assert r.has_lorem == ("lorem ipsum" in text.lower())
        assert r.has_brace == ("{" in text)
        assert r.ok_sentences == (n_sent >= C4_MIN_SENTENCES)
        assert r.ok_terminal_punct == (len(punct) == len(lines) > 0)
        assert r.keep == (
            not r.has_lorem and not r.has_brace and len(kept) >= 1
        )
    # the six riders cover every rule in both directions
    assert {r.keep for d, r in got.items() if d >= 93_000_000} == {True, False}
    assert any(r.has_lorem for r in got.values())
    assert any(r.has_brace for r in got.values())
    assert any(
        r.n_kept_lines == 0 for d, r in got.items() if d >= 93_000_000
    )
    assert any(
        0 < r.n_kept_lines < r.n_lines for d, r in got.items()
    )  # a javascript line dropped, page kept


def test_funnel_ladder_c4_attribution_shift(spark, sf_dir):
    """The C4-extended ladder is EXACTLY the 9-stage ladder with one
    stage spliced in at rank 5: ranks 1-4 carry identical removals,
    ranks 6-10 carry the 9-stage ladder's ranks 5-9 minus whatever C4
    claimed first, totals are preserved (exactly-once attribution), and
    the final survivor count can only shrink."""
    from projet_pipeline_bigdata_org_spark import plans

    plans.load_all()
    l9 = {
        r.stage_ord: r
        for r in plans.get("curate_funnel_ladder").fn(spark, sf_dir).collect()
    }
    l10 = {
        r.stage_ord: r
        for r in plans.get("curate_funnel_ladder_c4").fn(spark, sf_dir).collect()
    }
    assert len(l9) == 10 and len(l10) == 11
    assert l9[0].n_remaining == l10[0].n_remaining  # same corpus in
    for i in range(1, 5):
        assert l10[i].n_removed == l9[i].n_removed
    total9 = sum(r.n_removed for r in l9.values())
    total10 = sum(r.n_removed for r in l10.values())
    assert total10 >= total9  # C4 can only add removals
    assert total10 - total9 == l10[5].n_removed - sum(
        l9[i].n_removed - l10[i + 1].n_removed for i in range(5, 10)
    )
    for i in range(5, 10):  # each shifted stage lost at most to C4
        assert l10[i + 1].n_removed <= l9[i].n_removed
    assert l10[10].n_remaining <= l9[9].n_remaining


def test_epoch_plan_replay_and_composition(spark, sf_dir):
    """The per-epoch manifest is reproducible and composes its three
    certified primitives faithfully: re-deriving an (epoch, shard) slice
    yields the identical position order (zero state — the trainer can
    re-read any shard), positions are unique per epoch (the Feistel
    bijection survives the mixture filter), every position agrees with
    the registered curate_epoch_permutation on shared (epoch, doc_id)
    keys, the temperature mixture really drops documents, and the
    epoch < n_ep cut really fires (srcbig owes one epoch)."""
    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        PERM_SHARD_DIV,
    )

    plans.load_all()
    fn = plans.get("curate_epoch_plan").fn
    rows = fn(spark, sf_dir).collect()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
        assert r.shard == r.position // PERM_SHARD_DIV
    assert set(by_epoch) == {0, 1}
    for e, rs in by_epoch.items():
        pos = [r.position for r in rs]
        assert len(pos) == len(set(pos))  # bijection per epoch
    # the mixture filter drops documents (kept < corpus at every SF)
    n_docs = len({r.doc_id for r in rows if r.epoch == 0})
    from projet_pipeline_bigdata_org_spark.catalog import load

    corpus = load(spark, sf_dir, "documents").count()
    assert 0 < n_docs < corpus
    # the epoch cut fires: srcbig owes exactly one epoch
    big = [(r.epoch) for r in rows if r.source == "srcbig"]
    assert big == [0]
    # positions agree with the registered permutation on shared keys
    perm = {
        (r.epoch, r.doc_id): r.perm_pos
        for r in plans.get("curate_epoch_permutation").fn(spark, sf_dir).collect()
    }
    checked = 0
    for r in rows:
        if (r.epoch, r.doc_id) in perm:
            assert perm[(r.epoch, r.doc_id)] == r.position
            checked += 1
    assert checked > 0
    # replay: re-deriving one epoch's shard yields the identical order
    e0 = by_epoch[0]
    shard = e0[0].shard
    want = sorted(
        (r.position, r.doc_id) for r in e0 if r.shard == shard
    )
    again = sorted(
        (r.position, r.doc_id)
        for r in fn(spark, sf_dir)
        .filter((F.col("epoch") == 0) & (F.col("shard") == shard))
        .collect()
    )
    assert again == want and len(want) > 0


def test_pipeline_e2e_reconciles_with_members(spark, sf_dir):
    """The e2e capstone's counts reconcile with its member queries'
    OWN outputs (VERDICT r16 #5): the survivor set it plans over is
    exactly the C4-ladder ledger's final n_remaining; sum(n_docs)
    equals the (survivors ∪ plan fixtures) epoch plan's row count;
    token_mass totals the same plan rows' own token counts; min/max
    positions per (epoch, shard) name the right documents."""
    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.curation import (
        _epoch_plan_from,
        _with_epoch_plan_fixture,
        funnel_ladder_staged,
    )
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        text_c4_rules,
        ws_tokens,
    )

    plans.load_all()
    manifest = plans.get("curate_pipeline_e2e").fn(spark, sf_dir).collect()
    assert manifest, "capstone must be non-vacuous"

    # survivor set == the C4 ladder ledger's final n_remaining
    staged = funnel_ladder_staged(spark, sf_dir)
    c4 = text_c4_rules(spark, sf_dir).select("doc_id", "keep")
    surv = (
        staged.join(c4, "doc_id")
        .filter((F.col("stage_ord") == 0) & F.col("keep"))
        .select("doc_id")
    )
    ledger = plans.get("curate_funnel_ladder_c4").fn(spark, sf_dir).collect()
    final_remaining = max(ledger, key=lambda r: r.stage_ord).n_remaining
    assert surv.count() == final_remaining

    # the plan over (survivors ∪ fixtures) accounts for every manifest doc
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .join(surv, "doc_id")
    )
    pdocs = _with_epoch_plan_fixture(spark, d)
    plan_rows = _epoch_plan_from(spark, pdocs).collect()
    assert sum(r.n_docs for r in manifest) == len(plan_rows)
    tok = {
        r.doc_id: r.n
        for r in pdocs.select(
            "doc_id", F.size(ws_tokens("text")).cast("long").alias("n")
        ).collect()
    }
    assert sum(r.token_mass for r in manifest) == sum(
        tok[r.doc_id] for r in plan_rows
    )
    # first/last per (epoch, shard) are the position-order endpoints
    by_cell = {}
    for r in plan_rows:
        by_cell.setdefault((r.epoch, r.shard), []).append((r.position, r.doc_id))
    for m in manifest:
        cell = sorted(by_cell[(m.epoch, m.shard)])
        assert m.first_doc_id == cell[0][1] and m.last_doc_id == cell[-1][1]
        assert m.n_docs == len(cell)


def test_gopher_repetition_replay(spark, sf_dir):
    """Independent pure-Python replay of every Gopher repetition metric
    (duplicate lines, duplicate line chars, repeated top-n-gram mass,
    duplicated-2-gram char coverage) on the fixture riders plus a sample
    of real documents, and rule-variety pins (every rule fails somewhere
    across corpus + riders)."""
    from projet_pipeline_bigdata_org_spark.catalog import load
    from projet_pipeline_bigdata_org_spark.operators.textops import (
        GOPREP_DUP_COV_PM,
        GOPREP_DUP_LINE_CHAR_PM,
        GOPREP_DUP_LINE_PM,
        GOPREP_FIXTURE_ROWS,
        GOPREP_TOP_GRAM_PM,
        text_gopher_repetition,
    )

    got = {r.doc_id: r for r in text_gopher_repetition(spark, sf_dir).collect()}
    texts = dict(GOPREP_FIXTURE_ROWS)
    sample = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(40)
        .collect()
    )
    texts.update({r.doc_id: r.text for r in sample})

    def replay(text):
        # the engines' shared ws_tokens contract splits on single SPACE
        # only (newlines stay inside tokens) — replay the same rule
        toks = [w for w in (text or "").split(" ") if w]
        total = sum(len(w) for w in toks)
        lines = [x.strip() for x in (text or "").split("\n") if x.strip()]
        masses = {}
        for n in (2, 3, 4):
            gs = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            cnt = {}
            for x in gs:
                cnt[x] = cnt.get(x, 0) + 1
            masses[n] = 0
            if gs:
                cm = max(cnt.values())
                if cm >= 2:
                    top = min(x for x in gs if cnt[x] == cm)
                    masses[n] = cm * (len(top) - (n - 1))
        g2 = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        c2 = {}
        for x in g2:
            c2[x] = c2.get(x, 0) + 1
        cov = sum(
            len(toks[p])
            for p in range(len(toks))
            if (p <= len(toks) - 2 and c2[g2[p]] >= 2)
            or (p >= 1 and c2[g2[p - 1]] >= 2)
        )
        return total, lines, masses, cov

    for doc_id, text in texts.items():
        total, lines, masses, cov = replay(text)
        r = got[doc_id]
        assert r.total_chars == total
        assert r.n_lines == len(lines)
        assert r.n_distinct_lines == len(set(lines))
        for n in (2, 3, 4):
            assert getattr(r, f"top{n}_mass") == masses[n], (doc_id, n)
        assert r.dup2_cov_chars == cov, doc_id
        lc = sum(len(x) for x in lines)
        dlc = sum(len(x) for x in set(lines))
        assert r.ok_dup_lines == (
            1000 * (len(lines) - len(set(lines)))
            <= GOPREP_DUP_LINE_PM * len(lines)
        )
        assert r.ok_dup_line_chars == (
            1000 * (lc - dlc) <= GOPREP_DUP_LINE_CHAR_PM * lc
        )
        for n in (2, 3, 4):
            assert getattr(r, f"ok_top{n}") == (
                1000 * masses[n] <= GOPREP_TOP_GRAM_PM[n] * total
            )
        assert r.ok_dup_cov == (1000 * cov <= GOPREP_DUP_COV_PM * total)
    # rule variety: every rule fails for someone, and keep splits
    all_rows = list(got.values())
    for flag in (
        "ok_dup_lines", "ok_dup_line_chars", "ok_top2", "ok_top3",
        "ok_top4", "ok_dup_cov",
    ):
        assert any(not getattr(r, flag) for r in all_rows), flag
    keeps = {r.keep for r in all_rows}
    assert keeps == {True, False}


def test_ann_ivfpq_incremental_codes_equal_one_shot(spark, sf_dir):
    """Code-store maintenance equality: history codes + encode-only
    shard admission against the frozen history-seeded PQ codebook must
    equal the ONE-SHOT encode of the full corpus under the same
    codebook — per (vector, subspace), the whole 8-code word. The
    coarse-postings half of the same invariant is
    test_ann_ivf_incremental_equals_one_shot."""
    from projet_pipeline_bigdata_org_spark.operators.similarity import (
        EMB_BATCH_RESIDUE,
        PQ_INC_SEED_MAX,
        _pq_assignments,
        pq_incremental_codes,
    )

    pts, cb, codes = pq_incremental_codes(spark, sf_dir)
    inc = {(r.vec_id, r.sub): r.cid for r in codes.collect()}
    full = {
        (r.vec_id, r.sub): r.cid for r in _pq_assignments(pts, cb).collect()
    }
    assert inc == full
    shard = {k for k in inc if k[0] % 10 >= EMB_BATCH_RESIDUE}
    assert shard  # the maintained rows exist
    # the frozen codebook really is history-only
    cids = {r.cid for r in cb.select("cid").distinct().collect()}
    assert all(c < PQ_INC_SEED_MAX and c % 10 < EMB_BATCH_RESIDUE for c in cids)


def test_gopher_repetition_exploded_equality(spark, sf_dir):
    """The explode+groupBy production form (VERDICT r15 #3) returns
    row-for-row identical output to the array-local form on the shared
    corpus + fixture riders (degenerate 1-token/empty/NULL docs included),
    and the degenerate riders land keep=true with all-zero gram metrics."""
    from projet_pipeline_bigdata_org_spark import plans

    a = plans.registry.get("lex_gopher_repetition").fn(spark, sf_dir)
    b = plans.registry.get("lex_gopher_repetition_exploded").fn(spark, sf_dir)
    assert a.columns == b.columns
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert len(ra) > 0 and ra == rb
    for rider in (93_200_004, 93_200_005, 93_200_006):
        row = dict(zip(b.columns, next(x for x in rb if x[0] == rider)))
        assert row["keep"] is True
        assert row["top2_mass"] == row["top3_mass"] == row["top4_mass"] == 0
        assert row["dup2_cov_chars"] == 0


def test_decontaminate_attrib_lex(spark, sf_dir):
    """lex_decontaminate_attrib: the planted leak attributes ONLY to
    benchmark 2 and is contaminated there; the clean fixture is absent;
    the real corpus attributes across all three benchmarks; and every
    globally-contaminated doc has at least one attribution row."""
    from projet_pipeline_bigdata_org_spark import plans

    rows = plans.registry.get("lex_decontaminate_attrib").fn(spark, sf_dir).collect()
    leak = [r for r in rows if r.doc_id == 94_000_001]
    assert len(leak) == 1 and leak[0].benchmark_id == 2 and leak[0].contaminated
    assert not [r for r in rows if r.doc_id == 94_000_002]
    assert not [r for r in rows if r.doc_id == 267_000_178]  # bench side, not corpus
    assert {r.benchmark_id for r in rows} == {0, 1, 2}
    flagged = {
        r.doc_id
        for r in plans.registry.get("lex_decontaminate").fn(spark, sf_dir).collect()
        if r.contaminated
    }
    attributed = {r.doc_id for r in rows}
    assert flagged <= attributed


def test_decontaminate_attrib_embed(spark, sf_dir):
    """embed_decontaminate_attrib: the emitted table is exactly the
    planted truth — each paraphrase attributes to its own benchmark
    once (cross-attribution impossible: the benchmarks are orthogonal),
    the antipode and the natural corpus are absent, best_cosine clears
    the confirm threshold."""
    from projet_pipeline_bigdata_org_spark import plans
    from projet_pipeline_bigdata_org_spark.operators.similarity import DECON_TAU

    rows = plans.registry.get("embed_decontaminate_attrib").fn(spark, sf_dir).collect()
    got = {(r.vec_id, r.benchmark_id): r for r in rows}
    assert set(got) == {(-26, 1), (-51, 2)}
    for r in rows:
        assert r.n_bench_near == 1
        assert r.best_cosine >= DECON_TAU
