"""Grouped Python-UDF operators (SURVEY.md §2.10 [GAP→add]: grouped-map
``applyInPandas``, GROUPED_AGG ``pandas_udf``) and an iterative distributed
algorithm (connected-components clustering of the near-dup pair graph —
the step after pair detection in any dedup pipeline).

Parity notes: the pandas kernels use only exact float ops (min/max,
subtraction, division of identical operands) so the DuckDB window-function
oracles match bit-for-bit; means/sums are avoided in Python (numpy pairwise
summation orders differently than SQL engines).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark.catalog import load
from projet_pipeline_bigdata_org_spark.functions.hashing import hash_coin, sql_hash_coin
from projet_pipeline_bigdata_org_spark.plans.registry import query


def _minmax_scale(pdf: pd.DataFrame) -> pd.DataFrame:
    lo, hi = pdf["value"].min(), pdf["value"].max()
    span = hi - lo
    pdf["scaled"] = 0.0 if span == 0 else (pdf["value"] - lo) / span
    pdf["group_min"] = lo
    pdf["group_max"] = hi
    return pdf[["event_id", "event_type", "value", "group_min", "group_max", "scaled"]]


@query(
    "grouped_map_minmax_scale",
    oracle="""
    SELECT event_id, event_type, value,
           MIN(value) OVER w AS group_min,
           MAX(value) OVER w AS group_max,
           CASE WHEN MAX(value) OVER w = MIN(value) OVER w THEN 0.0
                ELSE (value - MIN(value) OVER w)
                     / (MAX(value) OVER w - MIN(value) OVER w) END AS scaled,
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
    tags=("udf", "grouped", "events"),
)
def grouped_map_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-event-type min-max feature scaling.

    One shuffle on the group key, whole groups as Arrow-backed pandas frames
    in executor Python workers — the grouped-map operator shape (the
    window-function oracle proves the arithmetic; the point here is the
    applyInPandas machinery)."""
    e = load(spark, sf_dir, "events")
    return e.select("event_id", "event_type", "value").groupBy("event_type").applyInPandas(
        _minmax_scale,
        schema="event_id long, event_type string, value double, "
        "group_min double, group_max double, scaled double",
    )


@query(
    "grouped_agg_value_range",
    oracle="""
    SELECT event_type,
           MAX(value) - MIN(value) AS value_range,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("udf", "grouped", "events"),
)
def grouped_agg_value_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDFs (custom aggregates in Python): per-type value
    range + count. Exact ops only (max-min, len); Spark disallows mixing
    GROUPED_AGG pandas UDFs with native aggregates in one agg, so both
    measures are pandas-side."""

    @F.pandas_udf("double")
    def value_range(s: pd.Series) -> float:
        return float(s.max() - s.min())

    @F.pandas_udf("long")
    def n_rows(s: pd.Series) -> int:
        return len(s)

    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        value_range("value").alias("value_range"),
        n_rows("value").alias("n"),
    )


MAX_CC_ITERATIONS = 20


def connected_components(
    edges: DataFrame,
    max_iter: int = MAX_CC_ITERATIONS,
    reliable_checkpoint: bool | None = None,
    fallback_to_star: bool = True,
) -> DataFrame:
    """Min-label propagation over an undirected edge list (a_id, b_id) →
    (node, cluster_id = min reachable id). Iterates until fixpoint.

    Each round: node label ← min(own label, neighbors' labels) — two
    shuffles per round (propagate + re-aggregate); rounds ≈ graph diameter
    of the largest near-dup cluster, which is tiny in practice. The at-scale
    refinement is the large-star/small-star variant; the dataflow shape (no
    driver-side graph, only joins/aggregations) is identical.

    Fault/scale posture: the convergence check rides the SAME materialization
    as the per-round checkpoint — the round's labels carry a ``changed`` flag
    computed in the update join itself, so detecting the fixpoint is a scan
    of the just-checkpointed partitions, not a second join recompute.
    Checkpointing is reliable (``df.checkpoint()`` → HDFS/object store) when
    a checkpoint dir is configured — executor loss mid-iteration then replays
    from durable storage; ``localCheckpoint`` (executor-local, faster) is the
    fallback and the right choice in local mode. Override via
    ``reliable_checkpoint=True/False``.

    Convergence guard: min-label needs ~diameter rounds, so a component whose
    diameter exceeds ``max_iter`` cannot converge here. Rather than failing
    the pipeline, the non-converged case falls back to the
    large-star/small-star variant (O(log diameter) rounds) and returns its
    result — same contract, proven equivalent in tests. Set
    ``fallback_to_star=False`` to get the original RuntimeError instead."""
    sc = edges.sparkSession.sparkContext
    if reliable_checkpoint is None:
        reliable_checkpoint = sc.getCheckpointDir() is not None

    def _checkpoint(df: DataFrame) -> DataFrame:
        # cut the growing lineage every round either way
        return df.checkpoint(eager=True) if reliable_checkpoint else df.localCheckpoint(
            eager=True
        )

    # symmetrize in ONE pass over the (possibly expensive) input subtree —
    # explode, not union-of-projections — and checkpoint the adjacency once:
    # every round's neighbor_min joins adj, so an unmaterialized adj would
    # re-derive the upstream pair generation 2x per iteration at any scale.
    # Checkpoint it HASH-PARTITIONED ON dst (the per-round join key): the
    # checkpointed relation keeps that partitioning, so each round shuffles
    # only the |nodes|-row label table — the |E|-row adjacency exchanges
    # once at build instead of once per round (measured 4.60 -> 3.57 s on
    # dedup_cluster_components at sf0.1; the saving is ~diameter full edge
    # shuffles at cluster scale)
    adj = _checkpoint(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a_id").alias("src"), F.col("b_id").alias("dst")),
                    F.struct(F.col("b_id").alias("src"), F.col("a_id").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("dst")
    )
    labels = (
        adj.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
    )

    changed = -1
    for _ in range(max_iter):
        neighbor_min = (
            adj.join(labels, adj.dst == labels.node)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("new_cluster_id"),
                (F.coalesce("nbr_min", F.col("cluster_id")) < F.col("cluster_id")).alias(
                    "changed"
                ),
            )
            .select(
                "node", F.col("new_cluster_id").alias("cluster_id"), "changed"
            )
        )
        materialized = _checkpoint(updated)  # one job materializes the round
        # fixpoint probe scans the checkpointed partitions only (no recompute)
        changed = materialized.filter("changed").limit(1).count()
        labels = materialized.drop("changed")
        if changed == 0:
            break
    if changed != 0:
        if fallback_to_star:
            return connected_components_star(
                edges, reliable_checkpoint=reliable_checkpoint
            )
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} iterations "
            "(component diameter exceeds max_iter); raise max_iter or switch to "
            "the large-star/small-star variant"
        )
    return labels


from projet_pipeline_bigdata_org_spark.operators.dedup import (
    JACCARD_THRESHOLD as _JT,
    sql_df_capped_postings as _sql_capped,
)
from projet_pipeline_bigdata_org_spark.operators.textops import (
    SQL_WS_TOKENS as _SQL_TOKS,
    sql_shingles as _sql_shingles,
)


# shared CTE chain: shingles → DF-capped postings → jaccard pairs →
# undirected edges → recursive transitive closure → min-label per node.
# Reused by dedup_cluster_components AND dedup_keep_best so the oracles
# cannot drift from each other or from dedup_ngram_jaccard's.
SQL_CC_LABELS = f"""
    {_sql_capped(_sql_shingles(_SQL_TOKS.format(c='text')))},
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
      FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT a_id, b_id FROM inter
      JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {_JT}),
    edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
              UNION SELECT b_id, a_id FROM pairs),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT re.node, e.dst FROM reach re JOIN edges e ON re.r = e.src),
    labels AS (
      SELECT node, CAST(MIN(r) AS BIGINT) AS cluster_id
      FROM reach GROUP BY node)
"""


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {SQL_CC_LABELS}
    SELECT node, cluster_id FROM labels
    """,
    tags=("llm", "dedup", "iterative", "documents"),
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: exact-Jaccard pairs → connected components via
    iterative min-label propagation (the oracle computes the same transitive
    closure with a recursive CTE). Output: every node in the pair graph with
    its cluster representative (min doc_id)."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    return connected_components(pairs).select(
        "node", F.col("cluster_id").cast("long").alias("cluster_id")
    )


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {SQL_CC_LABELS},
    ranked AS (
      SELECT l.cluster_id, d.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY l.cluster_id) AS n_members
      FROM labels l JOIN documents d ON d.doc_id = l.node)
    SELECT cluster_id,
           CAST(doc_id AS BIGINT) AS keeper_doc_id,
           CAST(n_chars AS BIGINT) AS keeper_chars,
           n_members
    FROM ranked WHERE rn = 1
    """,
    tags=("llm", "dedup", "iterative", "documents"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection — the final stage of a corpus dedup pipeline: for
    each near-dup cluster, keep the 'best' member (longest text, min doc_id
    tie-break) and record cluster size. Composes the exact-Jaccard pairs →
    connected components → a quality-ranked window pick; a real pipeline
    would then anti-join the keepers against the corpus to drop the rest.

    Scale: one join of the (small) cluster-label table against documents on
    doc_id, one window over cluster_id — both shuffles keyed on ids; no
    driver participation."""
    from projet_pipeline_bigdata_org_spark.catalog import load as _load
    from projet_pipeline_bigdata_org_spark.operators.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    labels = connected_components(pairs)
    d = _load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    from pyspark.sql import Window as _W

    w = _W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    wc = _W.partitionBy("cluster_id")
    return (
        labels.join(d, labels.node == d.doc_id)
        .select("cluster_id", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").cast("long").alias("keeper_doc_id"),
            F.col("n_chars").cast("long").alias("keeper_chars"),
            "n_members",
        )
    )


@query(
    "agg_approximate",
    tags=("agg", "relational", "no-oracle"),
)
def agg_approximate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL count-distinct, t-digest percentile) —
    the at-scale variants of exact distinct/percentile. Engine-specific
    sketches, so rows-only (no cross-engine oracle by construction)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median_price"),
        F.count(F.lit(1)).alias("n"),
    )


def _symmetric(edges: DataFrame) -> DataFrame:
    # one pass over the input subtree (explode), not a union of two
    # projections that would each re-derive it
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a_id").alias("u"), F.col("b_id").alias("v")),
                    F.struct(F.col("b_id").alias("u"), F.col("a_id").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


#: round cap of connected_components_star; rounds grow with log(diameter)
STAR_MAX_ROUNDS = 50


def connected_components_star(
    edges: DataFrame, reliable_checkpoint: bool | None = None
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the at-scale alternative to plain min-label propagation: rounds needed
    grow with log(diameter) rather than diameter, so long chains (the
    worst case for dedup graphs with transitive near-dup paths) converge
    in a handful of shuffles.

    large-star: every node u computes m = min(Γ(u) ∪ {u}) and re-points
    its LARGER neighbors at m; small-star orients edges (large, small) and
    re-points the smaller neighborhood (plus u itself) at its minimum.
    Both are one groupBy + one join on the node key. At the fixpoint the
    edge set is the star forest {(node, component_min)}.

    Convergence: a count + xxhash64-sum checksum of the canonical edge set
    per round (single aggregate on the just-checkpointed edges) flags a
    CANDIDATE fixpoint; an exact ``exceptAll(...).isEmpty()`` probe then
    confirms it — the extra join runs only on the final round, so the
    operator is exact (no hash-coincidence early stop) at the cost of one
    join per full run, not per round."""
    e = _symmetric(edges).select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    sc = edges.sparkSession.sparkContext
    if reliable_checkpoint is None:
        reliable_checkpoint = sc.getCheckpointDir() is not None

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable_checkpoint else df.localCheckpoint(
            eager=True
        )

    def _checksum(df: DataFrame) -> tuple:
        # hash residues bounded to 2^40 so the sum stays exact in int64
        # under ANSI for any realistic edge count (2^23 edges × 2^40 < 2^63)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1 << 40))).alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    def large_star(cur: DataFrame) -> DataFrame:
        adj = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = adj.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(cur: DataFrame) -> DataFrame:
        oriented = cur.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        joined = oriented.join(mins, "u")
        repointed = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
        self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
        return (
            repointed.union(self_edges)
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )

    e = _ckpt(e)
    prev_sum = _checksum(e)
    converged = False
    for _ in range(STAR_MAX_ROUNDS):
        prev_e = e
        e = _ckpt(small_star(large_star(e)))
        cur_sum = _checksum(e)
        # checksum match → candidate fixpoint; confirm with an exact
        # set-compare (equal counts + empty difference ⟺ equal sets; both
        # sides are distinct canonical edges). Runs only on the final round.
        if cur_sum == prev_sum and e.exceptAll(prev_e).isEmpty():
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within {STAR_MAX_ROUNDS} rounds"
        )
    # fixpoint edge set is (node > center) pairs; centers label themselves
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    centers = e.select(F.col("v").alias("node")).distinct().withColumn(
        "cluster_id", F.col("node")
    )
    return labels.union(centers).distinct()


@query(
    "star_cluster_components",
    # identical oracle to dedup_cluster_components: two independent Spark
    # implementations (min-label propagation vs large/small-star), one truth
    oracle=f"""
    WITH RECURSIVE {SQL_CC_LABELS}
    SELECT node, cluster_id FROM labels
    """,
    tags=("llm", "dedup", "iterative", "documents"),
)
def star_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering via large-star/small-star connected components —
    same contract as dedup_cluster_components, O(log diameter) rounds
    instead of O(diameter): the variant to reach for when near-dup chains
    get long at corpus scale."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    return connected_components_star(pairs).select(
        F.col("node").cast("long").alias("node"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


# ---------------------------------------------------------------------------
# cogrouped-map applyInPandas (round 3): the cogroup API surface
# ---------------------------------------------------------------------------

_EPOCH = "1970-01-01"


def _asof_last_order(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Cogroup kernel: per-user backward as-of match of each event day to the
    latest STRICTLY earlier order day via np.searchsorted — the same match
    pd.merge_asof(direction='backward', allow_exact_matches=False) computes,
    minus merge_asof's ~5 ms fixed cost per call, which dominates when the
    cogroup produces thousands of small groups (measured 12.7s → ~2s at
    sf0.1). Ties among equal order days are value-identical, so the match
    is deterministic."""
    import numpy as np

    cols = ["event_id", "user_id", "event_day", "last_order_day"]
    if len(left) == 0:
        return pd.DataFrame({c: pd.Series(dtype="int64") for c in cols})
    out = left[["event_id", "user_id", "event_day"]].copy()
    if len(right) == 0:
        out["last_order_day"] = pd.array([None] * len(left), dtype="Int64")
        return out
    order_days = np.sort(right["order_day"].to_numpy())
    # first index >= event_day, minus 1 → last index strictly before
    idx = np.searchsorted(order_days, out["event_day"].to_numpy(), side="left") - 1
    # r18 (guide §4.2): build the nullable Int64 column from the numpy
    # values + mask directly — the previous per-row
    # [int(v) if v >= 0 else None ...] comprehension boxed every event
    # through Python objects, summing to an O(|events|) pure-Python pass
    # across the thousands of per-user calls. Row-identical (same values,
    # same nulls at idx < 0).
    out["last_order_day"] = pd.arrays.IntegerArray(
        order_days[np.maximum(idx, 0)].astype("int64"), mask=(idx < 0)
    )
    return out


@query(
    "pair_cogrouped_asof",
    oracle="""
    SELECT e.event_id, e.user_id,
           DATE_DIFF('day', DATE '1970-01-01', CAST(e.ts AS DATE)) AS event_day,
           DATE_DIFF('day', DATE '1970-01-01', MAX(CAST(o.o_orderdate AS DATE))) AS last_order_day
    FROM events e LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND CAST(o.o_orderdate AS DATE) < CAST(e.ts AS DATE)
    GROUP BY e.event_id, e.user_id, CAST(e.ts AS DATE)
    """,
    tags=("udf", "grouped", "cogroup", "asof", "events"),
)
def pair_cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via ``groupBy(...).cogroup(...).applyInPandas`` — the
    cogrouped-map operator surface (each user's events and orders arrive as
    a pandas frame pair; a searchsorted backward match runs in-process).

    The windowed form (event_asof_last_purchase) is the pure-JVM path; this
    exemplar exists for as-of logic Spark expressions can't state (e.g.
    tolerance bands, nearest-either-direction). Scale: one co-partitioned
    shuffle on the user key, per-group work linear after the in-group sort;
    group count = |users|, so no group outgrows an executor. The right side
    is semi-join-pruned to keys that actually have events BEFORE the
    cogroup — cogrouping fires one Python call per key in EITHER side, so
    unpruned it pays |customers| calls for |users-with-events| groups of
    work (10× here, measured 11.7s → ~4s at sf0.1; right-only groups
    produce no output either way, which is also why pruning is
    semantics-free).
    The oracle states the same contract relationally (max earlier order per
    event via a <-join + GROUP BY)."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit(_EPOCH).cast("date"))
        .cast("long")
        .alias("event_day"),
    )
    o_all = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit(_EPOCH).cast("date"))
        .cast("long")
        .alias("order_day"),
    )
    o = o_all.join(
        e.select(F.col("user_id").alias("o_custkey")).distinct(),
        "o_custkey",
        "left_semi",
    )
    return (
        e.groupBy("user_id")
        .cogroup(o.groupBy("o_custkey"))
        .applyInPandas(
            _asof_last_order,
            schema="event_id long, user_id long, event_day long, last_order_day long",
        )
    )


# ---------------------------------------------------------------------------
# triangle counting (degree-ordered — the distributed-graph classic)
# ---------------------------------------------------------------------------


def _basket_pairs(li: DataFrame) -> DataFrame:
    """RAW per-basket co-purchase pairs (u < v within each order), WITH
    cross-basket duplicates: a pair bought in k orders appears k times.
    ONE groupBy on the order key collects each basket's sorted distinct
    parts and explodes its i<j pairs basket-locally (r17 — replaces the
    lineitem self-join; same pair multiset, one scan + one exchange).
    Callers must deduplicate; :func:`copurchase_pairs` does it standalone,
    :func:`sym_edges_dedup` rides it on its partitioning exchange."""
    bsk = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    idx = F.sequence(F.lit(1), F.size("ps") - 1)
    return (
        bsk.select(
            F.explode(
                F.flatten(
                    F.transform(
                        idx,
                        lambda i: F.transform(
                            F.slice(F.col("ps"), i + 1, F.size("ps") - i),
                            lambda v: F.struct(
                                F.element_at(F.col("ps"), i).alias("u"),
                                v.alias("v"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
    )


def copurchase_pairs(li: DataFrame) -> DataFrame:
    """Undirected co-purchase edges (u < v) from (l_orderkey, l_partkey)
    rows: parts are connected when one order contains both. Per-order pair
    generation — bounded by basket size, never all-pairs over parts.

    r17 form: ONE groupBy on the order key collects each basket's sorted
    distinct parts and explodes its i<j pairs basket-locally, replacing
    the previous lineitem self-join — the same pair set (verified
    exceptAll-empty both directions at sf0.1) from one scan + one
    exchange instead of two scan subtrees feeding a shuffle join
    (guide §2.4 "remove shuffles outright"). Per-order pair fan-out is
    bounded by basket size exactly as before."""
    return _basket_pairs(li).dropDuplicates(["u", "v"])


def sym_edges_dedup(pairs_raw: DataFrame, key: str) -> DataFrame:
    """Symmetrized, deduplicated edge list hash-partitioned on ``key`` —
    the (src, dst) edge build shared by the iterative-graph operators that
    persist their edges partitioned on one endpoint (kcore/bfs/walk/lpa).

    r18 (guide §2.4 "two operations keyed the same way can share one
    exchange"): takes the RAW basket pairs and deduplicates AFTER the
    ``repartition(key)`` — HashPartitioning(key) satisfies the (src, dst)
    clustering the dedup aggregate needs (key ∈ {src, dst} colocates every
    copy of an edge), so the dedup rides the partitioning exchange the
    consumer needs anyway and the previous standalone (u, v) pre-dedup
    shuffle disappears. Row set identical (dedup commutes with the sym
    explode: u < v strictly, so the two directions never collide) —
    verified exceptAll-empty both ways at sf0.1, and every consumer's
    oracle re-verified.

    The width is PINNED to defaultParallelism (the spread_input rule —
    total cores on any deployment, not a local constant): a keyless
    ``repartition(key)`` is AQE-coalescible, and the ~tens-of-MB edge
    cache collapsed to 3-4 size-based partitions, serializing every
    co-partitioned per-round join/aggregate of the iterative consumers
    on a 32-core machine (guide §2.5 — partitions for a pinned,
    repeatedly-scanned state table should be compute-sized, not
    size-coalesced)."""
    return (
        sym_uv(pairs_raw)
        .repartition(pairs_raw.sparkSession.sparkContext.defaultParallelism, key)
        .dropDuplicates(["src", "dst"])
    )


def sym_uv(pairs: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Symmetrize undirected (u, v) pairs into both (src, dst) directions
    in ONE pass over the input subtree via explode (r17): the previous
    ``unionAll(pairs.select(u,v), pairs.select(v,u))`` form referenced the
    pair-generation subtree twice, re-running the basket groupBy + dedup
    per direction (guide §7.2 "duplicated subtrees"). Row set identical
    (order immaterial: every consumer repartitions or aggregates)."""
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias(src), F.col("v").alias(dst)),
                    F.struct(F.col("v").alias(src), F.col("u").alias(dst)),
                )
            ).alias("e")
        )
        .select(f"e.{src}", f"e.{dst}")
    )


def oriented_edges(pairs: DataFrame, with_deg: bool = False):
    """Degree-ordered orientation of undirected (u, v) edges: each edge is
    redirected from the (degree, id)-smaller endpoint (``lo``) to the larger
    (``hi``), so every wedge is enumerated at its LOWEST-degree vertex. A
    hub of degree d has out-degree 0 and enumerates NO wedges — its
    low-degree neighbors enumerate O(1) each — which is the whole skew
    bound (tested adversarially on a crafted hub graph in test_llm_ops).
    Both endpoint degrees derive from ONE pairs pass via explode.

    r17: pairs and the degree table persist (scoped) — pairs is
    referenced by the degree derivation AND the orientation join, and deg
    by BOTH endpoint sides, so unpinned the pair-generation subtree ran
    3x per call (guide §7.2).

    ``with_deg=True`` additionally returns the persisted (x, deg) degree
    table (one row per distinct endpoint — i.e. per vertex), so a caller
    needing a vertex census reads this pin instead of re-deriving
    distinct endpoints from the edge output (r18, guide §7.2)."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    pairs = _persist_scoped("oriented_pairs", pairs)
    deg = _persist_scoped(
        "oriented_deg",
        pairs.select(F.explode(F.array("u", "v")).alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg")),
    )
    du = deg.select(F.col("x").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("deg").alias("dv"))
    out = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("lo"), F.col("v").alias("hi")),
            )
            .otherwise(F.struct(F.col("v").alias("lo"), F.col("u").alias("hi")))
            .alias("e")
        )
        .select("e.lo", "e.hi")
    )
    return (out, deg) if with_deg else out


@query(
    "graph_triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), verts AS (
      SELECT COUNT(DISTINCT x) AS n_vertices FROM (
        SELECT u AS x FROM pairs UNION SELECT v FROM pairs)
    ), tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM pairs e1
      JOIN pairs e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT CAST(verts.n_vertices AS BIGINT) AS n_vertices,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles
    FROM verts, tri
    """,
    tags=("graph", "join", "lineitem"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the part co-purchase graph (parts are connected
    when one order contains both) via degree-ordered orientation +
    adjacency-list intersection — Latapy's compact-forward algorithm: a
    triangle {a,b,c} under the orientation is exactly one oriented edge
    (u,v) plus one common out-neighbor, so the count is
    SUM over edges (u,v) of |N+(u) ∩ N+(v)|.

    Scale shape: edges redirect from the (degree, id)-smaller endpoint to
    the larger, capping every out-degree (hence every adjacency array and
    every per-row intersection) at O(sqrt(E)) even under power-law skew —
    a hub's adjacency rides with its LOW-degree neighbors. The wedge set
    is never materialized or shuffled: the r5–r8 wedge-join form
    exchanged one row per wedge (41M wedges for 1.2M edges at sf0.1 —
    34x the edge count, and up to E^1.5 in the worst case), where this
    form shuffles 2·E adjacency elements and intersects per edge row
    inside codegen — measured 7.42s → 3.84s at sf0.1, and the gap widens
    with density. The persisted edge set is hash-partitioned on ``lo``,
    so the adjacency build AND the first join reuse its partitioning
    exchange-free. The oracle counts the same triangles with the plain
    a<b<c wedge form — the count is algorithm-invariant, which is the
    cross-check."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # r18: width pinned to defaultParallelism (the sym_edges_dedup rule) —
    # the keyless form was AQE-coalesced to 3-4 size-based partitions,
    # serializing the CPU-heavy per-edge intersection stage
    ori, deg = oriented_edges(copurchase_pairs(li), with_deg=True)
    e = _persist_scoped(
        "tri_edges",
        ori.repartition(spark.sparkContext.defaultParallelism, "lo"),
    )
    # persist the adjacency (r17): referenced on BOTH join sides (au/av),
    # so the groupBy+collect_list over the edge list otherwise runs twice
    adj = _persist_scoped(
        "tri_adj", e.groupBy("lo").agg(F.collect_list("hi").alias("nbrs"))
    )
    au = adj.select(F.col("lo").alias("u_k"), F.col("nbrs").alias("nbrs_u"))
    av = adj.select(F.col("lo").alias("v_k"), F.col("nbrs").alias("nbrs_v"))
    # left join: a sink vertex (out-degree 0) has no adjacency row and
    # closes no triangle — its edges must still count 0, not vanish
    tri = (
        e.join(au, F.col("lo") == F.col("u_k"))
        .join(av, F.col("hi") == F.col("v_k"), "left")
        .select(
            F.when(F.col("nbrs_v").isNull(), F.lit(0))
            .otherwise(F.size(F.array_intersect("nbrs_u", "nbrs_v")))
            .alias("t")
        )
        # coalesce: SUM over an empty edge set is NULL where the replaced
        # COUNT form (and the oracle's COUNT(*)) returns 0
        .agg(F.coalesce(F.sum("t"), F.lit(0)).alias("n_triangles"))
    )
    stats = e.agg(F.count(F.lit(1)).alias("n_edges"))
    # r18: the vertex census is the degree table's row count — one pass
    # over the already-persisted |V|-row pin instead of a union of two
    # full edge-cache scans feeding a countDistinct exchange (guide §7.2;
    # every edge endpoint appears in deg by construction, and every deg
    # row is an edge endpoint, so the counts are identical)
    n_vertices = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    return (
        n_vertices.crossJoin(stats)
        .crossJoin(tri)
        .select(
            F.col("n_vertices").cast("long"),
            F.col("n_edges").cast("long"),
            F.col("n_triangles").cast("long"),
        )
    )


@query(
    "graph_degree_histogram",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT x, COUNT(*) AS deg FROM (
        SELECT u AS x FROM pairs UNION ALL SELECT v FROM pairs)
      GROUP BY x
    )
    SELECT deg, COUNT(*) AS n_vertices
    FROM deg GROUP BY deg
    """,
    tags=("graph", "join", "lineitem"),
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph — the skew radar
    that decides whether the triangle intersection (graph_triangle_count) or CC label
    propagation needs hub handling. Same edge derivation as the triangle
    count (per-order pair generation, bounded by basket size; undirected
    edges deduped as u<v); two partial-agg'd shuffles end-to-end, output
    bounded by the max degree. Both endpoints leave one pairs pass via
    explode — a unionAll of per-endpoint projections would re-derive the
    join+dedup subtree twice (the plan's heaviest work) at any scale."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    deg = (
        copurchase_pairs(li)
        .select(F.explode(F.array("u", "v")).alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return deg.groupBy("deg").agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))


# ---------------------------------------------------------------------------
# PageRank ([GAP→add] SURVEY §2.15 graph analytics; joins graph_triangle_count
# / star_cluster_components as the third iterative-graph exemplar)
# ---------------------------------------------------------------------------

#: fixed-point scale for PageRank mass (integer arithmetic keeps every
#: iteration exact and order-independent — see docstring)
PR_SCALE = 1_000_000_000_000_000  # 10^15
PR_ITERS = 3
PR_TOPK = 20


def pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fixed-point (node, rank_scaled) table after PR_ITERS power
    iterations — the tested core behind algo_pagerank; see its docstring
    for exactness and scale rationale."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    # pairs persist (r17): the symmetrized edge list is referenced by the
    # outdeg build AND the esrc build — unpinned, basket pair generation
    # ran twice before the iterations even started
    pairs = _persist_scoped("pagerank_pairs", copurchase_pairs(li))
    edges = sym_uv(pairs)

    # out-degrees are |nodes| rows but their lineage re-derives the pair
    # join; persist the SMALL table so the v0/n branch and the esrc join
    # all read it from cache (persisting the full pair table instead was
    # measured 60% SLOWER — it trades the cheap recompute for a 2|E|-row
    # materialization wave). Scoped persists: a re-invocation (3-run bench,
    # repeated tests) unpersists the previous call's pins instead of
    # accumulating live-set pressure.
    outdeg = _persist_scoped(
        "pagerank_outdeg",
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")),
    )
    n = outdeg.agg(F.count(F.lit(1)).alias("n"))
    # edges ride every iteration; persist the (src, dst, outdeg) side once
    # so pair generation + dedup isn't re-derived per iteration — and
    # persist it HASH-PARTITIONED ON THE JOIN KEY: the cached relation
    # reports that partitioning, so each iteration's rank join shuffles
    # only the small (node, rank) side instead of re-exchanging the edge
    # list every round (measured 6.25 -> 5.28 s at sf0.1; at cluster
    # scale this is the difference between shuffling |E| once and
    # PR_ITERS times)
    esrc = _persist_scoped(
        "pagerank_esrc", edges.join(outdeg, "src").repartition("src")
    )
    ranks = (
        outdeg.select(F.col("src").alias("node"))
        .crossJoin(F.broadcast(n))
        .select("node", F.expr(f"{PR_SCALE} DIV n").alias("rank_scaled"))
    )
    for _ in range(PR_ITERS):
        gathered = (
            esrc.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rank_scaled DIV outdeg")).alias("mass"))
        )
        ranks = gathered.crossJoin(F.broadcast(n)).select(
            "node",
            F.expr(
                f"(15 * CAST({PR_SCALE} AS BIGINT)) DIV (100 * n)"
                " + (85 * mass) DIV 100"
            ).alias("rank_scaled"),
        )
    return ranks


def _pagerank_iteration_sql(prev: str, out: str) -> str:
    """One unrolled PageRank iteration over the symmetrized edge list."""
    return f"""
    {out} AS (
      SELECT s.node,
             (15 * {PR_SCALE}) // (100 * (SELECT n FROM n))
             + (85 * s.mass) // 100 AS rank_scaled
      FROM (
        SELECT e.dst AS node,
               CAST(SUM(r.rank_scaled // o.outdeg) AS BIGINT) AS mass
        FROM edges e
        JOIN {prev} r ON e.src = r.node
        JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst) s)"""


@query(
    "algo_pagerank",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (
      SELECT u AS src, v AS dst FROM pairs
      UNION ALL
      SELECT v AS src, u AS dst FROM pairs),
    outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS n FROM outdeg),
    r0 AS (
      SELECT src AS node, {PR_SCALE} // (SELECT n FROM n) AS rank_scaled
      FROM outdeg),
    {_pagerank_iteration_sql('r0', 'r1')},
    {_pagerank_iteration_sql('r1', 'r2')},
    {_pagerank_iteration_sql('r2', 'r3')}
    SELECT node, CAST(rank_scaled AS BIGINT) AS rank_scaled,
           CAST(rank_scaled AS DOUBLE) / {PR_SCALE} AS rank,
           CAST(ROW_NUMBER() OVER (ORDER BY rank_scaled DESC, node) AS BIGINT)
             AS rnk
    FROM r3
    QUALIFY rnk <= {PR_TOPK}
    """,
    tags=("graph", "iterative", "lineitem"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k PageRank over the part co-purchase graph, 3 unrolled power
    iterations with damping 0.85 in FIXED-POINT integer arithmetic: ranks
    carry as mass scaled by 10^15, per-edge contributions are integer
    divisions (rank DIV outdeg), and each iteration's gather is an exact
    BIGINT sum — order-independent by construction, so the result (and the
    top-k ordering) is bit-identical across engines, partitionings, and
    retries, where a double-summed PageRank drifts in the last ulps per
    shuffle layout.

    Scale shape: the symmetrized edge list and out-degrees derive from one
    copurchase_pairs pass; each iteration is one shuffle-join of the edge
    list with the current (node, rank) table — both hash-partitioned on
    the join key, and AQE handles the skewed hub fan-in. K=3 keeps the
    unrolled lineage trivially small; a converging variant would
    checkpoint per iteration like star_cluster_components. The dangling-
    node correction is unnecessary here: symmetrized edges give every node
    out-degree ≥ 1. Output is the global top-20, a row_number over the
    final rank table."""
    ranks = pagerank_ranks(spark, sf_dir)
    from pyspark.sql import Window as _W

    rnk = F.row_number().over(_W.orderBy(F.col("rank_scaled").desc(), "node"))
    out = (
        ranks.select(
            "node",
            F.col("rank_scaled").cast("long").alias("rank_scaled"),
            (F.col("rank_scaled").cast("double") / PR_SCALE).alias("rank"),
        )
        .withColumn("rnk", rnk.cast("long"))
        .filter(F.col("rnk") <= PR_TOPK)
    )
    return out


# ---------------------------------------------------------------------------
# Label-propagation communities (the fourth iterative-graph exemplar)
# ---------------------------------------------------------------------------

LPA_ITERS = 3


def _lpa_iteration_sql(prev: str, out: str) -> str:
    """One unrolled synchronous LPA round: every node adopts the most
    frequent label among its neighbors, ties broken by MIN label. The
    argmax rides ARG_MAX over the scalar encoding c * 2^32 - lbl (DuckDB's
    arg_max takes only scalar orderable keys; exact while labels stay
    below 2^32, which certification-corpus part keys do — the Spark side
    uses an unbounded struct ordering instead)."""
    return f"""
    {out} AS (
      SELECT node,
             ARG_MAX(lbl, c * 4294967296 - lbl) AS community
      FROM (
        SELECT e.dst AS node, r.community AS lbl, COUNT(*) AS c
        FROM edges e JOIN {prev} r ON e.src = r.node
        GROUP BY e.dst, r.community) t
      GROUP BY node)"""


def _lpa_sql_ctes() -> str:
    """The shared CTE chain of the DuckDB LPA twin (pairs → symmetrized
    edges → l0 → LPA_ITERS unrolled rounds): consumed by the community
    oracle AND the modularity oracle, so both gates certify ONE labeling
    (the _bpe_sql_ctes discipline)."""
    return f"""pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (
      SELECT u AS src, v AS dst FROM pairs
      UNION ALL
      SELECT v AS src, u AS dst FROM pairs),
    l0 AS (SELECT DISTINCT src AS node, src AS community FROM edges),
    {','.join(_lpa_iteration_sql(f'l{i}', f'l{i + 1}') for i in range(LPA_ITERS))}"""


@query(
    "algo_label_propagation",
    oracle=f"""
    WITH {_lpa_sql_ctes()}
    SELECT node, CAST(community AS BIGINT) AS community
    FROM l{LPA_ITERS}
    """,
    tags=("graph", "iterative", "lineitem"),
)
def algo_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007) over the part co-purchase graph, LPA_ITERS unrolled rounds:
    every node starts as its own label and each round adopts the most
    frequent label among its neighbors. LPA's known nondeterminism (random
    visit order, random tie-breaks) is removed the fixed-point way: rounds
    are SYNCHRONOUS (all nodes update from the same previous labeling) and
    ties break by MIN label via a deterministic argmax — max_by over the
    lexicographic (count, -label) struct, whose ordering key is unique
    within each node's group — so the labeling is bit-identical across
    engines, partitionings, and retries, which is what makes a DuckDB
    oracle possible at all. Complements connected components
    (dedup_cluster_components finds reachability; LPA finds DENSITY
    structure inside one component).

    Scale shape: same discipline as algo_pagerank — one copurchase_pairs
    derivation, the symmetrized edge list persisted once and joined per
    round against the current |nodes|-row labeling; each round is two
    partial-agg'd aggregations ((node, label) count, then per-node
    argmax) with NO sort anywhere — max_by folds map-side where a
    rank-window variant of the same argmax re-sorts every round
    (measured 11% slower end-to-end at sf0.1, and the sort grows with
    degree at 100 TB); AQE splits the hub fan-in. Fixed unrolling keeps
    lineage small; a convergence variant would checkpoint per round like
    star_cluster_components."""
    _edges, labels = lpa_labels(spark, sf_dir)
    return labels.select("node", F.col("community").cast("long").alias("community"))


def lpa_labels(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The ONE Spark-side LPA pipeline: symmetrized co-purchase edges
    (persisted hash-partitioned on src) → LPA_ITERS synchronous rounds.
    Returns (edges, labels); ``algo_label_propagation`` reports the
    labeling, ``algo_modularity_score`` grades it — both read this
    function, so the two queries cannot label differently (the
    bpe_learned_vocab discipline). The result is served from the
    catalog-layer stage cache as MATERIALIZED parquet staging tables
    (catalog.stage_tables): the labeling is a deterministic integer
    fixed point, so the second consumer in a sweep scans the silver
    layer instead of re-propagating — and a clearCache() cannot degrade
    the artifact back into a full LPA recompute."""
    from projet_pipeline_bigdata_org_spark.catalog import stage_tables

    def _build():
        edges, labels = _lpa_labels_build(spark, sf_dir)
        return {"edges": edges, "labels": labels}

    t = stage_tables(spark, "lpa_labels", sf_dir, _build)
    return t["edges"], t["labels"]


def _lpa_labels_build(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # persist the symmetrized edges HASH-PARTITIONED ON src: the cached
    # relation reports that partitioning, so every round's label join
    # shuffles only the |nodes|-row labeling — the |E|-row edge list
    # exchanges once at build instead of once per round (measured
    # 6.72 -> 4.74 s at sf0.1). r18: dedup rides that same exchange
    # (sym_edges_dedup).
    edges = _persist_scoped("lpa_edges", sym_edges_dedup(_basket_pairs(li), "src"))
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("community")
    )
    for _ in range(LPA_ITERS):
        cnt = (
            edges.join(
                labels.select(
                    F.col("node").alias("src"), F.col("community").alias("lbl")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # deterministic argmax: the (c, -lbl) struct orders lexicographically
        # and is unique within each node's group (lbl is distinct there), so
        # max_by cannot tie — unbounded-label-safe, unlike the oracle's
        # scalar c*2^32 - lbl encoding (equal while labels < 2^32, which
        # certification part keys always are)
        labels = cnt.groupBy("node").agg(
            F.max_by("lbl", F.struct(F.col("c"), (-F.col("lbl")).alias("t"))).alias(
                "community"
            )
        )
    # the final labeling persists too: the modularity query reads it three
    # times (both intra-join endpoints + the degree rollup) — unpersisted,
    # each reference would recompute the whole LPA_ITERS-round subtree
    # (measured: 78 exchanges in the modularity plan vs 30 with the cache)
    return edges, _persist_scoped("lpa_labels_final", labels)


@query(
    "algo_modularity_score",
    oracle=f"""
    WITH {_lpa_sql_ctes()},
    lab AS (SELECT node, community FROM l{LPA_ITERS}),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    m2t AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM edges),
    intra AS (
      SELECT ls.community, CAST(COUNT(*) AS BIGINT) AS intra_deg
      FROM edges e
      JOIN lab ls ON e.src = ls.node
      JOIN lab ld ON e.dst = ld.node
      WHERE ls.community = ld.community
      GROUP BY ls.community),
    comm AS (
      SELECT l.community,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d.deg) AS BIGINT) AS degree_mass
      FROM lab l JOIN deg d USING (node) GROUP BY l.community),
    j AS (
      SELECT c.community, c.n_nodes, c.degree_mass,
             COALESCE(i.intra_deg, 0) AS intra_deg
      FROM comm c LEFT JOIN intra i USING (community)),
    g AS (
      SELECT CAST(1000000 * (SUM(CAST(intra_deg AS HUGEINT)) * m2
                             - SUM(CAST(degree_mass AS HUGEINT)
                                   * degree_mass))
                  // (CAST(m2 AS HUGEINT) * m2) AS BIGINT)
               AS modularity_micro
      FROM j, m2t GROUP BY m2)
    SELECT CAST(j.community AS BIGINT) AS community,
           j.n_nodes, j.degree_mass, j.intra_deg,
           CAST(1000000 * (CAST(j.intra_deg AS HUGEINT) * m.m2
                           - CAST(j.degree_mass AS HUGEINT) * j.degree_mass)
                // (CAST(m.m2 AS HUGEINT) * m.m2) AS BIGINT)
             AS contrib_micro,
           g.modularity_micro
    FROM j, m2t m, g
    """,
    tags=("graph", "iterative", "lineitem"),
)
def algo_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the quality score a
    pipeline publishes beside any community detection (Newman & Girvan
    2004): Q = Σ_c [e_c/m − (d_c/2m)²], the intra-community edge mass
    against its degree-proportional expectation. All arithmetic is exact
    integer rationals, micro-scaled by one truncating division per row
    (DECIMAL(38,0)/HUGEINT products — intra·2m and d_c² wrap int64 past
    ~3e9 directed edges): over the symmetrized directed edge list,
    2m = |edges|, e_c counts both directions, d_c sums degrees, so
    contrib_micro = 10⁶·(intra_deg·2m − d_c²) div (2m)² and the global
    modularity_micro folds the sums BEFORE the division (one truncation,
    not a sum of truncations). The labeling is ``lpa_labels`` — shared
    code with ``algo_label_propagation``, and the oracle re-derives all
    LPA_ITERS rounds through the same CTE chain as that query's gate, so
    the score is certified against the exact labeling it grades.

    Scale shape: one persisted edge list (the LPA cache, reused), the
    intra count is one self-equi-join of edges against the |nodes|-row
    labeling on each endpoint, and everything after is bounded by
    |communities|; the global fold is an unpartitioned window over that
    bounded table (the agg_hll_registers discipline)."""
    edges, labels = lpa_labels(spark, sf_dir)
    lab = labels.select("node", "community")
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    m2 = edges.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    intra = (
        edges.join(
            lab.select(F.col("node").alias("src"), F.col("community").alias("cs")),
            "src",
        )
        .join(
            lab.select(F.col("node").alias("dst"), F.col("community").alias("cd")),
            "dst",
        )
        .filter(F.col("cs") == F.col("cd"))
        .groupBy(F.col("cs").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_deg"))
    )
    comm = (
        lab.join(deg, "node")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("degree_mass"),
        )
    )
    j = comm.join(intra, "community", "left").select(
        F.col("community").cast("long").alias("community"),
        "n_nodes",
        "degree_mass",
        F.coalesce(F.col("intra_deg"), F.lit(0).cast("long")).alias("intra_deg"),
    ).crossJoin(F.broadcast(m2))
    # global fold as an unpartitioned window over the |communities|-bounded
    # table — a separate .agg() branch would recompute the LPA subtree
    contrib = F.expr(
        "CAST(1000000 * (CAST(intra_deg AS DECIMAL(38,0)) * m2"
        " - CAST(degree_mass AS DECIMAL(38,0)) * degree_mass)"
        " div (CAST(m2 AS DECIMAL(38,0)) * m2) AS BIGINT)"
    )
    from pyspark.sql import Window as _W

    sum_intra = F.sum(F.col("intra_deg").cast("decimal(38,0)")).over(
        _W.partitionBy()
    )
    sum_dsq = F.sum(
        (F.col("degree_mass").cast("decimal(38,0)") * F.col("degree_mass"))
    ).over(_W.partitionBy())
    return (
        j.select(
            "community",
            "n_nodes",
            "degree_mass",
            "intra_deg",
            contrib.alias("contrib_micro"),
            sum_intra.alias("_si"),
            sum_dsq.alias("_sd"),
            "m2",
        )
        .select(
            "community",
            "n_nodes",
            "degree_mass",
            "intra_deg",
            "contrib_micro",
            F.expr(
                "CAST(1000000 * (_si * m2 - _sd)"
                " div (CAST(m2 AS DECIMAL(38,0)) * m2) AS BIGINT)"
            ).alias("modularity_micro"),
        )
    )


# ---------------------------------------------------------------------------
# k-core peel (the fifth iterative-graph exemplar: frontier-incremental)
# ---------------------------------------------------------------------------

KCORE_K = 4
KCORE_ITERS = 3

#: crafted subgraph riding along at node ids far above any l_partkey
#: (the INCREMENTAL_NEARDUP_FIXTURE discipline): a 5-clique that must
#: survive every peel with induced degree exactly KCORE_K, plus a chain
#: X2 -> X1 -> X0 engineered to die in rounds 1, 2, 3 respectively —
#: certifying the CASCADE (a node that qualified in round i dying in
#: round i+1 because its support died) at any SF, on any corpus graph
_KC = 90_000_000
KCORE_FIXTURE_PAIRS: tuple[tuple[int, int], ...] = tuple(
    # the 5-clique on nodes _KC+0 .. _KC+4
    [(_KC + i, _KC + j) for i in range(5) for j in range(i + 1, 5)]
    + [
        # X2 (=_KC+12): deg 3 (X1, c0, c1) -> dies round 1
        (_KC + 12, _KC + 11), (_KC + 0, _KC + 12), (_KC + 1, _KC + 12),
        # X1 (=_KC+11): deg 4 (X2, X0, c0, c1) -> survives round 1,
        # drops to 3 when X2 dies -> dies round 2
        (_KC + 11, _KC + 10), (_KC + 0, _KC + 11), (_KC + 1, _KC + 11),
        # X0 (=_KC+10): deg 4 (X1, c2, c3, c4) -> survives rounds 1-2,
        # drops to 3 when X1 dies -> dies round 3
        (_KC + 2, _KC + 10), (_KC + 3, _KC + 10), (_KC + 4, _KC + 10),
    ]
)

_KCORE_FIXTURE_SQL = " UNION ALL ".join(
    f"SELECT CAST({u} AS BIGINT) AS u, CAST({v} AS BIGINT) AS v"
    for u, v in KCORE_FIXTURE_PAIRS
)


def _kcore_round_sql(alive: str, deg: str, nxt: str) -> str:
    """One unrolled synchronous peel: degrees induced on the current
    alive set, then drop nodes below KCORE_K."""
    return f"""
    {deg} AS (
      SELECT e.src AS node, COUNT(*) AS deg
      FROM edges e
      JOIN {alive} x ON e.src = x.node
      JOIN {alive} y ON e.dst = y.node
      GROUP BY e.src),
    {nxt} AS (SELECT node FROM {deg} WHERE deg >= {KCORE_K})"""


@query(
    "algo_kcore_peel",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT u, v FROM (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        UNION ALL {_KCORE_FIXTURE_SQL})),
    edges AS (
      SELECT u AS src, v AS dst FROM pairs
      UNION ALL
      SELECT v AS src, u AS dst FROM pairs),
    a0 AS (SELECT DISTINCT src AS node FROM edges),
    {','.join(_kcore_round_sql(f'a{i}', f'd{i}', f'a{i + 1}')
              for i in range(KCORE_ITERS))},
    dcnt AS (
      SELECT e.src AS node, COUNT(*) AS deg
      FROM edges e
      JOIN a{KCORE_ITERS} x ON e.src = x.node
      JOIN a{KCORE_ITERS} y ON e.dst = y.node
      GROUP BY e.src),
    dout AS (
      -- LEFT join: a final-round survivor whose last alive neighbors all
      -- died in round {KCORE_ITERS} has NO alive edge and must surface
      -- with degree 0, exactly as the incremental decrements leave it
      -- (review-caught divergence: an inner join silently dropped it)
      SELECT x.node, COALESCE(d.deg, 0) AS deg
      FROM a{KCORE_ITERS} x LEFT JOIN dcnt d ON x.node = d.node)
    SELECT node, CAST(deg AS BIGINT) AS degree
    FROM dout
    """,
    tags=("graph", "iterative", "lineitem"),
)
def algo_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth k-core peel (Matula & Beck 1983 / Batagelj-Zaversnik)
    over the part co-purchase graph: KCORE_ITERS synchronous rounds of
    "remove every node whose degree in the surviving subgraph is below
    KCORE_K", emitting the survivors with their induced degree. The
    documented semantic is PEEL DEPTH KCORE_ITERS (the fixed-unrolling
    discipline of algo_pagerank/algo_label_propagation — a convergence
    variant would checkpoint per round); survivors may still carry
    degree < k if they lost support in the final round.

    Scale shape — this exemplar is the FRONTIER-INCREMENTAL one: the
    symmetrized edge list persists hash-partitioned on dst and is
    exchanged ONCE; initial degrees are a shuffle-FREE groupBy on that
    same dst key (symmetric list: in-degree = degree); each round then
    touches only the DEAD FRONTIER — dead nodes broadcast/shuffle into
    the edge partitioning, matched edges group into per-survivor
    decrements, and the degree table updates by a co-partitioned left
    join — so per-round exchange is proportional to edges incident to
    dying nodes, not to |E| (a recomputation formulation joins the full
    edge list against the alive set twice EVERY round). The DuckDB twin
    recomputes induced degrees per round from scratch; equality of the
    two formulations is exactly the decrement-correctness claim, checked
    bit-for-bit by the oracle gate, and the KCORE_FIXTURE_PAIRS rider
    pins the multi-round cascade at any SF."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # r18: RAW basket pairs + fixture, deduplicated on the dst-partitioning
    # exchange itself (sym_edges_dedup) — one exchange fewer than the
    # previous dedup-then-sym-then-repartition chain (guide §2.4); the
    # fixture's >= 90M node ids are disjoint from any l_partkey, so the
    # fused dedup collapses exactly the cross-basket duplicates
    pairs = _basket_pairs(li).unionByName(
        spark.createDataFrame(list(KCORE_FIXTURE_PAIRS), "u long, v long")
    )
    edges = _persist_scoped("kcore_edges", sym_edges_dedup(pairs, "dst"))
    # symmetric list: degree(n) = |edges with dst = n| — the groupBy rides
    # the persisted partitioning, no exchange
    deg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    for i in range(KCORE_ITERS):
        # persist each round's degree table (r17): `deg` is referenced
        # TWICE per round (dead + alive branches), so without the pin the
        # unrolled plan duplicated the entire prior-round subtree 2x per
        # round — 2^KCORE_ITERS evaluations of round 0 (guide §7.2
        # "duplicated subtrees"). The table is |nodes| rows; lazy persist
        # materializes once inside the final action.
        deg = _persist_scoped(f"kcore_deg_{i}", deg)
        dead = deg.filter(F.col("deg") < KCORE_K).select(
            F.col("node").alias("dst")
        )
        alive = deg.filter(F.col("deg") >= KCORE_K)
        dec = (
            edges.join(dead, "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        deg = alive.join(dec, "node", "left").select(
            "node",
            (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))).alias("deg"),
        )
    return deg.select("node", F.col("deg").cast("long").alias("degree"))


# ---------------------------------------------------------------------------
# multi-source BFS (the sixth iterative-graph exemplar: expanding frontier)
# ---------------------------------------------------------------------------

#: deterministic scale-free seed rule (node % MOD == RESIDUE) and the
#: bounded hop depth (the fixed-unrolling discipline)
BFS_SEED_MOD = 97
BFS_SEED_RESIDUE = 3
BFS_ITERS = 3


def _bfs_round_sql(frontier: str, visited: str, nf: str, nv: str, dist: int) -> str:
    """One unrolled BFS round: neighbors of the frontier not yet visited
    become the next frontier at ``dist``."""
    return f"""
    {nf} AS (
      SELECT DISTINCT e.dst AS node, {dist} AS dist
      FROM edges e
      JOIN {frontier} f ON e.src = f.node
      WHERE e.dst NOT IN (SELECT node FROM {visited})),
    {nv} AS (
      SELECT node FROM {visited} UNION ALL SELECT node FROM {nf})"""


@query(
    "algo_bfs_distance",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (
      SELECT u AS src, v AS dst FROM pairs
      UNION ALL
      SELECT v AS src, u AS dst FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    f0 AS (
      SELECT node, 0 AS dist FROM nodes
      WHERE node % {BFS_SEED_MOD} = {BFS_SEED_RESIDUE}),
    v0 AS (SELECT node FROM f0),
    {','.join(_bfs_round_sql(f'f{i}', f'v{i}', f'f{i + 1}', f'v{i + 1}', i + 1)
              for i in range(BFS_ITERS))}
    SELECT node, CAST(dist AS BIGINT) AS dist
    FROM ({' UNION ALL '.join(f'SELECT * FROM f{i}' for i in range(BFS_ITERS + 1))})
    """,
    tags=("graph", "iterative", "lineitem"),
)
def algo_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first search over the part co-purchase graph:
    hop distance from the deterministic seed set (node % BFS_SEED_MOD ==
    BFS_SEED_RESIDUE — scale-free, no sampled state) out to BFS_ITERS
    hops; nodes beyond the horizon are absent (bounded peel depth, the
    algo_kcore_peel contract). Completes the iterative-graph pack's
    traversal axis: components answer "connected at all?", BFS answers
    "how far?" — the reachability radius behind link-distance features
    and influence-horizon audits.

    Scale shape — the EXPANDING-frontier twin of k-core's dying
    frontier: the symmetrized edge list persists hash-partitioned on src
    and exchanges ONCE; each round joins only the CURRENT frontier
    (|frontier| rows shuffle into the edge partitioning — the edges
    never move), anti-joins the visited set, and the frontier advances.
    Per-round exchange is proportional to the frontier and the matched
    neighbor stream, never |E|. The DuckDB twin recomputes rounds as
    NOT-IN set CTEs; equality is the frontier/anti-join-correctness
    proof. Distances are loop indices (synchronous rounds), so the
    result is partition-invariant by construction."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # r18: dedup rides the src-partitioning exchange (sym_edges_dedup)
    edges = _persist_scoped("bfs_edges", sym_edges_dedup(_basket_pairs(li), "src"))
    frontier = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .filter(F.col("node") % BFS_SEED_MOD == BFS_SEED_RESIDUE)
        .select("node", F.lit(0).alias("dist"))
    )
    out = frontier
    visited = frontier.select("node")
    for i in range(1, BFS_ITERS + 1):
        nxt = (
            edges.join(
                frontier.select(F.col("node").alias("src")), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(i).alias("dist"))
        )
        # persist each round's frontier (r17): `nxt` is referenced by the
        # output union, the visited union AND the next round's join —
        # without the pin each round's subtree was re-evaluated ~2x per
        # later round (2^BFS_ITERS evaluations of round 1; guide §7.2).
        # Frontier tables are <= |nodes| rows; lazy persist materializes
        # once inside the final action.
        nxt = _persist_scoped(f"bfs_frontier_{i}", nxt)
        out = out.unionByName(nxt)
        visited = visited.unionByName(nxt.select("node"))
        frontier = nxt
    return out.select("node", F.col("dist").cast("long").alias("dist"))


# ---------------------------------------------------------------------------
# common-neighbor link prediction (SURVEY §2.16 graph family — the
# recommendation-shaped sixth exemplar: bounded per-source wedge expansion)
# ---------------------------------------------------------------------------

#: number of (degree, id)-top source nodes recommendations are computed for,
#: and predicted links kept per source
CN_SOURCES = 20
CN_PER_SOURCE = 5


def common_neighbor_recs(
    pairs: DataFrame, n_sources: int = CN_SOURCES, k: int = CN_PER_SOURCE
) -> DataFrame:
    """Top-``k`` predicted links per source by common-neighbor count over
    undirected ``(u, v)`` edges (u < v, deduplicated). Candidates are the
    2-hop neighborhood of each source; existing neighbors are excluded.

    Scale shape: the all-pairs common-neighbor table is Θ(Σ deg(m)²) —
    ~100M wedge rows on the sf0.1 co-purchase graph and quadratic in
    density — so the operator is the RECOMMENDATION form instead: fix a
    bounded source set (top ``n_sources`` by (degree, id), a 20-row
    broadcast) and expand wedges only through source-incident edges. Work
    is O(|S| · d_max²) regardless of graph size; the full edge list is
    scanned once (for degrees) plus once for the wedge join against the
    broadcast source-edge set — no edge-list shuffle at all. The
    existing-edge exclusion anti-joins against the SAME broadcast
    source-edge set (candidate pairs all start at a source), and the
    per-source top-k rank is WindowGroupLimit-eligible. The
    both-directions edge list is persisted (the tri_edges/bfs_edges
    discipline) so degree count, source-edge build, and wedge probe share
    ONE materialization instead of re-deriving the pair join per branch."""
    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    bd = _persist_scoped("cn_edges", sym_uv(pairs, src="m", dst="x"))
    deg = bd.groupBy("m").agg(F.count(F.lit(1)).alias("d"))
    sources = (
        deg.orderBy(F.desc("d"), "m")
        .limit(n_sources)
        .select(F.col("m").alias("source"))
    )
    s_edges = _persist_scoped(
        "cn_source_edges",
        bd.join(F.broadcast(sources), bd["m"] == sources["source"]).select(
            "source", F.col("x").alias("mid")
        ),
    )
    wedges = bd.join(F.broadcast(s_edges), bd["m"] == s_edges["mid"]).filter(
        F.col("x") != F.col("source")
    )
    scores = wedges.groupBy("source", "x").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    cand = scores.join(
        F.broadcast(s_edges.select("source", F.col("mid").alias("x"))),
        ["source", "x"],
        "left_anti",
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("source").orderBy(F.desc("n_common"), "x")
    return (
        cand.select(
            "source",
            F.col("x").alias("candidate"),
            "n_common",
            F.row_number().over(w).cast("long").alias("cn_rank"),
        )
        .filter(F.col("cn_rank") <= k)
    )


@query(
    "algo_common_neighbors",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), bd AS (
      SELECT u AS m, v AS x FROM pairs
      UNION ALL SELECT v AS m, u AS x FROM pairs
    ), deg AS (
      SELECT m, COUNT(*) AS d FROM bd GROUP BY m
    ), sources AS (
      SELECT m AS source FROM deg ORDER BY d DESC, m LIMIT {CN_SOURCES}
    ), s_edges AS (
      SELECT s.source, bd.x AS mid FROM bd JOIN sources s ON bd.m = s.source
    ), wedges AS (
      SELECT se.source, bd.x
      FROM s_edges se JOIN bd ON bd.m = se.mid
      WHERE bd.x <> se.source
    ), scores AS (
      SELECT source, x, COUNT(*) AS n_common FROM wedges GROUP BY source, x
    ), cand AS (
      SELECT sc.source, sc.x, sc.n_common FROM scores sc
      WHERE NOT EXISTS (SELECT 1 FROM s_edges se
                        WHERE se.source = sc.source AND se.mid = sc.x)
    ), ranked AS (
      SELECT source, x, n_common,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_common DESC, x) AS cn_rank
      FROM cand
    )
    SELECT source, x AS candidate, CAST(n_common AS BIGINT) AS n_common,
           CAST(cn_rank AS BIGINT) AS cn_rank
    FROM ranked WHERE cn_rank <= {CN_PER_SOURCE}
    """,
    tags=("graph", "llm", "lineitem"),
)
def algo_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the part co-purchase graph:
    for each of the {CN_SOURCES} highest-degree parts, the top
    {CN_PER_SOURCE} NOT-yet-co-purchased parts ranked by how many shared
    co-purchase partners they have (Liben-Nowell & Kleinberg 2003's
    baseline link predictor — the structural core of item-item
    collaborative filtering).

    Degree ties break by id and score ties by candidate id, so the
    selection is a total order and the DuckDB twin replays it exactly.
    See ``common_neighbor_recs`` for the bounded-wedge scale shape."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return common_neighbor_recs(copurchase_pairs(li))


# ---------------------------------------------------------------------------
# deterministic random-walk sampling — the graph-embedding corpus generator
# ---------------------------------------------------------------------------

#: walks started (from the highest-degree nodes) and steps per walk
WALK_SEEDS = 8
WALK_LEN = 4
#: step-mixing constant for the per-(walk, step) coin
_WALK_STEP_MIX = 1009


def _walk_coin(walk_id, step: int, dst):
    """Deterministic neighbor-selection coin for (walk, step, candidate):
    the portable hash_coin chained so every intermediate stays far below
    int64 at any node-id magnitude."""
    return hash_coin(hash_coin(walk_id) + F.lit(step * _WALK_STEP_MIX) + dst)


def _sql_walk_coin(walk_id: str, step: int, dst: str) -> str:
    return sql_hash_coin(
        f"({sql_hash_coin(walk_id)} + {step * _WALK_STEP_MIX} + {dst})"
    )


def _walk_step_sql(prev: str, this: str, step: int) -> str:
    coin = _sql_walk_coin("w.walk_id", step, "e.dst")
    return f"""s{step} AS (
      SELECT w.walk_id, e.dst, {coin} AS coin,
             ROW_NUMBER() OVER (PARTITION BY w.walk_id
                                ORDER BY {coin}, e.dst) AS rn
      FROM {prev} w JOIN edges e ON e.src = w.node),
    {this} AS (
      SELECT walk_id, dst AS node, {step} AS step FROM s{step} WHERE rn = 1)"""


@query(
    "algo_walk_sampling",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (
      SELECT u AS src, v AS dst FROM pairs
      UNION ALL
      SELECT v AS src, u AS dst FROM pairs),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    seeds AS (
      SELECT node FROM (
        SELECT node, ROW_NUMBER() OVER (ORDER BY deg DESC, node) AS rn
        FROM deg) t
      WHERE rn <= {WALK_SEEDS}),
    w0 AS (SELECT node AS walk_id, node, 0 AS step FROM seeds),
    {','.join(_walk_step_sql(f'w{i}', f'w{i + 1}', i + 1)
              for i in range(WALK_LEN))}
    SELECT CAST(walk_id AS BIGINT) AS walk_id,
           CAST(step AS BIGINT) AS step,
           CAST(node AS BIGINT) AS node
    FROM ({' UNION ALL '.join(f'SELECT * FROM w{i}'
                              for i in range(WALK_LEN + 1))})
    """,
    tags=("graph", "iterative", "lineitem"),
)
def algo_walk_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk sampling over the part co-purchase
    graph — the corpus generator of DeepWalk/node2vec (p = q = 1):
    WALK_SEEDS walks from the highest-degree nodes, WALK_LEN steps each,
    the next hop chosen uniformly-by-hash among the current node's
    neighbors. The 'randomness' is the portable hash_coin chained over
    (walk, step, candidate) — every engine, task retry, and partitioning
    picks the IDENTICAL neighbor (argmin coin with a dst tie-break), so
    the walk corpus is reproducible and oracle-checkable, unlike
    rand()-driven samplers. Walks may revisit nodes (memoryless chain,
    the DeepWalk default); a dead-end walk simply ends (cannot occur on
    this symmetrized graph's top-degree seeds).

    Scale shape: edges symmetrize once and persist hash-partitioned on
    src (the iterative-graph persist discipline); each of the WALK_LEN
    unrolled steps joins the WALK_SEEDS-row frontier (broadcast) against
    the persisted edges and reduces per-walk with a rank-1 cut — per-step
    shuffle is bounded by the frontier's adjacency, never |E|; seed
    selection is a TakeOrdered top-{WALK_SEEDS} over the degree table."""
    from pyspark.sql import Window as W

    from projet_pipeline_bigdata_org_spark.operators.dedup import _persist_scoped

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # r18: dedup rides the src-partitioning exchange (sym_edges_dedup)
    edges = _persist_scoped("walk_edges", sym_edges_dedup(_basket_pairs(li), "src"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    rn = F.row_number().over(W.orderBy(F.col("deg").desc(), "src"))
    seeds = (
        deg.withColumn("rn", rn)
        .filter(F.col("rn") <= WALK_SEEDS)
        .select(F.col("src").alias("walk_id"), F.col("src").alias("node"))
    )
    frontier = seeds.select("walk_id", "node", F.lit(0).alias("step"))
    out = frontier
    for s in range(1, WALK_LEN + 1):
        coin = _walk_coin(F.col("walk_id"), s, F.col("dst"))
        picked = (
            F.broadcast(frontier.select("walk_id", "node"))
            .join(edges, F.col("node") == F.col("src"))
            .select("walk_id", "dst", coin.alias("coin"))
            .withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("walk_id").orderBy("coin", "dst")
                ),
            )
            .filter(F.col("rn") == 1)
        )
        # persist each step's frontier (r17): referenced by the output
        # union AND the next step's join — unpinned, step s re-evaluated
        # every earlier step's broadcast-join+window subtree (2^WALK_LEN
        # evaluations of step 1; guide §7.2). WALK_SEEDS rows per step.
        frontier = _persist_scoped(
            f"walk_frontier_{s}",
            picked.select(
                "walk_id", F.col("dst").alias("node"), F.lit(s).alias("step")
            ),
        )
        out = out.unionByName(frontier)
    return out.select(
        F.col("walk_id").cast("long").alias("walk_id"),
        F.col("step").cast("long").alias("step"),
        F.col("node").cast("long").alias("node"),
    )
